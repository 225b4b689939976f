"""Metrics and correctness checks computed from one harness run.

The harness (perfbench/scala) writes a raw record: every timed operation
with its start and end, the workload's own counters and, in traced runs,
the Spark jobs and SQL executions it saw. Everything below is pure Python
over that record, so it is unit-tested in test_metrics.py.
"""
import math
import os

# Reported for a latency that has no finite value: a failed operation
# misses every latency limit.
MISSED = 1e12

ROUTES = ["sem_exact", "lex_scan", "hybrid_scan", "sem_approx", "lex_bm25_idx",
          "hybrid_idx", "get_by_ids"]
HTTP_ROUTES = {"sem_exact", "lex_scan", "hybrid_scan"}
BATCH_QUERIES = ["q_dedup_editdist", "q_knn_mutual", "q1_pricing"]
JOB_LAYERS = ["ingest", "Indexes", "ann", "search", "catalog", "Api"]

E2E_UNITS = {"setup_s": "s", "latency_ms": "ms", "heap_live_peak_mb": "MB"}


def percentile(values, q):
    """Linear interpolation between closest ranks; q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    if xs[lo] == xs[hi]:
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def mean(values):
    return sum(values) / len(values) if values else 0.0


def union_ms(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def finite(x):
    return x if math.isfinite(x) else MISSED


def latency(op):
    return op["end_ms"] - op["start_ms"] if op["ok"] else math.inf


def ops_of(raw, phase):
    return [o for o in raw["ops"] if o["phase"] == phase]


def measured_ops(raw):
    """The operations the end-to-end latency is taken over: the `c1`
    requests, or the fastest execution of each batch query."""
    if raw["workload"] == "serve":
        return ops_of(raw, "c1")
    best = {}
    for o in ops_of(raw, "batch"):
        if o["kind"] not in best or latency(o) < latency(best[o["kind"]]):
            best[o["kind"]] = o
    return list(best.values())


def closed_loop_rate(ops):
    """Requests per second of closed-loop clients: the sum over clients of
    completed requests over the time spent in them. Failed requests count
    as not completed.
    """
    rate = 0.0
    for c in sorted({o["client"] for o in ops}):
        mine = [o for o in ops if o["client"] == c]
        busy_s = sum(o["end_ms"] - o["start_ms"] for o in mine) / 1000.0
        rate += sum(o["ok"] for o in mine) / busy_s if busy_s > 0 else 0.0
    return rate


def e2e(raw):
    return {
        "setup_s": raw["setup_s"],
        "latency_ms": finite(mean([latency(o) for o in measured_ops(raw)])),
        "heap_live_peak_mb": raw["heap_live_peak_mb"],
    }


def named(raw):
    """The workload's metrics under their descriptive names, with units."""
    out = [("setup_s", raw["setup_s"], "s")]
    if raw["workload"] == "serve":
        c1 = [latency(o) for o in ops_of(raw, "c1")]
        c4 = [latency(o) for o in ops_of(raw, "c4")]
        out += [("serve.c1_p50_ms", finite(percentile(c1, 50)), "ms"),
                ("serve.c4_p50_ms", finite(percentile(c4, 50)), "ms"),
                ("serve.c4_p90_ms", finite(percentile(c4, 90)), "ms"),
                ("serve.c4_rps", closed_loop_rate(ops_of(raw, "c4")), "1/s"),
                ("serve.c1_requests", len(c1), "count"), ("serve.c4_requests", len(c4), "count")]
        out += [(k, v, u) for k, v, u in ingest(raw)]
    else:
        batch = [latency(o) for o in measured_ops(raw)]
        out += [("batch.total_s", finite(sum(batch) / 1000.0), "s"), ("batch.queries", len(batch), "count")]
    out.append(("heap_live_peak_mb", raw["heap_live_peak_mb"], "MB"))
    return out


def ingest(raw):
    """Write metrics of `serve`, from its writes after the reads."""
    ing = raw["ingest"]
    writes = [latency(o) for o in ops_of(raw, "write")]
    return [
        ("ingest.docs_per_s", ing["docs_written"] / (ing["writer_wall_ms"] / 1000.0), "docs/s"),
        ("ingest.batch_p50_ms", finite(percentile(writes, 50)), "ms"),
        ("ingest.write_amp", ing["bytes_written"] / max(1, ing["content_bytes_ingested"]), "x"),
        ("ingest.space_amp", ing["warehouse_bytes"] / max(1, ing["live_content_bytes"]), "x"),
    ]


def layer_of(call_site, files):
    """The graft layer of a job's call site ("collect at Api.scala:12"):
    the package directory of the file, or the file's own name for files at
    the top of the `graft` package. `files` maps a file name to its
    directory relative to the graft package root.
    """
    name = call_site.rsplit("at ", 1)[-1].split(":", 1)[0]
    if name not in files:
        return "other"
    d = files[name]
    return d.split("/", 1)[0] if d else name[:-len(".scala")]


def job_layer(job, files):
    """A job's layer: its own call site, or, for a job Spark ran on one of
    its own threads, the call site of the SQL execution it belongs to."""
    lay = layer_of(job["call_site"], files)
    return lay if lay != "other" else layer_of(job.get("exec_site", ""), files)


def source_files(root):
    """File name -> directory under src/main/scala/graft, for layer_of."""
    base = os.path.join(root, "src", "main", "scala", "graft")
    out = {}
    for d, _, names in os.walk(base):
        for n in names:
            if n.endswith(".scala"):
                out[n] = os.path.relpath(d, base).replace(os.sep, "/").lstrip(".")
    return out


def per_op(raw, ops, files):
    """Per-operation layer figures from the trace, keyed by op id."""
    tr = raw["trace"]
    jobs, sql = {}, {}
    for j in tr["jobs"]:
        jobs.setdefault(j["group"], []).append(j)
    for x in tr["sql"]:
        sql.setdefault(x["group"], []).append(x)
    out = {}
    for o in ops:
        js = [j for j in jobs.get(o["id"], []) if j["end_ms"] >= 0]
        xs = sql.get(o["id"], [])
        wall = o["end_ms"] - o["start_ms"]
        spans = [(j["submit_ms"], j["end_ms"]) for j in js]
        by_layer = {}
        for j in js:
            lay = job_layer(j, files)
            by_layer[lay] = by_layer.get(lay, 0.0) + (j["end_ms"] - j["submit_ms"])
        out[o["id"]] = {
            "wall_ms": wall,
            "analysis_ms": sum(x["analysis_ms"] for x in xs),
            "optimization_ms": sum(x["optimization_ms"] for x in xs),
            "planning_ms": sum(x["planning_ms"] for x in xs),
            "files": sum(x["files"] for x in xs),
            "outside_jobs_ms": max(0.0, wall - union_ms(spans)),
            "job_wall_ms": sum(e - s for s, e in spans),
            "job_union_ms": union_ms(spans),
            "jobs": len(js),
            "stages": sum(j["stages"] for j in js),
            "tasks": sum(j["tasks"] for j in js),
            "task_run_ms": sum(j["task_run_ms"] for j in js),
            "task_cpu_ms": sum(j["task_cpu_ms"] for j in js),
            "shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in js),
            "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in js),
            "spill_bytes": sum(j["spill_bytes"] for j in js),
            "input_bytes": sum(j["input_bytes"] for j in js),
            "by_layer": by_layer,
        }
    return out


def layers(raw, files):
    """Every per-layer metric; 0 where the workload does not exercise it."""
    m = {name: 0.0 for name in LAYER_UNITS}
    cores = raw["cores"]
    ops = measured_ops(raw)
    po = per_op(raw, ops, files)
    rows = list(po.values())

    def avg(key):
        return mean([r[key] for r in rows])

    m.update({
        "driver.analysis_ms": avg("analysis_ms"),
        "driver.optimization_ms": avg("optimization_ms"),
        "driver.planning_ms": avg("planning_ms"),
        "driver.outside_jobs_ms": avg("outside_jobs_ms"),
        "sched.jobs_per_op": avg("jobs"),
        "sched.stages_per_op": avg("stages"),
        "sched.tasks_per_op": avg("tasks"),
        "exec.task_run_ms": avg("task_run_ms"),
        "exec.task_cpu_ms": avg("task_cpu_ms"),
        "exec.shuffle_read_bytes": avg("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": avg("shuffle_write_bytes"),
        "exec.spill_bytes": avg("spill_bytes"),
        "exec.parallelism": sum(r["task_run_ms"] for r in rows)
        / max(1e-9, sum(r["wall_ms"] for r in rows) * cores),
        "exec.job_overlap": sum(r["job_wall_ms"] for r in rows)
        / max(1e-9, sum(r["job_union_ms"] for r in rows)),
        "storage.files_read_per_op": avg("files"),
        "storage.bytes_read_per_op": avg("input_bytes"),
        "jvm.gc_ms": float(raw["gc_ms"]),
    })
    for k, v, _ in named(raw):
        if k in m:
            m[k] = v
    if raw["workload"] == "serve":
        c1 = ops_of(raw, "c1")
        inner = raw.get("inner_ms", {})
        self_ms = [o["end_ms"] - o["start_ms"] - inner[o["id"]]
                   for o in c1 if o["kind"] in HTTP_ROUTES and o["id"] in inner]
        m["mcp.transport_self_ms"] = percentile(self_ms, 50)
        for r in ROUTES:
            m[f"serve.route.{r}.p50_ms"] = finite(percentile([latency(o) for o in c1 if o["kind"] == r], 50))
        writes = ops_of(raw, "write")
        wo = per_op(raw, writes, files)
        m["storage.bytes_written_per_batch"] = raw["ingest"]["bytes_written"] / max(1, len(writes))
        for lay in JOB_LAYERS:
            m[f"ingest.job_ms.{lay}"] = mean([w["by_layer"].get(lay, 0.0) for w in wo.values()])
    else:
        for o in ops:
            m[f"batch.q.{o['kind']}_s"] = finite(latency(o)) / 1000.0
    return m


# Every per-layer metric with its unit, in report order.
LAYER_UNITS = dict(
    [("mcp.transport_self_ms", "ms")]
    + [(f"serve.route.{r}.p50_ms", "ms") for r in ROUTES]
    + [("serve.c1_p50_ms", "ms"), ("serve.c4_p50_ms", "ms"), ("serve.c4_p90_ms", "ms"),
       ("serve.c4_rps", "1/s"), ("batch.total_s", "s"),
       ("ingest.docs_per_s", "docs/s"), ("ingest.batch_p50_ms", "ms"),
       ("ingest.write_amp", "x"), ("ingest.space_amp", "x"),
       ("driver.analysis_ms", "ms"), ("driver.optimization_ms", "ms"),
       ("driver.planning_ms", "ms"), ("driver.outside_jobs_ms", "ms"),
       ("sched.jobs_per_op", "count"), ("sched.stages_per_op", "count"),
       ("sched.tasks_per_op", "count"),
       ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"),
       ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
       ("exec.spill_bytes", "bytes"), ("exec.parallelism", "ratio"),
       ("exec.job_overlap", "ratio"),
       ("storage.files_read_per_op", "count"), ("storage.bytes_read_per_op", "bytes"),
       ("storage.bytes_written_per_batch", "bytes")]
    + [(f"ingest.job_ms.{lay}", "ms") for lay in JOB_LAYERS]
    + [(f"batch.q.{q}_s", "s") for q in BATCH_QUERIES]
    + [("jvm.gc_ms", "ms")])


def check(raw, golden):
    """Correctness failures of one run, as messages (empty when correct)."""
    bad = [f"{o['id']} ({o['phase']}): {o['error']}" for o in raw["ops"] if not o["ok"]]
    if raw["workload"] == "serve":
        for route, want in golden["probes"].items():
            got = raw["probes"].get(route)
            if got is None or got["question"] != want["question"] or got["ids"] != want["ids"]:
                bad.append(f"probe {route}: ids {got and got['ids']} != golden {want['ids']}")
            elif any(abs(a - b) > 1e-9 for a, b in zip(got["scores"], want["scores"])):
                bad.append(f"probe {route}: scores {got['scores']} != golden {want['scores']}")
        ing = raw["ingest"]
        if ing["count"] != ing["expected_count"]:
            bad.append(f"count {ing['count']} != expected {ing['expected_count']}")
        if not ing["updated_ok"]:
            bad.append("an updated id does not return its new content")
        if not ing["updated_found"]:
            bad.append("approx search on an updated document does not find it")
    else:
        for q, want in golden["results"].items():
            got = raw["results"].get(q)
            if got != want:
                bad.append(f"{q}: {got} != golden {want}")
    return bad
