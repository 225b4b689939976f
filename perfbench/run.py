"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 40 --trace 0

Run from the root of a graft checkout. The first run compiles graft and the
harness (perfbench/build.py), generates the input tables
(perfbench/gen_data.py) and writes a class-data-sharing archive; the first
`serve` run also writes the served collection. Later runs reuse them from
`.bench_build/`. The last line on stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
lines before it give the workload's metrics under descriptive names and,
in traced runs, the tracing overhead against the last untraced run of the
same workload and seed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen_data  # noqa: E402
import metrics  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve", "batch_heavy")
CORPUS_SEED = 42
HEAP = "-Xmx4g"
RUN_TIMEOUT_S = 165
FIXTURE_TIMEOUT_S = 600
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def data_dirs(state):
    """Generated tables at sf0.1 (measured) and sf0.001 (warm-up)."""
    with open(os.path.join(BENCH_DIR, "gen_data.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    base = os.path.join(state, f"data-{tag}")
    if not os.path.exists(os.path.join(base, ".complete")):
        shutil.rmtree(base, ignore_errors=True)
        for sf in (0.1, 0.001):
            gen_data.generate(os.path.join(base, f"sf{sf}"), sf, CORPUS_SEED)
        open(os.path.join(base, ".complete"), "w").close()
    return os.path.join(base, "sf0.1"), os.path.join(base, "sf0.001")


def harness(classes, args, work, log_path, timeout, jvm_extra=()):
    """Run the JVM harness; returns its raw record, or None on failure."""
    jars = os.path.join(build.spark_jars(), "*")
    out = os.path.join(work, "raw.json")
    cmd = [build.java(), HEAP, *jvm_extra, "-XX:+IgnoreUnrecognizedVMOptions", "-XX:-UsePerfData",
           "--add-modules=jdk.incubator.vector", f"-Djava.io.tmpdir={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness"] + args + [
        "--work", work, "--out", out, "--cores", str(len(os.sched_getaffinity(0)))]
    with open(log_path, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=fh, cwd=work, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"harness timed out after {timeout}s; log: {log_path}")
            return None
    if code != 0 or not os.path.exists(out):
        log(f"harness exited with {code}; log: {log_path}")
        return None
    with open(out) as fh:
        return json.load(fh)


def class_archive(state, classes, warm):
    """JVM options that map this build's class-data-sharing archive.

    A short JVM writes the archive once per build: it opens a session and
    runs TPC-H Q1 at the warm-up scale factor, which loads most of Spark's
    classes. Every run then maps them instead of loading them from the
    jars, so every run starts the same way.
    """
    jsa = os.path.join(os.path.dirname(classes), "bench.jsa")
    if not os.path.exists(jsa):
        log("writing the class archive")
        work = os.path.join(state, "classes-run")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        harness(classes, ["--workload", "classes", "--seed", "0", "--seconds", "0", "--trace", "0",
                          "--data", warm, "--warm", warm],
                work, os.path.join(state, "classes.log"), FIXTURE_TIMEOUT_S,
                [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
        shutil.rmtree(work, ignore_errors=True)
        if not os.path.exists(jsa + ".tmp"):
            raise SystemExit("writing the class archive failed")
        os.rename(jsa + ".tmp", jsa)
    return [f"-XX:SharedArchiveFile={jsa}"]


def fixture(state, classes, data, jvm_extra):
    """The served collection, written once per build through graft's own
    write path; returns its warehouse directory."""
    tag = os.path.basename(os.path.dirname(classes)).split("-", 1)[1] + "-" + \
        os.path.basename(os.path.dirname(data))
    base = os.path.join(state, f"fixture-{tag}")
    if not os.path.exists(os.path.join(base, ".complete")):
        log("writing the served collection")
        tmp = base + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        raw = harness(classes, ["--workload", "fixture", "--seed", "0", "--seconds", "0",
                                "--trace", "0", "--data", data, "--warm", data],
                      tmp, os.path.join(state, "fixture.log"), FIXTURE_TIMEOUT_S, jvm_extra)
        if raw is None or not all(o["ok"] for o in raw["ops"]):
            raise SystemExit("writing the served collection failed")
        shutil.rmtree(os.path.join(tmp, "spark-local"), ignore_errors=True)
        shutil.rmtree(os.path.join(tmp, "spark-warehouse"), ignore_errors=True)
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(base, ignore_errors=True)
        os.rename(tmp, base)
    return os.path.join(base, "warehouse")


def golden_path(workload):
    return os.path.join(BENCH_DIR, "golden", f"{workload}.json")


def golden_of(raw):
    if raw["workload"] == "serve":
        return {"probes": raw["probes"]}
    return {"results": raw["results"]}


def main(argv):
    ap = argparse.ArgumentParser(description="graft benchmark: one run of one workload")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="write this run's outputs as the golden outputs")
    a = ap.parse_args(argv)

    root = os.getcwd()
    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    classes = build.build(root)
    data, warm = data_dirs(state)
    jvm_extra = class_archive(state, classes, warm)
    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "serve":
            shutil.copytree(fixture(state, classes, data, jvm_extra),
                            os.path.join(work, "warehouse"))
        raw = harness(classes, ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--data", data, "--warm", warm],
                      work, os.path.join(state, f"{a.workload}.log"), RUN_TIMEOUT_S, jvm_extra)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if raw is None:
        return 1
    with open(os.path.join(state, f"last-raw-{a.workload}.json"), "w") as fh:
        json.dump(raw, fh)

    if a.record_golden:
        with open(golden_path(a.workload), "w") as fh:
            json.dump(golden_of(raw), fh, indent=1, sort_keys=True)
            fh.write("\n")
    with open(golden_path(a.workload)) as fh:
        failures = metrics.check(raw, json.load(fh))
    for f in failures:
        log(f"INCORRECT: {f}")

    e2e = metrics.e2e(raw)
    for name, value, unit in metrics.named(raw):
        print(f"{a.workload} seed={a.seed} {name} = {value:.6g} {unit}")
    last = os.path.join(state, f"last-{a.workload}-{a.seed}.json")
    if a.trace:
        values = metrics.layers(raw, metrics.source_files(root))
        out = {k: {"value": v, "unit": metrics.LAYER_UNITS[k]} for k, v in values.items()}
        if os.path.exists(last):
            with open(last) as fh:
                plain = json.load(fh)
            for k, v in e2e.items():
                print(f"{a.workload} seed={a.seed} tracing overhead {k}: "
                      f"{v:.6g} traced vs {plain[k]:.6g} untraced "
                      f"({(v / plain[k] - 1) * 100 if plain[k] else 0:+.1f}%)")
        else:
            print(f"{a.workload} seed={a.seed} tracing overhead: no untraced run of this "
                  "seed to compare with")
    else:
        out = {k: {"value": v, "unit": metrics.E2E_UNITS[k]} for k, v in e2e.items()}
        with open(last, "w") as fh:
            json.dump(e2e, fh)
    print(json.dumps({"correct": not failures, "attempted": len(raw["ops"]),
                      "failed": sum(not o["ok"] for o in raw["ops"]), "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
