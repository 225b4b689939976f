"""Self-tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import json
import math
import os
import unittest

import metrics

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def op(id, kind, phase, start, end, ok=True, client=0):
    return {"id": id, "kind": kind, "phase": phase, "client": client, "start_ms": start,
            "end_ms": end, "ok": ok, "error": "" if ok else "boom"}


def job(id, group, submit, end, call_site="collect at Api.scala:10", tasks=2, run=10):
    return {"id": id, "group": group, "submit_ms": submit, "end_ms": end, "call_site": call_site,
            "stages": 1, "tasks": tasks, "task_run_ms": run, "task_cpu_ms": run / 2,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "input_bytes": 100}


class Percentiles(unittest.TestCase):
    def test_median_of_odd_and_even_counts(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)

    def test_interpolates_between_ranks(self):
        self.assertAlmostEqual(metrics.percentile(range(1, 11), 90), 9.1)
        self.assertEqual(metrics.percentile([5], 90), 5)
        self.assertEqual(metrics.percentile([], 50), 0.0)

    def test_failed_operation_misses_every_limit(self):
        raw = {"workload": "batch_heavy", "setup_s": 1.0, "heap_live_peak_mb": 1.0,
               "ops": [op("a", "qa", "batch", 0, 10), op("b", "qb", "batch", 0, 10, ok=False),
                       op("c", "qc", "batch", 0, 10, ok=False)]}
        self.assertEqual(metrics.e2e(raw)["latency_ms"], metrics.MISSED)
        p50 = metrics.percentile([metrics.latency(o) for o in raw["ops"]], 50)
        self.assertEqual(metrics.finite(p50), metrics.MISSED)


class BestOfReps(unittest.TestCase):
    def test_batch_counts_the_faster_execution(self):
        raw = {"workload": "batch_heavy", "setup_s": 1.0, "heap_live_peak_mb": 1.0,
               "ops": [op("q#1", "q", "batch", 0, 30), op("q#2", "q", "batch", 30, 50),
                       op("p#1", "p", "batch", 50, 60, ok=False), op("p#2", "p", "batch", 60, 64)]}
        self.assertEqual(sorted(o["id"] for o in metrics.measured_ops(raw)), ["p#2", "q#2"])
        self.assertEqual(metrics.e2e(raw)["latency_ms"], 12)
        raw.update(cores=4, gc_ms=0, trace={"jobs": [], "sql": []})
        self.assertAlmostEqual(metrics.layers(raw, {})["batch.total_s"], 0.024)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_ms([(0, 30), (5, 10)]), 30)
        self.assertEqual(metrics.union_ms([(3, 3), (1, 2)]), 1)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_closed_loop_rate_sums_clients(self):
        ops = [op("a", "r", "c4", 0, 1000, client=0), op("b", "r", "c4", 1000, 2000, client=0),
               op("c", "r", "c4", 0, 500, client=1), op("d", "r", "c4", 0, 500, ok=False, client=2)]
        self.assertAlmostEqual(metrics.closed_loop_rate(ops), 1.0 + 2.0 + 0.0)


class Ingest(unittest.TestCase):
    def test_write_metrics_come_from_the_runs_own_writes(self):
        raw = {"workload": "serve",
               "ops": [op("u", "upsert", "write", 0, 3000), op("d", "delete", "write", 3000, 4000),
                       op("a", "sem_exact", "c1", 0, 1)],
               "ingest": {"docs_written": 120, "writer_wall_ms": 4000, "bytes_written": 600,
                          "content_bytes_ingested": 30, "warehouse_bytes": 80,
                          "live_content_bytes": 10}}
        self.assertEqual({k: v for k, v, _ in metrics.ingest(raw)},
                         {"ingest.docs_per_s": 30.0, "ingest.batch_p50_ms": 2000.0,
                          "ingest.write_amp": 20.0, "ingest.space_amp": 8.0})


class Attribution(unittest.TestCase):
    FILES = {"Api.scala": "", "Ingest.scala": "ingest", "IvfIndex.scala": "ann",
             "Indexes.scala": ""}

    def test_layer_of_call_site(self):
        self.assertEqual(metrics.layer_of("collect at Api.scala:1431", self.FILES), "Api")
        self.assertEqual(metrics.layer_of("count at Ingest.scala:160", self.FILES), "ingest")
        self.assertEqual(metrics.layer_of("save at IvfIndex.scala:9", self.FILES), "ann")
        self.assertEqual(metrics.layer_of("count at Harness.scala:3", self.FILES), "other")

    def test_job_on_a_spark_thread_takes_its_execution_site(self):
        j = job(1, "g", 0, 1, "$anonfun$run at CompletableFuture.java:1768")
        self.assertEqual(metrics.job_layer(j, self.FILES), "other")
        j["exec_site"] = "at IvfIndex.scala:105"
        self.assertEqual(metrics.job_layer(j, self.FILES), "ann")

    def test_jobs_attributed_by_group(self):
        raw = {"ops": [op("r#1", "sem_exact", "c1", 0, 100), op("r#2", "lex_scan", "c1", 100, 200)],
               "trace": {"jobs": [job(1, "r#1", 10, 40), job(2, "r#1", 30, 60, "count at Ingest.scala:1"),
                                  job(3, "r#2", 120, 130), job(4, "", 0, 200)],
                         "sql": [{"id": 1, "group": "r#1", "analysis_ms": 3.0,
                                  "optimization_ms": 2.0, "planning_ms": 1.0, "files": 4}]}}
        po = metrics.per_op(raw, raw["ops"], self.FILES)
        self.assertEqual(po["r#1"]["jobs"], 2)
        self.assertEqual(po["r#1"]["outside_jobs_ms"], 100 - 50)
        self.assertEqual(po["r#1"]["job_wall_ms"], 60)
        self.assertEqual(po["r#1"]["job_union_ms"], 50)
        self.assertEqual(po["r#1"]["by_layer"], {"Api": 30, "ingest": 30})
        self.assertEqual(po["r#1"]["files"], 4)
        self.assertEqual(po["r#2"]["jobs"], 1)
        self.assertEqual(po["r#2"]["analysis_ms"], 0)


class Checks(unittest.TestCase):
    def load(self, workload):
        with open(os.path.join(BENCH_DIR, "golden", f"{workload}.json")) as fh:
            return json.load(fh)

    def serve_raw(self, golden):
        ing = {"count": 10, "expected_count": 10, "updated_ok": True, "updated_found": True}
        return {"workload": "serve", "probes": copy.deepcopy(golden["probes"]), "ingest": ing,
                "ops": [op("a", "sem_exact", "c1", 0, 1), op("w", "upsert", "write", 1, 2)]}

    def test_golden_outputs_pass(self):
        golden = self.load("serve")
        self.assertEqual(metrics.check(self.serve_raw(golden), golden), [])
        golden = self.load("batch_heavy")
        raw = {"workload": "batch_heavy", "ops": [], "results": copy.deepcopy(golden["results"])}
        self.assertEqual(metrics.check(raw, golden), [])

    def test_perturbed_outputs_fail(self):
        golden = self.load("batch_heavy")
        raw = {"workload": "batch_heavy", "ops": [], "results": copy.deepcopy(golden["results"])}
        q = sorted(raw["results"])[0]
        raw["results"][q]["hash"] += 1
        self.assertEqual(len(metrics.check(raw, golden)), 1)

        golden = self.load("serve")
        raw = self.serve_raw(golden)
        route = "sem_exact"
        raw["probes"][route]["scores"][0] += 1e-6
        self.assertEqual(len(metrics.check(raw, golden)), 1)
        raw = self.serve_raw(golden)
        raw["probes"][route]["ids"].reverse()
        self.assertEqual(len(metrics.check(raw, golden)), 1)
        raw = self.serve_raw(golden)
        raw["ingest"]["count"] += 1
        self.assertEqual(len(metrics.check(raw, golden)), 1)

    def test_failed_operation_is_incorrect(self):
        golden = self.load("serve")
        raw = self.serve_raw(golden)
        raw["ops"].append(op("b", "lex_scan", "c1", 0, 1, ok=False))
        self.assertEqual(len(metrics.check(raw, golden)), 1)


class Spec(unittest.TestCase):
    def test_benchmark_json_lists_every_metric(self):
        with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.E2E_UNITS)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         list(metrics.LAYER_UNITS.items()))
        self.assertTrue(all(math.isfinite(m["bound"]) and 0 < m["bound"] <= 0.25
                            for m in spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
