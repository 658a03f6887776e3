"""Unit tests of the benchmark's report logic (no Spark needed).

    python3 perfbench/test_report.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import report  # noqa: E402


def span(i, name, op, parent, start, end):
    return {"id": i, "name": name, "op": op, "parent": parent, "start_ns": start, "end_ns": end}


def task(stage, run_ms, **kw):
    t = {"stage": stage, "failed": False, "launch_ms": 0, "finish_ms": run_ms, "run_ms": run_ms,
         "cpu_ns": run_ms * 1000000, "deser_ms": 0, "result_ser_ms": 0, "getting_result_ms": 0,
         "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0, "result_bytes": 0}
    t.update(kw)
    return t


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        cases = {9: None, 19: None, 20: 50, 39: 50, 40: 75, 99: 75, 100: 90, 199: 90,
                 200: 95, 999: 95, 1000: 99, 9999: 99, 10000: 99.9}
        for n, p in cases.items():
            self.assertEqual(report.tail_percentile(n), p, n)

    def test_quantiles(self):
        xs = list(range(1, 101))
        self.assertEqual(report.quantile(xs, 90), 90)
        self.assertEqual(report.quantile(xs, 50), 50.5)
        self.assertEqual(report.quantile([3, 1, 2], 50), 2)

    def test_betainc(self):
        self.assertAlmostEqual(report.betainc(1, 1, 0.3), 0.3, places=12)
        self.assertAlmostEqual(report.betainc(2, 3, 0.4), 0.5248, places=12)  # 1 - 0.6^4 - 4*0.4*0.6^3
        self.assertAlmostEqual(report.betainc(7.5, 7.5, 0.5), 0.5, places=12)
        self.assertAlmostEqual(report.betainc(3, 5, 0.2) + report.betainc(5, 3, 0.8), 1.0, places=12)

    def test_hd_median(self):
        self.assertEqual(report.hd_median([4.0]), 4.0)
        self.assertAlmostEqual(report.hd_median([1.0, 3.0]), 2.0)
        # n = 5: weights I_x(3, 3) = x^3 (10 - 15x + 6x^2) differenced at x = i/5
        w = [0.05792, 0.25952, 0.36512, 0.25952, 0.05792]
        xs = [1.0, 2.0, 3.0, 4.0, 50.0]
        self.assertAlmostEqual(report.hd_median(xs), sum(a * b for a, b in zip(w, xs)))
        # symmetric samples: the estimate is their centre
        self.assertAlmostEqual(report.hd_median([1, 2, 3, 10, 17, 18, 19]), 10.0)
        # two clusters, five and four ops: between them, unlike the sample
        # median, which is the fastest of the slow cluster
        two = [100, 101, 102, 103, 104, 200, 201, 202, 203]
        self.assertEqual(report.quantile(two, 50), 104)
        self.assertTrue(104 < report.hd_median(two) < 200)

    def test_summary_reports_tail_with_sample_count(self):
        ops = [{"id": i, "kind": "k", "ms": float(i + 1), "traced": False, "error": None, "counters": {}}
               for i in range(100)]
        rec = {"ops": ops, "trace": False, "dedup_recall": [], "workload": "w", "seed": 1,
               "setup": {"session_s": 1.0, "prepare_s": [2.0, 3.0, 9.0], "prepare_sub_ms": [{}],
                         "warmup_s": 0.5}}
        s = report.summarize(rec)
        self.assertEqual(s["extra"]["op_p90_ms"], {"value": 90.0, "unit": "ms", "n": 100})
        self.assertEqual(s["end_to_end"]["setup_s"]["value"], 1.0 + 3.0 + 0.5)
        self.assertAlmostEqual(s["end_to_end"]["op_p50_ms"]["value"], 50.5)
        self.assertAlmostEqual(s["end_to_end"]["ops_per_s"]["value"], 100 / (sum(range(1, 101)) / 1e3))
        line = report.result_line(s, 0)
        self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
        self.assertEqual([m for m in line["metrics"]], [n for n, _, _ in report.END_TO_END])

    def test_failed_ops_count_against_attempted(self):
        ops = [{"id": i, "kind": "k", "ms": 1.0, "traced": False, "error": "x" if i < 2 else None,
                "counters": {}} for i in range(8)]
        rec = {"ops": ops, "trace": False, "dedup_recall": [], "workload": "w", "seed": 1,
               "setup": {"session_s": 1.0, "prepare_s": [1.0], "prepare_sub_ms": [{}], "warmup_s": 0}}
        s = report.summarize(rec)
        self.assertEqual((s["attempted"], s["failed"]), (8, 2))
        self.assertEqual(s["extra"]["error_rate"]["value"], 0.25)
        self.assertFalse(report.result_line(s, 0)["correct"])


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        spans = [span(0, "op", 0, -1, 0, 100),
                 span(1, "a", 0, 0, 10, 40), span(2, "b", 0, 0, 30, 60),
                 span(3, "c", 0, 0, 90, 120),  # clipped to the parent's end
                 span(4, "d", 0, 1, 15, 20)]
        st = report.self_times(spans)
        self.assertEqual(st[0], 100 - (50 + 10))
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[4], 5)

    def test_self_times_sum_to_the_root_duration(self):
        spans = [span(0, "op", 0, -1, 0, 1000), span(1, "a", 0, 0, 100, 500),
                 span(2, "b", 0, 1, 200, 300), span(3, "c", 0, 0, 600, 900)]
        self.assertEqual(sum(report.self_times(spans).values()), 1000)


class Attribution(unittest.TestCase):
    EVENTS = {
        "jobs": [{"job": 0, "group": "op-3", "time_ms": 100, "stages": [0, 1]},
                 {"job": 1, "group": "op-4", "time_ms": 200, "stages": [2]},
                 {"job": 2, "group": None, "time_ms": 300, "stages": [3]},
                 {"job": 3, "group": "op-3", "time_ms": 150, "stages": [4]}],
        "job_ends": [{"job": 0, "time_ms": 140, "ok": True}, {"job": 1, "time_ms": 260, "ok": True},
                     {"job": 2, "time_ms": 310, "ok": True}, {"job": 3, "time_ms": 170, "ok": True}],
        "tasks": [task(0, 10), task(1, 20), task(1, 40), task(2, 5), task(3, 99), task(4, 7, failed=True)],
    }

    def test_stages_and_tasks_follow_their_job_group(self):
        per_op = report.attribute(self.EVENTS)
        self.assertEqual(sorted(per_op), [3, 4])
        self.assertEqual(sorted(j for j, _, _ in per_op[3]["jobs"]), [0, 3])
        self.assertEqual(sorted(t["run_ms"] for t in per_op[3]["tasks"]), [7, 10, 20, 40])
        self.assertEqual([t["run_ms"] for t in per_op[4]["tasks"]], [5])

    def test_exec_metrics(self):
        per_op = report.attribute(self.EVENTS)
        m = report.exec_metrics(per_op[3]["jobs"], per_op[3]["tasks"])
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["exec.stages"], 3)
        self.assertEqual(m["exec.tasks"], 4)
        self.assertEqual(m["exec.wall_ms"], 40 + 20)
        self.assertEqual(m["exec.failed_tasks"], 1)
        self.assertEqual(m["exec.task_skew"], 40 / 30)

    def test_per_layer_on_a_traced_record(self):
        # one traced op: parse 0-1 ms, translate 1-11, plan 11-20, collect
        # 20-100 with one job from 30 to 90 ms; epoch ms == ns / 1e6
        ms = 1000000
        spans = [span(0, "op", 0, -1, 0, 100 * ms), span(1, "model.parse", 0, 0, 0, 1 * ms),
                 span(2, "stages.translate", 0, 0, 1 * ms, 11 * ms),
                 span(3, "catalyst.plan", 0, 0, 11 * ms, 20 * ms),
                 span(4, "exec.collect", 0, 0, 20 * ms, 100 * ms)]
        rec = {
            "ops": [{"id": 0, "kind": "k", "ms": 100.0, "traced": True, "error": None,
                     "counters": {"codegen.compiles": 2.0}},
                    {"id": 1, "kind": "k", "ms": 80.0, "traced": False, "error": None, "counters": {}}],
            "spans": spans, "clock": {"epoch_ms": 0, "nano": 0},
            "events": {"jobs": [{"job": 0, "group": "op-0", "time_ms": 30, "stages": [0]}],
                       "job_ends": [{"job": 0, "time_ms": 90, "ok": True}],
                       "tasks": [task(0, 50), task(0, 40)],
                       "queries": [{"time_ms": 19, "analysis_ms": 2, "optimization_ms": 3,
                                    "planning_ms": 4, "optimized_nodes": 6, "ok": True},
                                   {"time_ms": 500, "analysis_ms": 100, "optimization_ms": 100,
                                    "planning_ms": 100, "optimized_nodes": 100, "ok": True}]},
            "setup": {"prepare_sub_ms": [{}]}, "heap_after_gc_mb": 12.0,
        }
        layers, table, _, _ = report.per_layer(rec)
        self.assertEqual(set(layers), {n for n, _, _ in report.PER_LAYER})
        self.assertAlmostEqual(layers["model.parse_ms"], 1.0)
        self.assertAlmostEqual(layers["stages.translate_ms"], 10.0)
        self.assertAlmostEqual(layers["exec.wall_ms"], 60.0)
        self.assertAlmostEqual(layers["driver.collect_ms"], 10.0)
        self.assertAlmostEqual(layers["catalyst.planning_ms"], 4.0)  # the query at 500 ms is not this op's
        self.assertAlmostEqual(layers["codegen.compiles"], 2.0)
        self.assertAlmostEqual(layers["trace.overhead_frac"], 100.0 / 80.0 - 1)
        self.assertAlmostEqual(layers["trace.unattributed_ms"], 0.0)
        self.assertAlmostEqual(table["exec.collect"]["self_ms"], 20.0)
        self.assertAlmostEqual(table["exec.jobs"]["self_ms"], 60.0)
        self.assertAlmostEqual(sum(t["self_ms"] for t in table.values()), 100.0)


class BenchmarkJson(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]], report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]], report.PER_LAYER)
        import run
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)


def run():
    suite = unittest.defaultTestLoader.loadTestsFromModule(sys.modules[__name__])
    return unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()


if __name__ == "__main__":
    sys.exit(0 if run() else 1)
