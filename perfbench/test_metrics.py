"""Tests of the benchmark's own arithmetic: python3 -m unittest discover perfbench"""
import json
import unittest
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent


def span(id, kind, name, parent, start, end, **attrs):
    return {"id": id, "kind": kind, "name": name, "parent": parent,
            "start": start, "end": end, **attrs}


def job(job_id, group, start, end, callsite="save at Harness.scala:1"):
    return {"kind": "job", "name": f"job{job_id}", "job": job_id, "group": group,
            "callsite": callsite, "start": start, "end": end, "stages": [job_id], "ok": True}


def stage(job_id, task_ms, start, end, tasks=4):
    return {"kind": "stage", "name": "s", "stage": job_id, "job": job_id,
            "start": start, "end": end, "tasks": tasks, "task_ms": task_ms,
            "cpu_ms": task_ms / 2, "gc_ms": 0, "deser_ms": 1, "sched_delay_ms": 2,
            "task_max_ms": task_ms / 2, "task_median_ms": task_ms / 8,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "input_bytes": 1024, "output_rows": 10, "output_bytes": 2048}


def three_pass_run():
    """A cold, a warm-up and a warm pass of two items; each item a build and
    an exec phase."""
    spans = [span(0, "run", "w", None, 0, 1500)]
    sid = 1
    for p, (lo, hi) in enumerate([(0, 600), (600, 1100), (1100, 1500)]):
        pass_id = sid
        spans.append(span(pass_id, "pass", f"pass{p}", 0, lo, hi, cold=p == 0, warmup=p == 1,
                          gc_ms=10, jit_ms=100, cpu_s=1.0, staging_builds=int(p == 0),
                          staging_bytes=int(p == 0) * 1048576))
        sid += 1
        t = lo
        step = (hi - lo) / 2
        for i in range(2):
            item = sid
            spans.append(span(item, "item", f"q{i}", pass_id, t, t + step, error=None,
                              checks=0, failed_checks=0))
            spans.append(span(sid + 1, "phase", "build", item, t, t + step / 2))
            spans.append(span(sid + 2, "phase", "exec", item, t + step / 2, t + step))
            sid += 3
            t += step
    return {"setup_s": 3.0, "heap_peak_mb": 100.0, "spans": spans}


class SchemaTest(unittest.TestCase):
    def test_metric_names_and_units_match_benchmark_json(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.PER_LAYER)
        self.assertIn("setup_s", metrics.END_TO_END)

    def test_each_mode_reports_every_metric_of_its_list(self):
        raw = three_pass_run()
        self.assertEqual(set(metrics.end_to_end(raw)), set(metrics.END_TO_END))
        self.assertEqual(set(metrics.per_layer(raw, 4)), set(metrics.PER_LAYER))


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(39), 50)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(99), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)

    def test_quantile_interpolates(self):
        self.assertEqual(metrics.quantile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.quantile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.quantile([0, 10], 90), 9)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        parent = {"start": 0, "end": 100}
        kids = [{"start": 10, "end": 30}, {"start": 20, "end": 40}]
        self.assertEqual(metrics.self_time(parent, kids), 70)

    def test_children_are_clipped_to_the_parent(self):
        parent = {"start": 0, "end": 100}
        kids = [{"start": -50, "end": 10}, {"start": 90, "end": 150}]
        self.assertEqual(metrics.self_time(parent, kids), 80)

    def test_disjoint_children_and_no_children(self):
        self.assertEqual(metrics.covered([(0, 1), (2, 3), (5, 9)], 0, 10), 6)
        self.assertEqual(metrics.self_time({"start": 5, "end": 7}, []), 2)


class AttributionTest(unittest.TestCase):
    def setUp(self):
        self.raw = three_pass_run()
        # ids: the warm pass is 15; its items 16 (build 17, exec 18) and
        # 19 (build 20, exec 21)
        self.raw["spans"] += [
            job(1, "bench/2/1/exec", 1400, 1450),
            job(2, "bench/2/0/build", 1100, 1120, callsite="parquet at Tables.scala:23"),
            # a streaming query's own group, started during item 0's exec
            job(3, "1b2f-run-id", 1260, 1280),
            # no group, outside every phase
            job(4, None, 5000, 5001),
            stage(1, 400, 1400, 1450), stage(2, 40, 1100, 1120), stage(3, 80, 1260, 1280)]
        self.run = metrics.Run(self.raw)

    def test_benchmark_groups_name_pass_item_and_phase(self):
        self.assertEqual(self.run.job_phase[1], 21)
        self.assertEqual(self.run.job_phase[2], 17)

    def test_foreign_groups_fall_back_to_the_running_phase(self):
        self.assertEqual(self.run.job_phase[3], 18)
        self.assertIsNone(self.run.job_phase[4])

    def test_layers_of_the_warm_pass(self):
        m = metrics.per_layer(self.raw, 4)
        self.assertEqual(m["build.jobs"], 1)
        self.assertEqual(m["sources.schema_jobs"], 1)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertAlmostEqual(m["build.foreign_job_frac"], 1 / 3)
        self.assertAlmostEqual(m["build.s"], 0.2)
        self.assertAlmostEqual(m["build.job_s"], 0.02)
        self.assertAlmostEqual(m["build.driver_s"], 0.18)
        self.assertAlmostEqual(m["exec.task_s"], 0.48)
        self.assertAlmostEqual(m["exec.busy_frac"], 0.48 / (0.2 * 4))
        self.assertAlmostEqual(m["exec.task_skew"], 4.0)
        self.assertEqual(m["staging.builds"], 1)
        self.assertEqual(m["staging.warm_builds"], 0)
        self.assertAlmostEqual(m["cold.pass_s"], 0.6)
        self.assertAlmostEqual(m["cold.jit_s"], 0.1)
        self.assertAlmostEqual(m["trace.item_self_frac"], 0.0)


class EndToEndTest(unittest.TestCase):
    def test_warm_pass_without_cold_and_warm_up_passes_and_setup(self):
        m = metrics.end_to_end(three_pass_run())
        self.assertEqual(m["setup_s"], 3.0)
        self.assertAlmostEqual(m["pass_s"], 0.4)


    def test_passes_the_host_disturbed_are_left_out_unless_all_were(self):
        raw = three_pass_run()
        raw["spans"].append(span(99, "pass", "pass3", 0, 1500, 2500, cold=False, warmup=False,
                                 steal_frac=metrics.STEAL_LIMIT * 2))
        self.assertAlmostEqual(metrics.end_to_end(raw)["pass_s"], 0.4)
        for s in raw["spans"]:
            if s["kind"] == "pass":
                s["steal_frac"] = metrics.STEAL_LIMIT * 2
        self.assertAlmostEqual(metrics.end_to_end(raw)["pass_s"], 0.7)


class CheckOutputTest(unittest.TestCase):
    def test_every_item_gets_a_verdict(self):
        out = "\n".join([
            "PASS q1 (3 rows)",
            "FAIL q2: rows spark=1 oracle=2",
            "FAIL q3: 1/5 rows differ; first diffs:",
            "FAIL q4: no spark output dir",
            "WARN q1: dtype skew spark={} oracle={}",
        ])
        self.assertEqual(metrics.parse_check(out, ["q1", "q2", "q3", "q4", "q5"]), {
            "q2": "OracleRowCountMismatch", "q3": "OracleValueMismatch",
            "q4": "OracleNoOutput", "q5": "OracleNotChecked"})


if __name__ == "__main__":
    unittest.main()
