"""Tests of the benchmark's own arithmetic. No Spark needed:
python3 erbench/test_stats.py
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def span(id, module, start, end, parent=0, name=None, run="r"):
    return {"id": id, "module": module, "name": name or module, "parent": parent,
            "run": run, "start": start, "end": end}


def task(span_id, launch, finish, stage=1, run_ms=None, cpu_ns=0):
    return {"group": stats.group(span_id), "stage": stage, "launch": launch,
            "finish": finish, "runMs": finish - launch if run_ms is None else run_ms,
            "cpuNs": cpu_ns, "gcMs": 0, "shuffleWriteBytes": 0, "shuffleReadBytes": 0}


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.reportable_percentile(10))
        self.assertIsNone(stats.reportable_percentile(99))
        self.assertEqual(stats.reportable_percentile(100), 90.0)
        self.assertEqual(stats.reportable_percentile(999), 90.0)
        self.assertEqual(stats.reportable_percentile(1000), 99.0)
        self.assertEqual(stats.reportable_percentile(10000), 99.9)

    def test_timing_reports_median_and_count(self):
        t = stats.timing([3.0, 1.0, 2.0])
        self.assertEqual((t["value"], t["n"], t["pct"]), (2.0, 3, None))
        t = stats.timing([float(i) for i in range(1, 101)])
        self.assertEqual((t["n"], t["pct"], t["pct_value"]), (100, 90.0, 90.0))


class Growth(unittest.TestCase):
    def test_thirds(self):
        self.assertEqual(stats.growth([1, 1, 1, 2, 2, 2, 3, 3, 3]), 3.0)
        self.assertEqual(stats.growth([2, 9, 4]), 2.0)  # last over first
        self.assertEqual(stats.growth([1, 100, 100, 3, 3]), 3.0)  # k = 1

    def test_short_sequences(self):
        self.assertEqual(stats.growth([5.0]), 1.0)
        self.assertEqual(stats.growth([2.0, 3.0]), 1.5)
        with self.assertRaises(ValueError):
            stats.growth([])

    def test_bounded_work_reads_one(self):
        self.assertAlmostEqual(stats.growth([4.0] * 12), 1.0)


class Intervals(unittest.TestCase):
    def test_union_and_subtract(self):
        self.assertEqual(stats.union([(5, 6), (0, 2), (1, 3), (4, 4)]), [(0, 3), (5, 6)])
        self.assertEqual(stats.subtract([(0, 10)], [(2, 3), (5, 7), (9, 12)]),
                         [(0, 2), (3, 5), (7, 9)])
        self.assertEqual(stats.subtract([(0, 10)], [(-1, 11)]), [])
        self.assertEqual(stats.length([(0, 2), (1, 4)]), 4)


class SelfTime(unittest.TestCase):
    def test_self_time_excludes_children_of_other_modules(self):
        spans = [span(1, "pipeline", 0, 10000),
                 span(2, "pairs", 1000, 5000, parent=1),
                 span(3, "pairs", 2000, 3000, parent=2, name="pairs.attach"),
                 span(4, "scoring", 6000, 9000, parent=1)]
        t = stats.module_times(spans, [])
        self.assertAlmostEqual(t["pipeline"][0], 3.0)  # 10 s minus 4 s and 3 s
        self.assertAlmostEqual(t["pairs"][0], 4.0)  # attach is pairs' own time
        self.assertAlmostEqual(t["scoring"][0], 3.0)
        self.assertAlmostEqual(sum(v[0] for v in t.values()), 10.0)

    def test_driver_gap_is_own_time_without_own_tasks(self):
        spans = [span(1, "pipeline", 0, 10000), span(2, "cc", 2000, 8000, parent=1)]
        tasks = [task(2, 3000, 4000), task(2, 3500, 5000),  # overlap: 2 s busy
                 task(1, 2500, 9000)]  # another span's task does not count for cc
        t = stats.module_times(spans, tasks)
        self.assertAlmostEqual(t["cc"][1], 4.0)
        # the root's own time is [0,2) and [8,10); its task covers [8,9)
        self.assertAlmostEqual(t["pipeline"][1], 3.0)

    def test_layer_metrics_of_run(self):
        spans = [span(1, "pipeline", 0, 10000),
                 span(2, "pairs", 1000, 5000, parent=1),
                 span(3, "pairs", 2000, 3000, parent=2, name="pairs.attach"),
                 span(4, "scoring", 6000, 9000, parent=1)]
        tasks = [task(2, 1000, 1100, stage=7), task(2, 1000, 1100, stage=7),
                 task(2, 1000, 1400, stage=7), task(3, 2000, 2050, stage=8),
                 task(4, 6000, 7000, cpu_ns=2_000_000_000)]
        jobs = [{"id": 0, "group": stats.group(2)}, {"id": 1, "group": stats.group(4)}]
        counts = {"scoring.pairs_scored": 1000.0, "pairs.candidates": 1000.0,
                  "scoring.edges_auto": 40.0, "scoring.edges_review": 10.0}
        m = stats.layer_metrics_of_run(spans, tasks, jobs, counts)
        self.assertAlmostEqual(m["pairs.attach_s"], 1.0)
        self.assertAlmostEqual(m["pairs.task_skew"], 4.0)  # 400 ms / median 100 ms
        self.assertEqual(m["pairs.tasks"], 4.0)
        self.assertAlmostEqual(m["scoring.ns_per_pair"], 2e6)
        self.assertAlmostEqual(m["scoring.useful_ratio"], 0.05)
        self.assertEqual(m["scoring.jobs"], 1.0)


class EndToEnd(unittest.TestCase):
    def raw(self, ops, **kw):
        r = {"setup_s": 20.0, "input_records": 1000, "input_bytes": 100, "f1": 1.0,
             "peak_rss_mb": 900.0, "ops": ops, "trace": False, "check_failures": []}
        r.update(kw)
        return r

    def op(self, s, ok=True, store=300, traced=False):
        return {"s": s, "ok": ok, "traced": traced, "store_bytes": store}

    def test_runs(self):
        ops = [self.op(10.0, store=400), self.op(14.0), self.op(12.0),
               self.op(99.0, traced=True)]
        res, det = stats.summarize(self.raw(ops))
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(m["pipeline_s"], 12.0)  # traced runs are not timed
        self.assertEqual(det["pipeline_s"]["n"], 3)
        self.assertAlmostEqual(m["records_per_s"], 1000 / 12.0)
        self.assertEqual(m["write_amp"], 3.0)
        self.assertEqual(list(m), [e[0] for e in stats.END_TO_END])
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (True, 4, 0))

    def test_failures(self):
        res, _ = stats.summarize(self.raw([self.op(10.0), self.op(12.0, ok=False)]))
        self.assertEqual((res["correct"], res["failed"]), (False, 1))
        res, _ = stats.summarize(self.raw([self.op(10.0)], check_failures=["F1 0.9 < 0.99"]))
        self.assertEqual((res["correct"], res["failed"]), (False, 0))

    def test_stream_ops_give_the_incremental_layer(self):
        sops = [{"s": s, "ok": True, "files_written": 10 * i, "live_files": 100 * i,
                 "history_rows_scanned": i, "pairs_scored": 5}
                for i, s in enumerate([10.0, 20.0, 40.0], start=1)]
        spans = [span(i, "incremental", 0, s * 1000, run="stream", name=f"incremental.batch{i}")
                 for i, s in enumerate([10.0, 20.0, 40.0], start=1)]
        raw = self.raw([self.op(10.0, traced=True)], trace=True, layers=[], spans=spans,
                       tasks=[], jobs=[{"id": 0, "group": stats.group(1)}], stream_ops=sops,
                       stream_check_failures=[])
        res, _ = stats.summarize(raw)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(m["incremental.microbatch_p50_s"], 20.0)
        self.assertEqual(m["incremental.microbatch_last_s"], 40.0)
        self.assertEqual(m["incremental.microbatch_growth"], 4.0)
        self.assertAlmostEqual(m["incremental.self_s"], 70.0 / 3)
        self.assertAlmostEqual(m["incremental.jobs"], 1 / 3)
        self.assertEqual(m["incremental.live_files"], 300.0)
        self.assertEqual(m["standardize.self_s"], 0.0)  # no traced pipeline here
        self.assertEqual(list(m), [e[0] for e in stats.PER_LAYER])
        self.assertEqual(res["attempted"], 4)


class ResultLine(unittest.TestCase):
    def test_metric_name_charset(self):
        for ok in ("setup_s", "functions.minhash.ns_per_row", "9a", "a-b.c_d"):
            self.assertTrue(stats.check_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "é"):
            self.assertFalse(stats.check_name(bad), bad)
        for ok in ("s", "1/s", "%", "count", "MB"):
            self.assertTrue(stats.check_unit(ok), ok)
        self.assertFalse(stats.check_unit("meters per second"))

    def test_all_metric_names_and_units_are_valid_and_unique(self):
        names = [m[0] for m in stats.END_TO_END] + [m[0] for m in stats.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n, u, *_ in stats.END_TO_END + stats.PER_LAYER:
            self.assertTrue(stats.check_name(n), n)
            self.assertTrue(stats.check_unit(u), u)
        self.assertLessEqual(len(stats.PER_LAYER), 128)

    def test_benchmark_json_matches_the_metric_tables(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]],
                         [tuple(m) for m in stats.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [tuple(m) for m in stats.PER_LAYER])

    def test_parse_result_line(self):
        good = {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {"setup_s": {"value": 1.25, "unit": "s"}}}
        out = "erbench ...\n  setup_s = 1.25 s\n" + json.dumps(good) + "\n"
        self.assertEqual(stats.parse_result_line(out), good)
        for bad in ({**good, "extra": 1}, {**good, "attempted": 0},
                    {**good, "failed": 1.5}, {**good, "correct": "yes"},
                    {**good, "metrics": {"bad name": {"value": 1, "unit": "s"}}},
                    {**good, "metrics": {"x": {"value": 1, "unit": "s", "n": 3}}},
                    {**good, "metrics": {"x": {"value": float("nan"), "unit": "s"}}}):
            with self.assertRaises(ValueError):
                stats.parse_result_line(json.dumps(bad))
        with self.assertRaises(ValueError):
            stats.parse_result_line("")


if __name__ == "__main__":
    unittest.main()
