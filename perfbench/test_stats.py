"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import glob
import json
import math
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402


def span(id, parent, start, end, name="x", client=0, jobs=0, intervals=(), **kw):
    s = {"id": id, "parent": parent, "name": name, "client": client, "start": start,
         "end": end, "jobs": jobs, "stages": 0, "tasks": 0, "shuffle_read": 0,
         "shuffle_write": 0, "spill": 0, "input_bytes": 0, "scan_exec": 0, "scan_driver": 0,
         "bytes_written": 0, "files_written": 0, "job_intervals": [list(i) for i in intervals]}
    s.update(kw)
    return s


class TailRule(unittest.TestCase):
    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99.9), 100)
        self.assertEqual(stats.percentile([7.0], 50), 7.0)

    def test_highest_percentile_with_ten_samples_beyond(self):
        for n, want in ((20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
                        (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)):
            p, value, count = stats.tail([float(i) for i in range(n)])
            self.assertEqual((p, count), (want, n), n)
            self.assertGreaterEqual(stats.beyond(n, p), stats.TAIL_BEYOND)
            self.assertEqual(value, stats.percentile(range(n), p))

    def test_too_few_samples_fall_back_to_the_median(self):
        p, value, n = stats.tail([1.0, 2.0, 3.0, 100.0])
        self.assertIsNone(p)
        self.assertEqual((value, n), (2.5, 4))

    def test_tail_ignores_order(self):
        xs = [float((i * 37) % 101) for i in range(101)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class FailureCounting(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.fail_ratio(10, 0), 0.0)
        self.assertEqual(stats.fail_ratio(8, 2), 0.25)
        with self.assertRaises(ValueError):
            stats.fail_ratio(0, 0)

    def raw(self, attempted, failed):
        samples = [["core.par_read", "read", 0, float(i), 10.0 + i, i >= failed]
                   for i in range(attempted)]
        samples.append(["cycle", "cycle", 0, 0.0, 100.0, True])
        return {"workload": "scenario_edit", "samples": samples,
                "attempted": attempted, "failed": failed,
                "clients": [{"ops": attempted, "elapsed_ms": 2000.0, "check_ms": 1000.0}],
                "session_s": 1.0, "setup_s": 2.0, "heap_live_mb": [10.0, 12.0],
                "heap_after_gc_peak_mb": 40.0, "stored_bytes": 300, "user_bytes": 100,
                "timed_host": {"wall_ms": 2000.0, "process_cpu_ms": 800.0, "jit_cpu_ms": 200.0,
                               "steal_share": 0.0}}

    def test_failed_ops_count_against_attempted(self):
        metrics, details = stats.end_to_end(self.raw(4, 1))
        self.assertEqual((details["attempted"], details["failed"]), (4, 1))
        self.assertEqual(details["fail_ratio"], 0.25)
        self.assertEqual(details["ops_per_s"], 4.0)  # check time excluded
        self.assertEqual(details["cycle_p50_ms"], 100.0)
        self.assertEqual(details["read_p50_ms"], 11.5)
        self.assertEqual(metrics["setup_s"], 3.0)
        self.assertEqual(metrics["cpu_ms_per_op"], 200.0)
        self.assertEqual(metrics["heap_live_mb"], 12.0)
        self.assertEqual(metrics["stored_bytes_per_user_byte"], 3.0)

    def test_every_end_to_end_metric_is_reported(self):
        metrics, _ = stats.end_to_end(self.raw(3, 0))
        self.assertEqual(set(metrics), {n for n, _, _ in stats.END_TO_END})


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 2, 12, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 50)  # children cover [10, 60]
        self.assertEqual(st[2], 22)  # grandchild covers 8 of 30
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 8)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([span(1, 0, 0, 10), span(2, 1, 5, 15)])
        self.assertEqual(st[1], 5)

    def test_concurrent_clients_do_not_share_self_time(self):
        # two read clients overlap in time; each tree is independent
        spans = [span(1, 0, 0, 100, client=0), span(2, 1, 0, 50, client=0),
                 span(3, 0, 25, 125, client=1), span(4, 3, 25, 100, client=1)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 50)
        self.assertEqual(st[3], 25)

    def test_driver_time_is_wall_minus_job_cover_of_the_subtree(self):
        spans = [span(1, 0, 0, 100, name="store.commit", jobs=1, intervals=[(10, 30)]),
                 span(2, 1, 20, 60, jobs=2, intervals=[(20, 50), (45, 55)])]
        inc = stats.inclusive(spans[0], stats.children_of(spans))
        self.assertEqual(inc["jobs"], 3)
        self.assertEqual(inc["driver_ms"], 100 - 45)  # jobs cover [10, 55]

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(stats.union_length([(0, 5), (1, 2), (4, 9)], 3, 6), 3)


class LayerMetrics(unittest.TestCase):
    def test_classes_not_run_report_zero_and_ratios(self):
        spans = [span(1, 0, 0, 10, name="core.par_read", scan_exec=0),
                 span(2, 0, 10, 30, name="core.par_read", scan_exec=500),
                 span(3, 0, 30, 40, name="report.get"),
                 span(4, 3, 30, 31, name="report.get.call", jobs=0),
                 span(5, 0, 40, 60, name="report.get"),
                 span(6, 5, 40, 55, name="report.get.call", jobs=2),
                 span(7, 0, 60, 90, name="store.commit", bytes_written=50)]
        raw = {"spans": spans, "delta_bytes": 25, "stored_bytes": 300, "live_bytes": 100,
               "recall": [0.9, 1.0], "spill_bytes": 0, "gc_ms": 5, "heap_after_gc_peak_mb": 64}
        m = stats.layer_metrics(raw)
        self.assertEqual(set(m), {n for n, _, _ in stats.per_layer_names()})
        self.assertLessEqual(len(m), 128)
        self.assertEqual(m["ops.ivfsq.build.ms"], 0.0)
        self.assertEqual(m["core.par_read.ms"], 15)
        self.assertEqual(m["core.par_read.scan_bytes"], 250)
        self.assertEqual(m["store.cache_served_ratio"], 0.5)
        self.assertEqual(m["report.qcache_hit_ratio"], 0.5)
        self.assertEqual(m["report.get.jobs"], 1.0)
        self.assertEqual(m["store.write_amp"], 2.0)
        self.assertEqual(m["store.space_amp"], 3.0)
        self.assertTrue(math.isclose(m["ops.ivfsq.recall_at_5"], 0.95))


class BenchmarkFile(unittest.TestCase):
    def test_metrics_and_workloads_match_the_benchmark_file(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            b = json.load(fh)
        with open(os.path.join(HERE, "src", "perfbench", "Main.scala")) as fh:
            scala = set(re.findall(r'case "(\w+)" =>', fh.read()))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         list(stats.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         stats.per_layer_names())
        self.assertEqual(set(run.OPS_PER_RUN), scala)
        self.assertLessEqual({w["name"] for w in b["workloads"]}, scala)


class FixedWork(unittest.TestCase):
    def test_every_baseline_run_made_the_pinned_number_of_ops(self):
        files = glob.glob(os.path.join(HERE, "baseline", "*.json"))
        self.assertTrue(files)
        for f in files:
            with open(f) as fh:
                b = json.load(fh)
            if "runs" in b:  # spread.py sets
                for r in b["runs"]:
                    self.assertEqual(r["ops"], run.OPS_PER_RUN[b["workload"]], (f, r["seed"]))
            else:  # one traced run
                d = b["details"]
                self.assertEqual(d["ops"], run.OPS_PER_RUN[d["workload"]], f)


if __name__ == "__main__":
    unittest.main()
