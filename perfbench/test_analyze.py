"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import analyze

GRAFT_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "..", "src", "main", "scala", "graft")


class ModuleMapTest(unittest.TestCase):
    def test_every_graft_source_file_is_mapped(self):
        modules = analyze.module_map(GRAFT_SRC)
        files = [f for _, _, fs in os.walk(GRAFT_SRC) for f in fs if f.endswith(".scala")]
        self.assertTrue(files)
        self.assertEqual(set(files), set(modules))
        self.assertTrue(set(modules.values()) <= set(analyze.MODULE_DIRS.values()))
        self.assertEqual(modules["Graph.scala"], "functions")
        self.assertEqual(modules["Workflow.scala"], "workflow")
        self.assertEqual(modules["Core.scala"], "core")

    def test_unmapped_directory_fails(self):
        with self.assertRaises(ValueError):
            analyze.module_of("newmodule/Thing.scala")
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "functions"))
            os.makedirs(os.path.join(d, "newmodule"))
            open(os.path.join(d, "functions", "A.scala"), "w").close()
            open(os.path.join(d, "newmodule", "B.scala"), "w").close()
            with self.assertRaises(ValueError):
                analyze.module_map(d)

    def test_same_file_name_in_two_modules_fails(self):
        with tempfile.TemporaryDirectory() as d:
            for m in ("functions", "operators"):
                os.makedirs(os.path.join(d, m))
                open(os.path.join(d, m, "Same.scala"), "w").close()
            with self.assertRaises(ValueError):
                analyze.module_map(d)


class TailPercentileTest(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(analyze.tail_percentile(10))
        self.assertEqual(analyze.tail_percentile(11), 9)
        self.assertEqual(analyze.tail_percentile(20), 50)
        self.assertEqual(analyze.tail_percentile(100), 90)
        self.assertEqual(analyze.tail_percentile(1000), 99)

    def test_at_least_ten_samples_beyond(self):
        for n in range(11, 400):
            p = analyze.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > analyze.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, n)
            # the next whole percentile would leave fewer than 10 beyond
            if p < 99:
                beyond_next = sum(1 for x in xs if x > analyze.percentile(xs, p + 1))
                self.assertLess(beyond_next, 10, n)

    def test_tail_metric_falls_back_to_slowest_call(self):
        self.assertEqual(analyze.call_tail([5.0, 9.0, 7.0]), 9.0)
        lat = [float(i) for i in range(1, 101)]
        self.assertEqual(analyze.call_tail(lat), 90.0)


class IntervalTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(analyze.union([(5, 7), (0, 2), (1, 3), (3, 4), (6, 6)]),
                         [(0, 4), (5, 7)])
        self.assertEqual(analyze.union([(0, 10), (2, 3)]), [(0, 10)])
        self.assertEqual(analyze.union([]), [])

    def test_length_and_overlap(self):
        jobs = [(1, 3), (2, 5), (8, 9)]
        self.assertEqual(analyze.length(jobs), 5)
        self.assertEqual(analyze.overlap(jobs, (0, 10)), 5)
        self.assertEqual(analyze.overlap(jobs, (4, 8.5)), 1.5)
        self.assertEqual(analyze.overlap(jobs, (6, 7)), 0)


def job(i, start, end, exec_id=-1, desc="", site="", run_ms=0, cpu_ns=0):
    return {"id": i, "start_ms": start, "end_ms": end, "ok": True, "exec_id": exec_id,
            "exec_desc": desc, "call_site": site, "stages": 1, "tasks": 4,
            "failed_tasks": 0, "cpu_ns": cpu_ns, "run_ms": run_ms, "shuffle_write": 0,
            "spill": 0, "input": 0, "output": 0}


def call(name, layer, start, end):
    return {"name": name, "layer": layer, "start_ms": start, "end_ms": end,
            "digest": "d", "ok": True, "error": ""}


def pass_(index, traced, start, end, calls, warmup=False):
    return {"index": index, "warmup": warmup, "traced": traced, "start_ms": start,
            "end_ms": end, "cpu_ms": 1.0, "steal_pct": 0.0, "gc_ms": 1, "codegen_ms": 1.0,
            "planning_ms": 1, "calls": calls}


class PerLayerTest(unittest.TestCase):
    MODULES = {"Graph.scala": "functions", "Workflow.scala": "workflow",
               "StatsGenerator.scala": "operators"}

    def report(self):
        calls = [call("wf", "workflow", 1000, 1100), call("pr", "functions", 1100, 1200)]
        jobs = [
            # operators job issued inside the workflow span, via its execution
            job(1, 1010, 1030, exec_id=7, desc="collect at StatsGenerator.scala:12"),
            # AQE stage job of the same execution: resolved through the id
            job(2, 1025, 1040, exec_id=7,
                desc="collect at StatsGenerator.scala:12",
                site="$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"),
            # the benchmark forcing the workflow's output: the span's layer
            job(3, 1080, 1090, exec_id=8, desc="head at PerfBench.scala:140"),
            # eager localCheckpoint: no execution, attributed by call site
            job(4, 1120, 1150, site="localCheckpoint at Graph.scala:95", run_ms=60),
        ]
        return {"cpus": 2, "passes": [
            pass_(0, True, 900, 1000, [], warmup=True),
            pass_(1, False, 1000, 1300, []),
            pass_(2, True, 1000, 1200, calls)], "jobs": jobs}

    def test_layers_account_for_the_pass(self):
        m = analyze.per_layer(self.report(), self.MODULES)
        self.assertEqual(m["operators.jobs"][0], 2)
        self.assertEqual(m["operators.job_ms"][0], 30)
        self.assertEqual(m["workflow.jobs"][0], 1)
        self.assertEqual(m["workflow.job_ms"][0], 10)
        self.assertEqual(m["workflow.driver_only_ms"][0], 100 - 40)
        self.assertEqual(m["functions.jobs"][0], 1)
        self.assertEqual(m["functions.driver_only_ms"][0], 100 - 30)
        self.assertEqual(m["functions.core_util"][0], 60 / (30 * 2))
        self.assertEqual(m["run.checkpoint_jobs"][0], 1)
        self.assertEqual(m["run.sql_executions"][0], 2)
        self.assertEqual(m["run.job_active_ms"][0], 70)
        self.assertEqual(m["run.driver_only_ms"][0], 130)
        self.assertAlmostEqual(m["run.accounted_pct"][0], 100.0)
        self.assertAlmostEqual(m["run.trace_overhead_pct"][0], 100.0 * (200 / 300 - 1))


if __name__ == "__main__":
    unittest.main()
