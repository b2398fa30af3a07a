"""Self-tests of the benchmark's own code (no Spark):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness  # noqa: E402
import metrics  # noqa: E402
from workloads import compare_results  # noqa: E402

SPEC = metrics.load_spec(os.path.dirname(HERE))


class _Wl:
    n_docs = 0
    input_stats: dict = {}


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_match_spec(self):
        values = metrics.end_to_end([1.0, 2.0, 3.0], [5.0], [("q", 0.5)],
                                    100.0)
        rendered = metrics.render(SPEC, "end_to_end", values)
        self.assertEqual(list(rendered),
                         [m["name"] for m in SPEC["end_to_end"]])
        self.assertEqual(rendered["setup_s"], {"value": 2.0, "unit": "s"})

    def test_per_layer_names_match_spec(self):
        tracer = harness.Tracer("t")
        with tracer.span("pass", "pass"):
            with tracer.span("suite.build:q", "suite"):
                pass
        values = metrics.layer_metrics(_Wl(), tracer, [], {}, {}, [1.0],
                                       [("q", 1.0)], [1.0], [1.0], 2, 50.0)
        metrics.render(SPEC, "per_layer", values)  # raises on a mismatch

    def test_render_rejects_missing_and_extra(self):
        values = metrics.end_to_end([1.0], [5.0], [("q", 0.5)], 100.0)
        with self.assertRaises(KeyError):
            metrics.render(SPEC, "end_to_end", {**values, "extra": 1.0})
        del values["pass_s"]
        with self.assertRaises(KeyError):
            metrics.render(SPEC, "end_to_end", values)

    def test_spec_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds",
                                     "workloads", "end_to_end", "per_layer"})
        for m in SPEC["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in SPEC["end_to_end"]))


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(harness.tail_percentile(list(range(19))))
        self.assertEqual(harness.tail_percentile(list(range(1, 21))),
                         (0.5, 10.0))
        self.assertEqual(harness.tail_percentile(list(range(1, 41)))[0], 0.75)
        self.assertEqual(harness.tail_percentile(list(range(1, 101))),
                         (0.9, 90.0))
        self.assertEqual(harness.tail_percentile(list(range(1, 1001))),
                         (0.99, 990.0))

    def test_at_least_ten_above(self):
        for n in (20, 33, 57, 99, 100, 101, 250):
            xs = list(range(n))
            q, value = harness.tail_percentile(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)


class SpanArithmetic(unittest.TestCase):
    def _span(self, i, parent, start, end, layer="x"):
        return harness.Span(i, f"s{i}", layer, parent, start, end)

    def test_self_time_subtracts_union_of_children(self):
        spans = [self._span(0, None, 0.0, 10.0),
                 self._span(1, 0, 1.0, 4.0),
                 self._span(2, 0, 3.0, 5.0),   # overlaps span 1
                 self._span(3, 0, 9.0, 12.0),  # runs past its parent
                 self._span(4, 1, 1.0, 2.0)]
        st = harness.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(st[1], 3.0 - 1.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[4], 1.0)

    def test_union_length(self):
        self.assertEqual(harness.union_length([]), 0.0)
        self.assertEqual(harness.union_length([(0, 1), (2, 3)]), 2.0)
        self.assertEqual(harness.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)

    def test_install_and_uninstall_restore_every_copy(self):
        sys.path.insert(0, os.path.dirname(HERE))
        import types

        from kiji_mapreduce_spark import cli, session
        orig = session.make_session
        tracer = harness.Tracer("t")
        tracer.install()
        try:
            self.assertIsNot(session.make_session, orig)
            self.assertIs(cli.make_session, session.make_session)
            # a module first imported while traced binds the wrapper
            late = types.ModuleType("kiji_mapreduce_spark._late")
            late.make_session = session.make_session
            sys.modules[late.__name__] = late
        finally:
            tracer.uninstall()
            sys.modules.pop("kiji_mapreduce_spark._late", None)
        self.assertIs(session.make_session, orig)
        self.assertIs(cli.make_session, orig)
        self.assertIs(late.make_session, orig)

    def test_tracer_nests_and_unwraps(self):
        tracer = harness.Tracer("t")
        with tracer.span("a", "pass"):
            with tracer.span("b", "suite"):
                pass
        a, b = tracer.spans
        self.assertEqual((a.parent, b.parent), (None, a.id))
        self.assertLessEqual(a.start, b.start)
        self.assertLessEqual(b.end, a.end)


class EventLog(unittest.TestCase):
    def test_jobs_tasks_and_pins(self):
        def task(stage, run_ms, shuffle_w=0):
            return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                    "Task Info": {"Accumulables": [
                        {"Name": "time to run Python workers",
                         "Update": "250"}]},
                    "Task Metrics": {"Executor Run Time": run_ms,
                                     "Shuffle Write Metrics": {
                                         "Shuffle Bytes Written": shuffle_w}}}
        events = [
            {"Event": "SparkListenerJobStart", "Job ID": 0,
             "Submission Time": 1000, "Stage IDs": [0, 1],
             "Properties": {"spark.jobGroup.id": "span-3"},
             "Stage Infos": [{"Stage ID": 0, "Stage Name": "map at x"},
                             {"Stage ID": 1,
                              "Stage Name": "localCheckpoint at y"}]},
            task(0, 400, 100), task(1, 600),
            {"Event": "SparkListenerStageCompleted",
             "Stage Info": {"Stage ID": 0}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0,
             "Completion Time": 3000},
            # reuses the pin's shuffle stage but collects: not a pin
            {"Event": "SparkListenerJobStart", "Job ID": 1,
             "Submission Time": 3000, "Stage IDs": [1, 2],
             "Stage Infos": [{"Stage ID": 1,
                              "Stage Name": "localCheckpoint at y"},
                             {"Stage ID": 2, "Stage Name": "collect at z"}]},
            task(2, 100),
            {"Event": "SparkListenerJobEnd", "Job ID": 1,
             "Completion Time": 3500},
        ]
        with tempfile.TemporaryDirectory() as d:
            with open(f"{d}/app-1", "w") as f:
                f.write("\n".join(json.dumps(e) for e in events)
                        + "\n{torn")
            pin, other = harness.read_event_logs(d)
        self.assertEqual((pin.group, pin.start, pin.end), ("span-3", 1.0, 3.0))
        self.assertEqual((pin.tasks, pin.stages, pin.shuffle_write_b),
                         (2, 1, 100))
        self.assertAlmostEqual(pin.task_s, 1.0)
        self.assertAlmostEqual(pin.python_s, 0.5)
        self.assertTrue(pin.pin)
        self.assertFalse(other.pin)
        self.assertEqual(other.tasks, 1)


class Generators(unittest.TestCase):
    def test_tables_deterministic(self):
        with tempfile.TemporaryDirectory() as d:
            gen.tables(f"{d}/a", 5, sf=0.01)
            gen.tables(f"{d}/b", 5, sf=0.01)
            gen.tables(f"{d}/c", 6, sf=0.01)
            self.assertEqual(gen.digest(f"{d}/a"), gen.digest(f"{d}/b"))
            self.assertNotEqual(gen.digest(f"{d}/a"), gen.digest(f"{d}/c"))

    def test_warc_corpus_deterministic_and_spread(self):
        with tempfile.TemporaryDirectory() as d:
            m1 = gen.warc_corpus(f"{d}/a", 5, 400)
            m2 = gen.warc_corpus(f"{d}/b", 5, 400)
            self.assertEqual(gen.digest(f"{d}/a"), gen.digest(f"{d}/b"))
            self.assertEqual(m1["raw_bytes"], m2["raw_bytes"])
            self.assertGreater(m1["n_domains"], 100)
            self.assertGreater(m1["n_suffixes"], 10)
            self.assertGreater(m1["exact_dup_share"], 0.05)
            self.assertGreater(m1["near_dup_share"], 0.05)
            names = os.listdir(f"{d}/a")
            self.assertEqual(sum(n.endswith(".warc.gz") for n in names),
                             sum(n.endswith(".warc.zst") for n in names))

    def test_entity_ops_deterministic(self):
        self.assertEqual(gen.entity_ops(3, 100, 2), gen.entity_ops(3, 100, 2))
        self.assertNotEqual(gen.entity_ops(3, 100, 2),
                            gen.entity_ops(4, 100, 2))


class Processes(unittest.TestCase):
    def test_stop_processes_ends_orphaned_descendants(self):
        import subprocess

        harness.become_subreaper()
        # the shell exits at once; its background sleep is orphaned
        subprocess.run(["sh", "-c", "sleep 60 & exit 0"], check=True)
        me = os.getpid()
        self.assertTrue(harness._tree_pids(me) - {me})
        harness.stop_processes(timeout=5.0)
        self.assertEqual(harness._tree_pids(me), {me})


class CompareResults(unittest.TestCase):
    def test_order_insensitive_with_float_tolerance(self):
        self.assertIsNone(compare_results(
            ["b", "a"], [(1.0, "x"), (2.0, "y")],
            ["a", "b"], [("y", 2.0 + 1e-12), ("x", 1.0)]))
        self.assertIn("row count", compare_results(
            ["a"], [(1,)], ["a"], [(1,), (2,)]))
        self.assertIn("columns", compare_results(
            ["a"], [(1,)], ["b"], [(1,)]))
        self.assertIsNotNone(compare_results(["a"], [(1,)], ["a"], [(2,)]))


if __name__ == "__main__":
    unittest.main()
