"""Self-test of the benchmark's helpers (no Spark session needed).

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import types
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procfs  # noqa: E402
import spans  # noqa: E402
from spread import iqr_share, parse_seeds  # noqa: E402


def _span(name, parent, start, end):
    sp = spans.Span(name, parent, "op0")
    sp.start, sp.end = start, end
    return sp


class MedianAndSpread(unittest.TestCase):
    def test_iqr_share_uses_python_quartiles(self):
        vals = [10.0, 11.0, 9.0, 12.0, 10.5, 30.0, 10.2, 9.8, 10.1, 10.4]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(iqr_share(vals), (q3 - q1) / statistics.median(vals))
        self.assertEqual(iqr_share([5.0] * 4), 0.0)

    def test_parse_seeds(self):
        self.assertEqual(parse_seeds("1-3,7"), [1, 2, 3, 7])


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        s = [
            _span("op", None, 0.0, 10.0),
            _span("a", 0, 1.0, 4.0),
            _span("b", 1, 2.0, 3.0),   # grandchild: charged to a, not op
            _span("c", 0, 3.5, 6.0),   # overlaps a: the union counts once
        ]
        self.assertEqual(spans.self_times(s), [5.0, 2.0, 1.0, 2.5])

    def test_child_outside_parent_is_clipped(self):
        s = [_span("op", None, 0.0, 2.0), _span("a", 0, 1.5, 3.0)]
        self.assertEqual(spans.self_times(s)[0], 1.5)


def _task_end(stage, *, cpu_ns=0, run_ms=0, gc_ms=0, shuffle=0, spill=0,
              python_ms=None, speculative=False, reason="Success"):
    acc = []
    if python_ms is not None:
        acc.append({"Name": spans.PYTHON_RUN_METRIC, "Update": str(python_ms)})
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Speculative": speculative, "Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    })


class EventLog(unittest.TestCase):
    LINES = [
        json.dumps({"Event": "SparkListenerApplicationStart"}),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1]}),
        _task_end(0, cpu_ns=2_000_000_000, run_ms=2500, shuffle=1000),
        _task_end(0, cpu_ns=1_000_000_000, gc_ms=300, python_ms=1500),
        _task_end(1, spill=5000),
        # job 1 reuses stage 1 (skipped) and runs stage 2
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2, 3]}),
        _task_end(2, speculative=True, reason="TaskKilled"),
        "",
    ]

    def test_stages_are_charged_to_the_first_job_that_lists_them(self):
        log = spans.parse_event_log(self.LINES)
        self.assertEqual(log.job_stages, {0: [0, 1], 1: [2]})

    def test_totals(self):
        log = spans.parse_event_log(self.LINES)
        jobs, stages, tot = spans.job_totals(log, -1, 0)
        self.assertEqual((jobs, stages, tot.tasks), (1, 2, 3))
        self.assertAlmostEqual(tot.cpu_s, 3.0)
        self.assertAlmostEqual(tot.run_s, 2.5)
        self.assertAlmostEqual(tot.gc_s, 0.3)
        self.assertAlmostEqual(tot.python_s, 1.5)
        self.assertEqual((tot.shuffle_write_bytes, tot.spill_bytes), (1000, 5000))
        jobs, stages, tot = spans.job_totals(log, 0, 1)
        self.assertEqual((jobs, stages, tot.tasks, tot.speculative, tot.failed),
                         (1, 1, 1, 1, 1))
        self.assertEqual(spans.job_totals(log, 1, 1)[:2], (0, 0))


class FakeClient:
    def __init__(self):
        self.sent = []

    def send_command(self, cmd):
        self.sent.append(cmd)
        return "ok"


def fake_spark(client, last_job):
    """Just the surface Tracer touches: the py4j client, the status
    tracker and java.util.Arrays."""
    def get_ids(group):
        client.send_command("getJobIdsForGroup")
        return list(range(last_job[0] + 1))

    class Stream:
        def __init__(self, ids):
            client.send_command("stream")
            self.ids = ids

        def max(self):
            return types.SimpleNamespace(orElse=lambda d: max(self.ids, default=d))

    sc = types.SimpleNamespace(
        _gateway=types.SimpleNamespace(_gateway_client=client),
        _jsc=types.SimpleNamespace(sc=lambda: types.SimpleNamespace(
            statusTracker=lambda: types.SimpleNamespace(getJobIdsForGroup=get_ids))),
        _jvm=types.SimpleNamespace(java=types.SimpleNamespace(
            util=types.SimpleNamespace(Arrays=types.SimpleNamespace(stream=Stream)))),
    )
    return types.SimpleNamespace(sparkContext=sc)


class TracerTest(unittest.TestCase):
    def setUp(self):
        self.client = FakeClient()
        self.jobs = [4]
        self.tracer = spans.Tracer(fake_spark(self.client, self.jobs))
        # a "layer" module and a module that imported its function by name
        self.layer = types.ModuleType("pkgfake.layer")
        self.user = types.ModuleType("pkgfake.user")

        def fit(n):
            self.client.send_command("work")
            self.jobs[0] += n
            return types.SimpleNamespace(n_iter=n)

        self.layer.fit = fit
        self.user.fit = fit
        sys.modules["pkgfake.layer"] = self.layer
        sys.modules["pkgfake.user"] = self.user

    def tearDown(self):
        self.tracer.close()
        del sys.modules["pkgfake.layer"], sys.modules["pkgfake.user"]

    def test_wrap_rebinds_every_import_site_and_counts(self):
        orig = self.layer.fit
        self.tracer.wrap(self.layer, "fit", "layer.fit", prefixes=("pkgfake",))
        self.assertIsNot(self.user.fit, orig)
        with self.tracer.span("op"):
            self.user.fit(3)
            with self.tracer.span("layer.fit"):  # same name: joins the outer span
                self.layer.fit(2)
        op, call1, call2 = self.tracer.spans
        self.assertEqual([s.name for s in self.tracer.spans], ["op", "layer.fit", "layer.fit"])
        self.assertEqual((call1.parent, call2.parent), (0, 0))
        self.assertEqual((call1.job_lo, call1.job_hi), (4, 7))
        self.assertEqual((op.job_lo, op.job_hi), (4, 9))
        self.assertEqual((call1.iterations, call2.iterations), (3, 2))
        # py4j: only the layer's own commands, not the tracer's lookups
        self.assertEqual((call1.py4j, call2.py4j, op.py4j), (1, 1, 2))
        self.tracer.unwrap()
        self.assertIs(self.user.fit, orig)
        self.assertIs(self.layer.fit, orig)

    def test_py4j_counter_removal_restores_the_client(self):
        self.tracer.close()
        self.assertNotIn("send_command", vars(self.client))
        self.tracer = spans.Tracer(fake_spark(self.client, self.jobs))


class Declaration(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py reports."""

    def setUp(self):
        import run

        self.run = run
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_per_layer(self):
        declared = [(m["name"], m["unit"]) for m in self.spec["per_layer"]]
        reported = [(n, self.run.metric_unit(n)) for n in self.run.per_layer_names()]
        self.assertEqual(declared, reported)

    def test_end_to_end(self):
        declared = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual(declared, self.run.E2E_UNITS)
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])

    def test_workloads(self):
        sys.path.insert(0, self.run.ROOT)  # workloads import the package
        from workloads import WORKLOADS

        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(WORKLOADS))


class ProcFs(unittest.TestCase):
    def test_own_tree_has_memory(self):
        self.assertGreater(procfs.tree_rss_bytes(os.getpid()), 0)
        self.assertIn(os.getppid(), procfs.parent_map().values())

    def test_cpu_times_do_not_go_back(self):
        busy0, steal0 = procfs.cpu_times()
        sum(i * i for i in range(200_000))
        busy1, steal1 = procfs.cpu_times()
        self.assertGreater(busy0, 0)
        self.assertGreaterEqual(busy1, busy0)
        self.assertGreaterEqual(steal1, steal0)


class MachineSpeed(unittest.TestCase):
    def test_steal_share(self):
        import run

        # 3 s busy and 1 s stolen between the readings
        self.assertAlmostEqual(run.steal_share((10.0, 1.0), (13.0, 2.0)), 0.25)
        self.assertEqual(run.steal_share((5.0, 1.0), (5.0, 1.0)), 0.0)

    def test_wall_at_reference_speed(self):
        import run

        self.assertAlmostEqual(run.at_reference(12.0, 0.0, 1.5), 8.0)
        self.assertAlmostEqual(run.at_reference(8.0, 0.75, 1.0), 8.0 * 0.25**run.STEAL_EXPONENT)


if __name__ == "__main__":
    unittest.main()
