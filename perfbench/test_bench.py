"""Tests of the benchmark's own arithmetic.

    python3 perfbench/test_bench.py
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402
import build  # noqa: E402


def load_expected():
    with open(os.path.join(build.BENCH_DIR, "expected.json")) as fh:
        return json.load(fh)


def good_op(i, name, expected):
    """An executed operation whose outputs pass every check."""
    op = {"i": i, "pass": 0, "name": name, "t0": float(i), "t1": i + 0.5,
          "ok": True, "timeout": False}
    if name in expected["digests"]:
        op["digest"] = expected["digests"][name]
    if name in expected["smape_max"]:
        op["smape"] = expected["smape_max"][name] - 0.1
    return op


def fake_result(workload, expected, passes=2):
    """A raw result with the shape Main.scala writes."""
    plan = bench.make_plan(workload, 7, bench.REFERENCE_S, 1)

    def phase(name):
        ops = [good_op(i, op, expected)
               for i, (_, _, op) in enumerate(x for x in plan if x[0] == name)]
        spans, jobs, stages = [], [], []
        for op in ops:
            sid = len(spans)
            spans.append({"id": sid, "parent": -1, "op": op["i"], "name": "op",
                          "t0": op["t0"], "t1": op["t1"]})
            spans.append({"id": sid + 1, "parent": sid, "op": op["i"], "name": "exec.run",
                          "t0": op["t0"] + 0.1, "t1": op["t1"] - 0.1})
            jobs.append({"job": op["i"], "op": op["i"], "layer": "exec.run",
                         "start_ms": op["t0"] * 1e3 + 100, "end_ms": op["t1"] * 1e3 - 100})
            stages.append({"stage": op["i"], "op": op["i"], "layer": "exec.run", "tasks": 4,
                           "busy_ms": 800, "cpu_ns": 5e8, "gc_ms": 10, "shuffle_read": 100,
                           "shuffle_write": 100, "spill": 0, "task_ms_max": 300,
                           "task_ms_median": 150})
        batches = [{"query": "q", "batch": b, "op": 0, "trigger_ms": 400 + 10 * b,
                    "add_batch_ms": 300, "planning_ms": 20, "wal_ms": 5, "commit_ms": 5,
                    "source_ms": 10, "input_rows": 1000, "state_rows": 50,
                    "state_rows_updated": 20, "state_memory_bytes": 4096,
                    "watermark_dropped": 0} for b in range(24)]
        return {"passes": [{"pass": p, "wall_s": 5.0 + p, "heap_after_gc_bytes": 2**27}
                           for p in range(passes)],
                "ops": ops, "gc_count": 3, "gc_s": 0.1, "batches": batches,
                "job_ms": [20 + j % 7 for j in range(100)],
                "spans": spans, "jobs": jobs, "stages": stages}

    return plan, {
        "env": {"cores": 4},
        "launched_epoch_s": 100.0,
        "main_epoch_s": 100.4,
        "setup": {"session_s": 4.0, "sources_s": 2.5, "warmup_s": 2.5, "ready_epoch_s": 110.5},
        "phases": {ph: phase(ph) for ph in ("timed", "warm", "traced")},
    }


class TailRule(unittest.TestCase):
    def test_percentile_estimate(self):
        self.assertAlmostEqual(bench.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertAlmostEqual(bench.percentile([0.25] * 7, 95), 0.25)
        self.assertAlmostEqual(bench.percentile(list(range(1, 101)), 90), 90.5, places=3)
        values = [(i * 37) % 101 / 7.0 for i in range(150)]
        steps = [bench.percentile(values, p) for p in (50, 75, 90, 95, 99)]
        self.assertEqual(steps, sorted(steps))
        self.assertLess(steps[-1], max(values))

    def test_tail_counts_the_samples_beyond_it(self):
        values = list(range(1, 101))
        v, beyond = bench.tail("olap_mix", values)
        self.assertAlmostEqual(v, 90.5, places=3)
        self.assertEqual(beyond, bench.TAIL_BEYOND)
        self.assertEqual(bench.tail("olap_mix", values[::-1]), (v, beyond))

    def test_tail_percentiles_are_fixed_steps(self):
        for w, spec in bench.WORKLOADS.items():
            self.assertIn(spec["tail_pct"], (75, 90, 95, 99), w)


class FailureCounting(unittest.TestCase):
    def setUp(self):
        self.expected = load_expected()
        self.plan = [(0, "q01_pricing_summary"), (0, "q03_join_agg"), (0, "ml.generate"),
                     (0, "functions.smape:enet"), (0, "ml.scale_correction:enet")]
        self.ops = [good_op(i, n, self.expected) for i, (_, n) in enumerate(self.plan)]

    def reasons(self, ops):
        attempted, failed = bench.failures(self.plan, ops, self.expected)
        self.assertEqual(attempted, len(self.plan))
        return [r for _, _, r in failed]

    def test_all_good(self):
        self.assertEqual(self.reasons(self.ops), [])

    def test_error_timeout_and_refusal(self):
        self.ops[0].update(ok=False, error="boom")
        self.ops[1].update(ok=False, timeout=True, error="cancelled")
        self.ops[2] = {"i": 2, "pass": 0, "name": "ml.generate", "ok": False, "refused": True}
        r = self.reasons(self.ops)
        self.assertEqual(len(r), 3)
        self.assertTrue(r[0].startswith("error"))
        self.assertEqual(r[1], "timed out")
        self.assertTrue(r[2].startswith("refused"))

    def test_missing_record_counts_as_refused(self):
        r = self.reasons(self.ops[:3])
        self.assertEqual(len(r), 2)
        self.assertTrue(all(x.startswith("refused") for x in r))

    def test_wrong_or_unrecorded_digest(self):
        self.ops[0]["digest"] = "0" * 24
        self.ops[1]["name"] = "q99_not_recorded"
        self.plan[1] = (0, "q99_not_recorded")
        r = self.reasons(self.ops)
        self.assertEqual(len(r), 2)
        self.assertIn("recorded", r[0])
        self.assertEqual(r[1], "no recorded digest")

    def test_model_quality_bounds(self):
        self.ops[3]["smape"] = self.expected["smape_max"]["functions.smape:enet"] + 0.01
        self.assertEqual(len(self.reasons(self.ops)), 1)

    def test_scale_correction_has_its_own_checks(self):
        # a result between its own bound and the uncorrected model's fails
        bounds = self.expected["smape_max"]
        self.assertLess(bounds["ml.scale_correction:enet"], bounds["functions.smape:enet"])
        self.ops[4]["smape"] = bounds["functions.smape:enet"] - 0.01
        self.assertEqual(len(self.reasons(self.ops)), 1)
        self.ops[4] = good_op(4, "ml.scale_correction:enet", self.expected)
        self.ops[4]["digest"] = "weight=1.02"
        self.assertIn("recorded", self.reasons(self.ops)[0])
        del self.ops[4]["smape"]
        self.assertEqual(len(self.reasons(self.ops)), 1)


class SelfTest(unittest.TestCase):
    def test_corrupted_expected_digest_makes_failed_share_nonzero(self):
        expected = load_expected()
        for w in bench.WORKLOADS:
            plan, raw = fake_result(w, expected)
            planned = [(p, op) for ph, p, op in plan if ph == "traced"]
            ops = raw["phases"]["traced"]["ops"]
            attempted, failed = bench.failures(planned, ops, expected)
            self.assertEqual(failed, [], w)
            self.assertEqual(bench.per_layer(w, raw, len(failed) / attempted)["ops.failed_share"], 0)

            victim = next(op["name"] for op in ops if "digest" in op)
            corrupt = dict(expected, digests=dict(expected["digests"], **{victim: "corrupted"}))
            attempted, failed = bench.failures(planned, ops, corrupt)
            share = bench.per_layer(w, raw, len(failed) / attempted)["ops.failed_share"]
            self.assertGreater(share, 0, w)
            self.assertTrue(all(name == victim for _, name, _ in failed))


class Plans(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        for w in bench.WORKLOADS:
            self.assertEqual(bench.make_plan(w, 42, 20, 0), bench.make_plan(w, 42, 20, 0))

    def test_seed_orders_queries_but_not_the_pipeline(self):
        for w, spec in bench.WORKLOADS.items():
            a, b = bench.make_plan(w, 1, 20, 0), bench.make_plan(w, 2, 20, 0)
            self.assertEqual(sorted(a), sorted(b), w)
            if spec["kind"] == "pipeline":
                self.assertEqual(a, b)
            else:
                self.assertNotEqual(a, b, w)

    def test_traced_run_replays_the_timed_sequence(self):
        plan = bench.make_plan("olap_mix", 3, 20, 1)
        timed = [(p, op) for ph, p, op in plan if ph == "timed"]
        for phase in ("warm", "traced"):
            self.assertEqual(timed, [(p, op) for ph, p, op in plan if ph == phase])

    def test_seconds_fix_the_work(self):
        w = "olap_mix"
        one = len(bench.WORKLOADS[w]["ops"])
        passes = bench.WORKLOADS[w]["passes"]
        self.assertEqual(len(bench.make_plan(w, 1, 0.1, 0)), one)
        self.assertEqual(len(bench.make_plan(w, 1, bench.REFERENCE_S, 0)), passes * one)
        self.assertEqual(len(bench.make_plan(w, 1, 3 * bench.REFERENCE_S, 0)), 3 * passes * one)


class Arithmetic(unittest.TestCase):
    def test_setup_runs_from_jvm_launch_to_first_timed_operation(self):
        _, raw = fake_result("olap_mix", load_expected())
        self.assertAlmostEqual(bench.end_to_end("olap_mix", raw)["setup_s"], 10.5)
        self.assertAlmostEqual(bench.per_layer("olap_mix", raw, 0.0)["jvm.start_s"], 0.4)

    def test_self_time_subtracts_children(self):
        spans = [{"id": 0, "parent": -1, "t0": 0.0, "t1": 10.0},
                 {"id": 1, "parent": 0, "t0": 1.0, "t1": 4.0},
                 {"id": 2, "parent": 0, "t0": 5.0, "t1": 6.0},
                 {"id": 3, "parent": 1, "t0": 2.0, "t1": 3.0}]
        own = bench.self_times(spans)
        self.assertAlmostEqual(own[0], 6.0)
        self.assertAlmostEqual(own[1], 2.0)
        self.assertAlmostEqual(own[3], 1.0)
        self.assertAlmostEqual(sum(own.values()), 10.0)

    def test_union_and_overlap(self):
        iv = [(0, 2), (1, 3), (5, 6), (5.5, 5.7)]
        self.assertAlmostEqual(bench.union_s(iv), 4.0)
        self.assertEqual(bench.max_overlap(iv), 2)
        self.assertEqual(bench.max_overlap([(0, 1), (1, 2)]), 1)


class MetricNames(unittest.TestCase):
    def test_printed_metrics_match_benchmark_json(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual(spec["run_seconds"], bench.REFERENCE_S)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(bench.WORKLOADS))
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(e2e, dict(bench.END_TO_END))
        self.assertEqual(layer, dict(bench.PER_LAYER))
        expected = load_expected()
        for w in bench.WORKLOADS:
            _, raw = fake_result(w, expected)
            self.assertEqual(set(bench.end_to_end(w, raw)), set(e2e), w)
            values = bench.per_layer(w, raw, 0.0)
            self.assertEqual(set(values), set(layer), w)
            self.assertTrue(all(v > 0 for v in bench.end_to_end(w, raw).values()), w)

    def test_summary_prints_every_layer_metric(self):
        _, raw = fake_result("olap_mix", load_expected())
        values = bench.per_layer("olap_mix", raw, 0.0)
        text = bench.summary("olap_mix", values, 100)
        for name, _ in bench.PER_LAYER:
            if not name.startswith(("self.", "trace.")):
                self.assertIn(name, text)
        self.assertIn("tracing overhead", text)
        for layer in bench.SPAN_LAYERS:
            self.assertIn(layer, text)


if __name__ == "__main__":
    unittest.main()
