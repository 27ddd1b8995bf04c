"""Self-tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import tempfile
import unittest

import pandas as pd

import gen
import oracle
import run
import shape
import stats


class PercentileRule(unittest.TestCase):
    def test_quantile_matches_inclusive_quartiles(self):
        v = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
        want = statistics.quantiles(v, n=4, method="inclusive")
        self.assertEqual([stats.quantile(v, q) for q in (0.25, 0.5, 0.75)], want)

    def test_tail_needs_ten_samples_beyond(self):
        for n, q in [(19, 1.0), (20, 0.5), (39, 0.5), (40, 0.75), (99, 0.75),
                     (100, 0.9), (200, 0.95), (1000, 0.99)]:
            got_q, _, got_n = stats.tail([float(i) for i in range(n)])
            self.assertEqual((got_q, got_n), (q, n), n)

    def test_geomean_weights_every_operation_alike(self):
        self.assertAlmostEqual(stats.geomean([0.1, 1.0, 10.0]), 1.0)
        # doubling any one of four operations moves it by the same 2 ** (1/4)
        base = stats.geomean([0.2, 0.3, 0.8, 2.5])
        for i in range(4):
            v = [0.2, 0.3, 0.8, 2.5]
            v[i] *= 2
            self.assertAlmostEqual(stats.geomean(v) / base, 2 ** 0.25)

    def test_tail_value(self):
        v = [float(i) for i in range(100)]
        self.assertAlmostEqual(stats.tail(v)[1], 89.1)
        self.assertEqual(stats.tail([3.0, 9.0, 1.0]), (1.0, 9.0, 3))


class IntervalUnion(unittest.TestCase):
    def test_union_merges_overlapping_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4), (6, 6.5), (9, 9)]),
                         [(0, 4), (5, 7)])

    def test_covered_clips_to_span(self):
        self.assertEqual(stats.covered((2, 10), [(0, 3), (4, 6), (5, 8), (9, 20)]), 6)

    def test_driver_gap_is_span_minus_stage_union(self):
        # an op of 10 ms whose stages run over [1,4] and [3,6] (overlapping)
        # and [8,9]: the scheduler is idle for 10 - 6 = 4 ms
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6), (8, 9)]), 4)

    def test_max_concurrent(self):
        self.assertEqual(stats.max_concurrent([(0, 2), (2, 4), (1, 3), (1, 1.5)]), 3)
        self.assertEqual(stats.max_concurrent([(0, 1), (1, 2)]), 1)


class CallAssignment(unittest.TestCase):
    @staticmethod
    def raw():
        def call(i, t0, traced, p):
            return {"op": "q", "id": i, "pass": p, "traced": traced, "start": t0, "end": t0 + 100,
                    "ok": True, "err": None}

        def spans(i, t0):
            return [{"name": "op", "parent": "", "id": i, "start": t0, "end": t0 + 100},
                    {"name": "build", "parent": "op", "id": i, "start": t0, "end": t0 + 40},
                    {"name": "plan", "parent": "op", "id": i, "start": t0 + 40, "end": t0 + 50},
                    {"name": "execute", "parent": "op", "id": i, "start": t0 + 50, "end": t0 + 100}]

        def stage(group, start, end):
            return {"group": group, "tasks": 2, "start": start, "end": end, "task_ms": [5, 5]}

        return {
            "execs": [call("e0", -200, False, 0), call("e1", 0, True, 1), call("e2", 100, True, 1)],
            "passes": [{"pass": 0, "traced": False}, {"pass": 1, "traced": True}],
            "spans": spans("e1", 0) + spans("e2", 100),
            # e1's execute job runs on into e2's time: it stays e1's
            "jobs": [{"group": "e1/build", "start": 10, "end": 30},
                     {"group": "e1/execute", "start": 60, "end": 120},
                     {"group": None, "start": 150, "end": 160}],
            "stages": [stage("e1/build", 10, 30), stage("e1/execute", 60, 120),
                       stage("e2/execute", 150, 190)],
            "qes": [], "codegen": [],
        }

    def test_jobs_and_stages_belong_to_their_group_not_their_time(self):
        m, ops, unclaimed = run.per_layer(self.raw(), rows_total=10)
        self.assertEqual(m["build.jobs"][0], 0.5)  # e1 has one build job, e2 none
        self.assertEqual(m["sched.jobs"][0], 1.0)
        self.assertEqual(m["sched.stages"][0], 1.5)
        # gaps: e1 100 - 20 - 40 (its execute stage clipped to its span), e2 100 - 40
        self.assertAlmostEqual(m["sched.driver_gap_s"][0], 0.05)
        self.assertAlmostEqual(m["build.self_s"][0], (20 + 40) / 2 / 1e3)
        self.assertEqual(unclaimed, 1)
        self.assertAlmostEqual(sum(ops["q"][k] for k in ("build", "plan", "execute")), ops["q"]["op"])


class Generator(unittest.TestCase):
    SPEC = {"events": 500, "lineitem": 800, "documents": 60, "embeddings": 30}

    def test_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as d:
            rows_a, a = gen.generate(self.SPEC, 7, os.path.join(d, "a"))
            rows_b, b = gen.generate(self.SPEC, 7, os.path.join(d, "b"))
            _, c = gen.generate(self.SPEC, 8, os.path.join(d, "c"))
        self.assertEqual(rows_a, self.SPEC)
        self.assertEqual(rows_a, rows_b)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_generated_shape_matches_sf01(self):
        # every figure within 10% of sf0.1's, at a fraction of its size
        with tempfile.TemporaryDirectory() as d:
            gen.generate({"events": 20_000, "lineitem": 30_000, "documents": 2_000,
                          "embeddings": 1_000}, 3, d)
            got = shape.shape(d)
        self.assertEqual(sorted(got), sorted(shape.SF01))
        for k, want in shape.SF01.items():
            self.assertLessEqual(abs(got[k] - want), 0.1 * abs(want), k)


class OracleCheck(unittest.TestCase):
    def frames(self):
        want = pd.DataFrame({"k": ["a", "b"], "x": [0.5, float("nan")], "n": [1, 2]})
        return want.copy(), want

    def test_equal_frames_pass(self):
        got, want = self.frames()
        self.assertEqual(oracle.compare(got[["n", "x", "k"]], want), [])

    def test_planted_mismatch_is_reported(self):
        got, want = self.frames()
        got.loc[1, "n"] = 3
        self.assertEqual(len(oracle.compare(got, want)), 1)
        got, want = self.frames()
        got["n"] = got["n"].astype(float)
        self.assertIn("dtype", oracle.compare(got, want)[0])

    def test_planted_mismatch_counts_every_call_of_the_op_as_failed(self):
        got, want = self.frames()
        got.loc[0, "x"] = 0.500001
        checks = {"q_a": oracle.compare(got, want), "q_b": []}
        execs = [{"op": "q_a", "ok": True, "err": None}, {"op": "q_b", "ok": True, "err": None},
                 {"op": "q_a", "ok": True, "err": None},
                 {"op": "q_b", "ok": False, "err": "output digest differs"}]
        failed, why = run.tally(execs, checks)
        self.assertEqual([e["op"] for e in failed], ["q_a", "q_a", "q_b"])
        self.assertIn("x: row 0", why["q_a"])
        self.assertEqual(why["q_b"], "output digest differs")


if __name__ == "__main__":
    unittest.main()
