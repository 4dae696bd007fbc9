"""Unit tests of the benchmark's metric arithmetic, result checks and
input generators.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import random
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import run  # noqa: E402
import suite_slice  # noqa: E402
from benchlib import build, layers, stats, vcfgen  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolated_between_ranks(self):
        xs = list(range(1, 101))
        random.Random(7).shuffle(xs)
        self.assertAlmostEqual(stats.percentile(xs, 50)[0], 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 90)[0], 90.1)
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 50)[0], 2.0)

    def test_p90_needs_ten_samples_beyond(self):
        v, n, beyond, ok = stats.percentile(range(100), 90)
        self.assertEqual((n, beyond, ok), (100, 10, True))
        v, n, beyond, ok = stats.percentile(range(91), 90)
        self.assertEqual((beyond, ok), (9, False))
        # a p50 over 20 samples is supported, a p90 over 20 is not
        self.assertTrue(stats.percentile(range(20), 50)[3])
        self.assertFalse(stats.percentile(range(20), 90)[3])

    def test_ties_do_not_count_as_beyond(self):
        self.assertEqual(stats.percentile([1.0] * 50 + [2.0] * 50, 90)[2], 0)

    def test_empty(self):
        v, n, beyond, ok = stats.percentile([], 50)
        self.assertTrue(math.isnan(v))
        self.assertEqual((n, ok), (0, False))


class CoreUtilTest(unittest.TestCase):
    def test_share_of_cores(self):
        self.assertAlmostEqual(stats.core_util(task_run_s=8.0, wall_s=4.0, cores=4), 0.5)
        self.assertAlmostEqual(stats.core_util(16.0, 4.0, 4), 1.0)

    def test_degenerate(self):
        self.assertEqual(stats.core_util(1.0, 0.0, 4), 0.0)
        self.assertEqual(stats.core_util(1.0, 1.0, 0), 0.0)


def span(i, parent, kind, t0, t1, jobs=0.0):
    return {"id": i, "parent": parent, "name": f"s{i}", "kind": kind,
            "t0": int(t0 * 1e9), "t1": int(t1 * 1e9), "c": {"jobs": jobs}}


class SpanTest(unittest.TestCase):
    SPANS = [span(0, -1, "workload", 0, 10),
             span(1, 0, "query", 0, 6, jobs=1), span(2, 1, "construct", 0, 2, jobs=3),
             span(3, 1, "exec", 2.5, 5.5, jobs=2),
             span(4, 0, "query", 6, 9.5)]

    def test_self_time_excludes_children(self):
        st = stats.self_times(self.SPANS)
        self.assertAlmostEqual(st[0], 10 - 6 - 3.5)
        self.assertAlmostEqual(st[1], 6 - 2 - 3)
        self.assertAlmostEqual(st[2], 2)
        self.assertAlmostEqual(st[4], 3.5)

    def test_subtree_counters(self):
        self.assertEqual(stats.subtree_counters(self.SPANS, 1)["jobs"], 6)
        self.assertEqual(stats.subtree_counters(self.SPANS, 0)["jobs"], 6)
        self.assertEqual(stats.subtree_counters(self.SPANS, 4)["jobs"], 0)


class FingerprintCompareTest(unittest.TestCase):
    FP = {"rows": 10, "hash": "123", "f1": 1000.0, "f2": 1500.0, "fabs": 2000.0}

    def test_float_sums_within_tolerance(self):
        near = dict(self.FP, f1=1000.0 + 1e-7, f2=1500.0 - 1e-7)
        self.assertIsNone(stats.fingerprint_mismatch(near, self.FP))

    def test_float_sum_outside_tolerance(self):
        self.assertIn("f1", stats.fingerprint_mismatch(dict(self.FP, f1=1000.01), self.FP))

    def test_rows_and_hash_are_exact(self):
        self.assertIn("rows", stats.fingerprint_mismatch(dict(self.FP, rows=11), self.FP))
        self.assertIn("hash", stats.fingerprint_mismatch(dict(self.FP, hash="124"), self.FP))
        self.assertEqual(stats.fingerprint_mismatch(None, self.FP), "no result")


class CalibrationTest(unittest.TestCase):
    CHECK_OUT = ("PASS q1 (3 rows)\nWARN q2: col v tolerance-equal but round-6 differs\n"
                 "FAIL q2: col v row 0: spark=1.0 duck=2.0\n\n1 pass, 1 fail, 0 rows-only\n")
    FP = {"rows": 1, "hash": "1", "f1": 0.0, "f2": 0.0, "fabs": 0.0}

    def test_check_py_verdicts(self):
        v = run.parse_check_output(self.CHECK_OUT, {"q1": "", "q2": "", "q3": ""})
        self.assertIsNone(v["q1"])
        self.assertEqual(v["q2"], "col v row 0: spark=1.0 duck=2.0")
        self.assertIn("no verdict", v["q3"])  # check.py said nothing about it

    def rec(self, *errors):
        return {"ops": [{"name": f"q{i}", "fp": None if e else self.FP, "error": e}
                        for i, e in enumerate(errors, 1)]}

    def calibrate(self, rec, verdicts):
        with tempfile.TemporaryDirectory() as d:
            saved = run.EXPECT, run.oracle_check
            run.EXPECT = Path(d, "expect.json")
            run.oracle_check = lambda *_: verdicts
            try:
                expect = run.calibrate(rec, Path(d), Path(d), [o["name"] for o in rec["ops"]], 0)
                return expect, run.EXPECT.exists()
            finally:
                run.EXPECT, run.oracle_check = saved

    def test_complete_calibration_is_cached(self):
        expect, cached = self.calibrate(self.rec(None, None), {"q1": None})
        self.assertTrue(cached)
        self.assertEqual(sorted(expect), ["q1", "q2"])  # q2 has no oracle SQL

    def test_partial_calibration_is_not_cached(self):
        # a query that threw, or one the oracle failed, leaves no cache
        expect, cached = self.calibrate(self.rec(None, "q2: boom"), {"q1": None})
        self.assertFalse(cached)
        self.assertEqual(sorted(expect), ["q1"])
        expect, cached = self.calibrate(self.rec(None, None), {"q1": "rowcount"})
        self.assertFalse(cached)
        n, errors = run.check_queries(self.rec(None, None), expect)
        self.assertEqual((n, sorted(errors)), (2, ["q1"]))


class SliceSelectionTest(unittest.TestCase):
    @staticmethod
    def query(module, wall, cold=None):
        return {"module": module, "wall_s": wall, "construct_s": wall / 4,
                "cold_wall_s": wall if cold is None else cold}

    def test_memo_consumer_is_costed_cold(self):
        prof = {"a": self.query("Relational", 0.2, cold=2.0), "b": self.query("Relational", 1.0)}
        cost = suite_slice.in_slice(prof)
        self.assertEqual(cost["a"]["wall_s"], 2.0)
        self.assertAlmostEqual(cost["a"]["construct_s"], 0.05 + 1.8)
        self.assertEqual(cost["b"], prof["b"])

    def test_slice_fits_the_budget_and_keeps_every_module(self):
        rng = random.Random(1)
        prof = {f"{m}{i}": self.query(m, rng.uniform(0.2, 2.0))
                for m in layers.MODULES for i in range(6)}
        picked = suite_slice.select(prof, excluded=["Relational0"])
        self.assertLessEqual(sum(prof[n]["wall_s"] for n in picked), suite_slice.BUDGET_S)
        self.assertNotIn("Relational0", picked)
        self.assertEqual({prof[n]["module"] for n in picked}, set(layers.MODULES))
        d = suite_slice.distance(suite_slice.shares(prof, picked), suite_slice.shares(prof, prof))
        self.assertLess(d, 0.02)
        self.assertEqual(picked, suite_slice.select(prof, excluded=["Relational0"]))


class JvmMemoryTest(unittest.TestCase):
    SBT = 'javaOptions ++= Seq(\n  s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",\n)\n'

    def test_heap_follows_build_sbt(self):
        with tempfile.TemporaryDirectory() as d:
            Path(d, "build.sbt").write_text(self.SBT)
            saved = build.os.environ.pop("SPARK_DRIVER_MEM", None)
            try:
                self.assertEqual(build.jvm_memory(Path(d))[:2], ["-Xms8g", "-Xmx8g"])
                build.os.environ["SPARK_DRIVER_MEM"] = "6g"
                self.assertEqual(build.jvm_memory(Path(d))[:2], ["-Xms6g", "-Xmx6g"])
            finally:
                build.os.environ.pop("SPARK_DRIVER_MEM", None)
                if saved is not None:
                    build.os.environ["SPARK_DRIVER_MEM"] = saved
            Path(d, "build.sbt").write_text("")
            self.assertRaises(build.BuildError, build.jvm_memory, Path(d))


class VcfGenTest(unittest.TestCase):
    def test_sorted_inputs_and_planted_counts(self):
        with tempfile.TemporaryDirectory() as d:
            exp = vcfgen.generate(d, seed=3, n_sites=4000, n_lookups=20)
            again = vcfgen.generate(d, seed=3, n_sites=4000, n_lookups=20)
            self.assertEqual(exp, again)
            for name, count in (("calls", "call_records"), ("truth", "truth_records")):
                rows = [ln.split("\t") for ln in Path(d, f"{name}.vcf").read_text().splitlines()
                        if not ln.startswith("#")]
                keys = [(vcfgen.CONTIGS.index(r[0]), int(r[1])) for r in rows]
                self.assertEqual(keys, sorted(keys))
                self.assertEqual(len(rows), exp[count])
            acc = exp["accuracy"]
            self.assertEqual(acc["ALL"]["tp"] + acc["ALL"]["fp"], exp["calls_kept"])
            self.assertEqual(acc["ALL"]["tp"] + acc["ALL"]["fn"], exp["truth_kept"])
            self.assertEqual(acc["SNP"]["tp"] + acc["INDEL"]["tp"], acc["ALL"]["tp"])
            self.assertEqual(len(exp["lookup_rows"]), 20)
            self.assertTrue(all(0 <= r <= exp["calls_kept"] for r in exp["lookup_rows"]))
            json.loads(Path(d, "expected.json").read_text())


class LayerTest(unittest.TestCase):
    def test_every_layer_metric_on_a_query_record(self):
        rec = {"setup": {"session_s": 1.0, "warmup_s": 0.5, "atrest_seed_s": 2.0},
               "ops": [{"name": "q1", "module": "Relational"}], "cores": 4, "wall_s": 10.0,
               "cpu_s": 30.0, "spans": [span(0, -1, "workload", 0, 10), span(1, 0, "query", 0, 10, jobs=1),
                         span(2, 1, "construct", 0, 4, jobs=2), span(3, 1, "plan", 4, 5),
                         span(4, 1, "exec", 5, 10, jobs=1)]}
        for s in rec["spans"]:
            s["c"].update({"tasks": 4.0, "task_run_s": 5.0})
        rec["spans"][1]["name"] = "q1"
        out = layers.per_layer(rec)
        self.assertAlmostEqual(out["Relational.construct_s"][0], 4.0)
        self.assertAlmostEqual(out["queries.plan_s"][0], 1.0)
        self.assertEqual(out["queries.construct_jobs"][0], 2)
        self.assertEqual(out["Relational.jobs"][0], 4)
        self.assertAlmostEqual(out["spark.core_util"][0], 25.0 / (10 * 4))
        self.assertEqual(out["Bgzf.write_s"][0], 0.0)
        self.assertEqual(out["trace.cpu_s"][0], 30.0)


if __name__ == "__main__":
    unittest.main()
