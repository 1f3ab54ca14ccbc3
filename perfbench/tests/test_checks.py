"""Each output check accepts a correct result and rejects a corrupted one.

    python3 -m unittest discover -s perfbench/tests

The correct results here are computed the way the checks compute them,
from the benchmark's own inputs; each test then corrupts one fact the
check is meant to guard and expects a failure.
"""
import argparse
import copy
import hashlib
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


class DigestTest(unittest.TestCase):
    def test_digest_rejects_a_changed_cell_and_ignores_column_order(self):
        rows = [(1, "a", 0.5), (2, None, 1.0)]
        cols, n, h = checks.digest(["k", "s", "x"], rows)
        self.assertEqual(checks.check_rows({"cols": cols, "rows": n, "hash": h}, [cols, n, h]), [])
        swapped = checks.digest(["x", "k", "s"], [(r[2], r[0], r[1]) for r in rows])
        self.assertEqual(swapped, (cols, n, h))
        bad = checks.digest(["k", "s", "x"], [(1, "a", 0.5), (2, None, 1.0000001)])
        self.assertTrue(checks.check_rows({"cols": cols, "rows": n, "hash": bad[2]}, [cols, n, h]))
        self.assertTrue(checks.check_rows({"cols": cols, "rows": 1, "hash": h}, [cols, n, h]))

    def test_numbers_compare_by_value_across_types(self):
        import decimal
        self.assertEqual(checks.cell(2), checks.cell(2.0))
        self.assertEqual(checks.cell(decimal.Decimal("2.00")), checks.cell(2))
        self.assertEqual(checks.cell(decimal.Decimal("0.1")), checks.cell(0.1))
        self.assertNotEqual(checks.cell(0.1), checks.cell(0.1000001))


class SketchTest(unittest.TestCase):
    """The sketch checks, on the fixture tables."""

    @classmethod
    def setUpClass(cls):
        cls.con = checks.connect(inputs.FIXTURE)

    def exact_rows(self, name):
        con = self.con
        if name == "agg_approx_distinct":
            return con.execute("SELECT l_returnflag, count(DISTINCT l_partkey),"
                               " count(DISTINCT l_suppkey) FROM lineitem GROUP BY 1").fetchall()
        if name == "agg_approx_percentile":
            return con.execute("SELECT o_orderpriority, quantile_disc(o_totalprice, 0.5),"
                               " quantile_disc(o_totalprice, 0.9), count(*)"
                               " FROM orders GROUP BY 1").fetchall()
        vers = checks._orders_by_version(con)
        if name == "agg_hll_partial":
            out = [(v, len({c for w, c, _ in vers if w == v})) for v in ("v_prev", "v_new")]
            out.append(("total_merged", len({c for _, c, _ in vers})))
            return [(v, n, n) for v, n in out]
        if name == "agg_cms_partial":
            cnt = {}
            for v, _, p in vers:
                for key in ((v, p), ("total_merged", p)):
                    cnt[key] = cnt.get(key, 0) + 1
            return [(v, p, n, n) for (v, p), n in sorted(cnt.items())]
        if name == "agg_bloom_partial":
            present = {(v, c) for v, c, _ in vers} | {("total_merged", c) for _, c, _ in vers}
            return [(v, k, int((v, k) in present), int((v, k) in present))
                    for v in ("v_new", "v_prev", "total_merged")
                    for k in list(range(-10, 0)) + list(range(1, 11))]
        if name == "llm_minhash":
            return [(a, b, j) for (a, b), j in checks.exact_pairs(con, 0.9).items()]
        raise KeyError(name)

    def test_each_sketch_accepts_exact_and_rejects_a_corruption(self):
        corrupt = {
            "agg_approx_distinct": lambda r: [(r[0][0], r[0][1] * 2, r[0][2])] + r[1:],
            "agg_approx_percentile": lambda r: [(r[0][0], r[0][2], r[0][2], r[0][3])] + r[1:],
            "agg_hll_partial": lambda r: [(r[0][0], int(r[0][1] * 1.2), r[0][2])] + r[1:],
            "agg_cms_partial": lambda r: [(r[0][0], r[0][1], r[0][2] - 1, r[0][3])] + r[1:],
            "agg_bloom_partial": lambda r: [(v, k, 0, p) if p else (v, k, m, p)
                                            for v, k, m, p in r],
            "llm_minhash": lambda r: r[: len(r) // 2],
        }
        for name, bend in corrupt.items():
            with self.subTest(name):
                rows = self.exact_rows(name)
                self.assertTrue(rows)
                self.assertEqual(checks.sketch_checks(name, rows, self.con), [])
                self.assertTrue(checks.sketch_checks(name, bend(list(rows)), self.con))


class DailyTest(unittest.TestCase):
    """The daily_refresh property checks on seeded inputs."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.run_dir = cls.tmp.name
        cls.inp = os.path.join(cls.run_dir, "inputs")
        cls.facts = inputs.make_daily_refresh(7, cls.inp)
        day = 2
        con = duckdb.connect()
        old = {hashlib.sha256(t.encode()).hexdigest() for (t,) in con.execute(
            f"SELECT text FROM '{cls.inp}/corpus/day_{day - 1}.parquet'").fetchall()}
        batch = con.execute(f"SELECT doc_id, text FROM '{cls.inp}/batch/day_{day}.parquet'").fetchall()
        changed = cls.facts["rel_changed"][day]
        before = {f"o_year={y}/part-0.parquet": f"h{y}" for y in cls.facts["year_values"]}
        after = {(f"o_year={y}/part-1.parquet" if y in changed else k): (f"n{y}" if y in changed else v)
                 for k, v in before.items() for y in [k.split("=")[1].split("/")[0]]}
        kinds = cls.facts["batches"][day]
        edges = [(1, 2), (2, 3), (7, 8)]
        cls.samples = [
            {"op": "sync", "ok": True, "out": {"day": day, "changed": changed, "stale": [],
                                               "before": before, "after": after}},
            {"op": "verify", "ok": True, "out": {"day": day, "verified": True}},
            {"op": "incremental", "ok": True,
             "out": {"day": day, "appended": cls.facts["inc_appended"][day]}},
            {"op": "digest_refresh", "ok": True, "out": {"day": day, "rows": [
                (d, int(hashlib.sha256(t.encode()).hexdigest() in old),
                 1 - int(hashlib.sha256(t.encode()).hexdigest() in old)) for d, t in batch]}},
            {"op": "sig_refresh", "ok": True, "out": {"day": day, "rows": [
                (d, 0 if k == "fresh" else 1, 1 if k == "fresh" else 0) for d, k in kinds.items()]}},
            {"op": "cc_auto", "ok": True, "out": {"day": day, "edges": edges, "labels": [
                (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]}},
        ]
        # the delivered state equals the last day's sources
        rel = pq.read_table(f"{cls.inp}/rel/day_{day}.parquet")
        cls.rel_dst = os.path.join(cls.run_dir, "rel_dst")
        pq.write_to_dataset(rel, cls.rel_dst, partition_cols=["o_year"])
        cls.inc_dst = os.path.join(cls.run_dir, "inc_dst")
        os.makedirs(cls.inc_dst)
        pq.write_table(pq.read_table(f"{cls.inp}/inc/day_{day}.parquet"),
                       os.path.join(cls.inc_dst, "part-0.parquet"))
        cls.report = {"finish": {"last_day": day, "flow_fingerprint": 11, "scratch_fingerprint": 11,
                                 "rel_dst": cls.rel_dst, "inc_dst": cls.inc_dst}}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def check(self, samples, report=None):
        bad = {}
        fails = run.check_daily(samples, report or self.report, self.facts, self.run_dir, bad)
        return bad, fails

    def test_correct_day_passes(self):
        self.assertEqual(self.check(self.samples), ({}, []))

    def test_each_corruption_is_rejected(self):
        def bend(op, f):
            s = copy.deepcopy(self.samples)
            f(next(x for x in s if x["op"] == op)["out"])
            return s

        def touch_unchanged(o):
            y = next(y for y in self.facts["year_values"] if y not in o["changed"])
            k = next(k for k in o["after"] if k.startswith(f"o_year={y}/"))
            o["after"][k] = "rewritten"
        cases = {
            "sync misses a changed partition": bend("sync", lambda o: o.update(changed=o["changed"][1:] or ["y0"])),
            "sync rewrites an unchanged partition": bend("sync", touch_unchanged),
            "verify false": bend("verify", lambda o: o.update(verified=False)),
            "incremental over-appends": bend("incremental", lambda o: o.update(appended=o["appended"] + 1)),
            "digest verdict flipped": bend("digest_refresh", lambda o: o.update(
                rows=[(d, 1 - x, x) for d, x, _ in o["rows"][:1]] + o["rows"][1:])),
            "near dup kept": bend("sig_refresh", lambda o: o.update(
                rows=[(d, n, 1) for d, n, _ in o["rows"]])),
            "components merged": bend("cc_auto", lambda o: o.update(
                labels=[(n, 1) for n, _ in o["labels"]])),
        }
        for name, samples in cases.items():
            with self.subTest(name):
                bad, fails = self.check(samples)
                self.assertTrue(bad, name)
                self.assertEqual(fails, [])

    def test_final_state_corruptions_are_rejected(self):
        r = copy.deepcopy(self.report)
        r["finish"]["scratch_fingerprint"] = 12
        self.assertTrue(self.check(self.samples, r)[1])
        with tempfile.TemporaryDirectory() as d:
            t = pq.read_table(f"{self.inp}/inc/day_{self.report['finish']['last_day']}.parquet")
            pq.write_table(t.slice(1), os.path.join(d, "part-0.parquet"))
            r = copy.deepcopy(self.report)
            r["finish"]["inc_dst"] = d
            self.assertTrue(self.check(self.samples, r)[1])
        with tempfile.TemporaryDirectory() as d:
            t = pq.read_table(f"{self.inp}/rel/day_1.parquet")
            pq.write_to_dataset(t, d, partition_cols=["o_year"])
            r = copy.deepcopy(self.report)
            r["finish"]["rel_dst"] = d
            self.assertTrue(self.check(self.samples, r)[1])


class VerdictTest(unittest.TestCase):
    """A failed operation makes the run incorrect and is never timed."""

    report = {"setup_s": [1.0, 2.0, 3.0], "bootstrap_s": 0.5, "vm_hwm_mb": 100.0}
    args = argparse.Namespace(trace=0)

    @staticmethod
    def sample(p, op, ok=True, timed=True):
        # a thrown operation leaves its timers at 0, as the harness does
        return {"pass": p, "timed": timed, "op": op, "ok": ok, "error": None if ok else "boom",
                "build_s": 0.25 if ok else 0.0, "exec_s": 0.75 if ok else 0.0,
                "written_bytes": 10, "out": {}}

    def judge(self, samples, bad=None, fails=()):
        correct, failed = run.verdict(samples, bad or {}, list(fails))
        return correct, failed, run.metrics(self.args, self.report, samples, failed, 100, 4, {})

    def test_a_clean_run_is_correct(self):
        s = [self.sample(1, "a", timed=False), self.sample(2, "a"), self.sample(2, "b")]
        correct, failed, m = self.judge(s)
        self.assertTrue(correct)
        self.assertEqual(failed, set())
        self.assertEqual(m["run_s"]["value"], 2.0)
        self.assertEqual(m["setup_s"]["value"], 2.5)
        self.assertEqual(m["write_amp"]["value"], 0.2)

    def test_a_thrown_operation_makes_the_run_incorrect_and_gives_no_sample(self):
        s = [self.sample(1, "a", timed=False), self.sample(2, "a"), self.sample(2, "b", ok=False)]
        correct, failed, m = self.judge(s)
        self.assertFalse(correct)
        self.assertEqual(failed, {2})
        # the only timed pass failed: no pass time and no write figure, never a 0
        self.assertNotIn("run_s", m)
        self.assertNotIn("write_amp", m)
        self.assertEqual(m["op_p50_s"]["value"], 1.0)

    def test_a_thrown_warmup_operation_makes_the_run_incorrect(self):
        s = [self.sample(1, "a", ok=False, timed=False), self.sample(2, "a")]
        correct, failed, m = self.judge(s)
        self.assertFalse(correct)
        self.assertEqual(failed, {0})
        self.assertEqual(m["run_s"]["value"], 1.0)

    def test_a_failed_check_makes_the_run_incorrect(self):
        s = [self.sample(1, "a", timed=False), self.sample(2, "a")]
        self.assertFalse(self.judge(s, bad={1: ["wrong rows"]})[0])
        self.assertFalse(self.judge(s, fails=["final state differs"])[0])
        self.assertNotIn("op_p50_s", self.judge(s, bad={1: ["wrong rows"]})[2])


class InputsTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            fa = inputs.make_daily_refresh(3, a)
            fb = inputs.make_daily_refresh(3, b)
            self.assertEqual(fa, fb)
            for day in (1, inputs.DAYS):
                for part in ("rel", "corpus", "batch", "inc"):
                    ta = pq.read_table(f"{a}/{part}/day_{day}.parquet")
                    tb = pq.read_table(f"{b}/{part}/day_{day}.parquet")
                    self.assertTrue(ta.equals(tb))
            self.assertNotEqual(fa, inputs.make_daily_refresh(4, b))


if __name__ == "__main__":
    unittest.main()
