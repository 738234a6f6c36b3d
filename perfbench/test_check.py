"""The output checker catches corrupted results.

  python3 perfbench/test_check.py        # from the repository root

Builds correct outputs from the checker's own independent computations,
shows they pass, then corrupts each kind of output and shows the checker
reports it.
"""
import copy
import datetime as dt
import os
import shutil
import sys
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

INPUTS = os.path.join(".bench_build", "test-inputs")


def jsonish(rows):
    return [[check._cell(c) for c in r] for r in rows]


class CheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(INPUTS, ignore_errors=True)
        gen.generate("interactive", 7, INPUTS)
        cls.c = check.Checker(INPUTS)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(INPUTS, ignore_errors=True)

    def rec(self, template, params, result):
        return {"i": 0, "template": template, "params": params, "result": result, "ok": True}

    def assertCaught(self, rec):
        self.assertIsNotNone(self.c.check(rec), f"corruption of {rec['template']} not caught")

    def test_dashboard_reads(self):
        cases = {
            "ts_hour": {"lo": "2024-01-03", "hi": "2024-01-05", "types": ["click", "view"]},
            "topn": {"lo": "2024-01-03", "hi": "2024-01-10"},
            "groupby": {"lower": 200000},
            "sql_time_floor": {"lo": "2024-01-03", "hi": "2024-01-06", "user": 300},
            "scan": {"key": 1234},
            "time_boundary": {"type": "error"},
            "sql_join": {"year": 1997},
        }
        for t, p in cases.items():
            good = jsonish(self.c.dashboard(t, p))
            self.assertIsNone(self.c.check(self.rec(t, p, good)), t)
            bad = copy.deepcopy(good)
            last = bad[0][-1]
            bad[0][-1] = last * (1 + 1e-6) + 1e-3 if isinstance(last, float) else "x"
            self.assertCaught(self.rec(t, p, bad))
            self.assertCaught(self.rec(t, p, good[1:] if len(good) > 1 else []))

    def test_approximate_distinct(self):
        p = {"lo": "2024-01-03", "hi": "2024-01-13"}
        good = jsonish(self.c.dashboard("sql_approx_distinct", p))
        near = [[k, v * 1.02] for k, v in good]
        self.assertIsNone(self.c.check(self.rec("sql_approx_distinct", p, near)))
        far = [[k, v * 1.2] for k, v in good]
        self.assertCaught(self.rec("sql_approx_distinct", p, far))

    def test_scaled_row_query(self):
        p = {"cutoff": "2001-09-15"}
        base, scale = self.c.row_query("tpch_q1", p)
        c10 = copy.copy(self.c)
        c10.copies = 10
        good = jsonish(c10.scaled(base, scale))
        self.assertIsNone(c10.check(self.rec("tpch_q1", p, good)))
        self.assertIsNotNone(c10.check(self.rec("tpch_q1", p, jsonish(base))),
                             "an unscaled 10x result was not caught")

    def test_window(self):
        p = {"step": 7}
        good = jsonish(self.c.window_read("r_daily", p))
        self.assertIsNone(self.c.check(self.rec("r_daily", p, good)))
        # a stale read: the window one step earlier (the dropped day still in)
        stale = jsonish(self.c.window_read("r_daily", {"step": 6}))
        self.assertCaught(self.rec("r_daily", p, stale))
        totals = jsonish(self.c.window_read("r_totals", p))
        totals[0][1] -= 1
        self.assertCaught(self.rec("r_totals", p, totals))
        self.assertIsNone(self.c.check(self.rec("retention", p, ["2024-02-02"])))
        self.assertCaught(self.rec("retention", p, []))

    def test_dedup(self):
        exact, near = sorted(self.c.planted["exact"]), sorted(self.c.planted["near"])
        good = [list(x) for x in exact + near]
        self.assertIsNone(self.c.check(self.rec("minhash", {}, good)))
        self.assertIsNone(self.c.check(self.rec("simhash", {}, good)))
        self.assertCaught(self.rec("minhash", {}, good[1:]))
        self.assertCaught(self.rec("minhash", {}, [list(x) for x in exact]))
        self.assertCaught(self.rec("simhash", {}, good[1:]))
        ids = sorted(self.c.doc_text)
        unrelated = [[ids[0], ids[-1]]] if [ids[0], ids[-1]] not in good else [[ids[1], ids[-2]]]
        self.assertCaught(self.rec("simhash", {}, good + unrelated))

    def test_ann(self):
        good = []
        for q, v in self.c.queries.items():
            top = self.c.corpus_ids[np.argsort(-(self.c.corpus @ v), kind="stable")[:check.ANN_K]]
            good += [[q, int(n)] for n in top]
        self.assertIsNone(self.c.check(self.rec("ann_ivf", {}, good)))
        shifted = [[q, int(n) + 1] for q, n in good]
        self.assertCaught(self.rec("ann_ivf", {}, shifted))
        self.assertCaught(self.rec("ann_ivf", {}, good[:-1]))

    def test_failed_operation(self):
        rec = self.rec("scan", {"key": 1}, "java.lang.RuntimeException: boom")
        rec["ok"] = False
        self.assertCaught(rec)

    def test_same_rows_tolerance(self):
        self.assertIsNone(check.same_rows([[1, 2.0000000000001]], [[1, 2.0]]))
        self.assertIsNotNone(check.same_rows([[1, 2.001]], [[1, 2.0]]))
        self.assertIsNone(check.same_rows(
            [["2024-01-01T00:00:00.000Z", 1]], [[dt.datetime(2024, 1, 1), 1]]))


if __name__ == "__main__":
    unittest.main()
