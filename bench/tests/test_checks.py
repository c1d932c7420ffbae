"""Correctness checks: a wrong result must count as a failure."""
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import digest, gen, metrics  # noqa: E402


def op(i, kind, key, result, cls="read", traced=False, ms=1):
    return {"i": i, "kind": kind, "key": key, "class": cls, "start_ns": 0,
            "end_ns": ms * 1000000, "ok": True, "error": None, "result": result,
            "warmup": False, "traced": traced}


def report(ops, traced=False):
    return {"ops": ops, "traced": traced, "timed_wall_ns": 10 ** 9, "check_ns": 0,
            "churn_pre": {}, "churn": {}}


class DigestTest(unittest.TestCase):
    def test_order_insensitive_but_multiplicity_sensitive(self):
        rows = [(1, "a"), (2, "b"), (2, "b")]
        d = digest.digest(["k", "v"], rows)
        self.assertEqual(d, digest.digest(["k", "v"], list(reversed(rows))))
        self.assertNotEqual(d, digest.digest(["k", "v"], rows[:2]))

    def test_columns_match_by_name(self):
        self.assertEqual(digest.digest(["a", "b"], [(1, 2)]), digest.digest(["b", "a"], [(2, 1)]))

    def test_numbers_compare_by_value(self):
        d = digest.digest(["x"], [(5,)])
        self.assertEqual(d, digest.digest(["x"], [(5.0,)]))
        self.assertEqual(d, digest.digest(["x"], [(decimal.Decimal("5.000"),)]))
        self.assertEqual(digest.digest(["x"], [(-0.0,)]), digest.digest(["x"], [(0.0,)]))
        self.assertNotEqual(d, digest.digest(["x"], [(5.000001,)]))
        self.assertNotEqual(d, digest.digest(["x"], [("5",)]))

    def test_known_canonical_form(self):
        # pinned: the JVM side (Digest.scala) renders the same text
        out = []
        digest.canon([1, None, "s", True, {"b": 2.5, "a": None}], out)
        self.assertEqual("".join(out),
                         "[n3ff0000000000000;N;ss;b1;{a=N;b=n4004000000000000;};]")


class FailureCountTest(unittest.TestCase):
    def test_corrupted_expected_digest_is_a_failure(self):
        good = digest.digest(["x"], [(1,)])
        ops = [op(0, "query", "k", good), op(1, "query", "k", good)]
        self.assertEqual(metrics.check_ops(report(ops), {"k": good}, {}), [])
        r = report([op(0, "query", "k", good), op(1, "query", "k", good)])
        corrupted = {"k": good[:-1] + ("0" if good[-1] != "0" else "1")}
        fails = metrics.check_ops(r, corrupted, {})
        self.assertEqual(len(fails), 2)
        self.assertGreater(metrics.table_figures(r, {}, {})["fail_ratio"][0], 0)

    def test_a_key_without_oracle_must_repeat_its_result(self):
        r = report([op(0, "query", "k", "a|1|f"), op(1, "query", "k", "a|1|e")])
        self.assertEqual([f["i"] for f in metrics.check_ops(r, {}, {})], [1])

    def test_an_operation_that_throws_is_a_failure(self):
        o = op(0, "query", "k", "")
        o.update(ok=False, error="boom")
        r = report([o])
        self.assertEqual(len(metrics.check_ops(r, {}, {})), 1)
        self.assertEqual(metrics.table_figures(r, {}, {})["fail_ratio"][0], 1.0)

    def test_model_mismatch_is_a_failure(self):
        m = gen.ChurnModel()
        for i in range(10):
            m.put(i, 1, 100 + i)
        m.commit()
        expect = {0: m.head(), 1: m.point(2, 3)}
        self.assertEqual(expect, {0: "10:1045", 1: "2:205"})
        ok = [op(0, "read_head", "read_head", "10:1045"), op(1, "read_point", "read_point", "2:205")]
        self.assertEqual(metrics.check_ops(report(ok), {}, {"expect": expect}), [])
        bad = [op(0, "read_head", "read_head", "10:1045"), op(1, "read_point", "read_point", "2:206")]
        r = report(bad)
        fails = metrics.check_ops(r, {}, {"expect": expect})
        self.assertEqual([f["i"] for f in fails], [1])
        self.assertGreater(metrics.table_figures(r, {"written": {}}, {})["fail_ratio"][0], 0)

    def test_model_tracks_deletes_updates_and_history(self):
        m = gen.ChurnModel()
        for i in range(5):
            m.put(i, 1, 10)
        m.commit()
        m.delete(1, 2)
        m.put(3, 2, 17)
        m.commit()
        self.assertEqual(m.head(), "3:37")
        self.assertEqual(m.point(1, 2), "0:null")
        self.assertEqual(m.history, [(5, 50), (3, 37)])


class TraceOverheadTest(unittest.TestCase):
    def test_overhead_compares_rounds_of_the_same_run(self):
        ops = ([op(i, "query", "k", "", traced=False, ms=100 + i) for i in range(5)] +
               [op(5 + i, "query", "k", "", traced=True, ms=130 + i) for i in range(5)])
        r = report(ops, traced=True)
        self.assertEqual([o["i"] for o in metrics.timed(r)], [5, 6, 7, 8, 9])
        info = {}
        metrics.trace_overhead(r, info)
        self.assertEqual((info["untraced_op_p50_ms"], info["traced_op_p50_ms"]), (102, 132))
        self.assertEqual(info["trace_overhead_ms"], 30)

    def test_warm_up_rounds_are_not_measured(self):
        ops = [op(0, "query", "k", ""), op(1, "query", "k", "")]
        ops[0]["warmup"] = True
        self.assertEqual([o["i"] for o in metrics.timed(report(ops))], [1])


if __name__ == "__main__":
    unittest.main()
