"""The seeded input generator: the same seed gives byte-identical inputs."""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import gen  # noqa: E402

DATA = os.environ.get("GRAFT_BENCH_DATA", os.path.expanduser("~/testdata"))
SF = os.path.join(DATA, "sf0.1")
WARM = os.path.join(DATA, "sf0.001")
HAVE_DATA = os.path.isfile(os.path.join(SF, "lineitem.parquet"))


def same_tree(a, b):
    fa, fb = sorted(os.listdir(a)), sorted(os.listdir(b))
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                            for f in fa)


class ScheduleTest(unittest.TestCase):
    def test_every_key_equally_often_in_a_seeded_order(self):
        keys = ["a", "b", "c", "d"]
        s1 = gen.query_schedule(keys, 7, 3)
        self.assertEqual(s1, gen.query_schedule(keys, 7, 3))
        self.assertNotEqual(s1, gen.query_schedule(keys, 8, 3))
        self.assertEqual(Counter(o["key"] for o in s1), Counter({k: 3 for k in keys}))
        for r in range(3):  # each round is one permutation
            self.assertEqual(sorted(o["key"] for o in s1[4 * r:4 * r + 4]), keys)


@unittest.skipUnless(HAVE_DATA, "test data not found")
class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def d(self, name):
        return os.path.join(self.tmp, name)

    def test_churn_inputs_are_byte_identical_per_seed(self):
        n = 2 * len(gen.CHURN_CYCLE)
        a = gen.churn_inputs(SF, WARM, 9, self.d("a"), n)
        b = gen.churn_inputs(SF, WARM, 9, self.d("b"), n)
        strip = lambda r: [{k: v for k, v in op.items() if k != "file"} for op in r[1]]  # noqa: E731
        self.assertEqual(strip(a), strip(b))
        self.assertEqual(a[2:], b[2:])
        self.assertTrue(same_tree(self.d("a"), self.d("b")))

    def test_churn_op_mix_is_the_same_for_every_seed(self):
        n = 2 * len(gen.CHURN_CYCLE)
        mixes = [Counter(op["kind"] for op in gen.churn_inputs(SF, WARM, s, self.d(str(s)), n)[1])
                 for s in (1, 2)]
        self.assertEqual(mixes[0], mixes[1])
        self.assertEqual(mixes[0]["compact"], 2)


if __name__ == "__main__":
    unittest.main()
