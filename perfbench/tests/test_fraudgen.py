"""The generators are deterministic and their expected answers are
self-consistent. Pure Python; runs in seconds.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import fraudgen  # noqa: E402
import tablegen  # noqa: E402


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class FraudgenTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for enc in fraudgen.ENCODINGS:
                pa = fraudgen.write(os.path.join(a, enc), 3000, 42, encoding=enc)
                pb = fraudgen.write(os.path.join(b, enc), 3000, 42, encoding=enc)
                self.assertEqual([_digest(p) for p in pa], [_digest(p) for p in pb], enc)

    def test_different_seeds_differ(self):
        t1, _ = fraudgen.generate(1000, 1)
        t2, _ = fraudgen.generate(1000, 2)
        self.assertNotEqual(t1, t2)

    def test_gate_outcomes(self):
        for gate, code in (("pass", 0), ("pre_fail", 2), ("post_fail", 2)):
            _, exp = fraudgen.generate(2000, 5, gate=gate)
            self.assertEqual(exp["exit_code"], code, gate)
            self.assertEqual(exp["pre_gate_failed"], gate == "pre_fail", gate)
            self.assertEqual(exp["dq_pre"]["total_rows"], 2000)

    def test_dirt_and_duplicates_are_dropped(self):
        text, exp = fraudgen.generate(10_000, 9, dirt=0.01, dup=0.02)
        self.assertEqual(len(text.splitlines()), 10_001)
        self.assertEqual(exp["dq_pre"]["failed_rows_estimate"], 100)
        # 100 rule-breaking rows and 200 duplicates leave the clean base
        self.assertEqual(exp["staged_rows"], 10_000 - 100 - 200)
        self.assertEqual(exp["dq_post"]["conformity_rate"], 1.0)
        avgs = [a for _, a in exp["region_risk_avg"]]
        self.assertEqual(avgs, sorted(avgs, reverse=True))
        self.assertEqual(len(exp["top3"]), 3)


class TablegenTest(unittest.TestCase):
    def test_same_seed_gives_identical_tables(self):
        a = tablegen.tables(0.001, 3)
        b = tablegen.tables(0.001, 3)
        self.assertEqual(sorted(a), sorted(tablegen.TABLES))
        for name in tablegen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_row_counts_scale(self):
        t = tablegen.tables(0.001, 3)
        self.assertEqual(t["lineitem"].num_rows, 6000)
        self.assertEqual(t["events"].num_rows, 1000)
        self.assertEqual(t["orders"].num_rows, 1500)


if __name__ == "__main__":
    unittest.main()
