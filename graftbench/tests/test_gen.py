"""The seeded generators: the same seed gives byte-identical inputs, a
different seed different ones.

    python3 -m unittest discover -s graftbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def bronze(seed):
    """The daily_load bronze payloads of a small plan, as one byte string."""
    plan = gen.weather_days(seed, cities=30, days=6)
    return "\n".join(p for d in plan for p in d["current"] + d["forecast"]).encode()


def tables_digest(seed):
    with tempfile.TemporaryDirectory() as d:
        gen.tables(d, seed, sf=0.001)
        h = hashlib.sha256()
        for f in sorted(os.listdir(d)):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()


class DailyLoadGenerator(unittest.TestCase):
    def test_same_seed_same_bronze(self):
        self.assertEqual(bronze(7), bronze(7))

    def test_different_seed_different_bronze(self):
        self.assertNotEqual(bronze(7), bronze(8))

    def test_plan_shape(self):
        plan = gen.weather_days(3, cities=50, days=9)
        self.assertEqual(len(plan), 9)
        self.assertEqual(plan[0]["valid_current"], 50)  # the initial load is clean
        self.assertEqual(plan[0]["drifts"], 0)
        for d in plan:
            self.assertEqual(len(d["current"]), 50)
            self.assertEqual(len(d["forecast"]), 50)
            self.assertEqual(d["expect"]["q3"], d["valid_current"])
            self.assertLessEqual(d["expect"]["q1"], 4)
            self.assertLessEqual(d["expect"]["q4"], 4)
        self.assertEqual(plan[8]["expect"]["q1"], 4)  # every horizon bucket is hit by day 5
        self.assertTrue(any(d["corrected_cities"] for d in plan))
        self.assertLess(sum(d["valid_current"] for d in plan), 9 * 50)  # some payloads fail the DQ gate


class TableGenerator(unittest.TestCase):
    def test_same_seed_same_tables(self):
        self.assertEqual(tables_digest(5), tables_digest(5))

    def test_different_seed_different_tables(self):
        self.assertNotEqual(tables_digest(5), tables_digest(6))


if __name__ == "__main__":
    unittest.main()
