"""Tests of the landing generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import csv
import datetime as dt
import filecmp
import os
import tempfile
import unittest

import landing

SIZES = dict(orders=3000, customers=400, days=3, daily_orders=200)


def files_of(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def read_csv(path):
    with open(path, newline="", encoding="utf-8") as f:
        return list(csv.DictReader(f, quotechar='"', escapechar="\\", doublequote=False))


def from_julian(j):
    return dt.date(1900 + j // 1000, 1, 1) + dt.timedelta(days=j % 1000 - 1)


class LandingTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def gen(self, name, seed):
        out = os.path.join(self.tmp.name, name)
        return out, landing.generate(out, seed, **SIZES)

    def test_same_seed_gives_byte_identical_files(self):
        a, _ = self.gen("a", 5)
        b, _ = self.gen("b", 5)
        self.assertEqual(files_of(a), files_of(b))
        for f in files_of(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)

    def test_other_seed_gives_other_files(self):
        a, _ = self.gen("a", 5)
        b, _ = self.gen("b", 6)
        self.assertFalse(filecmp.cmp(os.path.join(a, "batch_0", "F4211.csv"),
                                     os.path.join(b, "batch_0", "F4211.csv"), shallow=False))

    def test_domains_and_manifest(self):
        out, manifest = self.gen("a", 9)
        order_numbers = set()
        known = set()
        for b in manifest["batches"]:
            day = dt.date.fromisoformat(b["ingest_date"])
            customers = read_csv(os.path.join(out, b["dir"], "F0101.csv"))
            orders = read_csv(os.path.join(out, b["dir"], "F4211.csv"))
            self.assertEqual(len(customers), b["changed_customers"] + b["new_customers"])
            for c in customers:
                self.assertTrue(10000 <= int(c["ABAN8"]) <= 99999)
                self.assertEqual(c["ABAT1"], "C")
                self.assertIn(c["ABAC01"], landing.CATEGORIES)
                self.assertEqual(from_julian(int(c["ABUPMJ"])), day)
                known.add(int(c["ABAN8"]))
            self.assertEqual(len(orders), b["order_lines"])
            cents = 0
            for o in orders:
                order_numbers.add(int(o["SDDOCO"]))
                self.assertIn(int(o["SDAN8"]), known)
                self.assertEqual(o["SDLITM"], landing.ean13(o["SDLITM"][:12]))
                self.assertTrue(day - dt.timedelta(days=365) <= from_julian(int(o["SDTRDJ"])) < day)
                units, amount = int(o["SDUORG"]), int(o["SDAEXP"])
                self.assertEqual(units % 100, 0)
                self.assertEqual(amount % (units // 100), 0)
                cents += amount
            self.assertEqual(cents, b["sdaexp_cents"])
        total = sum(b["order_lines"] for b in manifest["batches"])
        self.assertEqual(len(order_numbers), total)

    def test_changed_customers_change_a_tracked_attribute(self):
        out, manifest = self.gen("a", 3)
        state = {}
        for b in manifest["batches"]:
            for c in read_csv(os.path.join(out, b["dir"], "F0101.csv")):
                row = (c["ABALPH"], c["ABAT1"], c["ABAC01"])
                if int(c["ABAN8"]) in state:
                    self.assertNotEqual(state[int(c["ABAN8"])], row)
                state[int(c["ABAN8"])] = row

    def test_julian(self):
        self.assertEqual(landing.julian(dt.date(2023, 1, 1)), 123001)
        self.assertEqual(landing.julian(dt.date(1999, 12, 31)), 99365)


if __name__ == "__main__":
    unittest.main()
