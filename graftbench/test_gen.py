"""The generator is a pure function of its seed.

    python3 -m unittest graftbench/test_gen.py     (from the checkout root)
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def same_files(a, b):
    names = tree(a)
    if names != tree(b):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


class GeneratorTest(unittest.TestCase):

    def generate(self, root, seed):
        gen.generate_hourly(os.path.join(root, "hourly"), seed, hours=4)
        gen.generate_backfill(os.path.join(root, "backfill"), seed, hours=6, per_file=4)

    def test_same_seed_gives_identical_files_and_ledger(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.generate(a, 11)
            self.generate(b, 11)
            self.assertTrue(same_files(a, b))
            self.assertIn("hourly/ledger.json", tree(a))
            self.assertIn("backfill/ledger.json", tree(a))

    def test_other_seed_gives_other_files_and_ledger(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.generate(a, 11)
            self.generate(b, 12)
            self.assertEqual(tree(a), tree(b))
            for name in tree(a):
                self.assertFalse(
                    filecmp.cmp(os.path.join(a, name), os.path.join(b, name), shallow=False),
                    name)

    def test_ledger_counts_follow_the_documented_shares(self):
        with tempfile.TemporaryDirectory() as d:
            hourly = gen.generate_hourly(d + "/h", 5, hours=3)["hours"]
            backfill = gen.generate_backfill(d + "/b", 5, hours=3, per_file=3)
        for e in hourly:
            # every station once, plus the in-body duplicates
            self.assertEqual(e["curated_rows"], gen.STATIONS)
            self.assertGreater(e["raw_rows"], gen.STATIONS)
        # both generators draw the same feed from one seed
        self.assertEqual(sum(e["raw_rows"] for e in hourly), backfill["raw_rows"])
        # repeats from hour to hour are dropped by the cross-hour dedup
        self.assertLess(backfill["curated_rows"], 3 * gen.STATIONS)
        self.assertGreater(backfill["curated_rows"], 3 * gen.STATIONS * (1 - gen.STALE_SHARE) * 0.9)
        # the stream keeps one row per key: the backfill's distinct keys
        self.assertEqual(hourly[-1]["stream_rows_cum"], backfill["curated_rows"])

    def test_some_repeats_are_older_than_the_stream_watermark(self):
        feed = gen.Feed(5)
        late = 0
        for h in range(12):
            t = gen.snapshot_epoch(h)
            late += sum(1 for rec in feed.next_hour() if rec[8] < t - 3 * gen.HOUR)
        self.assertGreater(late, 0)


if __name__ == "__main__":
    unittest.main()
