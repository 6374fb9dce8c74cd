"""Tests of the benchmark's own rules.

    python3 -m unittest discover -s perfbench/tests

The digest cases run the compiled `perfbench.DigestCases` (built by
`perfbench/build.py` on first use); everything else is pure Python.
"""
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402
import harness  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(harness.tail(list(range(19))))
        p, _, n = harness.tail(list(range(20)))
        self.assertEqual((p, n), (50.0, 20))

    def test_picks_highest_ladder_percentile(self):
        self.assertEqual(harness.tail(list(range(39)))[0], 50.0)
        self.assertEqual(harness.tail(list(range(40)))[0], 75.0)
        self.assertEqual(harness.tail(list(range(100)))[0], 90.0)
        self.assertEqual(harness.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(harness.tail(list(range(10000)))[0], 99.9)

    def test_reports_interpolated_value_and_count(self):
        p, v, n = harness.tail([float(x) for x in range(1, 41)])
        self.assertEqual((p, n), (75.0, 40))
        self.assertAlmostEqual(v, 30.25)
        self.assertEqual(harness.percentile([3.0, 1.0, 2.0], 50), 2.0)


class FailedFrac(unittest.TestCase):
    def test_arithmetic(self):
        self.assertEqual(harness.failed_frac(8, 0), 0.0)
        self.assertEqual(harness.failed_frac(8, 2), 0.25)
        self.assertEqual(harness.failed_frac(1, 1), 1.0)

    def test_rejects_impossible_counts(self):
        for attempted, failed in ((0, 0), (3, 4), (3, -1)):
            with self.assertRaises(ValueError):
                harness.failed_frac(attempted, failed)

    def test_wrong_result_and_exception_both_fail(self):
        exp = {"rows": 3, "digest": "ab"}
        self.assertIsNone(harness.check_query({"rows": 3, "digest": "ab"}, exp))
        self.assertIn("rows", harness.check_query({"rows": 4, "digest": "ab"}, exp))
        self.assertIn("digest", harness.check_query({"rows": 3, "digest": "cd"}, exp))
        self.assertEqual(harness.check_query({"error": "boom"}, exp), "boom")
        self.assertIsNotNone(harness.check_query({"rows": 3, "digest": "ab"}, None))
        self.assertIn("oracle", harness.check_query(
            {"rows": 3, "digest": "ab"}, dict(exp, oracle="mismatch: rows 3 vs 4")))

    def test_commit_checks_follow_the_seeded_batches(self):
        batches = harness.commit_batches("corpus_curation", 7, 30)
        after, by_version = harness.rows_after(batches)
        commit = {"appends": [{"txn": b["txn"], "committed": not b["replay"]} for b in batches],
                  "reads": [{"after": 30, "rows": after[29], "oldest": "_v1",
                             "oldest_rows": by_version[1]}]}
        self.assertEqual(harness.check_commits(commit, batches), [])
        commit["reads"][0]["rows"] += 1
        commit["reads"][0]["oldest_rows"] += 1
        self.assertEqual(len(harness.check_commits(commit, batches)), 1)


class Permutation(unittest.TestCase):
    NAMES = [f"q{i}" for i in range(12)]

    def test_stable_for_a_seed(self):
        a = harness.permutation(self.NAMES, 3, "cold")
        self.assertEqual(a, harness.permutation(list(reversed(self.NAMES)), 3, "cold"))
        self.assertEqual(sorted(a), sorted(self.NAMES))
        # pinned so a change of the shuffle shows up as a failing test
        self.assertEqual(harness.permutation(["a", "b", "c", "d"], 1, "cold"),
                         ["d", "b", "a", "c"])

    def test_differs_across_seeds_and_passes(self):
        orders = harness.pass_orders(self.NAMES, 3, 3)
        self.assertNotEqual(orders[0], orders[1])
        self.assertNotEqual(harness.permutation(self.NAMES, 3, "cold"),
                            harness.permutation(self.NAMES, 4, "cold"))

    def test_commit_batches_are_seeded(self):
        a = harness.commit_batches("star_analytics", 5, 20)
        self.assertEqual(a, harness.commit_batches("star_analytics", 5, 20))
        self.assertNotEqual(a, harness.commit_batches("star_analytics", 6, 20))
        self.assertTrue(all(b["txn"] <= i + 1 for i, b in enumerate(a)))


class DigestNormalization(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        out = subprocess.run(["java", "-cp", build.build(), "perfbench.DigestCases"],
                             check=True, capture_output=True, text=True).stdout
        cls.d = {name: (int(rows), digest) for name, rows, digest in
                 (line.split() for line in out.splitlines())}

    def test_column_and_row_order_do_not_matter(self):
        self.assertEqual(self.d["ab"], self.d["ba_columns_swapped"])
        self.assertEqual(self.d["ab"], self.d["ab_rows_reversed"])

    def test_duplicates_count(self):
        self.assertEqual(self.d["ab_duplicate_row"][0], 3)
        self.assertNotEqual(self.d["ab"][1], self.d["ab_duplicate_row"][1])

    def test_floats_round_to_four_places(self):
        self.assertEqual(self.d["float_1.00001"], self.d["float_1.00004"])
        self.assertNotEqual(self.d["float_1.00001"], self.d["float_1.0002"])
        self.assertEqual(self.d["float_neg_zero"], self.d["float_zero"])

    def test_null_is_distinct_from_any_string(self):
        self.assertNotEqual(self.d["null_string"], self.d["empty_string"])
        self.assertNotEqual(self.d["null_string"], self.d["marker_string"])

    def test_empty_results(self):
        self.assertEqual(self.d["empty_ab"], (0, "0" * 32))
        self.assertEqual(self.d["empty_ab"], self.d["empty_f"])


if __name__ == "__main__":
    unittest.main()
