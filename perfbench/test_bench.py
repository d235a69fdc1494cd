"""The benchmark's own tests: ``python3 -m unittest discover -s perfbench``."""

import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import report  # noqa: E402


def files_under(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


def same_tree(a, b):
    names = files_under(a)
    if names != files_under(b):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


class FixtureTest(unittest.TestCase):
    def test_seed_fixes_the_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                gen.etl(f"{t}/{name}/etl", seed, history_days=3, new_days=2, per_day=50)
                gen.tables(f"{t}/{name}/tables", seed=seed)
            self.assertTrue(same_tree(f"{t}/a", f"{t}/b"))
            self.assertFalse(same_tree(f"{t}/a/etl", f"{t}/c/etl"))
            self.assertFalse(same_tree(f"{t}/a/tables", f"{t}/c/tables"))


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 38))  # 37 operations: 27 at or below, 10 beyond
        value, pct, n = report.tail(xs)
        self.assertEqual((value, n), (27, 37))
        self.assertAlmostEqual(pct, 100 * 27 / 37)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_too_few_operations_give_the_max(self):
        self.assertEqual(report.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(report.tail(list(range(10))), (9, 100.0, 10))
        self.assertEqual(report.tail(list(range(11))), (0, 100 / 11, 11))


def op(name, rows=5, xor=42, ok=True):
    return {"id": 0, "name": name, "pass": 1, "wall_s": 1.0, "rows": rows, "xor": xor,
            "ok": ok, "err": ""}


class FailureTest(unittest.TestCase):
    def test_corrupt_query_digest_counts_as_failed(self):
        rec = {"warm_ops": [op("q1")], "ops": [op("q1"), op("q2")]}
        digests = {"q1": [5, 42], "q2": [5, 42]}
        self.assertEqual(report.query_failures(rec, digests), (3, []))
        attempted, bad = report.query_failures(rec, dict(digests, q2=[5, 43]))
        self.assertEqual((attempted, len(bad)), (3, 1))
        attempted, bad = report.query_failures(
            {"warm_ops": [], "ops": [op("q1", ok=False)]}, digests)
        self.assertEqual(len(bad), 1)

    def test_etl_checks(self):
        expected = {"history_rows": 100, "days": [{"accepted": 10, "offered": 12}] * 3}
        refq = [{"name": q, "rows": 1, "xor": 9} for q in report.REFQ]
        rec = {"warm_ops": [op("d0")], "ops": [op("d1"), op("d2")],
               "lake": {"rows": 130, "distinct_ids": 130, "watermark": "2024-11-02",
                        "weather_watermark": "2024-11-02", "last_day": "2024-11-02"},
               "refq": refq, "refq_expected": refq}
        attempted, bad = report.etl_failures(rec, expected)
        self.assertEqual((attempted, bad), (3 + 4 + 8, []))
        self.assertEqual(report.etl_landed(rec, expected), (24, 20))
        broken = dict(rec, refq=[dict(refq[0], xor=8)] + refq[1:],
                      lake=dict(rec["lake"], distinct_ids=129))
        self.assertEqual(len(report.etl_failures(broken, expected)[1]), 2)


def span(i, parent, start, end, name="x"):
    return {"id": i, "name": name, "parent": parent, "op": 0, "start_s": start,
            "end_s": end, "attrs": {}, "counters": {"jobs": 1}}


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_and_gaps(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 3.0), span(2, 0, 2.0, 4.0),
                 span(3, 0, 6.0, 7.0), span(4, 1, 1.5, 2.5)]
        st = report.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 3.0 - 1.0)  # [1,4] and [6,7] covered
        self.assertAlmostEqual(st[1], 2.0 - 1.0)
        self.assertAlmostEqual(st[4], 1.0)
        self.assertEqual(report.inclusive(spans)[0]["jobs"], 5)

    def test_child_clipped_to_parent(self):
        st = report.self_times([span(0, -1, 0.0, 2.0), span(1, 0, 1.5, 3.0)])
        self.assertAlmostEqual(st[0], 1.5)


if __name__ == "__main__":
    unittest.main()
