"""Tests of the benchmark's own helpers.

Usage: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import build
import layers
import stacgen
import stats


def _tree(root):
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(build.BUILD, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=build.BUILD)

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, name, seed, **kw):
        root = os.path.join(self.tmp.name, name)
        return root, stacgen.generate(root, seed, **kw)

    def test_same_seed_same_bytes_and_multihashes(self):
        kw = dict(n_items=12, asset_bytes=300, n_collections=3,
                  defects={"checksum": 2, "missing": 1, "dupkey": 1})
        a, ma = self.gen("a", 7, **kw)
        b, mb = self.gen("b", 7, **kw)
        self.assertEqual(_tree(a), _tree(b))
        self.assertEqual(ma, mb)
        c, mc = self.gen("c", 8, **kw)
        self.assertNotEqual(_tree(a), _tree(c))
        self.assertNotEqual(ma["data"], mc["data"])

    def test_multihashes_match_the_written_assets(self):
        root, m = self.gen("g", 3, n_items=5, asset_bytes=100)
        for name, meta in m["data"].items():
            with open(os.path.join(root, name), "rb") as f:
                self.assertEqual(stacgen.multihash(f.read()), meta["multihash"])
        self.assertEqual(m["expected_failures"], {})

    def test_defect_counts(self):
        _, m = self.gen("d", 1, n_items=10, asset_bytes=10,
                        defects={"checksum": 3, "missing": 2, "dupkey": 1})
        self.assertEqual(m["expected_failures"], {
            "checksum": 3, "staging bucket access": 2, "duplicate asset name": 1})
        self.assertEqual(len(m["data"]), 8)
        _, s = self.gen("s", 1, n_items=3, asset_bytes=10, defects={"schema": 1})
        self.assertEqual(s["expected_failures"], {"JSON schema": 1})


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90))
        self.assertEqual(stats.tail(list(range(1, 41))), (75, 30))
        self.assertEqual(stats.tail(list(range(1, 21))), (50, 10))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99, 990))
        self.assertIsNone(stats.tail(list(range(1, 20))))
        self.assertIsNone(stats.tail([]))

    def test_percentile_is_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 100), 5)
        self.assertEqual(stats.percentile([7], 90), 7)


class SpanTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end, name="x"):
        return {"id": i, "parent": parent, "start": start, "end": end, "name": name}

    def test_self_time_subtracts_children_once(self):
        spans = [
            self.span(1, 0, 0, 100),
            self.span(2, 1, 10, 30),
            self.span(3, 1, 20, 50),   # overlaps 2: 10..50 covered once
            self.span(4, 3, 25, 35),
            self.span(5, 1, 90, 120),  # runs past its parent: clipped
        ]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 20, 3: 20, 4: 10, 5: 30})

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_import_stages_sum_to_wall(self):
        op = self.span(1, 0, 0, 1000)
        kids = [
            self.span(2, 1, 0, 50, "store.append:import_executions"),
            self.span(3, 1, 200, 260, "store.append:validation_results"),
            self.span(4, 1, 260, 300, "store.append:processing_assets"),
            self.span(5, 1, 300, 320, "store.read:processing_assets"),
            self.span(6, 1, 330, 500, "store.append:validation_results"),
            self.span(7, 1, 520, 530, "store.read:validation_results"),
            self.span(8, 1, 540, 700, "store.append:import_reports"),
            self.span(9, 1, 710, 900, "store.append:import_reports"),
            self.span(10, 1, 950, 990, "store.append:import_executions"),
            self.span(11, 1, 60, 70, "reader.open"),
        ]
        labels = {}
        got = stats.import_stages(op, kids, labels)
        self.assertEqual(got, {"crawl": 150, "checksum": 170, "copy": 350,
                               "store": 50 + 60 + 40 + 20 + 10 + 40, "driver": 110})
        self.assertEqual(sum(got.values()), 1000)
        self.assertEqual(labels[6], "checksum")
        self.assertEqual(labels[3], "store")


class OverheadTest(unittest.TestCase):
    @staticmethod
    def ops(kind, pattern, ms):
        return [{"kind": kind, "traced": t == "T", "ms": v} for t, v in zip(pattern, ms)]

    def test_whole_groups_only(self):
        # a: groups T,U,U,T; the fifth op (an unfinished group) is left out
        a = self.ops("a", "TUUTT", [12, 10, 10, 12, 1000])
        # b: only three ops, no whole group, so not compared
        b = self.ops("b", "TUU", [500, 1, 1])
        c = self.ops("c", "TUUT", [33, 30, 30, 33])
        self.assertAlmostEqual(layers.overhead(a + b + c), 45 / 40 - 1)
        self.assertEqual(layers.overhead(b), 0.0)


if __name__ == "__main__":
    unittest.main()
