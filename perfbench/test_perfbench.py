"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import gen
import metrics
import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(list(reversed(xs)), 90), 90)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(99))
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)


def span(id_, parent, layer, start, end):
    return {"id": id_, "parent": parent, "layer": layer, "name": layer,
            "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_nested(self):
        spans = [span(1, -1, "run", 0, 10), span(2, 1, "x", 1, 5),
                 span(3, 2, "y", 2, 3), span(4, 1, "z", 6, 8)]
        layers, root, unspanned = stats.self_times(spans, 1)
        self.assertEqual(root, 10)
        self.assertAlmostEqual(layers["x"], 3)
        self.assertAlmostEqual(layers["y"], 1)
        self.assertAlmostEqual(layers["z"], 2)
        self.assertAlmostEqual(unspanned, 4)

    def test_same_layer_nested_counts_once(self):
        spans = [span(1, -1, "run", 0, 4), span(2, 1, "x", 0, 4),
                 span(3, 2, "x", 1, 3)]
        layers, _, unspanned = stats.self_times(spans, 1)
        self.assertAlmostEqual(layers["x"], 4)
        self.assertAlmostEqual(unspanned, 0)

    def test_concurrent_spans_share_time(self):
        spans = [span(1, -1, "run", 0, 10), span(2, 1, "a", 0, 4),
                 span(3, 1, "b", 2, 6)]
        layers, root, unspanned = stats.self_times(spans, 1)
        self.assertAlmostEqual(layers["a"], 3)
        self.assertAlmostEqual(layers["b"], 3)
        self.assertAlmostEqual(sum(layers.values()) + unspanned, root)

    def test_spans_outside_the_root_are_ignored(self):
        spans = [span(1, -1, "run", 0, 2), span(2, 1, "a", 1, 5),
                 span(3, -1, "other", 0, 9)]
        layers, root, unspanned = stats.self_times(spans, 1)
        self.assertEqual(set(layers), {"a"})
        self.assertAlmostEqual(layers["a"], 1)
        self.assertAlmostEqual(unspanned, 1)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def make(self, name, fn):
        root = os.path.join(self.tmp, name)
        fn(root)
        return gen.checksum(root)

    def test_same_seed_same_bytes(self):
        cases = {
            "ingest": lambda seed: lambda d: gen.ingest_files(seed, 30, 100, d),
            "curation": lambda seed: lambda d: gen.curation_corpus(
                seed, d, scale=0.1),
            "graph": lambda seed: lambda d: gen.graph_edges(seed, d,
                                                            scale=0.1),
        }
        with open(os.path.join(HERE, "checksums.json")) as f:
            recorded = json.load(f)
        for name, make in cases.items():
            a = self.make(f"{name}-a", make(1))
            b = self.make(f"{name}-b", make(1))
            c = self.make(f"{name}-c", make(2))
            self.assertEqual(a, b, name)
            self.assertNotEqual(a, c, name)
            self.assertEqual(a, recorded[name], name)

    def test_planted_truth(self):
        truth = gen.curation_corpus(3, os.path.join(self.tmp, "c"), scale=0.2)
        self.assertTrue(truth["text_pairs"])
        self.assertTrue(all(a < b for a, b in truth["text_pairs"]))
        info = gen.graph_edges(3, os.path.join(self.tmp, "g"))
        self.assertGreater(info["large_seeds"], 4096)
        self.assertLessEqual(info["small_seeds"], 4096)


class BenchmarkFileTest(unittest.TestCase):
    def test_matches_the_runner(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in bench["per_layer"]], metrics.PER_LAYER)
        self.assertEqual([m["name"] for m in bench["end_to_end"]],
                         list(metrics.END_TO_END))


if __name__ == "__main__":
    unittest.main()
