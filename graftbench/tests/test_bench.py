"""Tests of the benchmark's own code (not of graft).

Run from the root of a checkout:  python3 -m unittest discover graftbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402


def temp_dir():
    """A temporary directory inside the checkout's build dir."""
    base = os.path.join(ROOT, ".bench_build")
    os.makedirs(base, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=base)


def lines(path):
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class GeneratorTest(unittest.TestCase):
    def generate_twice(self, workload, seed):
        with temp_dir() as a, temp_dir() as b:
            gen.generate(workload, seed, a)
            gen.generate(workload, seed, b)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            return names, match, mismatch, errors

    def test_same_seed_gives_byte_identical_memory_inputs(self):
        names, match, mismatch, errors = self.generate_twice("memory-loop", 7)
        self.assertIn("corpus.jsonl", names)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertEqual(match, names)

    def test_same_seed_gives_byte_identical_suite_tables(self):
        names, match, mismatch, errors = self.generate_twice("query-suite", 7)
        self.assertIn("lineitem.parquet", names)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_changes_content_not_size(self):
        with temp_dir() as a, temp_dir() as b:
            gen.generate("memory-loop", 1, a)
            gen.generate("memory-loop", 2, b)
            rows = lambda d: lines(os.path.join(d, "corpus.jsonl"))
            self.assertNotEqual(rows(a), rows(b))
            self.assertEqual(len(rows(a)), len(rows(b)))
            self.assertEqual(len(rows(a)), gen.SIZES["memory"]["docs"])

    def test_corpus_has_case_variants_and_near_duplicates(self):
        with temp_dir() as d:
            gen.generate("memory-loop", 3, d)
            docs = [json.loads(x)["text"] for x in lines(os.path.join(d, "corpus.jsonl"))]
        words = {w.rstrip(".") for t in docs for w in t.split()}
        self.assertTrue(any(w[0].isupper() and w.lower() in words for w in words))
        self.assertTrue(any(a[:40] == b[:40] for i, a in enumerate(docs) for b in docs[:i]))


class StatsTest(unittest.TestCase):
    def test_no_tail_percentile_with_fewer_than_ten_samples_beyond(self):
        for n in range(0, 400):
            xs = list(range(n))
            p95 = run.tail_percentile(xs, 95)
            if p95 is None:
                continue
            self.assertGreaterEqual(sum(1 for x in xs if x > p95), 10, n)
        self.assertIsNone(run.tail_percentile(list(range(199)), 95))
        self.assertEqual(run.tail_percentile(list(range(1, 201)), 95), 190)

    def test_geomean(self):
        self.assertAlmostEqual(run.geomean([1.0, 100.0]), 10.0)


class MetricNameTest(unittest.TestCase):
    def assert_name(self, name):
        self.assertRegex(name, run.NAME_RE)

    def test_benchmark_json_names(self):
        s = spec()
        names = [w["name"] for w in s["workloads"]] + \
            [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assert_name(n)

    def test_reported_names(self):
        samples = {"heap_mb": [100.0], "ingest_s": [2.0],
                   "append_s": [1.0, 1.2], "delete_s": [3.0], "store_bytes": [1000.0],
                   "retrieve_ms": [400.0] * 5, "batch_ms": [900.0], "hybrid_ms": [800.0],
                   "query_ms.q13_group_stats": [500.0], "query_ms.t04_fingerprint": [700.0]}
        res = {"samples": samples, "values": {"serve_qps": 20.0, "recall_at_10": 0.9},
               "setup": {"session_s": 3.0, "load_s": 0.5, "warmup_s": 20.0}}
        e2e = {m["name"] for m in spec()["end_to_end"]}
        for w in run.WORKLOADS:
            named = run.workload_metrics(w, res, {"input_bytes": 100}, 0.1)
            for n in named:
                self.assert_name(n)
            out = run.end_to_end(w, named)
            self.assertEqual(set(out), e2e)
            self.assertTrue(all(v > 0 for v, _ in out.values()))


if __name__ == "__main__":
    unittest.main()
