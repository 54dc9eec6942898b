"""The benchmark's own tests.

    python3 -m unittest perfbench/test_perfbench.py    (from the repo root)

Input generation must be replayable (same seed, byte-identical inputs;
another seed, other inputs), metrics.json must document every metric
BENCHMARK.json names, the answer checks must accept and refuse what they
should, and every workload must run end to end in smoke mode (sf0.001,
a few seconds each) with correct answers and every metric present.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

os.chdir(ROOT)
SMOKE_SF = run.testdata_dir("0.001")
SCRATCH = os.path.join(ROOT, ".bench_build", "test")


def read_all(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


class InputsTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def gen(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        gen.generate(workload, seed, SMOKE_SF, out, smoke=True)
        return read_all(out)

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.WORKLOADS:
            self.assertEqual(self.gen(w, 11, w + "-a"),
                             self.gen(w, 11, w + "-b"), w)

    def test_another_seed_gives_other_inputs(self):
        for w in gen.WORKLOADS:
            self.assertNotEqual(self.gen(w, 11, w + "-a"),
                                self.gen(w, 12, w + "-b"), w)

    def test_adhoc_texts_are_distinct_and_cover_every_family(self):
        out = os.path.join(self.tmp, "q")
        gen.generate("serve_adhoc", 3, SMOKE_SF, out, smoke=True)
        with open(os.path.join(out, "queries.json")) as f:
            texts = json.load(f)["texts"]
        sqls = [t["sql"] for t in texts]
        self.assertEqual(len(sqls), len(set(sqls)))
        self.assertEqual({t["family"] for t in texts}, set(gen.FAMILIES))
        fb = sum(t["family"] == "fallback" for t in texts) / len(texts)
        self.assertAlmostEqual(fb, 0.1, delta=0.02)

    def test_every_reader_burst_reads_every_text_once(self):
        out = os.path.join(self.tmp, "r")
        gen.generate("lifecycle", 3, SMOKE_SF, out, smoke=True)
        with open(os.path.join(out, "queries.json")) as f:
            q = json.load(f)
        self.assertEqual(sorted(q["refresh_order"]), sorted(gen.REFRESHED))
        want = list(range(len(q["texts"])))
        self.assertEqual(len(q["bursts"]), len(gen.REFRESHED) + 3)
        for b in q["bursts"]:
            self.assertEqual(sorted(b), want)

    def test_injected_pairs_point_at_generated_documents(self):
        out = os.path.join(self.tmp, "p")
        gen.generate("lifecycle", 3, SMOKE_SF, out, smoke=True)
        with open(os.path.join(out, "ingest.json")) as f:
            cfg = json.load(f)
        ids = set()
        for name in ["store.jsonl"] + cfg["batches"]:
            with open(os.path.join(out, name)) as f:
                ids |= {json.loads(line)["doc_id"] for line in f}
        self.assertTrue(cfg["pairs"])
        for a, b, _ in cfg["pairs"]:
            self.assertIn(a, ids)
            self.assertIn(b, ids)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class SpecTest(unittest.TestCase):
    def test_every_metric_is_documented(self):
        bench = bench_spec()
        with open(os.path.join(HERE, "metrics.json")) as f:
            docs = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         gen.WORKLOADS)
        for m in bench["end_to_end"]:
            self.assertTrue(docs[m["name"]]["what"], m["name"])
        for m in bench["per_layer"]:
            d = docs[m["name"]]
            self.assertTrue(d["what"] and d["moves"] and d["on"], m["name"])


class CheckTest(unittest.TestCase):
    def q(self, checks, ordered=False):
        return {"checks": checks, "ordered": ordered}

    def test_exact_measures_must_match(self):
        q = self.q({"k": "exact", "v": "exact"})
        want_cols, want = ["k", "v"], [["a", 1.0], ["b", 2.0]]
        got = {"columns": ["v", "k"], "rows": [[2.0, "b"], [1.0, "a"]]}
        self.assertIsNone(analyze.compare(q, got, want_cols, want))
        got["rows"][0][0] = 2.0000001
        self.assertIsNotNone(analyze.compare(q, got, want_cols, want))

    def test_sketch_answers_within_their_bounds(self):
        hist = [[1.0, 10], [2.0, 10], [3.0, 80]]
        self.assertTrue(analyze._same(3.0, hist, "kll:0.5"))
        self.assertFalse(analyze._same(1.0, hist, "kll:0.5"))
        self.assertTrue(analyze._same(1020, 1000, "hll"))
        self.assertFalse(analyze._same(1100, 1000, "hll"))


class SmokeTest(unittest.TestCase):
    """each workload end to end on sf0.001 (compiles on first use)"""

    def run_bench(self, workload, trace, cwd=ROOT):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "1", "--seconds", "2", "--trace",
             str(trace), "--smoke"], cwd=cwd, capture_output=True,
            text=True, timeout=900)
        return p

    def test_every_workload_is_correct_and_prints_every_metric(self):
        spec = bench_spec()
        for w in gen.WORKLOADS:
            p = self.run_bench(w, 0)
            self.assertEqual(p.returncode, 0, p.stderr[-2000:])
            res = json.loads(p.stdout.strip().splitlines()[-1])
            self.assertEqual(set(res), {"correct", "attempted", "failed",
                                        "metrics"})
            self.assertTrue(res["correct"], p.stdout[-3000:])
            self.assertEqual(res["failed"], 0)
            self.assertGreaterEqual(res["attempted"], 1)
            self.assertEqual(set(res["metrics"]),
                             {m["name"] for m in spec["end_to_end"]})
            for m in res["metrics"].values():
                self.assertGreater(m["value"], 0)

    def test_traced_run_prints_every_per_layer_metric(self):
        spec = bench_spec()
        p = self.run_bench("serve_adhoc", 1)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(res["correct"])
        self.assertEqual(set(res["metrics"]),
                         {m["name"] for m in spec["per_layer"]})
        self.assertLess(res["metrics"]["cache.hit_ratio"]["value"], 0.2)

    def test_refuses_to_run_without_the_engine_sources(self):
        os.makedirs(SCRATCH, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=SCRATCH)
        try:
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = self.run_bench("serve_adhoc", 0, cwd=tmp)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
