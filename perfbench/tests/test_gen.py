"""Self-tests for the seeded generator: Zipf sampling, determinism and the
planted structure. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402


class ZipfTest(unittest.TestCase):
    def test_weights(self):
        w = gen.zipf_weights(50, 1.1)
        self.assertAlmostEqual(w.sum(), 1.0)
        self.assertTrue(np.all(np.diff(w) < 0))
        self.assertAlmostEqual(w[0] / w[1], 2 ** 1.1)

    def test_sampler_is_seeded(self):
        a = gen.zipf_sample(gen.rng(7, "t"), 100, 1.0, 1000)
        b = gen.zipf_sample(gen.rng(7, "t"), 100, 1.0, 1000)
        c = gen.zipf_sample(gen.rng(8, "t"), 100, 1.0, 1000)
        self.assertTrue(np.array_equal(a, b))
        self.assertFalse(np.array_equal(a, c))
        self.assertTrue(0 <= a.min() and a.max() < 100)
        # rank 0 is the most frequent
        counts = np.bincount(a, minlength=100)
        self.assertEqual(int(np.argmax(counts)), 0)

    def test_streams_are_independent(self):
        a = gen.rng(7, "events").random(5)
        b = gen.rng(7, "corpus").random(5)
        self.assertFalse(np.array_equal(a, b))


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-gen-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def gen(self, seed, workload, name):
        d = os.path.join(self.tmp, name)
        plan = gen.generate(seed, d, workload)
        return plan, gen.digest(d)

    def test_same_seed_same_bytes_other_seed_other_inputs(self):
        for workload in ("dashboard", "curate"):
            p1, d1 = self.gen(5, workload, f"{workload}-a")
            p2, d2 = self.gen(5, workload, f"{workload}-b")
            _, d3 = self.gen(6, workload, f"{workload}-c")
            self.assertEqual(d1, d2, workload)
            self.assertNotEqual(d1, d3, workload)
            self.assertEqual(p1, p2)

    def test_events_plan(self):
        t, plan = gen.events_table(3)
        self.assertEqual(plan["refit_day"], plan["replay_day"])
        self.assertEqual(plan["planted_refits"], 1)
        ts = t.column("ts").to_numpy()
        self.assertTrue(np.all(ts[1:] >= ts[:-1]))
        self.assertEqual(t.column("event_id").to_pylist(), list(range(t.num_rows)))
        self.assertGreater(min(t.column("value").to_pylist()), 0)
        users = set(t.column("user_id").to_pylist())
        self.assertTrue(set(plan["orphans"]) <= users)
        burst = set(range(gen.N_SYMBOLS, gen.N_SYMBOLS + gen.BURST_SYMBOLS))
        self.assertTrue(burst <= users)
        self.assertLessEqual(len(users), gen.N_SYMBOLS + gen.BURST_SYMBOLS)

    def test_corpus_plan(self):
        docs, bench, emb, plan = gen.corpus_tables(3)
        texts = docs.column("text").to_pylist()
        for g in plan["exact_groups"]:
            if max(g) < plan["corpus_docs"]:
                self.assertEqual(len({texts[i] for i in g}), 1)
        bench_texts = set(bench.column("text").to_pylist())
        for j in plan["leaked_bench_docs"]:
            self.assertIn(texts[j], bench_texts)
        v = np.array(emb.column("embedding").to_pylist())
        for a, b in plan["vec_groups"]:
            self.assertGreater(float(v[a] @ v[b]), 0.9)
        self.assertEqual(docs.num_rows, plan["docs"])


if __name__ == "__main__":
    unittest.main()
