"""Tests for the benchmark's own pieces: the seeded generators, the
interval union behind `sched.no_task_s`, the tail-percentile rule, the
pass and latency figures, and the suite's stratified sample.

Run: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import random
import re
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import corpus  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402


def same_tree(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a = corpus.generate(os.path.join(d, "a"), 11, megabytes=0.3)
            b = corpus.generate(os.path.join(d, "b"), 11, megabytes=0.3)
            c = corpus.generate(os.path.join(d, "c"), 12, megabytes=0.3)
            self.assertEqual(a, b)
            self.assertTrue(same_tree(os.path.join(d, "a"), os.path.join(d, "b")))
            self.assertFalse(same_tree(os.path.join(d, "a"), os.path.join(d, "c")))
            self.assertNotEqual(a[0], c[0])

    def test_counts_match_an_independent_tokenizer(self):
        """The known counts equal a re-count of the written files with the
        engine's rule: fold `İ` to `i`, lower-case, split on runs of
        characters that are neither letters nor digits."""
        with tempfile.TemporaryDirectory() as d:
            counts, tokens, size = corpus.generate(d, 5, megabytes=0.3)
            got = {}
            total = 0
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    text = fh.read()
                total += len(text.encode("utf-8"))
                word = []
                for ch in corpus.fold(text) + " ":
                    if ch.isalnum():
                        word.append(ch)
                    elif word:
                        w = "".join(word)
                        got[w] = got.get(w, 0) + 1
                        word = []
            self.assertEqual(got, counts)
            self.assertEqual(sum(counts.values()), tokens)
            self.assertEqual(total, size)

    def test_vocabulary_is_unicode_and_skewed(self):
        vocab = corpus.vocabulary()
        forms = [f for fs, _ in vocab for f in fs]
        self.assertTrue(any(f.startswith("İ") for f in forms))
        for script in (r"[Ѐ-ӿ]", r"[Ͱ-Ͽ]", r"[؀-ۿ]",
                       r"[一-鿿]", r"[가-힯]"):
            self.assertTrue(any(re.search(script, f) for f in forms), script)
        for fs, key in vocab:
            for f in fs:
                self.assertEqual(corpus.fold(f), key)
        with tempfile.TemporaryDirectory() as d:
            counts, tokens, _ = corpus.generate(d, 3, megabytes=0.3)
        top = sorted(counts.values(), reverse=True)
        self.assertGreater(sum(top[:100]), 0.3 * tokens)


class TablesTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            tables.generate(os.path.join(d, "a"), sf=0.001, seed=42)
            tables.generate(os.path.join(d, "b"), sf=0.001, seed=42)
            self.assertEqual(sorted(os.listdir(os.path.join(d, "a"))),
                             sorted(f"{t}.parquet" for t in tables.TABLES))
            self.assertTrue(same_tree(os.path.join(d, "a"), os.path.join(d, "b")))


class IntervalUnionTest(unittest.TestCase):
    def test_cases(self):
        u = metrics.interval_union
        self.assertEqual(u([]), 0.0)
        self.assertEqual(u([(0, 10)]), 10)
        self.assertEqual(u([(0, 10), (20, 25)]), 15)
        self.assertEqual(u([(0, 10), (5, 15)]), 15)
        self.assertEqual(u([(0, 10), (2, 3), (4, 9)]), 10)
        self.assertEqual(u([(5, 15), (0, 10), (15, 20)]), 20)
        self.assertEqual(u([(3, 3), (4, 2)]), 0.0)

    def test_matches_brute_force(self):
        rng = random.Random(1)
        for _ in range(200):
            ivs = []
            for _ in range(rng.randint(0, 12)):
                s = rng.randint(0, 60)
                ivs.append((s, s + rng.randint(0, 15)))
            covered = {x for s, e in ivs for x in range(s, e)}
            self.assertEqual(metrics.interval_union(ivs), len(covered))

    def test_clip(self):
        self.assertEqual(metrics.clip([(0, 10), (12, 30), (40, 50)], 5, 20), [(5, 10), (12, 20)])


class PercentileRuleTest(unittest.TestCase):
    def test_rule(self):
        tp = metrics.tail_percentile
        self.assertEqual(tp(1), 50.0)
        self.assertEqual(tp(19), 50.0)
        self.assertEqual(tp(20), 50.0)
        self.assertEqual(tp(40), 75.0)
        self.assertEqual(tp(51), 80.3)
        self.assertEqual(tp(100), 90.0)
        self.assertEqual(tp(200), 95.0)
        self.assertEqual(tp(5000), 95.0)

    def test_at_least_ten_beyond(self):
        rng = random.Random(2)
        for n in range(20, 400, 7):
            xs = [rng.random() for _ in range(n)]
            p = metrics.tail_percentile(n)
            v = metrics.percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4, 5], 50), 3)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([5, 1], 100), 5)
        self.assertAlmostEqual(metrics.percentile(list(range(11)), 95), 9.5)


def span(name, p, start, end, timed=True):
    return {"name": name, "pass": p, "timed": timed, "start_ms": start, "end_ms": end,
            "fn_end_ms": start}


class PassFiguresTest(unittest.TestCase):
    def test_pass_wall_leaves_out_the_gaps(self):
        runs = [span("a", 2, 0, 1000), span("b", 2, 1500, 2000), span("a", 3, 3000, 3800),
                span("b", 3, 4000, 4600)]
        self.assertEqual(metrics.pass_walls(runs), [1.5, 1.4])

    def test_latency_is_each_querys_best(self):
        runs = [span("a", 2, 0, 1000), span("b", 2, 1000, 3000), span("a", 3, 0, 1200),
                span("b", 3, 0, 1500)]
        self.assertEqual(sorted(metrics.latencies(runs)), [1.0, 1.5])

    def test_one_job_workload_samples_every_run(self):
        runs = [span("wordcount", p, 0, 1000 + 100 * p) for p in (2, 3, 4)]
        self.assertEqual(metrics.latencies(runs), [1.2, 1.3, 1.4])

    def test_run_index(self):
        index = metrics.RunIndex([span("b", 1, 50, 60), span("a", 1, 0, 10)])
        self.assertEqual(index.find(5)["name"], "a")
        self.assertEqual(index.find(55)["name"], "b")
        self.assertIsNone(index.find(10))
        self.assertIsNone(index.find(30))
        self.assertIsNone(index.find(-1))


class SuiteSampleTest(unittest.TestCase):
    def profile(self):
        rng = random.Random(3)
        cat = {f"q{i:03d}": {"wall_s": rng.uniform(0.1, 3.0), "jobs": rng.randint(1, 20)}
               for i in range(100)}
        solo = {n: {"wall_s": q["wall_s"] * rng.uniform(1.0, 2.0),
                    "jobs": q["jobs"] + rng.randint(0, 10)} for n, q in cat.items()}
        return {"queries": cat, "solo": solo}

    def test_one_query_per_stratum(self):
        prof = self.profile()
        cat, solo = prof["queries"], prof["solo"]
        picks = run.suite_sample(prof, size=10, looping="none")
        order = sorted(cat, key=lambda n: (cat[n]["wall_s"], n))
        self.assertEqual([order.index(n) // 10 for n in picks], list(range(10)))
        for i, n in enumerate(picks):
            stratum = order[10 * i:10 * i + 10]
            jobs = statistics.mean(cat[m]["jobs"] for m in stratum)
            wall = statistics.median(cat[m]["wall_s"] for m in stratum)

            def dist(m):
                return abs(solo[m]["jobs"] - jobs) / jobs + abs(solo[m]["wall_s"] - wall) / wall
            self.assertEqual(dist(n), min(dist(m) for m in stratum))

    def test_looping_query_takes_its_stratum(self):
        picks = run.suite_sample(self.profile(), size=10, looping="q042")
        self.assertIn("q042", picks)
        self.assertEqual(len(set(picks)), 10)

    def test_committed_sample(self):
        prof = run.load_profile()
        self.assertEqual(set(prof["queries"]), set(prof["solo"]))
        with open(run.DIGESTS) as fh:
            self.assertEqual(set(prof["queries"]), set(json.load(fh)["queries"]))
        picks = run.suite_sample(prof)
        self.assertEqual(len(picks), run.SUITE_SIZE)
        self.assertIn(run.SUITE_LOOPING, picks)
        self.assertEqual(run.suite_names(5), run.suite_names(5))
        self.assertEqual(sorted(run.suite_names(5)), sorted(picks))


class CompareTest(unittest.TestCase):
    HOST = {"nproc": 4, "cpu_model": "x", "mem_total": "16 GB", "master": "local[4]",
            "jdk": "17", "spark": "4.1.2"}

    def record(self, wall, **host):
        return {"workload": "suite", "host": dict(self.HOST, **host),
                "end_to_end": {"wall_s": wall}}

    def test_same_host_compares(self):
        lines, refused = compare.compare(self.record(10.0), self.record(12.0))
        self.assertFalse(refused)
        self.assertIn("x1.200", lines[0])

    def test_other_host_is_refused(self):
        lines, refused = compare.compare(self.record(10.0), self.record(5.0, nproc=32))
        self.assertTrue(refused)
        self.assertIn("nproc: 4 vs 32", lines[0])


if __name__ == "__main__":
    unittest.main()
