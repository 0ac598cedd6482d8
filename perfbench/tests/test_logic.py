"""Tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import re
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import check  # noqa: E402
import metrics  # noqa: E402
import plan  # noqa: E402
import run  # noqa: E402

REGISTRY = [f"q{i:02d}_x" for i in range(1, 212)]


def corpus(n=60):
    rng = random.Random(7)
    return [" ".join(rng.choice(plan.datagen.VOCAB) for _ in range(rng.randint(10, 80)))
            for _ in range(n)]


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        vals = list(range(1, 101))
        self.assertEqual(metrics.percentile(vals, 0.9), 90)
        self.assertEqual(metrics.percentile(vals, 0.5), 50)
        self.assertEqual(metrics.percentile([3.0], 0.9), 3.0)

    def test_p90_needs_ten_beyond(self):
        self.assertEqual(metrics.p90(list(range(100)))[1:], (10, True))
        self.assertEqual(metrics.p90(list(range(99)))[1:], (9, False))
        self.assertEqual(metrics.p90(list(range(250)))[1:], (25, True))

    def test_order_free(self):
        vals = [random.Random(1).random() for _ in range(120)]
        self.assertEqual(metrics.p90(vals), metrics.p90(sorted(vals, reverse=True)))


class Digest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = metrics.frame(["x", "y"], [[1, "a"], [2, "b"]])
        b = metrics.frame(["y", "x"], [["b", 2], ["a", 1]])
        self.assertEqual(metrics.digest(a), metrics.digest(b))

    def test_types_are_tagged(self):
        ints = metrics.frame(["x"], [[1], [2]])
        floats = metrics.frame(["x"], [[1.0], [2.0]])
        self.assertNotEqual(metrics.digest(ints), metrics.digest(floats))

    def test_tagged_engine_rows_match_duckdb(self):
        sql = ("SELECT 7 AS n, CAST(2.5 AS DOUBLE) AS d, 'x' AS s, "
               "TIMESTAMP '2024-01-02 03:04:05.25' AS t, NULL AS z, [1, 2] AS arr")
        want = metrics.digest(duckdb.connect().execute(sql).df())
        got = metrics.frame(["n", "d", "s", "t", "z", "arr"],
                            [[7, 2.5, "x", {"$t": "2024-01-02T03:04:05.250"}, None, [1, 2]]])
        self.assertEqual(metrics.digest(got), want)

    def test_value_change_changes_digest(self):
        a = metrics.frame(["x"], [[1.0], [2.0]])
        b = metrics.frame(["x"], [[1.0], [2.000001]])
        self.assertNotEqual(metrics.digest(a), metrics.digest(b))


class SelfTime(unittest.TestCase):
    def span(self, name, a, b):
        return {"name": name, "start": a, "end": b}

    def test_nested_children(self):
        spans = [self.span("op", 0.0, 10.0), self.span("build", 0.0, 3.0),
                 self.span("exec", 3.0, 9.0), self.span("catalyst.optimization", 3.5, 4.0),
                 self.span("catalyst.planning", 4.0, 4.5), self.span("catalyst.analysis", 1.0, 1.2)]
        got = {s["name"]: round(t, 9) for s, t in metrics.self_times(spans)}
        self.assertEqual(got["op"], 1.0)
        self.assertEqual(got["build"], 2.8)
        self.assertEqual(got["exec"], 5.0)
        self.assertEqual(got["catalyst.planning"], 0.5)

    def test_self_times_sum_to_root(self):
        spans = [self.span("op", 0.0, 5.0), self.span("index.append", 0.0, 1.0),
                 self.span("index.incr_dedup", 1.0, 4.0), self.span("index.read", 4.0, 4.9)]
        self.assertAlmostEqual(sum(t for _, t in metrics.self_times(spans)), 5.0)

    def test_overlapping_children_counted_once(self):
        self.assertAlmostEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)


class Determinism(unittest.TestCase):
    def test_same_seed_same_plan(self):
        texts = corpus()
        for w in plan.WORKLOADS:
            a = plan.make(w, 11, REGISTRY, texts, n_passes=5)
            b = plan.make(w, 11, REGISTRY, texts, n_passes=5)
            self.assertEqual(a, b, w)

    def test_seed_changes_order_literals_and_batches(self):
        texts = corpus()
        ops1, passes1, _ = plan.make("tool-calls", 1, REGISTRY, n_passes=3)
        ops2, passes2, _ = plan.make("tool-calls", 2, REGISTRY, n_passes=3)
        self.assertNotEqual([o.get("sql") for o in ops1], [o.get("sql") for o in ops2])
        self.assertNotEqual(passes1, passes2)
        _, _, b1 = plan.make("corpus-batch", 1, REGISTRY, texts, n_passes=2)
        _, _, b2 = plan.make("corpus-batch", 2, REGISTRY, texts, n_passes=2)
        self.assertNotEqual(b1, b2)

    def test_seed_draws_literals_not_the_template_mix(self):
        def shapes(seed):
            ops = plan.make("tool-calls", seed, REGISTRY, n_passes=1)[0]
            return [re.sub(r"'[^']*'|[0-9.]+", "?", o["sql"])
                    for o in ops if o["kind"] == "gate" and not o.get("reject")]
        self.assertEqual(shapes(1), shapes(2))
        self.assertEqual(len(set(shapes(1))), 8)

    def test_every_registry_query_has_one_workload(self):
        tables, extraction, corp = plan.classify(REGISTRY)
        self.assertEqual(sorted(tables + extraction + corp), sorted(REGISTRY))
        self.assertIn("q105_x", corp)
        self.assertIn("q148_x", extraction)
        self.assertIn("q156_x", corp)

    def test_each_pass_runs_every_read_and_fresh_cycles(self):
        ops, passes, batches = plan.make("corpus-batch", 3, REGISTRY, corpus(), n_passes=4)
        reads = [i for i, o in enumerate(ops) if o["kind"] == "registry"]
        seen_cycles = []
        for order in passes:
            self.assertEqual(sorted(i for i in order if i in reads), reads)
            seen_cycles += [ops[i]["cycle"] for i in order if ops[i]["kind"] == "ingest"]
        self.assertEqual(seen_cycles, sorted(seen_cycles))
        self.assertEqual(len(set(seen_cycles)), len(seen_cycles))


class TraceOverhead(unittest.TestCase):
    def test_pairs_alternate_which_side_runs_first(self):
        w = 3
        t = plan.traced_passes(w + 8, w)
        self.assertFalse(any(t[:w]))
        pairs = [(t[p], t[p + 1]) for p in range(w, w + 8, 2)]
        self.assertEqual(pairs, [(True, False), (False, True)] * 2)

    def test_overhead_is_per_pair_difference(self):
        w = 2
        t = plan.traced_passes(w + 4, w)
        walls = [9.0] * w + [5.5, 5.0, 4.0, 4.25]
        passes = [{"pass": p, "traced": t[p], "wall_s": x} for p, x in enumerate(walls)]
        self.assertEqual(run.overhead_pairs(passes, w), [0.5, 0.25])
        self.assertEqual(run.overhead_pairs(passes[:w + 3], w), [0.5])


class IngestCheck(unittest.TestCase):
    def setUp(self):
        self.texts = corpus()
        _, _, batches = plan.make("corpus-batch", 5, REGISTRY, self.texts, n_passes=1)
        self.batch = batches[0]
        self.by_id = dict(enumerate(self.texts))
        self.by_id.update(zip(self.batch["ids"], self.batch["texts"]))

    def rec(self, pairs, lookup=None):
        return {"pairs": pairs, "lookup": self.batch["ids"] if lookup is None else lookup}

    def planted(self):
        return [[src, new, 0.95] for new, src in self.batch["planted"]]

    def test_planted_pairs_are_true_near_duplicates(self):
        for new, src in self.batch["planted"]:
            j = plan.jaccard(plan.shingles(self.by_id[new]), plan.shingles(self.by_id[src]))
            self.assertGreaterEqual(j, 0.93)

    def test_complete_cycle_passes(self):
        self.assertIsNone(check.check_ingest(self.rec(self.planted()), self.batch, self.by_id))

    def test_missing_planted_pair_fails(self):
        self.assertIn("missing", check.check_ingest(self.rec(self.planted()[1:]), self.batch, self.by_id))

    def test_low_jaccard_pair_fails(self):
        bad = self.planted() + [[self.batch["ids"][-1], self.batch["ids"][-2], 0.9]]
        self.assertIn("Jaccard", check.check_ingest(self.rec(bad), self.batch, self.by_id))

    def test_lookup_must_return_the_batch(self):
        self.assertIn("lookup", check.check_ingest(
            self.rec(self.planted(), self.batch["ids"][1:]), self.batch, self.by_id))

    def test_short_text_is_one_shingle(self):
        self.assertEqual(plan.shingles("A b"), frozenset([("a", "b")]))
        self.assertEqual(len(plan.shingles("a b c d")), 2)


if __name__ == "__main__":
    unittest.main()
