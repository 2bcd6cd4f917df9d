"""Tests for the benchmark's own code: statistics, self-time arithmetic
and generator determinism.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond(self):
        xs = list(range(1, 201))  # 200 distinct samples
        self.assertEqual(stats.percentile(xs, 95), 190)
        self.assertEqual(stats.beyond(xs, 95), 10)
        self.assertEqual(stats.tail_percentile(xs), 95.0)

    def test_short_run_falls_back_to_lower_percentile(self):
        xs = list(range(1, 200))  # 199 samples: only 9 beyond p95
        self.assertEqual(stats.beyond(xs, 95), 9)
        self.assertEqual(stats.tail_percentile(xs), 90.0)

    def test_highest_percentile_is_chosen(self):
        self.assertEqual(stats.tail_percentile(list(range(10_000))), 99.9)
        self.assertEqual(stats.tail_percentile(list(range(1000))), 99.0)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail_percentile(list(range(15))))
        self.assertIsNone(stats.tail_percentile([]))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 190 + [5.0] * 10 + [7.0]
        self.assertEqual(stats.percentile(xs, 95), 5.0)
        self.assertEqual(stats.beyond(xs, 95), 1)


class MedianAndQuartiles(unittest.TestCase):
    def test_middle_quartile_is_the_median(self):
        for xs in ([3, 1, 2], [4, 1, 3, 2], [10.0, 12.0, 11.0, 13.0, 15.0, 9.0, 10.5]):
            self.assertEqual(stats.quartiles(xs)[1], statistics.median(xs))

    def test_quartiles_match_statistics_module(self):
        xs = [10.0, 12.0, 11.0, 13.0, 15.0, 9.0, 10.5, 12.5, 11.5, 14.0]
        self.assertEqual(list(stats.quartiles(xs)), statistics.quantiles(xs, n=4))
        self.assertEqual(stats.quartiles([2.0] * 10), (2.0, 2.0, 2.0))

    def test_single_sample(self):
        self.assertEqual(stats.quartiles([7.5]), (7.5, 7.5, 7.5))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 5), (4, 8)]), 3)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (9, 20), (30, 40)]), 7)

    def test_union(self):
        self.assertEqual(stats.union_ms([(0, 1), (0.5, 2), (3, 4)]), 3)
        self.assertEqual(stats.union_ms([]), 0)

    def test_self_times_of_a_span_tree(self):
        spans = [
            {"id": "op", "parent": "run", "start": 0, "end": 100},
            {"id": "build", "parent": "op", "start": 0, "end": 30},
            {"id": "exec", "parent": "op", "start": 40, "end": 100},
            {"id": "job", "parent": "exec", "start": 50, "end": 90},
        ]
        self.assertEqual(layers.self_times(spans),
                         {"op": 10, "build": 30, "exec": 20, "job": 40})


    def test_span_tree_places_sql_under_its_layer_call(self):
        op = {"id": "p1.q1_agg", "pass": 1, "start": 0, "end": 100}
        raw = {"setup_ops": [], "ops": [op], "spans": [
            {"id": "op:p1.q1_agg", "parent": "pass:1", "kind": "op", "start": 0, "end": 100},
            {"id": "layer:p1.q1_agg:build", "parent": "op:p1.q1_agg", "kind": "layer",
             "start": 0, "end": 40},
            {"id": "layer:p1.q1_agg:exec", "parent": "op:p1.q1_agg", "kind": "layer",
             "start": 40, "end": 100},
            {"id": "sql:7", "parent": "op:p1.q1_agg", "kind": "sql", "start": 50, "end": 90},
            {"id": "job:3", "parent": "sql:7", "kind": "job", "start": 60, "end": None},
        ]}
        tree = {s["id"]: s for s in layers.span_tree(raw)}
        self.assertEqual(tree["sql:7"]["parent"], "layer:p1.q1_agg:exec")
        self.assertEqual(tree["pass:1"]["parent"], "run")
        self.assertEqual((tree["run"]["start"], tree["run"]["end"]), (0, 100))
        self.assertNotIn("job:3", tree)  # never closed
        self.assertEqual(layers.self_times(list(tree.values()))["layer:p1.q1_agg:exec"], 20)


class TraceOverhead(unittest.TestCase):
    def test_overhead_within_the_noise_is_zero(self):
        seq = [(False, 100.0), (True, 110.0), (False, 100.0), (True, 90.0),
               (False, 100.0), (True, 104.0), (False, 100.0)]
        over, noise, measured = layers.trace_overhead(seq)
        q1, _, q3 = statistics.quantiles([1.1, 0.9, 1.04], n=4)
        self.assertAlmostEqual(noise, (q3 - q1) / 1.04)
        self.assertAlmostEqual(measured, 0.04)
        self.assertEqual(over, 0.0)

    def test_overhead_beyond_the_noise_is_reported(self):
        seq = [(False, 100.0), (True, 121.0), (False, 100.0), (True, 120.0), (False, 100.0),
               (True, 119.0)]
        over, noise, _ = layers.trace_overhead(seq)
        self.assertLess(noise, 0.05)
        self.assertAlmostEqual(over, 0.2)

    def test_neighbours_cancel_a_steady_drift(self):
        # untraced units speed up 10 ms a unit (warm-up); tracing adds 5 %
        seq = [(k % 2 == 1, (200.0 - 10 * k) * (1.05 if k % 2 else 1.0)) for k in range(9)]
        self.assertAlmostEqual(layers.trace_overhead(seq)[2], 0.05)

    def test_one_pair_measures_no_overhead(self):
        self.assertEqual(layers.trace_overhead([(False, 100.0), (True, 150.0)])[:2],
                         (0.0, float("inf")))


class Generator(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertTrue(gen.documents(7, 300, 8, 100).equals(gen.documents(7, 300, 8, 100)))
        self.assertEqual(gen.questions(7, 50), gen.questions(7, 50))
        a, b = gen.catalog_tables(7, 0.001), gen.catalog_tables(7, 0.001)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_seeds_vary_content_not_size(self):
        a, b = gen.catalog_tables(1, 0.001), gen.catalog_tables(2, 0.001)
        for name in ("lineitem", "orders", "events", "documents", "embeddings"):
            self.assertEqual(a[name].num_rows, b[name].num_rows, name)
            self.assertFalse(a[name].equals(b[name]), name)
        self.assertNotEqual(gen.questions(1, 50), gen.questions(2, 50))

    def test_documents_shape(self):
        d = gen.documents(3, 5000, 8, 100).to_pydict()
        lengths = d["n_chars"]
        self.assertEqual(lengths, [len(t) for t in d["text"]])
        # some documents take the chunker's 450-stride path
        long_share = sum(n > 500 for n in lengths) / len(lengths)
        self.assertTrue(0.04 < long_share < 0.15, long_share)
        self.assertTrue(all(n >= 10 for n in lengths))
        words = {w for t in d["text"] for w in t.split(" ")}
        self.assertLessEqual(words, set(gen.VOCAB) | {gen.DUP})
        self.assertEqual(sum(t.endswith(" " + gen.DUP) for t in d["text"]), 250)

    def test_questions_are_two_to_six_vocabulary_tokens(self):
        for q in gen.questions(5, 200):
            toks = q.split(" ")
            self.assertTrue(2 <= len(toks) <= 6)
            self.assertLessEqual(set(toks), set(gen.VOCAB))


if __name__ == "__main__":
    unittest.main()
