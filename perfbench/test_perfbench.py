"""Tests of the benchmark's own code: the percentile rule, span self time,
seed -> input determinism, the feed comparison and the reconciliation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import shutil
import tempfile
import unittest

import pyarrow.parquet as pq

import gen
import run
import stats


def span(id_, parent, start, end, name="x", op="pass1"):
    return {"id": id_, "parent": parent, "name": name, "op": op,
            "start_ns": start, "end_ns": end}


def scratch_dir(test):
    d = tempfile.mkdtemp()
    test.addCleanup(shutil.rmtree, d)
    return d


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_highest_level_with_ten_beyond(self):
        # 200 samples: p99 leaves 2 above it, p95 leaves exactly 10
        self.assertEqual(stats.supported_tail(list(range(200))), (95, 189))
        # 199 samples: p95's rank is 190, leaving 9 -> fall back to p90
        self.assertEqual(stats.supported_tail(list(range(199)))[0], 90)
        self.assertEqual(stats.supported_tail(list(range(100)))[0], 90)
        self.assertEqual(stats.supported_tail(list(range(40)))[0], 75)
        self.assertEqual(stats.supported_tail(list(range(20)))[0], 50)

    def test_too_few_samples_support_nothing(self):
        self.assertIsNone(stats.supported_tail(list(range(19))))
        self.assertIsNone(stats.supported_tail([]))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(stats.supported_tail(xs), stats.supported_tail(sorted(xs)))

    def test_op_gmean_of_per_op_medians(self):
        # two operations, three passes: per-op medians 2 and 200
        self.assertAlmostEqual(stats.op_gmean([[1, 100], [2, 200], [9, 900]]), 20.0)
        self.assertAlmostEqual(stats.op_gmean([[5.0]]), 5.0)

    def test_op_gmean_skips_passes_that_lost_an_operation(self):
        self.assertAlmostEqual(stats.op_gmean([[1, 100], [50], [1, 100]]), 10.0)
        self.assertEqual(stats.op_gmean([[]]), 0.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 40, 90)]
        self.assertEqual(stats.self_times(spans), {1: 30, 2: 20, 3: 50})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 1, 50, 70)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 40)]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 20, 3: 30})

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 10, 20), span(2, 1, 0, 15)]
        self.assertEqual(stats.self_times(spans)[1], 5)

    def test_layer_sums_reconcile_with_pass_wall(self):
        spans = [
            span(1, 0, 0, 1_000_000_000, name="pass", op="pass1"),
            span(2, 1, 0, 400_000_000, name="Cleaning.clean", op="pass1"),
            span(3, 1, 500_000_000, 900_000_000, name="Feeds.write", op="pass1"),
            span(4, 0, 0, 5_000_000_000, name="pass", op="pass0"),
            span(5, 0, 0, 1_000_000_000, name="pass", op="pass2"),
            span(6, 5, 0, 1_000_000_000, name="refresh", op="pass2.refresh0"),
        ]
        got = stats.layer_self_seconds(spans, {"pass1", "pass2"})
        self.assertAlmostEqual(got["Cleaning.clean"], 0.4)
        self.assertAlmostEqual(got["Feeds.write"], 0.4)
        self.assertAlmostEqual(got["refresh"], 1.0)
        self.assertAlmostEqual(got["pass"], 0.2)
        self.assertAlmostEqual(sum(got.values()), 2.0)

    def test_unreported_spans_are_unattributed(self):
        spans = [
            span(1, 0, 0, 1000, name="pass", op="pass1"),
            span(2, 1, 0, 400, name="Cleaning.clean", op="pass1"),
            span(3, 1, 500, 900, name="Params.build", op="pass1.refresh0"),
            span(4, 3, 500, 600, name="Feeds.write", op="pass1.refresh0"),
            span(5, 0, 0, 5000, name="pass", op="pass0"),
        ]
        reported = {"Cleaning.clean", "Feeds.write"}.__contains__
        # pass self 200 + unreported Params.build self 300 of a 1000 wall
        self.assertAlmostEqual(stats.unattributed_share(spans, {"pass1"}, reported), 0.5)
        everything = lambda name: True
        self.assertAlmostEqual(stats.unattributed_share(spans, {"pass1"}, everything), 0.2)
        self.assertEqual(stats.unattributed_share([], {"pass1"}, everything), 1.0)


class SeedDeterminism(unittest.TestCase):
    def _gen(self, profile, seed):
        d = scratch_dir(self)
        expected = gen.generate(profile, seed, d)
        tables = {f[:-len(".parquet")]: pq.read_table(os.path.join(d, f))
                  for f in sorted(os.listdir(d)) if f.endswith(".parquet")}
        return expected, tables

    def test_same_seed_same_inputs(self):
        e1, t1 = self._gen("pipe", 11)
        e2, t2 = self._gen("pipe", 11)
        self.assertEqual(e1, e2)
        self.assertEqual(sorted(t1), sorted(t2))
        for name in t1:
            self.assertTrue(t1[name].equals(t2[name]), name)

    def test_other_seed_other_inputs(self):
        _, t1 = self._gen("pipe", 11)
        _, t2 = self._gen("pipe", 12)
        self.assertFalse(t1["lineitem"].equals(t2["lineitem"]))

    def test_known_counts_match_the_tables(self):
        e, t = self._gen("pipe", 13)
        li = t["lineitem"].to_pydict()
        crit = gen.LINEITEM_CRITICAL
        n = len(li["l_orderkey"])
        nulls = sum(1 for i in range(n) if any(li[c][i] is None for c in crit))
        self.assertEqual(nulls, e["accounting"]["removed_nulls"])
        alive = [i for i in range(n) if not any(li[c][i] is None for c in crit)]
        qty = [i for i in alive if li["l_quantity"][i] <= 0]
        self.assertEqual(len(qty), e["accounting"]["removed_quantity"])
        ev = t["events"].to_pydict()
        clean = sum(1 for i in range(len(ev["ts"]))
                    if all(ev[c][i] is not None for c in gen.EVENT_CRITICAL))
        self.assertEqual(clean, e["events_clean_rows"])
        for rule in gen.RULES:
            self.assertGreater(e["accounting"][f"removed_{rule}"], 0, rule)

    def test_mix_corpus_ignores_the_seed(self):
        _, t1 = self._gen("mix", 1)
        _, t2 = self._gen("mix", 2)
        for name in t1:
            self.assertTrue(t1[name].equals(t2[name]), name)


class FeedCheck(unittest.TestCase):
    def _pass_dir(self, rows_by_feed):
        d = scratch_dir(self)
        for feed, rows in rows_by_feed.items():
            os.makedirs(os.path.join(d, "feeds", f"{feed}_json"))
            with open(os.path.join(d, "feeds", f"{feed}_json", "part-00000.json"), "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rows)
        return d

    def test_row_order_and_last_bits_do_not_matter(self):
        a = self._pass_dir({"hist": [{"b": 1, "v": 0.1 + 0.2}, {"b": 2, "v": 1.0}]})
        b = self._pass_dir({"hist": [{"b": 2, "v": 1.0}, {"b": 1, "v": 0.3}]})
        self.assertEqual(run.feed_failures([a, b]), [])

    def test_changed_row_is_a_failure(self):
        a = self._pass_dir({"hist": [{"b": 1, "v": 0.3}]})
        b = self._pass_dir({"hist": [{"b": 1, "v": 0.31}]})
        self.assertEqual(run.feed_failures([a, b]), ["pass 1 feeds differ from pass 0"])

    def test_empty_feeds_are_a_failure(self):
        a = self._pass_dir({"hist": []})
        self.assertEqual(len(run.feed_failures([a, a])), 1)


class Reconcile(unittest.TestCase):
    def _reduce(self, child):
        res = {"workload": "w", "seed": 1, "host": {}, "first_pass_s": 3.0,
               "warm_untraced_s": [1.0], "warm_traced_s": [1.0], "ops_ms": [[1.0]],
               "failures": [], "layers": {"GraftSession.codegen_compile_s": 0.0,
                                          "GraftSession.codegen_compile_warm_s": 0.0,
                                          "cold.staging_s": 0.0}}
        spans = [span(1, 0, 0, 1_000_000_000, name="pass", op="pass1"),
                 span(2, 1, 0, 950_000_000, name=child, op="pass1")]
        metrics, record = run.reduce(res, spans, 1, ["trace.unattributed_share"])
        return res["failures"], record, metrics

    def test_reported_layers_reconcile(self):
        failures, record, metrics = self._reduce("Feeds.write")
        self.assertEqual(failures, [])
        self.assertTrue(record["reconciled"])
        self.assertAlmostEqual(metrics["trace.unattributed_share"], 0.05)

    def test_time_in_an_unreported_span_is_a_failure(self):
        failures, record, metrics = self._reduce("Feeds.helper")
        self.assertEqual(len(failures), 1)
        self.assertEqual(record["failures"], failures)
        self.assertFalse(record["reconciled"])


if __name__ == "__main__":
    unittest.main()
