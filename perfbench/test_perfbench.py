"""Tests for the benchmark's own logic (no JVM, no Spark):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
import metrics  # noqa: E402
import plan  # noqa: E402

# one name per family prefix, a few extra per family, plus the loops/replays
CATALOG = (["flagship_reconcile", "j1_lookup", "j_fuzzy_match", "p5_filter", "a1_qty",
            "a_stats", "w1_rank", "w_wow_change", "k4_state", "f1_units", "f14_dates",
            "nested_flatten_actions", "set_ops_membership", "dd_minhash", "dd_simhash",
            "ann_topk", "t_bpe_tokens", "t_ngrams", "mm_phash", "s_chunk", "skew_salted",
            "emb_mips", "g_triangle_count", "geo_grid_join", "sq_exists", "corpus_full",
            "audit_skew"] + plan.FIXPOINT_LOOPS + plan.STREAM_REPLAYS)


class SamplerTest(unittest.TestCase):
    def test_family_of_follows_the_catalog_doc_rules(self):
        self.assertEqual(plan.family_of("a1_qty"), "a")
        self.assertEqual(plan.family_of("j_fuzzy_match"), "j")
        self.assertEqual(plan.family_of("flagship_reconcile"), "flagship")
        self.assertEqual(plan.family_of("set_ops_membership"), "set")
        self.assertEqual(plan.family_of("skew_salted"), "skew")
        self.assertEqual(plan.family_of("geo_grid_join"), "g")
        self.assertEqual(plan.family_of("sq_exists"), "sq")

    def test_mix_is_deterministic(self):
        self.assertEqual(plan.mix_sample(CATALOG), plan.mix_sample(list(reversed(CATALOG))))
        self.assertEqual(plan.mix_sample(CATALOG, seed=7), plan.mix_sample(CATALOG, seed=7))

    def test_mix_covers_every_family_and_one_loop_and_one_replay(self):
        mix = plan.mix_sample(CATALOG)
        self.assertEqual({plan.family_of(n) for n in mix}, set(plan.FAMILIES))
        self.assertEqual(len(set(mix) & set(plan.FIXPOINT_LOOPS)), 1)
        self.assertEqual(len(set(mix) & set(plan.STREAM_REPLAYS)), 1)

    def test_interleave_is_seeded_and_never_repeats_back_to_back(self):
        mix = plan.mix_sample(CATALOG)
        a = plan.interleave(mix, seed=3, passes=10)
        self.assertEqual(a, plan.interleave(mix, seed=3, passes=10))
        self.assertNotEqual(a, plan.interleave(mix, seed=4, passes=10))
        self.assertTrue(all(x != y for x, y in zip(a, a[1:])))
        for p in range(10):
            self.assertEqual(sorted(a[p * len(mix):(p + 1) * len(mix)]), mix)

    def test_dispatch_windows_overlap_by_half_and_replay(self):
        ws = plan.dispatch_windows(seed=5, max_orderkey=150000, cycles=12, size=500)
        self.assertEqual(ws, plan.dispatch_windows(seed=5, max_orderkey=150000, cycles=12,
                                                   size=500))
        self.assertEqual(len(ws), 12)
        fresh = [w for w in ws if not w[3]]
        for (lo1, hi1, _, _), (lo2, hi2, _, _) in zip(fresh, fresh[1:]):
            self.assertEqual(lo2 - lo1, (hi1 - lo1) // 2)
        replays = [w for w in ws if w[3]]
        self.assertTrue(replays)
        self.assertTrue(all((w[0], w[1]) in {(f[0], f[1]) for f in fresh} for w in replays))
        self.assertTrue(all(hi <= 150000 for _, hi, _, _ in ws))
        self.assertEqual(len({w[2] for w in ws}), len(ws))  # distinct batch times


    def test_window_holds_the_pipeline_spec_rows(self):
        # 600000 lineitem rows over 150000 orderkeys: 4 rows per key
        self.assertEqual(plan.window_keys(150000, 600000), 500)
        self.assertEqual(plan.window_keys(150000, 600000, rows_per_window=4000), 1000)

    def test_op_count_follows_seconds_only(self):
        self.assertEqual(plan.op_count(15, plan.CATALOG_PASS_S), 1)
        self.assertEqual(plan.op_count(15, plan.DISPATCH_CYCLE_S), 8)
        self.assertEqual(plan.op_count(1, 15.0), 1)
        self.assertEqual(plan.op_count(30, 15.0), 2)


class TailTest(unittest.TestCase):
    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(10))
        self.assertEqual(metrics.tail_percentile(11), 9)
        self.assertEqual(metrics.tail_percentile(20), 52)
        self.assertEqual(metrics.tail_percentile(40), 76)
        self.assertEqual(metrics.tail_percentile(110), 91)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        for n in range(11, 500):
            p = metrics.tail_percentile(n)
            xs = list(range(n))
            self.assertGreaterEqual(sum(1 for x in xs if x > metrics.percentile(xs, p)), 10)
            if p < 100:
                self.assertLess(sum(1 for x in xs if x > metrics.percentile(xs, p + 1)), 10)

    def test_tail_of_few_samples_is_the_max(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([5], 90), 5)


def span(i, name, start, end, parent=-1, op=0):
    return {"id": i, "name": name, "start_ms": start, "end_ms": end, "parent": parent, "op": op}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [span(0, "op", 0, 1000), span(1, "queries.build", 0, 400, 0),
                 span(2, "queries.action", 400, 1000, 0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["op"], 0.0)
        self.assertAlmostEqual(st["queries.build"], 0.4)
        self.assertAlmostEqual(st["queries.action"], 0.6)

    def test_overlapping_children_count_once_and_are_clipped(self):
        spans = [span(0, "op", 0, 1000), span(1, "spark.job", 100, 500, 0),
                 span(2, "spark.job", 300, 700, 0), span(3, "spark.job", 900, 1200, 0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["op"], (1000 - 600 - 100) / 1000)
        self.assertAlmostEqual(st["spark.job"], (400 + 400 + 300) / 1000)

    def test_nested_three_levels(self):
        spans = [span(0, "op", 0, 1000), span(1, "queries.build", 0, 800, 0),
                 span(2, "sources.table_load", 100, 200, 1), span(3, "spark.job", 120, 180, 2)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["op"], 0.2)
        self.assertAlmostEqual(st["queries.build"], 0.7)
        self.assertAlmostEqual(st["sources.table_load"], 0.04)
        self.assertAlmostEqual(st["spark.job"], 0.06)

    def test_attach_picks_innermost_containing_span(self):
        spans = [span(0, "op", 0, 1000, op=7), span(1, "queries.build", 0, 400, 0, op=7)]
        tree = metrics.attach(spans, [{"id": "job1", "name": "spark.job",
                                       "start_ms": 100, "end_ms": 150},
                                      {"id": "job2", "name": "spark.job",
                                       "start_ms": 2000, "end_ms": 2100}])
        by = {s["id"]: s for s in tree}
        self.assertEqual((by["job1"]["parent"], by["job1"]["op"]), (1, 7))
        self.assertEqual(by["job2"]["parent"], -1)


def op(i, name="q", s=1.0, error=None, window="plain"):
    return {"id": i, "name": name, "s": s, "error": error, "window": window}


class FailureAccountingTest(unittest.TestCase):
    def test_thrown_and_check_failed_ops_are_failures_not_samples(self):
        ops = [op(0, "a", 1.0), op(1, "b", 9.0, error="boom"), op(2, "c", 5.0),
               op(3, "a", 2.0), op(4, "d", 3.0)]
        ok, failed = metrics.account(ops, bad_names={"c"}, bad_ids={("plain", 4)})
        self.assertEqual([o["id"] for o in ok], [0, 3])
        self.assertEqual([o["id"] for o in failed], [1, 2, 4])
        m, detail = metrics.end_to_end([0.5], ok, window_wall_s=10.0, retained_mb=100.0)
        self.assertEqual(m["op_p50_s"][0], 1.5)
        self.assertEqual(m["ops_per_s"][0], 0.2)
        self.assertEqual(detail["op_samples"], 2)

    def test_windows_are_kept_apart(self):
        ops = [op(0, window="plain"), op(0, window="traced")]
        ok, failed = metrics.account(ops, bad_ids={("traced", 0)})
        self.assertEqual([o["window"] for o in ok], ["plain"])
        self.assertEqual([o["window"] for o in failed], ["traced"])


class TraceOverheadTest(unittest.TestCase):
    def test_overhead_is_traced_minus_untraced(self):
        m = metrics.trace_overhead(10.0, 11.0, 4)
        self.assertAlmostEqual(m["trace.overhead_s"][0], 0.25)
        self.assertAlmostEqual(m["trace.overhead_ratio"][0], 0.1)

    def test_late_events_of_untraced_ops_are_dropped(self):
        ops = [{"id": 0, "name": "q", "s": 1.0, "start_ms": 100, "end_ms": 200,
                "error": None, "window": "traced"}]
        win = {"start_ms": 0, "end_ms": 300, "wall_s": 0.1}
        stage = {"tasks": 4, "run_ms": 40, "cpu_ns": 1, "shuffle_read": 0,
                 "shuffle_write": 0, "spill": 0}
        qe = {"analysis_ms": 5, "optimization_ms": 0, "planning_ms": 0}
        records = {"ops": ops, "window": win, "spans": [],
                   "jobs": [{"id": 1, "start_ms": 110, "end_ms": 150, "call_site": "x"}],
                   "stages": [dict(stage, id=1, job=1), dict(stage, id=0, job=-1)],
                   "qes": [dict(qe, start_ms=120), dict(qe, start_ms=50)], "blocks": []}
        m, _ = metrics.per_layer(records, 4, set())
        self.assertEqual(m["session.tasks"][0], 4)
        self.assertEqual(m["plans.analysis_s"][0], 0.005)
        self.assertAlmostEqual(m["session.core_busy_ratio"][0], 0.1)


class OracleTest(unittest.TestCase):
    """The output checks catch a changed value, a lost row and a type
    change, and accept equal multisets in any order."""

    def setUp(self):
        import duckdb
        self.con = duckdb.connect()
        self.con.sql("CREATE TABLE lineitem AS SELECT * FROM (VALUES "
                     "(1, 10, 1, 5, 3.0), (1, 11, 2, 5, 4.0), (2, 12, 1, 6, 1.0), "
                     "(3, 13, 1, 7, 2.0)) t(l_orderkey, l_partkey, l_linenumber, "
                     "l_suppkey, l_quantity)")

    def rel(self, sql):
        return self.con.sql(sql)

    def test_compare(self):
        import oracle
        base = "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 'NaN'::DOUBLE)) t(k, s, x)"
        same = "SELECT * FROM (VALUES (2, 'b', NULL::DOUBLE), (1, 'a', 0.5)) t(k, s, x)"
        self.assertIsNone(oracle.compare(self.con, self.rel(base), self.rel(same)))
        changed = "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.0)) t(k, s, x)"
        self.assertIn("differ", oracle.compare(self.con, self.rel(base), self.rel(changed)))
        lost = "SELECT * FROM (VALUES (1, 'a', 0.5::DOUBLE)) t(k, s, x)"
        self.assertIn("rows", oracle.compare(self.con, self.rel(base), self.rel(lost)))
        typed = "SELECT k, s, x::DECIMAL(4,2) AS x FROM (VALUES (1, 'a', 0.5)) t(k, s, x)"
        self.assertIn("types", oracle.compare(self.con, self.rel(lost), self.rel(typed)))
        renamed = "SELECT * FROM (VALUES (1, 'a', 0.5::DOUBLE)) t(k, s, y)"
        self.assertIn("columns", oracle.compare(self.con, self.rel(lost), self.rel(renamed)))

    def test_check_dispatch(self):
        import oracle

        def cycle(i, lo, hi, eligible, dispatched, lake, state, replay=False):
            return {"id": i, "lo": lo, "hi": hi, "eligible": eligible, "dispatched": dispatched,
                    "lake_rows": lake, "state_rows": state, "replay": replay, "error": None}
        good = [cycle(0, 1, 3, 3, 3, 3, 3), cycle(1, 2, 4, 2, 1, 4, 4),
                cycle(2, 1, 3, 3, 0, 4, 4, replay=True)]
        self.assertEqual(oracle.check_dispatch(self.con, good), {0: None, 1: None, 2: None})
        double = [cycle(0, 1, 3, 3, 3, 3, 3), cycle(1, 1, 3, 3, 3, 6, 6, replay=True)]
        why = oracle.check_dispatch(self.con, double)[1]
        self.assertIn("dispatched 3 != 0 new keys", why)
        self.assertIn("replayed window dispatched 3", why)
        self.assertIn("state rows 6 != 3", why)


class BenchmarkFileTest(unittest.TestCase):
    """The metrics a run prints are exactly the ones BENCHMARK.json names."""

    def setUp(self):
        import json
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            self.bench = json.load(f)

    def test_end_to_end_names(self):
        m, _ = metrics.end_to_end([1.0], [op(0)], 1.0, 1.0)
        self.assertEqual(set(m), {x["name"] for x in self.bench["end_to_end"]})
        units = {x["name"]: x["unit"] for x in self.bench["end_to_end"]}
        self.assertEqual({k: u for k, (_, u) in m.items()}, units)

    def test_per_layer_names(self):
        win = {"start_ms": 0, "end_ms": 10, "wall_s": 1.0}
        records = {"ops": [], "window": win, "spans": [], "jobs": [], "stages": [],
                   "qes": [], "blocks": []}
        m, _ = metrics.per_layer(records, 4, set(plan.FIXPOINT_LOOPS))
        m.update(metrics.trace_overhead(1.0, 1.1, 1))
        self.assertEqual(set(m), {x["name"] for x in self.bench["per_layer"]})
        units = {x["name"]: x["unit"] for x in self.bench["per_layer"]}
        self.assertEqual({k: u for k, (_, u) in m.items()}, units)

    def test_workloads(self):
        import run
        self.assertEqual({w["name"] for w in self.bench["workloads"]}, set(run.WORKLOADS))


class CompareTest(unittest.TestCase):
    def _write(self, d, seed, value, layer=None):
        import json
        os.makedirs(d, exist_ok=True)
        rec = {"workload": "w", "seed": seed, "trace": 0 if layer is None else 1,
               "result": {"correct": True, "attempted": 1, "failed": 0,
                          "metrics": {"op_p50_s": {"value": value, "unit": "s"}}},
               "detail": {} if layer is None else {"self_time_s": {"op": layer}}}
        with open(os.path.join(d, f"w-{seed}-{rec['trace']}.json"), "w") as f:
            json.dump(rec, f)

    def test_verdict_and_win_fraction(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = os.path.join(t, "a"), os.path.join(t, "b")
            for seed in range(10):
                self._write(a, seed, 1.0 + seed * 0.001)
                self._write(b, seed, 1.5 + seed * 0.001)
            bounds = {"op_p50_s": {"better": "lower", "bound": 0.1}}
            rows = compare.compare(compare.load(a), compare.load(b), bounds)
            (row,) = rows
            self.assertEqual(row["win_fraction"], 0.0)
            self.assertEqual(row["verdict"], "regression")
            rows = compare.compare(compare.load(b), compare.load(a), bounds)
            self.assertEqual(rows[0]["win_fraction"], 1.0)
            self.assertEqual(rows[0]["verdict"], "gain")


if __name__ == "__main__":
    unittest.main()
