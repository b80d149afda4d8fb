"""Toy-scale tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import analysis as a


class Intervals(unittest.TestCase):
    def test_union_merges_overlap_and_nesting(self):
        self.assertEqual(a.union_length([(0, 10), (5, 15), (20, 25), (21, 22)]), 20)

    def test_union_of_touching_and_empty(self):
        self.assertEqual(a.union_length([(0, 5), (5, 8)]), 8)
        self.assertEqual(a.union_length([]), 0)

    def test_clip_drops_outside_and_trims_edges(self):
        self.assertEqual(a.clip([(-5, 5), (8, 20), (30, 40)], 0, 10), [(0, 5), (8, 10)])

    def test_self_time_subtracts_union_of_children(self):
        span = {"start": 0, "end": 100, "children": [
            {"start": 10, "end": 40}, {"start": 30, "end": 60}, {"start": 90, "end": 120}]}
        # children cover 10..60 and 90..100 inside the span: 60
        self.assertEqual(a.self_time(span), 40)

    def test_self_time_of_leaf_is_its_duration(self):
        self.assertEqual(a.self_time({"start": 3, "end": 7, "children": []}), 4)

    def test_breakdown_splits_wall_exactly_when_disjoint(self):
        b = a.breakdown((0, 100), job_ivs=[(20, 50), (40, 70)], plan_ivs=[(0, 10)])
        self.assertEqual((b["plan"], b["jobs"], b["gap"]), (10, 50, 40))
        self.assertEqual(b["plan"] + b["jobs"] + b["gap"], b["wall"])
        self.assertEqual(b["residual"], 0)

    def test_breakdown_residual_shows_planning_inside_jobs(self):
        b = a.breakdown((0, 100), job_ivs=[(0, 50)], plan_ivs=[(40, 60)])
        # plan 20 + jobs 50 + gap 40 = 110 over a 100 ms wall
        self.assertAlmostEqual(b["residual"], 0.10)

    def test_breakdown_ignores_jobs_outside_the_op(self):
        b = a.breakdown((100, 200), job_ivs=[(0, 90), (150, 250)], plan_ivs=[])
        self.assertEqual((b["jobs"], b["gap"]), (50, 50))


class Percentiles(unittest.TestCase):
    def test_median_and_p90_carry_sample_counts(self):
        xs = list(range(1, 11))
        self.assertEqual(a.percentile(xs, 0.5), (5.5, 10))
        v, n = a.percentile(xs, 0.9)
        self.assertAlmostEqual(v, 9.1)
        self.assertEqual(n, 10)

    def test_order_does_not_matter(self):
        self.assertEqual(a.percentile([3, 1, 2], 0.5), (2, 3))

    def test_single_and_empty(self):
        self.assertEqual(a.percentile([4.0], 0.9), (4.0, 1))
        self.assertEqual(a.percentile([], 0.5), (0.0, 0))


class Attribution(unittest.TestCase):
    SPARK = "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1499)\n"

    def test_innermost_graft_frame_names_the_module(self):
        site = (self.SPARK + "graft.operators.Dedup$.minhashIngestBatch(Dedup.scala:634)\n"
                "graft.streaming.MinhashIngestStream$.run(MinhashIngestStream.scala:40)\n"
                "graft.queries.DedupQueries$.$anonfun$queries$1(DedupQueries.scala:300)")
        self.assertEqual(a.module_of(site), "operators")

    def test_root_package_frames_are_skipped(self):
        site = (self.SPARK + "graft.Tables$.table(Tables.scala:17)\n"
                "graft.star.StarBuilder$.runPipeline(StarBuilder.scala:142)")
        self.assertEqual(a.module_of(site), "star")

    def test_benchmark_frames_are_not_graft(self):
        site = self.SPARK + "perfbench.Main$Queries.run(Main.scala:240)"
        self.assertEqual(a.module_of(site), "queries")
        self.assertEqual(a.module_of(site, streaming=True), "streaming")

    def test_benchmark_action_under_cache_scope_is_queries(self):
        # the stack a timed op's noop save records: Spark frames are cut,
        # then the benchmark's by-name body inside CacheScope.scoped
        site = (self.SPARK
                + "perfbench.Main$Queries.$anonfun$run$1(Main.scala:224)\n"
                "graft.operators.CacheScope$.scoped(CacheScope.scala:41)\n"
                "perfbench.Main$Queries.run(Main.scala:222)\n"
                "perfbench.Main$.$anonfun$main$9(Main.scala:136)")
        self.assertEqual(a.module_of(site), "queries")

    def test_operator_job_inside_cache_scope_keeps_its_module(self):
        # an action the query's own build runs: its graft frames come first
        site = (self.SPARK + "graft.operators.Dedup$.minhash(Dedup.scala:88)\n"
                "graft.queries.DedupQueries$.q21(DedupQueries.scala:40)\n"
                "perfbench.Main$Queries.$anonfun$run$2(Main.scala:223)\n"
                "graft.operators.CacheScope$.scoped(CacheScope.scala:41)")
        self.assertEqual(a.module_of(site), "operators")

    def test_cache_scope_is_never_the_module(self):
        site = (self.SPARK + "graft.operators.CacheScope$.scoped(CacheScope.scala:41)\n"
                "graft.queries.TextQueries$.q29(TextQueries.scala:12)")
        self.assertEqual(a.module_of(site), "queries")

    def test_jobs_take_their_sql_execution_call_site(self):
        trace = {
            "execs": [{"id": 7, "short": "parquet at Segments.scala:88",
                       "long": self.SPARK + "graft.sources.Segments$.write(Segments.scala:88)",
                       "start": 0, "files_written": 2}],
            "jobs": [
                # a broadcast job runs on another thread: its own call site
                # has no graft frame, its execution's does
                {"id": 1, "start": 0, "end": 5, "exec": 7, "stream": False,
                 "short": "run at ThreadPoolExecutor.java:1136", "long": "java.lang.Thread.run"},
                {"id": 2, "start": 5, "end": 9, "exec": None, "stream": False,
                 "short": "collect at X.scala:1",
                 "long": "graft.functions.TextFunctions$.f(TextFunctions.scala:1)"},
                {"id": 3, "start": 9, "end": -1, "exec": None, "stream": False,
                 "short": "", "long": ""},
            ]}
        jobs = a.job_layers(trace)
        self.assertEqual([(j["id"], j["layer"], j["site"]) for j in jobs],
                         [(1, "sources", "parquet at Segments.scala:88"),
                          (2, "operators", "collect at X.scala:1")])


class PassLayers(unittest.TestCase):
    ACTION = ("org.apache.spark.sql.classic.Dataset.save(DataFrameWriter.scala:1)\n"
              "perfbench.Main$Queries.$anonfun$run$1(Main.scala:224)\n"
              "graft.operators.CacheScope$.scoped(CacheScope.scala:41)")

    def record(self, op):
        def job(i, s, e, task_ms):
            return {"id": i, "start": s, "end": e, "exec": None, "stream": False,
                    "short": "save at Main.scala:224", "long": self.ACTION, "tasks": 4,
                    "task_ms": task_ms, "shuffle_write": 0, "spill": 0, "csv_input": 0,
                    "csv_task_ms": 0, "output": 0}
        span = {"name": op, "start": 0, "end": 100, "children": []}
        rec = {"workload": "query_mix", "peak_rss_kb": 1024,
               "trace": {"execs": [], "phases": [], "batches": [],
                         "jobs": [job(1, 10, 50, 120), job(2, 60, 90, 60)]}}
        return rec, {"start": 0, "end": 100, "cache_peak": 0, "gc_s": 0.0,
                     "ops": [{"op": op, "ok": True, "span": span}]}

    def test_action_on_an_operator_plan_counts_as_operators(self):
        m, _ = a.pass_layers(*self.record("q21_dedup_minhash_lsh"), csv_bytes=0)
        self.assertAlmostEqual(m["operators.task_s"], 0.18)
        self.assertAlmostEqual(m["operators.parallelism"], 0.18 / 0.07)
        self.assertEqual(m["queries.jobs"], 2)

    def test_action_on_a_scan_agg_plan_is_not_operators(self):
        m, ops = a.pass_layers(*self.record("q01_revenue_by_nation"), csv_bytes=0)
        self.assertEqual(m["operators.task_s"], 0)
        self.assertEqual(m["queries.jobs"], 2)
        self.assertAlmostEqual(m["queries.driver_gap_s"], 0.03)
        self.assertEqual(ops[0]["jobs"], 70)


class Judging(unittest.TestCase):
    STAR = dict(a.STAR_EXPECTED)

    def record(self, checks, ok=True):
        return {"passes": [{"ops": [{"op": "x", "ok": ok}]}], "checks": checks, "failures": []}

    def test_star_output_must_match_the_golden_log(self):
        good = self.record([{"op": "star_pipeline", "star": self.STAR}])
        self.assertEqual(a.judge(good, {})[:2], (2, 0))
        bad = self.record([{"op": "star_pipeline", "star": dict(self.STAR, fact=378661)}])
        self.assertEqual(a.judge(bad, {})[:2], (2, 1))

    def test_fingerprint_mismatch_and_thrown_ops_count_as_failed(self):
        expected = {"q1": {"rows": 3, "fingerprint": "ab"}}
        rec = self.record([{"op": "q1", "rows": 3, "fingerprint": "ac"}], ok=False)
        attempted, failed, problems = a.judge(rec, expected)
        self.assertEqual((attempted, failed), (2, 2))
        self.assertEqual(len(problems), 2)

    def test_recorded_facts_are_not_checks(self):
        rec = self.record([{"op": "star_pipeline", "csv_bytes": 123}])
        self.assertEqual(a.judge(rec, {})[:2], (1, 0))

    def test_failures_outside_timed_ops_count_once(self):
        rec = self.record([], ok=False)
        rec["failures"] = [{"what": "op x", "error": "boom"},            # already a failed op
                           {"what": "output check", "error": "boom"}]   # counted here
        self.assertEqual(a.judge(rec, {})[:2], (2, 2))


class Metrics(unittest.TestCase):
    def test_end_to_end_pools_ops_over_untraced_passes(self):
        def op(s, e):
            return {"op": "q", "ok": True, "span": {"start": s, "end": e, "children": []}}
        rec = {
            "setup": {"session_s": 2.0, "prep_s": [5.0, 1.0, 2.0], "warm_s": 1.0},
            "traced": False,
            "passes": [
                {"traced": False, "start": 0, "end": 3000, "wchar": 4e6, "ops": [op(0, 1000), op(1000, 3000)]},
                {"traced": False, "start": 3000, "end": 7000, "wchar": 2e6, "ops": [op(3000, 7000)]},
            ]}
        m = a.end_to_end(rec)
        self.assertEqual(m["setup_s"], (5.0, 3))
        self.assertEqual(m["pass_s"], (3.5, 2))
        self.assertEqual(m["op_p50_s"], (2.0, 3))
        self.assertEqual(m["written_mb"], (3.0, 2))


if __name__ == "__main__":
    unittest.main()
