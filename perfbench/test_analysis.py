"""Tests of the benchmark's own pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import gen  # noqa: E402


def scratch():
    """A temporary directory inside the benchmark's work area."""
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    return tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work"))


def bench_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


class TailPercentile(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_reported_value(self):
        for n in (22, 28, 40, 57):
            xs = [float(i) for i in range(n)]
            pct, v = analysis.tail_percentile(xs)
            self.assertEqual(sum(1 for x in xs if x > v), 10, n)
            self.assertGreater(pct, 50.0)

    def test_capped_at_p90(self):
        xs = list(range(1000))
        pct, v = analysis.tail_percentile(xs)
        self.assertEqual(pct, 90.0)
        self.assertAlmostEqual(v, analysis.percentile(xs, 90))

    def test_too_few_samples_fall_back_to_the_median(self):
        for xs in ([3.0], [1.0, 2.0, 9.0], list(range(21))):
            pct, v = analysis.tail_percentile(xs)
            self.assertEqual(pct, 50.0)
            self.assertEqual(v, analysis.median(xs))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 6
        self.assertEqual(analysis.tail_percentile(xs), analysis.tail_percentile(sorted(xs)))

    def test_percentile_interpolates(self):
        self.assertEqual(analysis.percentile([1.0, 2.0, 3.0, 4.0], 50), 2.5)
        self.assertEqual(analysis.percentile([7.0], 90), 7.0)


class CallSiteModule(unittest.TestCase):
    def test_innermost_graft_frame_names_the_module(self):
        site = "\n".join([
            "org.apache.spark.sql.Dataset.count(Dataset.scala:3600)",
            "graft.storage.ObsStore.mergeUpsert(ObsStore.scala:80)",
            "graft.pipeline.Pipelines$.ingestInstantaneous(Pipelines.scala:43)",
            "graft.tools.IngestTick$.run(PipelineCli.scala:69)",
            "perfbench.Cron$.run(Main.scala:290)",
        ])
        self.assertEqual(analysis.module_of(site), "storage")

    def test_tick_cli_frame(self):
        site = ("graft.tools.ExportDaily$.run(PipelineCli.scala:133)\n"
                "perfbench.Cron$.run(Main.scala:300)")
        self.assertEqual(analysis.module_of(site), "tools")

    def test_top_level_objects_map_to_their_module(self):
        site = "graft.SparkEntry$.$anonfun$queries$1(SparkEntry.scala:36)"
        self.assertEqual(analysis.module_of(site), "queries")

    def test_nested_anonymous_functions(self):
        site = ("graft.sim.Similarity$.$anonfun$kmeans$3(Similarity.scala:120)\n"
                "graft.queries.TextSim$.$anonfun$queries$9(TextSim.scala:1970)")
        self.assertEqual(analysis.module_of(site), "sim")

    def test_no_graft_frame(self):
        site = ("org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:250)\n"
                "perfbench.Queries$.materialize(Main.scala:180)")
        self.assertIsNone(analysis.module_of(site))
        self.assertIsNone(analysis.module_of(""))

    def test_every_module_is_a_source_directory(self):
        src = os.path.join(os.path.dirname(HERE), "src", "main", "scala", "graft")
        for m in analysis.MODULES:
            self.assertTrue(os.path.isdir(os.path.join(src, m)), m)


class Intervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(analysis.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(analysis.union_ms([]), 0)
        self.assertEqual(analysis.union_ms([(3, 3), (1, 2)]), 1)

    def test_clip(self):
        self.assertEqual(analysis.clip((0, 10), 5, 20), (5, 10))


class OracleComparison(unittest.TestCase):
    def setUp(self):
        import duckdb
        sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
        import check
        self.canon = check.canon
        self.con = duckdb.connect()

    def test_same_rows_in_another_order_agree(self):
        a = self.canon(self.con, "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, v)")
        b = self.canon(self.con, "SELECT v, k FROM (VALUES (2, 'y'), (1, 'x')) t(k, v)")
        self.assertIsNone(analysis.compare(a, b))

    def test_a_changed_value_is_reported(self):
        a = self.canon(self.con, "SELECT * FROM (VALUES (1, 0.5)) t(k, v)")
        b = self.canon(self.con, "SELECT * FROM (VALUES (1, 0.25)) t(k, v)")
        self.assertIn("rows", analysis.compare(a, b))

    def test_a_changed_column_is_reported(self):
        a = self.canon(self.con, "SELECT 1 AS k")
        b = self.canon(self.con, "SELECT 1 AS key")
        self.assertIn("columns", analysis.compare(a, b))

    def test_check_queries_reads_outputs_and_caches_answers(self):
        with scratch() as d:
            out = os.path.join(d, "results")
            os.makedirs(os.path.join(out, "good"))
            os.makedirs(os.path.join(out, "bad"))
            self.con.sql(f"COPY (SELECT 1 AS k) TO '{out}/good/p.parquet' (FORMAT parquet)")
            self.con.sql(f"COPY (SELECT 2 AS k) TO '{out}/bad/p.parquet' (FORMAT parquet)")
            oracle = {"good": "SELECT 1 AS k", "bad": "SELECT 1 AS k"}
            cache = os.path.join(d, "cache")
            got = analysis.check_queries(self.canon, self.con, ["good", "bad", "none"],
                                         out, oracle, cache, "inputs-v1")
            self.assertEqual(sorted(got), ["bad", "none"])
            self.assertEqual(len(os.listdir(cache)), 1)  # one SQL text, one input key
            again = analysis.check_queries(self.canon, self.con, ["good"], out, oracle,
                                           cache, "inputs-v1")
            self.assertEqual(again, {})


class MetricNames(unittest.TestCase):
    def test_name_rule(self):
        for ok in ("setup_s", "spark.task_run_s", "tick.ingest.driver_s", "q-1", "9x"):
            self.assertTrue(analysis.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "é", "x" * 65):
            self.assertFalse(analysis.valid_name(bad), bad)

    def test_benchmark_json_names_and_units(self):
        b = bench_json()
        names = [w["name"] for w in b["workloads"]]
        names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(analysis.valid_name(n), n)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertTrue(analysis.valid_unit(m["unit"]), m)

    def test_emitted_metrics_match_benchmark_json(self):
        import run
        b = bench_json()
        self.assertEqual(sorted(run.E2E), sorted(m["name"] for m in b["end_to_end"]))
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(run.WORKLOADS))
        for m in b["end_to_end"]:
            self.assertEqual(run.E2E[m["name"]], m["unit"])
        layer = analysis.per_layer(tiny_trace(), cores=4, default_module="queries", per=1)
        self.assertEqual(sorted(layer), sorted(m["name"] for m in b["per_layer"]))
        for m in b["per_layer"]:
            self.assertEqual(analysis.unit_of(m["name"]), m["unit"], m["name"])


def tiny_trace():
    """A traced query run: one query, built with one eager sim job, then
    executed by the benchmark's noop write."""
    span = lambda i, name, parent, a, b: {"id": i, "name": name, "parent": parent,
                                          "op": "q", "start_us": a, "end_us": b}
    return {
        "nums": {"wall_s": 2.0},
        "ops": [{"name": "q", "kind": "query", "pass": 1, "s": 0.9, "failure": ""},
                {"name": "q", "kind": "query", "pass": 2, "s": 0.5, "failure": ""}],
        "spans": [span(0, "timed", -1, 0, 2_000_000), span(1, "query", 0, 0, 900_000),
                  span(2, "queries.build", 1, 0, 500_000),
                  span(3, "queries.exec", 1, 500_000, 900_000),
                  span(4, "check", 0, 1_000_000, 1_500_000)],
        "jobs": [{"id": 0, "span": "2", "start_ms": 100, "end_ms": 300, "stages": [0],
                  "call_site": "graft.sim.Similarity$.f(Similarity.scala:1)"},
                 {"id": 1, "span": "3", "start_ms": 550, "end_ms": 850, "stages": [1],
                  "call_site": "perfbench.Queries$.materialize(Main.scala:1)"},
                 {"id": 2, "span": "4", "start_ms": 1100, "end_ms": 1400, "stages": [],
                  "call_site": "graft.storage.ObsStore.read(ObsStore.scala:1)"}],
        "stages": [{"id": 0, "job": 0, "tasks": 2, "run_ms": 300, "cpu_ns": 2e8,
                    "shuffle_read": 0, "shuffle_write": 10, "spill": 0, "written": 0,
                    "task_ms": [100, 200]},
                   {"id": 1, "job": 1, "tasks": 4, "run_ms": 800, "cpu_ns": 6e8,
                    "shuffle_read": 10, "shuffle_write": 0, "spill": 0, "written": 0,
                    "task_ms": [200, 200, 200, 200]}],
    }


class PerLayer(unittest.TestCase):
    def test_attribution_and_counters(self):
        m = analysis.per_layer(tiny_trace(), cores=4, default_module="queries", per=1)
        self.assertAlmostEqual(m["sim.job_s"], 0.2)
        self.assertAlmostEqual(m["queries.job_s"], 0.3)
        self.assertEqual(m["storage.job_s"], 0.0)  # a correctness check's job
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["spark.tasks"], 6)
        self.assertEqual(m["queries.build_jobs"], 1)
        self.assertAlmostEqual(m["queries.first_run_extra_s"], 0.4)
        self.assertAlmostEqual(m["spark.stage_skew"], 200 / 150)
        # exec span 0.4 s x 4 slots, 0.8 s of task time inside it
        self.assertAlmostEqual(m["spark.slot_idle_frac"], 0.5)
        # 0.9 s in the query, 0.5 s of it with a job running
        self.assertAlmostEqual(m["driver_s"], 0.4)


class EndToEnd(unittest.TestCase):
    def test_cron_latency_is_per_cycle_and_ok_frac_per_tick(self):
        import run
        ops = [{"name": k, "kind": k, "pass": c, "s": s, "failure": f}
               for c, f in ((1, ""), (2, "grid rows")) for k, s in
               (("ingest", 3.0), ("eccc", 1.0), ("export", 2.0))]
        res = {"ops": ops, "nums": {"wall_s": 12.0, "peak_rss_mb": 100.0}}
        m, pct = run.end_to_end(run.WORKLOADS["cron_cycle"], res, setup_s=5.0)
        self.assertEqual(m["query_p50_s"], 6.0)
        self.assertEqual(pct, 50.0)
        self.assertAlmostEqual(m["ok_frac"], 3 / 6)

    def test_query_latency_is_per_execution(self):
        import run
        ops = [{"name": f"q{i}", "kind": "query", "pass": 1, "s": float(i), "failure": ""}
               for i in range(4)]
        res = {"ops": ops, "nums": {"wall_s": 6.0, "peak_rss_mb": 100.0}}
        m, _ = run.end_to_end(run.WORKLOADS["query_tail"], res, setup_s=5.0)
        self.assertEqual(m["query_p50_s"], 1.5)
        self.assertEqual(m["ok_frac"], 1.0)


class Generators(unittest.TestCase):
    def test_tables_are_a_function_of_the_seed(self):
        import pyarrow.parquet as pq
        with scratch() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            rows = gen.gen_tables(a, 7, 0.001)
            gen.gen_tables(b, 7, 0.001)
            gen.gen_tables(c, 8, 0.001)
            self.assertEqual(rows, {k: v for k, v in gen.table_rows(0.001).items()})
            for t in gen.TABLES:
                ta, tb, tc = (pq.read_table(os.path.join(x, f"{t}.parquet")) for x in (a, b, c))
                self.assertTrue(ta.equals(tb), t)
            self.assertFalse(pq.read_table(os.path.join(a, "events.parquet")).equals(
                pq.read_table(os.path.join(c, "events.parquet"))))

    def test_cron_expectations_follow_the_shape(self):
        p = {"stations": 10, "stage_stations": 3, "store_hours": 3, "lookback_hours": 2,
             "swob_stations": 2, "swob_hours": 3, "workbook_stations": 4}
        with scratch() as d:
            info = gen.gen_cron(d, 1, p)
            import pyarrow.parquet as pq
            self.assertEqual(pq.read_table(os.path.join(d, "store")).num_rows,
                             info["expect"]["store_rows"])
            self.assertEqual(pq.read_table(os.path.join(d, "grid")).num_rows,
                             info["expect"]["grid_rows"])
            self.assertEqual(len(os.listdir(os.path.join(d, "tick", "swob"))), 6)
            lines = 0
            for f in os.listdir(os.path.join(d, "tick", "wsc")):
                with open(os.path.join(d, "tick", "wsc", f)) as fh:
                    lines += len(fh.readlines()) - 1
            self.assertEqual(lines, 10 * 2 * 12)
            self.assertEqual(len(info["workbook_stations"]), 4)


if __name__ == "__main__":
    unittest.main()
