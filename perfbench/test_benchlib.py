"""Tests of the benchmark's own logic. No JVM needed.

usage: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import ast
import hashlib
import json
import math
import os
import statistics
import tempfile
import unittest

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Statistics(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(benchlib.percentile(xs, 50), 3.0)
        self.assertEqual(benchlib.percentile(xs, 0), 1.0)
        self.assertEqual(benchlib.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(benchlib.percentile([1, 2, 3, 4], 90), 3.7)
        self.assertEqual(benchlib.percentile([7.5], 90), 7.5)
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)

    def test_p50_is_the_median(self):
        xs = [0.3, 9.0, 1.5, 2.25, 4.0, 8.0]
        self.assertEqual(benchlib.percentile(xs, 50), statistics.median(xs))

    def test_spread_uses_statistics_quantiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 40]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(benchlib.spread(xs), (q3 - q1) / q2)
        self.assertEqual(benchlib.spread([2.0] * 10), 0.0)
        self.assertEqual(benchlib.spread([0, 0, 0, 0, 1]), float("inf"))


class Names(unittest.TestCase):
    def test_grammar(self):
        for ok in ("setup_s", "op_p50_ms", "codecs.fsst2.bytes_per_token",
                   "SparkEntry.scratch_leak_bytes", "9lives", "a-b.c_d"):
            self.assertTrue(benchlib.valid_name(ok), ok)
        for bad in ("", "_lead", ".lead", "has space", "semi;colon",
                    "slash/x", "x" * 65, "ünïcode"):
            self.assertFalse(benchlib.valid_name(bad), bad)
        for ok in ("ms", "s", "1/s", "B/tok", "%", "ns/block"):
            self.assertTrue(benchlib.valid_unit(ok), ok)
        for bad in ("", "way-too-long-unit-name", "m s"):
            self.assertFalse(benchlib.valid_unit(bad), bad)

    def test_every_metric_name_is_valid_and_unique(self):
        names = [m[0] for m in benchlib.END_TO_END + benchlib.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(benchlib.valid_name(n), n)
        for m in benchlib.END_TO_END + benchlib.PER_LAYER:
            self.assertTrue(benchlib.valid_unit(m[1]), m)


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json at the repository root lists what run.py reports."""

    def setUp(self):
        path = os.path.join(ROOT, "BENCHMARK.json")
        if not os.path.isfile(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            self.b = json.load(f)

    def test_metrics_match_the_runner(self):
        self.assertEqual(
            [(m["name"], m["unit"], m["better"], m["bound"])
             for m in self.b["end_to_end"]], list(benchlib.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in self.b["per_layer"]], list(benchlib.PER_LAYER))
        self.assertEqual(tuple(w["name"] for w in self.b["workloads"]),
                         benchlib.WORKLOADS)

    def test_shape(self):
        self.assertEqual(set(self.b), {"command", "paths", "run_seconds",
                                       "workloads", "end_to_end", "per_layer"})
        bounds = {m["name"]: m["bound"] for m in self.b["end_to_end"]}
        self.assertTrue(all(0 < v <= 0.25 for v in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        for w in self.b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        self.assertTrue(1 <= self.b["run_seconds"] <= 60)
        for p in self.b["paths"]:
            self.assertTrue(os.path.isdir(os.path.join(ROOT, p)), p)


class Determinism(unittest.TestCase):
    def test_input_plan(self):
        for w in benchlib.WORKLOADS:
            self.assertEqual(benchlib.input_plan(w, 7), benchlib.input_plan(w, 7))
        self.assertNotEqual(benchlib.input_plan("lookup", 7)["lookups"],
                            benchlib.input_plan("lookup", 8)["lookups"])
        self.assertNotEqual(benchlib.input_plan("queries", 7)["query_salt"],
                            benchlib.input_plan("queries", 8)["query_salt"])

    def test_lookup_plan_covers_points_and_ranges(self):
        ops = benchlib.input_plan("lookup", 1)["lookups"]
        spans = [s for _, s in ops]
        self.assertTrue(all(0 <= r < benchlib.FIXTURE_DOCS for r, _ in ops))
        self.assertTrue(all(1 <= s <= benchlib.LOOKUP_MAX_SPAN for s in spans))
        share = sum(s > 1 for s in spans) / len(spans)
        self.assertAlmostEqual(share, benchlib.LOOKUP_RANGE_SHARE, delta=0.05)

    def test_generated_tables(self):
        def digest(seed):
            with tempfile.TemporaryDirectory() as d:
                benchlib.gen_sf(d, seed)
                out = {}
                for n in sorted(os.listdir(d)):
                    with open(os.path.join(d, n), "rb") as f:
                        out[n] = hashlib.sha256(f.read()).hexdigest()
                return out
        a, b, c = digest(3), digest(3), digest(4)
        self.assertEqual(sorted(a), [f"{n}.parquet" for n in sorted(benchlib.SF_ROWS)])
        self.assertEqual(a, b)
        for n in a:
            self.assertNotEqual(a[n], c[n], n)


FRAME_SQL = """SELECT * FROM (VALUES
    (2, 'b', 1.23456789::DOUBLE, '\\x01\\xff'::BLOB, NULL),
    (1, 'a', -0.5::DOUBLE, ''::BLOB, 3),
    (3, 'ü', 1e-9::DOUBLE, 'z'::BLOB, 4)) AS t(k, s, f, bin, n)"""
# canon() of FRAME_SQL, pinned so a change to the compare is visible
FRAME_CANON = (["bin", "f", "k", "n", "s"], 3, "c805bfd9d0240ae0")


def check_oracle_canon():
    """canon() as tools/check_oracle.py defines it (that file is a script,
    so its function is compiled on its own rather than imported)."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        tree = ast.parse(f.read())
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "canon")
    ns = {"hashlib": hashlib}
    exec(compile(ast.Module([fn], []), path, "exec"), ns)
    return ns["canon"]


class OracleCompare(unittest.TestCase):
    def setUp(self):
        try:
            import duckdb
        except ImportError:
            self.skipTest("duckdb is not installed")
        self.con = duckdb.connect()

    def test_canon_matches_check_oracle(self):
        got = benchlib.canon(self.con.sql(FRAME_SQL))
        self.assertEqual(got, FRAME_CANON)
        ref = check_oracle_canon()
        if ref is None:
            self.skipTest("tools/check_oracle.py is not beside the benchmark")
        self.assertEqual(got, ref(self.con.sql(FRAME_SQL)))

    def test_row_order_and_column_order_do_not_matter(self):
        a = benchlib.canon(self.con.sql(FRAME_SQL))
        b = benchlib.canon(self.con.sql(
            f"SELECT n, s, k, bin, f FROM ({FRAME_SQL}) ORDER BY k DESC"))
        self.assertEqual(a, b)

    def test_float_rounding_to_6dp(self):
        a = benchlib.canon(self.con.sql("SELECT 0.1234564::DOUBLE AS x"))
        b = benchlib.canon(self.con.sql("SELECT 0.1234561::DOUBLE AS x"))
        c = benchlib.canon(self.con.sql("SELECT 0.1234566::DOUBLE AS x"))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


class SpanSelfTime(unittest.TestCase):
    def span(self, id, parent, start, end, name="x"):
        return {"id": id, "parent": parent, "name": name, "start": start, "end": end}

    def test_leaf_self_is_its_duration(self):
        st = benchlib.self_times([self.span("a", None, 10, 25)])
        self.assertEqual(st, {"a": 15})

    def test_children_subtract_their_union(self):
        spans = [self.span("r", None, 0, 100),
                 self.span("c1", "r", 10, 40),
                 self.span("c2", "r", 30, 50),   # overlaps c1
                 self.span("c3", "r", 60, 70),
                 self.span("g", "c1", 15, 20)]
        st = benchlib.self_times(spans)
        self.assertEqual(st["r"], 100 - (40 + 10))
        self.assertEqual(st["c1"], 30 - 5)
        self.assertEqual(st["c2"], 20)
        self.assertEqual(st["g"], 5)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span("r", None, 0, 10), self.span("c", "r", 5, 30),
                 self.span("d", "r", -4, 2), self.span("e", "r", 20, 25)]
        self.assertEqual(benchlib.self_times(spans)["r"], 10 - 5 - 2)

    def test_nested_self_times_sum_to_the_root_wall(self):
        spans = [self.span("r", None, 0, 100, "op"),
                 self.span("j", "r", 10, 90, "job"),
                 self.span("s1", "j", 20, 50, "stage"),
                 self.span("s2", "j", 50, 80, "stage")]
        st = benchlib.self_times(spans)
        self.assertEqual(sum(st.values()), 100)
        self.assertEqual(benchlib.self_by_name(spans),
                         {"op": 20, "job": 20, "stage": 60})


class Assembly(unittest.TestCase):
    def raw(self, workload):
        op = lambda t, traced: {"name": "op", "wall_s": t, "traced": traced,
                                "tokens": 1000}
        return {
            "ops": [op(0.5, False), op(0.6, True), op(0.4, False), op(0.7, True)],
            "rss_hwm_kb": 2048 * 1024, "gc_s": 0.25,
            "trace": {
                "spans": [{"id": "b1", "parent": None, "name": "manifest.run",
                           "start": 0, "end": 600000}],
                "jobs": [{"id": 1, "span": "b1", "callsite":
                          "parquet at manifest.scala:335", "submit_ms": 100,
                          "end_ms": 500, "first_task_ms": 110}],
                "stages": [{"id": 4, "attempt": 0, "job": 1, "is_map": True,
                            "submit_ms": 100, "complete_ms": 300, "n_tasks": 4,
                            "run_ms": 700, "cpu_ns": 350e6, "shuffle_write": 10,
                            "shuffle_read": 0, "fetch_wait_ms": 0, "spill": 0,
                            "input_bytes": 99, "task_ms": [100, 200, 150, 160]}],
                "table": {"blocks": 4, "tokens": 400, "payload_bytes": 100,
                          "symtab_bytes": 8, "zdict_bytes": 0,
                          "framed_blocks": 2, "table_blocks": 2,
                          "table_reused": 1, "part_tokens": [100, 300],
                          "codecs": {"rle": {"blocks": 4, "bytes": 100,
                                             "tokens": 400}}},
            },
        }

    def test_end_to_end(self):
        raw = self.raw("ingest")
        m = benchlib.end_to_end(raw, [0.5, 0.4], [3.0, 1.0, 1.2], 0.7, 1, 10)
        self.assertEqual(set(m), {n for n, *_ in benchlib.END_TO_END})
        self.assertAlmostEqual(m["op_mean_ms"], 450.0)
        self.assertAlmostEqual(m["op_p50_ms"], 450.0)
        self.assertEqual(m["setup_s"], 1.2)
        self.assertEqual(m["peak_rss_mb"], 2048.0)
        self.assertAlmostEqual(m["ops_ok_frac"], 0.9)

    def test_per_layer_reports_every_metric(self):
        raw = self.raw("ingest")
        benchlib.classify(raw["trace"], "ingest")
        m = benchlib.per_layer(raw, "ingest", 0, {})
        self.assertEqual(set(m), {n for n, *_ in benchlib.PER_LAYER})
        self.assertTrue(all(math.isfinite(v) for v in m.values()))
        self.assertEqual(m["engine.route_stage_s"], 0.2 / 2)
        self.assertEqual(m["manifest.write_job_s"], 0.4 / 2)
        self.assertEqual(m["engine.table_reuse_frac"], 0.5)
        self.assertEqual(m["planner.part_tokens_max_over_avg"], 1.5)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.65 / 0.45 - 1)
        # the job covers 400 of the op's 600 ms
        self.assertAlmostEqual(m["trace.unattributed_frac"], 200 / 600)

    def test_job_kinds(self):
        self.assertEqual(benchlib.job_kind("collect at planner.scala:190"), "plan")
        self.assertEqual(benchlib.job_kind("parquet at manifest.scala:335"), "write")
        self.assertEqual(benchlib.job_kind("collect at manifest.scala:394"), "lineage")
        self.assertEqual(benchlib.job_kind("head at PerfBench.scala:9"), "op")

    def test_query_modules(self):
        self.assertEqual(benchlib.query_module("enc_roundtrip_auto"), "engine")
        self.assertEqual(benchlib.query_module("emb_norm"), "simsearch")
        self.assertEqual(benchlib.query_module("id_hashids"), "functions")
        self.assertEqual(benchlib.query_module("stream_tail_read"), "streaming")
        self.assertIsNone(benchlib.query_module("unknown"))


if __name__ == "__main__":
    unittest.main()
