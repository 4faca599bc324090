"""Tests of the benchmark's own code: the generator, the output checks and
the span arithmetic. Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def hashes(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, seed, 0.01)
            gen.lifecycle(d, seed, rounds=3)
            h = {t: gen.row_hash(os.path.join(d, f"{t}.parquet")) for t in gen.TABLES}
            with open(os.path.join(d, "lifecycle", "plan.tsv")) as f:
                h["plan"] = f.read()
            h["merge"] = gen.row_hash(os.path.join(d, "lifecycle", "r2_merge.parquet"))
            return h

    def test_same_seed_same_rows(self):
        self.assertEqual(self.hashes(5), self.hashes(5))

    def test_other_seed_other_rows(self):
        a, b = self.hashes(5), self.hashes(6)
        self.assertNotEqual(a["orders"], b["orders"])
        self.assertNotEqual(a["documents"], b["documents"])
        self.assertEqual(a["region"], b["region"])  # fixed dimension table

    def test_multi_row_group_layout(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, 1, 0.1)
            for t in ("orders", "lineitem", "events", "documents"):
                md = pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata
                self.assertGreater(md.num_row_groups, 1, t)


class CatalogCheckTest(unittest.TestCase):
    SQL = "SELECT o_orderstatus AS status, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1"

    def test_planted_wrong_row_fails(self):
        with tempfile.TemporaryDirectory() as d:
            data, out = os.path.join(d, "data"), os.path.join(d, "out")
            gen.generate(data, 3, 0.01)
            os.makedirs(os.path.join(out, "results"))
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"q_status": self.SQL}, f)
            con = duckdb.connect()
            con.sql(f"CREATE VIEW orders AS SELECT * FROM '{data}/orders.parquet'")
            right = con.sql(self.SQL).df()
            path = os.path.join(out, "results", "q_status")
            right.sample(frac=1, random_state=1).to_parquet(path)  # row order is free
            self.assertEqual(check.catalog(data, out, {}), {})
            wrong = right.copy()
            wrong.loc[0, "n"] += 1
            wrong.to_parquet(path)
            self.assertIn("q_status", check.catalog(data, out, {}))
            # the CSV cache of the same read, in Spark's part-file layout
            right.to_parquet(path)
            cache = os.path.join(d, "cache")
            os.makedirs(cache)
            right[:2].to_csv(os.path.join(cache, "part-00000-a.csv"), index=False)
            right[2:].to_csv(os.path.join(cache, "part-00001-a.csv"), index=False)
            csv_cache = {"path": cache, "query": "q_status"}
            self.assertEqual(check.catalog(data, out, csv_cache), {})
            wrong[2:].to_csv(os.path.join(cache, "part-00001-a.csv"), index=False)
            wrong.loc[2:, "n"] += 1
            wrong[2:].to_csv(os.path.join(cache, "part-00001-a.csv"), index=False)
            self.assertEqual(set(check.catalog(data, out, csv_cache)), {"cache_update"})

    def test_float_cells(self):
        close = check.float_close
        self.assertTrue(close(53984.7731, 53984.773, True))    # half-way value rounded down
        self.assertTrue(close(0.1 + 0.2, 0.3, False))          # summation-order noise
        self.assertFalse(close(53984.7731, 53984.773, False))  # outside the rounded averages
        self.assertFalse(close(53984.7731, 53984.7729, True))  # two units
        self.assertFalse(close(53984.7731, 53984.77305, True))

    def test_one_unit_only_in_half_way_columns(self):
        want = pd.DataFrame({"avg_price": [53984.7731], "discount": [0.05]})
        self.assertIsNone(check.mismatch(want, want.assign(avg_price=[53984.773]), {"avg_price"}))
        self.assertIn("discount", check.mismatch(want, want.assign(discount=[0.06]), {"avg_price"}))
        self.assertIn("avg_price", check.mismatch(want, want.assign(avg_price=[53984.773])))
        self.assertNotIn("q_overdue", check.HALF_WAY)  # a rounded single value: exact


class RecallCheckTest(unittest.TestCase):
    def test_recall_below_threshold_fails(self):
        with tempfile.TemporaryDirectory() as out:
            os.makedirs(os.path.join(out, "results"))
            exact = pd.DataFrame({"q_id": [0] * 5 + [1] * 5, "neighbor_id": list(range(10))})
            exact.to_parquet(os.path.join(out, "results", "brute"))
            approx = exact.copy()
            approx.to_parquet(os.path.join(out, "results", "ann"))
            gates = {"ann": {"gate": "g", "threshold_pct": 90, "baseline": "brute"}}
            self.assertEqual(check.recall(out, gates), {})
            approx.loc[:1, "neighbor_id"] = [100, 101]  # 80% recall
            approx.to_parquet(os.path.join(out, "results", "ann"))
            self.assertIn("ann", check.recall(out, gates))


class LifecycleCheckTest(unittest.TestCase):
    def test_fold_and_planted_wrong_row(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, 4, 0.01)
            gen.lifecycle(d, 4, rounds=2)
            states = check.fold_rounds(d, 2)
            self.assertEqual(set(states), {0, 1, 2})
            # a merge replaced the text of every key in its batch
            merged = pd.read_parquet(os.path.join(d, "lifecycle", "r1_merge.parquet"))
            for k in merged["doc_id"]:
                if k in states[1]:
                    self.assertTrue(states[1][k][3].endswith("revision 1"))
            lo = min(states[2])
            rows = check._frame({k: v for k, v in states[2].items() if k >= lo})
            path = os.path.join(d, "read")
            rows.to_parquet(path)
            # a search checked against its oracle over that round's live documents
            live = sorted(states[2])[1:4]
            search = os.path.join(d, "search")
            pd.DataFrame({"doc_id": live}).to_parquet(search)
            facts = {"last_round": 2, "rebuilt_pq": {}, "live_docs": {"2": live},
                     "oracle_sql": {"bm25_search": "SELECT doc_id FROM documents"},
                     "reads": [{"name": "snap_read_where", "op": 40, "round": 2, "arg": str(lo), "path": path},
                               {"name": "bm25_search", "op": 43, "round": 2, "arg": "", "path": search}]}
            self.assertEqual(check.lifecycle(d, facts), {})
            rows.loc[0, "source"] = "planted"
            rows.to_parquet(path)
            pd.DataFrame({"doc_id": live[:2]}).to_parquet(search)
            self.assertEqual(set(check.lifecycle(d, facts)), {"snap_read_where#40", "bm25_search#43"})

    def test_change_feed_replay(self):
        before = {1: (1, 1, "a", "x"), 2: (2, 1, "b", "y")}
        feed = pd.DataFrame({
            "doc_id": [2, 2, 3, 1], "rev": [1, 1, 1, 1], "source": ["b", "c", "d", "a"],
            "text": ["y", "y", "z", "x"], "_change_type": ["delete", "upsert", "insert", "delete"],
            "_commit_version": [5, 5, 6, 7]})
        self.assertEqual(check.replay(before, feed), {2: (2, 1, "c", "y"), 3: (3, 1, "d", "z")})


def span(i, parent, name, t0, t1, op=1, layer="x", **attrs):
    return {"id": i, "parent": parent, "op": op, "name": name, "layer": layer,
            "t0": t0, "t1": t1, "attrs": attrs}


class SpanArithmeticTest(unittest.TestCase):
    def tree(self):
        return metrics.assign_parents([
            span(1, 0, "q", 0.0, 10.0, layer="op"),
            span(2, 1, "construct", 0.0, 4.0, layer="operators"),
            span(3, 1, "plan", 4.0, 5.0, layer="plans"),
            span(4, 1, "exec", 5.0, 10.0, layer="exec"),
            span(5, -1, "job", 1.0, 3.0),       # inside construct
            span(6, -1, "analysis", 5.0, 5.5),  # inside exec
            span(7, -1, "job", 6.0, 8.0),
            span(8, -1, "job", 7.0, 9.0),       # overlaps the job before
            span(9, -1, "optimization", 4.1, 4.9),
            span(11, -1, "analysis", 2.5, 3.5),   # overlaps the job in construct
            span(10, 7, "stage", 6.0, 8.5),     # overruns its job: clipped
        ])

    def test_parents_by_containment(self):
        p = {s["id"]: s["parent"] for s in self.tree()}
        self.assertEqual((p[5], p[6], p[7], p[8], p[9], p[11]), (2, 4, 4, 4, 3, 2))

    def test_listener_span_clipped_to_its_parent(self):
        spans = metrics.assign_parents([
            span(1, 0, "q", 0.0, 10.0, layer="op"),
            span(2, 1, "write", 2.0, 4.0, layer="sources"),
            span(3, -1, "optimization", 1.0, 5.0),   # re-planned frame: stale start
            span(4, -1, "planning", 11.0, 12.0)])    # outside every span of its op
        by = {s["id"]: s for s in spans}
        self.assertEqual((by[3]["parent"], by[3]["t0"], by[3]["t1"]), (2, 2.0, 4.0))
        self.assertEqual((by[4]["parent"], by[4]["t0"], by[4]["t1"]), (1, 10.0, 10.0))

    def test_self_times(self):
        st = metrics.self_times(self.tree())
        self.assertAlmostEqual(st[1], 0.0)
        self.assertAlmostEqual(st[2], 1.5)             # 4 - (job 1..3 + analysis 2.5..3.5)
        self.assertAlmostEqual(st[3], 0.2)             # 1 - optimization 0.8
        self.assertAlmostEqual(st[4], 1.5)             # 5 - (0.5 + union 6..9)
        self.assertAlmostEqual(st[7], 0.0)             # stage covers the job

    def test_components_tile_the_op(self):
        spans = self.tree()
        c = metrics.op_components(spans, metrics.self_times(spans))[1]
        self.assertEqual({k: round(v, 9) for k, v in c.items()}, {
            "unattributed": 0.0, "construct": 1.5, "plan": 0.2, "exec": 1.5,
            "analysis": 1.5, "optimization": 0.8, "jobs": 4.5})
        self.assertAlmostEqual(sum(c.values()), 10.0)

    def test_phases_reported_twice_count_once(self):
        # a collected frame: the runner and the query listener report the
        # same tracker (query 1); query 2 is another query in the same op
        spans = [
            span(1, 0, "q", 0.0, 10.0, layer="op"),
            span(2, 1, "construct", 0.0, 4.0, layer="sources"),
            span(3, 1, "plan", 4.0, 6.0, layer="plans"),
            span(4, 1, "exec", 6.0, 10.0, layer="exec"),
            span(5, -1, "analysis", 1.0, 2.0, layer="plans", query=1),
            span(6, -1, "optimization", 4.0, 5.0, layer="plans", query=1),
            span(7, -1, "planning", 5.0, 5.5, layer="plans", query=1),
            span(8, -1, "analysis", 1.0, 2.0, layer="plans", query=1),
            span(9, -1, "optimization", 4.0, 5.0, layer="plans", query=1),
            span(10, -1, "planning", 5.0, 5.5, layer="plans", query=1, exchanges=2, cached_scans=1),
            span(11, -1, "analysis", 2.5, 3.0, layer="plans", query=2),
        ]
        res = {"spans": spans, "facts": {}, "setup": {"session_start_s": 1.0, "warmup_s": 1.0},
               "ops": [{"id": 1, "name": "bm25_search", "kind": "read", "pass": 1,
                        "t0": 0.0, "t1": 10.0, "ok": True, "err": ""}],
               "bytes_written": 0, "files_written": 0, "makespan_s": 10.0}
        m, trace = metrics.per_layer(res)
        self.assertAlmostEqual(m["plans.analysis_s"], 1.5)
        self.assertAlmostEqual(m["plans.optimization_s"], 1.0)
        self.assertAlmostEqual(m["plans.planning_s"], 0.5)
        self.assertEqual((m["plans.exchanges"], m["plans.cached_scans"]), (2, 1))
        self.assertEqual(m["cache.hit_ratio"], 1.0)
        self.assertEqual(len(trace["spans"]), 8)
        self.assertLess(m["trace.tiling_error"], 1e-9)

    def test_tail(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail(list(range(200))), (189, 95.0, 200))
        self.assertEqual(metrics.tail(list(range(40))), (29, 75.0, 40))
        # the 11th largest of 20 lies below the median: the maximum instead
        self.assertEqual(metrics.tail(list(range(20))), (19, 100.0, 20))
        self.assertEqual(metrics.tail(list(range(21)))[0], 10)

    def test_warm_up_passes_left_out_of_latencies(self):
        ops = [{"pass": p, "kind": k, "t0": 0.0, "t1": d} for p, k, d in (
            (0, "read", 9.0), (0, "write", 9.0), (1, "read", 5.0), (1, "write", 5.0),
            (2, "read", 1.0), (2, "write", 2.0), (3, "read", 3.0), (3, "write", 2.0))]
        res = {"ops": ops, "makespan_s": 30.0, "cpu_s": 1.0, "rss_peak_mb": 1.0,
               "bytes_written": 1, "applied_bytes": 1, "facts": {}}
        m, _ = metrics.end_to_end(res, 1.0, measured_from=2)
        self.assertEqual((m["query_p50_s"], m["query_tail_s"]), (2.0, 3.0))
        self.assertEqual((m["write_p50_s"], m["first_pass_s"]), (2.0, 9.0))


class BenchmarkSpecTest(unittest.TestCase):
    def test_metrics_match_benchmark_json(self):
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for key, names in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
            self.assertEqual(sorted(m["name"] for m in spec[key]), sorted(names))
            for m in spec[key]:
                self.assertEqual(m["unit"], metrics.unit(m["name"]), m["name"])


if __name__ == "__main__":
    unittest.main()
