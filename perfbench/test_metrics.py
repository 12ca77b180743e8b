"""Self-test of the benchmark's own code: the percentile rule, failure
counting, span self time, result digests, and the printed names and
units. No Spark needed:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import json
import os
import unittest

import pandas as pd

import metrics
import results

HERE = os.path.dirname(os.path.abspath(__file__))


def op(lat, ok=True, kind="page", name="q", traced=False):
    return {"kind": kind, "name": name, "lat_ms": lat, "ok": ok, "traced": traced,
            "hit": True, "start_ms": 0.0}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(list(range(1000)))[0], 99)
        self.assertEqual(metrics.tail(list(range(200)))[0], 95)
        self.assertEqual(metrics.tail(list(range(199)))[0], 90)
        self.assertEqual(metrics.tail(list(range(100)))[0], 90)
        self.assertEqual(metrics.tail(list(range(99)))[0], 75)
        self.assertEqual(metrics.tail(list(range(40)))[0], 75)
        self.assertEqual(metrics.tail(list(range(39)))[0], 50)

    def test_nearest_rank_value(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.tail(xs), (90, 90))
        self.assertEqual(metrics.percentile([7.0], 95), 7.0)

    def test_tail_ignores_order(self):
        xs = [5.0, 1.0, 3.0] * 40
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class FailureCounting(unittest.TestCase):
    def test_failed_fraction(self):
        ops = [op(1.0), op(2.0, ok=False), op(3.0), op(4.0, ok=False)]
        self.assertEqual(metrics.failures(ops), (4, 2, 0.5))

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(metrics.failures([]), (0, 0, 1.0))

    def test_failed_reads_stay_out_of_latency(self):
        raw = {"ops": [dict(op(100.0), start_ms=100.0 * i) for i in range(9)]
               + [dict(op(9999.0, ok=False), start_ms=900.0)], "setup_s": 1.0,
               "pass": {"wall_s": 2.0, "gc_s": 0.0}, "block": 10, "clients": 3,
               "cached_left": 0}
        m, detail, attempted, failed = metrics.end_to_end("serve_pages", raw)
        self.assertEqual((attempted, failed), (10, 1))
        self.assertAlmostEqual(detail["failed_frac"], 0.1)
        self.assertEqual(m["op_ms"], 100.0)
        self.assertEqual(detail["op_samples"], 9)


class BlockWall(unittest.TestCase):
    def test_drain_after_the_last_dispatch_is_left_out(self):
        ops = [dict(op(100.0), start_ms=t) for t in (0.0, 100.0, 200.0, 300.0)]
        ops.append(dict(op(5000.0), start_ms=400.0))
        # four completions by the last dispatch at 0.4 s, blocks of 2
        self.assertAlmostEqual(metrics.block_wall(ops, 2), 0.2)


class OpLatency(unittest.TestCase):
    def test_serving_takes_the_median_page_read(self):
        ops = [op(10.0), op(20.0), op(90.0), op(5000.0, kind="miss")]
        self.assertEqual(metrics.op_ms("serve_pages", ops), 20.0)

    def test_batch_takes_the_geometric_mean_of_stages(self):
        ops = [op(10.0, kind="stage"), op(1000.0, kind="stage"), op(7.0, kind="stage", ok=False)]
        self.assertAlmostEqual(metrics.op_ms("crawl_batch", ops), 100.0)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b, name="s"):
        return {"id": i, "parent": parent, "name": name, "key": "k",
                "start_ms": a, "end_ms": b, "attrs": {}, "skew": []}

    def test_children_and_overlap_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 50), self.span(4, 1, 80, 90), self.span(5, 2, 10, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[3], 20)

    def test_child_clipped_to_parent(self):
        st = metrics.self_times([self.span(1, 0, 0, 10), self.span(2, 1, 5, 30)])
        self.assertEqual(st[1], 5)


class Digests(unittest.TestCase):
    def test_row_order_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"b": [1, 2], "a": ["x", "y"]})
        b = pd.DataFrame({"a": ["y", "x"], "b": [2, 1]})
        self.assertEqual(results.digest(a), results.digest(b))

    def test_engine_and_oracle_value_forms_agree(self):
        engine = pd.DataFrame({
            "d": [datetime.date(1995, 1, 1), None],
            "f": [0.1, float("nan")],
            "n": [3.0, float("nan")],
            "t": pd.to_datetime(["2024-01-01 00:00:11.172425", None]).astype("datetime64[ns]")})
        oracle = pd.DataFrame({
            "d": pd.to_datetime(["1995-01-01", None]),
            "f": [0.1, None],
            "n": pd.array([3, None], dtype="Int64"),
            "t": pd.to_datetime(["2024-01-01 00:00:11.172425", None], utc=True)})
        self.assertEqual(results.digest(engine), results.digest(oracle))

    def test_a_changed_value_changes_the_hash(self):
        a = pd.DataFrame({"x": [1.0, 2.0]})
        b = pd.DataFrame({"x": [1.0, 2.0000000000000004]})
        self.assertNotEqual(results.digest(a)["hash"], results.digest(b)["hash"])


class Summary(unittest.TestCase):
    def test_every_metric_printed_with_its_unit(self):
        e2e = {k: 1.5 for k in metrics.END_TO_END}
        layers = {k: 2.0 for k in metrics.PER_LAYER}
        line = metrics.summary("crawl_batch", e2e, layers, {"failed_frac": 0.0}, [])
        for k, u in {**metrics.END_TO_END, **metrics.PER_LAYER}.items():
            self.assertIn(f" {k}=", line)
            self.assertRegex(line, f" {k}=[0-9.e+-]+ {u}( |$)")

    def test_result_line(self):
        r = metrics.result_line(True, 0, 0, {"wall_s": 1.25}, metrics.END_TO_END)
        self.assertEqual(r, {"correct": True, "attempted": 1, "failed": 0,
                             "metrics": {"wall_s": {"value": 1.25, "unit": "s"}}})

    def test_names_and_units_match_benchmark_json(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER)

    def test_per_layer_reports_every_metric_on_every_workload(self):
        raw = {"ops": [op(10.0, kind="stage", name="c1_crawldb_merge")], "spans": [],
               "pass": {"wall_s": 1.0, "gc_s": 0.1}, "cached_left": 2,
               "cache_entries": 0, "cache_bytes": 0}
        for w in ("crawl_batch", "content_scan", "serve_pages"):
            self.assertEqual(set(metrics.per_layer(w, raw)), set(metrics.PER_LAYER))

    def test_batch_overhead_against_the_untraced_base(self):
        raw = {"ops": [op(10.0, kind="stage", name="c1_crawldb_merge")], "spans": [],
               "pass": {"wall_s": 1.1, "gc_s": 0.1}, "cached_left": 0}
        m = metrics.per_layer("crawl_batch", raw, base_wall_s=1.0)
        self.assertAlmostEqual(m["trace_overhead_pct"], 10.0)


if __name__ == "__main__":
    unittest.main()
