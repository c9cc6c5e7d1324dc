"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import benchlib  # noqa: E402
import run  # noqa: E402


def span(id, parent, name, start, end):
    return {"id": id, "parent": parent, "name": name, "group": "",
            "start_ns": start * 1_000_000, "end_ns": end * 1_000_000}


def job(span_id, start, end, site=""):
    return {"span": span_id, "start_ms": start, "end_ms": end, "site": site}


CLOCK = {"nano": 0, "milli": 0}  # spans and jobs on one clock, in ms


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(benchlib.supported_percentile(19))
        self.assertEqual(benchlib.supported_percentile(20), 50.0)
        self.assertEqual(benchlib.supported_percentile(99), 75.0)
        self.assertEqual(benchlib.supported_percentile(100), 90.0)
        self.assertEqual(benchlib.supported_percentile(200), 95.0)
        self.assertEqual(benchlib.supported_percentile(1000), 99.0)
        self.assertEqual(benchlib.supported_percentile(10000), 99.9)

    def test_interpolated_percentile(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertAlmostEqual(benchlib.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(benchlib.percentile(xs, 90), 90.1)
        self.assertEqual(benchlib.percentile([7.0], 90), 7.0)
        self.assertRaises(ValueError, benchlib.percentile, [], 50)

    def test_spread_is_quartile_distance_over_median(self):
        self.assertAlmostEqual(benchlib.spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)


class FailureAccounting(unittest.TestCase):
    OPS = [{"ms": 10.0, "ok": True, "unit": "a"},
           {"ms": 12.0, "ok": True, "unit": "b"},
           {"ms": 5.0, "ok": False, "unit": "c"},
           {"ms": 11.0, "ok": True, "unit": "b"}]

    def test_failed_and_wrong_outputs_both_count(self):
        self.assertEqual(benchlib.accounting(self.OPS), (4, 1))
        self.assertEqual(benchlib.accounting(benchlib.mark_wrong(self.OPS, ["b"])), (4, 3))

    def test_failed_operation_misses_every_latency(self):
        lat = benchlib.latencies(self.OPS)
        self.assertEqual(lat[2], math.inf)
        # a fast failure must not pull the median down
        self.assertEqual(benchlib.percentile(lat, 50), 11.5)
        self.assertEqual(benchlib.percentile(lat, 100), math.inf)

    def test_mark_wrong_fails_every_operation_of_a_unit(self):
        marked = benchlib.mark_wrong(self.OPS, ["b"])
        self.assertEqual([o["ok"] for o in marked], [True, False, False, False])
        self.assertTrue(self.OPS[1]["ok"])  # input untouched


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(benchlib.union_length([]), 0)
        self.assertEqual(benchlib.union_length([(3, 3)]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [span(1, 0, "root", 0, 100),
                 span(2, 1, "a", 10, 40),
                 span(3, 1, "b", 30, 60),   # overlaps a (another thread)
                 span(4, 2, "c", 15, 20)]
        st = benchlib.self_times(spans)
        self.assertEqual(st[1], 50 * 1_000_000)  # 100 - union(10..60)
        self.assertEqual(st[2], 25 * 1_000_000)
        self.assertEqual(st[3], 30 * 1_000_000)
        self.assertEqual(st[4], 5 * 1_000_000)

    def test_child_outside_parent_is_clipped(self):
        st = benchlib.self_times([span(1, 0, "p", 0, 10), span(2, 1, "c", 5, 30)])
        self.assertEqual(st[1], 5 * 1_000_000)

    def test_layer_time_moves_jobs_of_a_named_layer(self):
        spans = [span(1, 0, "facade.ingest", 0, 100)]
        jobs = [job(1, 10, 30, "graft.etl.Validate$.validateSchema"),
                job(1, 20, 50, "graft.etl.Validate$.validateSchema"),
                job(1, 60, 70, "graft.store.Store.appendLogRow")]
        layers = benchlib.layer_self_ms(spans, jobs, CLOCK)
        self.assertAlmostEqual(layers["etl.validate"], 40.0)
        self.assertAlmostEqual(layers["store.ingest"], 60.0)
        self.assertAlmostEqual(sum(layers.values()), 100.0)

    def test_driver_gap_is_wall_minus_job_union(self):
        spans = [span(1, 0, "entry.query", 0, 100), span(2, 1, "x", 10, 90)]
        jobs = [job(2, 10, 40), job(1, 30, 50), job(0, 0, 100)]
        self.assertAlmostEqual(benchlib.driver_gap_ms(spans, jobs, CLOCK, {1}), 60.0)


class FilterOracle(unittest.TestCase):
    def test_filter_sql_follows_the_dsl(self):
        sql = run.filter_sql({"fuel": "Gas", "year": {"gte": "2005"},
                              "$or": [{"item": {"like": "l1%"}}, {"value": {"lt": 3}}]})
        self.assertEqual(
            sql, "lower(\"fuel\") = lower('Gas') AND \"year\" >= CAST('2005' AS INTEGER)"
                 " AND ((lower(\"item\") LIKE lower('l1%')) OR (\"value\" < CAST('3' AS DOUBLE)))")
        self.assertEqual(run.filter_sql({}), "TRUE")


class EndToEnd(unittest.TestCase):
    def test_operators_pass_is_summed_query_by_query(self):
        ops = [{"unit": q, "ms": ms, "ok": True} for q, ms in
               [("a", 100.0), ("b", 10.0), ("a", 300.0), ("b", 30.0), ("a", 200.0), ("b", 20.0)]]
        m = run.e2e_metrics("operators", {"pass_s": 0.66}, ops, 5.0)
        self.assertEqual(m["op_p50_ms"], (220.0, "ms"))
        self.assertEqual(m["op_p75_ms"], (250.0 + 25.0, "ms"))
        self.assertAlmostEqual(m["ops_per_s"][0], 3 / 0.66)
        ops[1]["ok"] = False  # one failed run of b: b misses every limit
        self.assertEqual(run.e2e_metrics("operators", {"pass_s": 1.0}, ops, 5.0)["op_p75_ms"][0], 1e9)


class HostFlag(unittest.TestCase):
    def test_steal_share_of_cpu_time_in_between(self):
        self.assertAlmostEqual(run.steal_share((10, 1000), (60, 2000)), 0.05)
        self.assertIsNone(run.steal_share(None, (60, 2000)))
        self.assertIsNone(run.steal_share((10, 1000), (10, 1000)))


class MetricNames(unittest.TestCase):
    """The metrics run.py prints are the ones BENCHMARK.json declares."""

    def test_names_and_units_match_the_declaration(self):
        import json
        decl = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in decl["end_to_end"]], run.E2E)
        record = {
            "setup_trace": {"spans": [], "jobs": [], "clock": CLOCK},
            "pass_trace": {"spans": [span(1, 0, "entry.query", 0, 10)],
                           "jobs": [dict(job(1, 0, 5), stages=1, tasks=2, cpu_ns=1, gc_ms=0,
                                         shuffle_bytes=0, input_bytes=0)],
                           "clock": CLOCK},
            "ops": [{"kind": "query", "ms": 10.0, "ok": True, "traced": True}],
            "sentinel_ms": [50.0, 60.0],
            "primary": {"untraced": 10.0, "traced": 11.0, "untraced_after": 10.0},
        }
        metrics, _ = run.layer_metrics("operators", record, 0)
        self.assertEqual({k: u for k, (_, u) in metrics.items()},
                         {m["name"]: m["unit"] for m in decl["per_layer"]})
        self.assertAlmostEqual(metrics["trace.overhead_pct"][0], 10.0)


if __name__ == "__main__":
    unittest.main()
