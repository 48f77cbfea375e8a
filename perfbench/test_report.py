"""Tests of the benchmark's own logic (run: python3 perfbench/test_report.py).

The digest and the per-slice extract read-back are JVM code; their tests
are in src/test/scala (run: cd perfbench && sbt test).
"""
import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import report  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(report.tail_percentile(19))
        self.assertEqual(report.tail_percentile(20), 50)
        self.assertEqual(report.tail_percentile(40), 75)
        self.assertEqual(report.tail_percentile(100), 90)
        self.assertEqual(report.tail_percentile(1000), 99)

    def test_ten_samples_lie_beyond_the_reported_percentile(self):
        for n in range(20, 400):
            p = report.tail_percentile(n)
            vals = list(range(n))
            beyond = [v for v in vals if v > report.percentile(vals, p)]
            self.assertGreaterEqual(len(beyond), 10, n)
            if p < 99:
                nxt = [v for v in vals
                       if v > report.percentile(vals, p + 1)]
                self.assertLess(len(nxt), 10, n)


class LayerAttribution(unittest.TestCase):
    SITE = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:3570)\n"
            "graft.pipeline.Rollup$.merge(Rollup.scala:210)\n"
            "graft.Warehouse.$anonfun$maintainStores$2(Warehouse.scala:2120)\n"
            "graft.Warehouse.sync(Warehouse.scala:1224)\n"
            "perfbench.Run.$anonfun$syncDaily$2(Main.scala:240)")

    def test_innermost_engine_frame_wins(self):
        self.assertEqual(report.layer_of_call_site(self.SITE), "Rollup")

    def test_module_groups(self):
        cases = {
            "graft.plans.SkippingFilePrune$.apply(X.scala:1)": "Skipping",
            "graft.plans.ManifestResolve$.apply(X.scala:1)": "Manifest",
            "graft.pipeline.FreshFold$.run(X.scala:1)": "AppendCommit",
            "graft.pipeline.SafeSwap$.swap(X.scala:1)": "AppendCommit",
            "graft.sources.LazyTsv.scan(X.scala:1)": "TsvSource",
            "graft.operators.Quantize$.probe(X.scala:1)": "Other",
            "graft.WarehouseHelper.x(X.scala:1)": "Other",
            "app//graft.pipeline.Sync$.run(Sync.scala:9)": "Sync",
        }
        for site, layer in cases.items():
            self.assertEqual(report.layer_of_call_site(site), layer, site)

    def test_no_engine_frame(self):
        self.assertIsNone(report.layer_of_call_site(
            "perfbench.Run.step(Main.scala:1)\nscala.Option.map(O.scala:2)"))
        self.assertIsNone(report.layer_of_call_site(""))

    def test_adaptive_sub_job_follows_its_sql_execution(self):
        # a job Spark submits from its own thread has no user frame; the
        # SQL execution it belongs to carries the caller's call site
        job = {"call_site": "org.apache.spark.sql.execution.adaptive."
                            "QueryStageExec.materialize(Q.scala:1)",
               "sql_call_site": self.SITE}
        self.assertEqual(report.layer_of_job(job, "Warehouse"), "Rollup")

    def test_fallback_is_the_calling_span(self):
        job = {"call_site": "perfbench.Run.x(Main.scala:1)",
               "sql_call_site": ""}
        self.assertEqual(report.layer_of_job(job, "Graph"), "Graph")
        self.assertEqual(report.layer_of_job(job, None), "Other")


class KnownFailure(unittest.TestCase):
    def test_only_the_recorded_drift_is_known(self):
        known = report.is_known_failure
        self.assertTrue(known("q122_pagerank", [("rank", 2e-16)] * 3))
        self.assertFalse(known("q122_pagerank", []))
        self.assertFalse(known("q122_pagerank", [("rank", 1e-6)]))
        self.assertFalse(known("q122_pagerank",
                               [("rank", 2e-16), ("node", float("inf"))]))
        self.assertFalse(known("q152_median_mad", [("median", 1e-17)]))


class StepAccounting(unittest.TestCase):
    def test_layers_plus_driver_equal_wall_time(self):
        jobs = [(1.0, 3.0, "Sync"), (2.0, 2.5, "Rollup"),
                (4.0, 6.0, "Dedup"), (5.5, 7.0, "Dedup")]
        own, driver = report.attribute(0.0, 10.0, jobs)
        self.assertAlmostEqual(sum(own.values()) + driver, 10.0)
        # the nested Rollup job is Sync's child span: its 0.5 s leaves Sync
        self.assertAlmostEqual(own["Sync"], 1.5)
        self.assertAlmostEqual(own["Rollup"], 0.5)
        self.assertAlmostEqual(own["Dedup"], 3.0)
        self.assertAlmostEqual(driver, 5.0)

    def test_jobs_clipped_to_the_step(self):
        own, driver = report.attribute(1.0, 2.0, [(0.5, 1.5, "Sync")])
        self.assertAlmostEqual(own["Sync"], 0.5)
        self.assertAlmostEqual(driver, 0.5)

    def traced(self, sample_until_ms):
        """One 1 s no-op sync step with one Sync job over 200-400 ms and a
        CatalogSync stack sample every 10 ms up to `sample_until_ms`."""
        frame = "graft.catalog.CatalogSync$.diff(CatalogSync.scala:3)"
        return {
            "steps": [{"id": "s0", "kind": "noop_sync", "timed": True,
                       "start_ms": 0, "end_ms": 1000, "fs_read_bytes": 0,
                       "fs_write_bytes": 0, "extra": {}}],
            "spans": [],
            "jobs": [{"id": 0, "group": "s0", "start_ms": 200,
                      "end_ms": 400, "task_s": 0.1,
                      "call_site": "graft.pipeline.Sync$.run(Sync.scala:1)",
                      "sql_call_site": "", "shuffle_write_bytes": 0}],
            "stack_samples": [[t, frame]
                              for t in range(0, sample_until_ms, 10)],
            "notes": {}}

    def test_sampled_driver_time_matches_the_time_outside_jobs(self):
        metrics, check, _ = report.layer_table(self.traced(1000))
        sampled, measured = check["noop_sync"]
        self.assertAlmostEqual(measured, 0.8)
        self.assertAlmostEqual(metrics["noop_sync.driver_only_s"], 0.8)
        self.assertAlmostEqual(sampled, metrics["CatalogSync.driver_s"])
        self.assertLess(abs(sampled - measured), 2 * report.SAMPLE_S)
        self.assertAlmostEqual(metrics["Sync.job_s"], 0.2)

    def test_a_stalled_sampler_shows_as_a_gap(self):
        _, check, _ = report.layer_table(self.traced(500))
        sampled, measured = check["noop_sync"]
        self.assertGreater(measured - sampled, 0.4)


class Slicing(unittest.TestCase):
    def test_every_row_in_exactly_one_slice(self):
        tables = gen.make_tables(np.random.default_rng(7))
        for name in gen.DIMS + gen.FACTS:
            sl = gen.slices_of(name, tables[name])
            gen.check_slicing(name, tables[name], sl)
            n = len(next(iter(tables[name].values())))
            self.assertEqual(len(sl), n)

    def test_spans_and_ranges(self):
        sl = gen.slice_by_span([0, 9.99, 10, 99.9, 100], 0, 100, n=10)
        self.assertEqual(sl.tolist(), [0, 0, 1, 9, 9])
        ids = np.arange(25)
        sl = gen.slice_by_id(ids, 25, n=5)
        self.assertEqual(np.bincount(sl).tolist(), [5] * 5)
        self.assertTrue((np.diff(sl) >= 0).all())

    def test_a_row_outside_every_slice_is_caught(self):
        cols = {"k": np.arange(4)}
        with self.assertRaises(AssertionError):
            gen.check_slicing("region", cols,
                              np.array([0, 1, gen.N_SLICES, 1]))


if __name__ == "__main__":
    unittest.main()
