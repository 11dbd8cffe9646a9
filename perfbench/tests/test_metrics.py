"""Unit tests for the benchmark's metric rules.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402

MERGE = "graft.core.TableWriter$.stagedOverwriteWith(Merge.scala:276)"
PIPELINE = "graft.pipeline.Pipeline.runInner(Pipeline.scala:160)"
MANIFEST = "graft.core.TableManifest.read(Manifest.scala:94)"
FOOTERS = "graft.core.ParquetFooters$.rowCount(ParquetFooters.scala:20)"
FUTURE_SITE = ("org.apache.spark.sql.execution.SQLExecution$.withThreadLocalCaptured"
               " <- java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)")


def job(exec_id=-1, frames=(), stage_frames=(), stage_site=""):
    return {"exec_id": exec_id, "frames": list(frames), "stage_frames": list(stage_frames),
            "stage_site": stage_site}


class CallSiteToLayer(unittest.TestCase):
    def test_module_of_frames(self):
        self.assertEqual(metrics.module_of(MERGE), "core.Merge")
        self.assertEqual(metrics.module_of(PIPELINE), "pipeline")
        self.assertEqual(metrics.module_of(MANIFEST), "core.Manifest")
        self.assertEqual(metrics.module_of(
            "graft.connectors.rest.RestEngine$.readResource(RestEngine.scala:575)"), "connectors.rest")
        self.assertEqual(metrics.module_of(
            "graft.ops.Lexical$Index$.search(Lexical.scala:412)"), "ops.Lexical")
        self.assertIsNone(metrics.module_of(FOOTERS))

    def test_sql_execution_call_site_wins_over_an_aqe_stage_site(self):
        # under AQE the stage call site is the CompletableFuture thread; the
        # execution's call site still names the engine frame
        j = job(exec_id=7, frames=[MERGE, PIPELINE], stage_frames=[], stage_site=FUTURE_SITE)
        self.assertEqual(metrics.job_layer(j, "pipeline"), "core.Merge")

    def test_job_without_execution_falls_back_to_stage_call_site(self):
        # mergeSchema footer jobs run outside any SQL execution
        j = job(exec_id=-1, frames=[], stage_frames=[MANIFEST, PIPELINE])
        self.assertEqual(metrics.job_layer(j, "consumer"), "core.Manifest")

    def test_innermost_listed_module_decides(self):
        j = job(exec_id=3, frames=[FOOTERS, MERGE, PIPELINE])
        self.assertEqual(metrics.job_layer(j, None), "core.Merge")

    def test_graft_frames_outside_listed_modules_are_unattributed(self):
        j = job(exec_id=3, frames=[FOOTERS])
        self.assertEqual(metrics.job_layer(j, "consumer"), metrics.UNATTRIBUTED)

    def test_no_graft_frame_takes_the_enclosing_span_layer(self):
        j = job(exec_id=4, frames=[], stage_site=FUTURE_SITE)
        self.assertEqual(metrics.job_layer(j, "ops.Lexical"), "ops.Lexical")
        self.assertEqual(metrics.job_layer(j, None), metrics.UNATTRIBUTED)


class TailPercentile(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(metrics.tail(list(range(19))))
        self.assertIsNone(metrics.tail([]))

    def test_twenty_samples_give_the_median(self):
        p, v = metrics.tail([float(x) for x in range(1, 21)])
        self.assertEqual((p, v), (50, 10.0))

    def test_highest_rung_with_ten_beyond(self):
        xs = [float(x) for x in range(1, 101)]
        self.assertEqual(metrics.tail(xs), (90, 90.0))
        xs = [float(x) for x in range(1, 1001)]
        self.assertEqual(metrics.tail(xs), (99, 990.0))

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        xs = [1.0] * 30 + [2.0] * 5
        self.assertIsNone(metrics.tail(xs))


class IntervalUnionAndSplit(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_split_sums_to_the_op_wall_time(self):
        parts = metrics.split_time((0, 100), [(10, 30, "core.Merge"), (20, 40, "core.Incremental")], [])
        self.assertAlmostEqual(sum(parts.values()), 100)
        self.assertAlmostEqual(parts["core.Merge"], 15)        # 10..20 alone, half of 20..30
        self.assertAlmostEqual(parts["core.Incremental"], 15)  # half of 20..30, 30..40 alone
        self.assertAlmostEqual(parts[metrics.DRIVER_GAP], 70)

    def test_driver_gap_is_the_op_minus_the_job_union(self):
        jobs = [(5, 15, "pipeline"), (10, 20, "core.Manifest"), (50, 60, "core.Manifest")]
        parts = metrics.split_time((0, 100), jobs, [])
        covered = metrics.union_length([(s, e) for s, e, _ in jobs])
        self.assertAlmostEqual(parts[metrics.DRIVER_GAP], 100 - covered)

    def test_uncovered_time_in_a_span_goes_to_the_span_layer(self):
        parts = metrics.split_time((0, 100), [(30, 40, "connectors.rest")], [(0, 50, "connectors.rest")])
        self.assertAlmostEqual(parts["connectors.rest"], 50)
        self.assertAlmostEqual(parts[metrics.DRIVER_GAP], 50)

    def test_jobs_are_clipped_to_the_op(self):
        parts = metrics.split_time((10, 20), [(0, 15, "core.Merge")], [])
        self.assertAlmostEqual(parts["core.Merge"], 5)
        self.assertAlmostEqual(sum(parts.values()), 10)


if __name__ == "__main__":
    unittest.main()
