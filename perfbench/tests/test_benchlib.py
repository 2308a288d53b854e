"""Self-tests of the benchmark harness: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import benchlib  # noqa: E402
import run  # noqa: E402

REPO_SRC = os.path.join(os.path.dirname(os.path.dirname(HERE)), "src", "main", "scala")


class PercentileRule(unittest.TestCase):
    def test_no_tail_below_twenty_samples(self):
        self.assertIsNone(benchlib.tail_percentile(list(range(19))))

    def test_p50_needs_ten_beyond(self):
        self.assertEqual(benchlib.tail_percentile(list(range(1, 21))), (50.0, 10))

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        # p90 leaves exactly 10 samples above rank 90; p99 would leave 1
        self.assertEqual(benchlib.tail_percentile(xs), (90.0, 90))
        self.assertEqual(benchlib.tail_percentile(list(range(1, 1001)))[0], 99.0)
        self.assertEqual(benchlib.tail_percentile(list(range(1, 10001)))[0], 99.9)

    def test_summary_reports_median_and_n(self):
        s = benchlib.summary([3.0, 1.0, 2.0])
        self.assertEqual((s["median"], s["n"], s["tail"]), (2.0, 3, None))


class CallSiteModules(unittest.TestCase):
    FILES = {"Cli.scala": "cli", "DataIO.scala": "sources", "Dedup.scala": "llm",
             "Streams.scala": "streaming", "Trainer.scala": "ml"}

    def test_first_program_frame_wins(self):
        site = ("count at Dedup.scala:812\n"
                "org.apache.spark.sql.Dataset.count(Dataset.scala:3500)\n"
                "graft.llm.Dedup$.dropSeenCounted(Dedup.scala:812)\n"
                "graft.cli.Streamer$.$anonfun$main$1(Cli.scala:3041)")
        self.assertEqual(benchlib.module_of_site(site, self.FILES), "llm")

    def test_library_frames_are_skipped(self):
        site = ("treeAggregate at RDDLossFunction.scala:61\n"
                "org.apache.spark.ml.optim.loss.RDDLossFunction.calculate(RDDLossFunction.scala:61)\n"
                "graft.ml.Trainer$.train(Trainer.scala:118)")
        self.assertEqual(benchlib.module_of_site(site, self.FILES), "ml")

    def test_no_program_frame(self):
        site = "collect at Driver.scala:40\ngraft.perfbench.Workloads.probes(Driver.scala:40)"
        self.assertEqual(benchlib.module_of_site(site, self.FILES), "bench")
        self.assertEqual(benchlib.module_of_site(site, self.FILES, streaming=True), "streaming")

    @unittest.skipUnless(os.path.isdir(REPO_SRC), "program sources not present")
    def test_source_tree_mapping(self):
        m = benchlib.source_modules(REPO_SRC)
        self.assertEqual(m["Cli.scala"], "cli")
        self.assertEqual(m["DataIO.scala"], "sources")
        self.assertEqual(m["Dedup.scala"], "llm")
        self.assertEqual(m["Ops.scala"], "operators")
        self.assertEqual(m["Streams.scala"], "streaming")
        self.assertEqual(m["DataDiff.scala"], "datadiff")
        self.assertEqual(m["ColumnBridge.scala"], "functions")


class Names(unittest.TestCase):
    def test_metric_and_workload_names(self):
        names = run.per_layer_names() + [n for n, _ in run.END_TO_END] + run.WORKLOADS
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(benchlib.NAME_RE.match(n), n)

    def test_invalid_names_rejected(self):
        for n in ["", "a b", "x/y", "_lead", "a" * 65]:
            self.assertFalse(benchlib.NAME_RE.match(n), n)

    def test_benchmark_json_matches_harness(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json not present")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)
        self.assertEqual([m["name"] for m in b["end_to_end"]], [n for n, _ in run.END_TO_END])
        self.assertEqual([m["name"] for m in b["per_layer"]], run.per_layer_names())


class FailedRatio(unittest.TestCase):
    STEPS = [{"name": f"cli:{n}", "error": None} for n in ("mover", "trainer", "scorer", "differ")]

    def test_failed_check_counts_as_failure(self):
        self.assertEqual(benchlib.outcome(self.STEPS, True), (5, 0))
        self.assertEqual(benchlib.outcome(self.STEPS, False), (5, 1))
        a1, f1 = benchlib.outcome(self.STEPS, True)
        a2, f2 = benchlib.outcome(self.STEPS, False)
        self.assertAlmostEqual(benchlib.failed_ratio(a1 + a2, f1 + f2), 0.1)
        line = benchlib.result_line(f1 + f2 == 0, a1 + a2, f1 + f2, {})
        self.assertEqual((line["correct"], line["attempted"], line["failed"]), (False, 10, 1))

    def test_thrown_step_and_its_check_both_fail(self):
        steps = self.STEPS[:1] + [{"name": "cli:trainer", "error": "IllegalStateException"}]
        self.assertEqual(benchlib.outcome(steps, False), (3, 2))

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(benchlib.failed_ratio(0, 0), 1.0)


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [{"id": 1, "parent": 0, "name": "w", "start": 0, "end": 10_000},
                 {"id": 2, "parent": 1, "name": "a", "start": 1_000, "end": 4_000},
                 {"id": 3, "parent": 1, "name": "b", "start": 3_000, "end": 6_000},
                 {"id": 4, "parent": 2, "name": "c", "start": 1_000, "end": 2_000}]
        st = benchlib.self_times(spans)
        self.assertEqual(st[1], 5.0)   # children cover 1..6 s
        self.assertEqual(st[2], 2.0)
        self.assertEqual(st[4], 1.0)

    def test_job_attached_to_innermost_span(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 100},
                 {"id": 2, "parent": 1, "start": 10, "end": 50}]
        self.assertEqual(benchlib.span_of(spans, 20)["id"], 2)
        self.assertEqual(benchlib.span_of(spans, 60)["id"], 1)
        self.assertIsNone(benchlib.span_of(spans, 200))


if __name__ == "__main__":
    unittest.main()
