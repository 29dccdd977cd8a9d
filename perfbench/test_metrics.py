"""Tests of the benchmark's own rules.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def op(i, layer, name, phase="publish", start=0, end=1000, ok=True, wall=1.0):
    return {"id": i, "layer": layer, "name": name, "phase": phase,
            "start_ms": start, "end_ms": end, "wall_s": wall, "cpu_s": wall,
            "ok": ok, "error": "" if ok else "java.lang.IllegalStateException: boom",
            "extra": {}}


class PercentileRule(unittest.TestCase):
    def test_p75_of_40_has_ten_beyond(self):
        xs = list(range(1, 41))
        self.assertEqual(metrics.tail_percentile(xs, 75), 30)

    def test_p90_of_100_has_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail_percentile(xs, 90), 90)
        self.assertEqual(sum(1 for x in xs if x > 90), 10)

    def test_refuses_a_tail_with_fewer_than_ten_beyond(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile(list(range(1, 100)), 90)  # 9 beyond
        with self.assertRaises(ValueError):
            metrics.tail_percentile(list(range(1, 101)), 95)  # 5 beyond

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        # p90 lands on the run of 2.0s: only the five 3.0s lie beyond it
        xs = [1.0] * 85 + [2.0] * 10 + [3.0] * 5
        with self.assertRaises(ValueError):
            metrics.tail_percentile(xs, 90)

    def test_lookup_tail_is_refused_when_the_loop_ran_short(self):
        # the lookup tail is p75: 36 lookups leave only 9 beyond it
        raw = {"ops": [op(i, "engine.Serving", "lookup", "serve", wall=0.1 + i / 1e3)
                       for i in range(36)], "jobs": [], "totals": {},
               "setup": {"setup_s": 1.0}, "peak_heap_mb": 1.0, "run_id": "r"}
        with self.assertRaises(ValueError):
            metrics.per_layer(raw)


class MetricNames(unittest.TestCase):
    def test_every_metric_name_is_well_formed(self):
        names = list(metrics.END_TO_END) + list(metrics.per_layer_units())
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertTrue(metrics.NAME_RE.match(n), n)

    def test_benchmark_json_lists_exactly_the_printed_metrics(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.per_layer_units())

    def test_name_rule_rejects_bad_names(self):
        for bad in ("", "_lead", "a b", "x/y", "a" * 65):
            self.assertIsNone(metrics.NAME_RE.match(bad), bad)


class FailureCounting(unittest.TestCase):
    def test_failed_ops_and_checks_are_counted_and_named(self):
        raw = {"ops": [op(1, "ComposedArtifacts", "suffix"),
                       op(2, "TrainingEntries", "q248_suffix_hot_fold", "serve", ok=False),
                       op(3, "TrainingEntries", "q230_suffix_repeats", "serve")],
               "checks": [{"name": "receipt", "ok": False, "detail": "mismatch"},
                          {"name": "oracle q230", "ok": True, "detail": ""}]}
        attempted, failed, failures = metrics.count_failures(raw)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual([f[0] for f in failures],
                         ["TrainingEntries/q248_suffix_hot_fold", "check: receipt"])
        self.assertIn("boom", failures[0][1])

    def test_a_failed_op_still_adds_its_time(self):
        raw = {"ops": [op(1, "TrainingEntries", "a", "serve", wall=2.0),
                       op(2, "TrainingEntries", "b", "serve", ok=False, wall=3.0)],
               "setup": {"setup_s": 1.0}, "peak_heap_mb": 1.0}
        self.assertEqual(metrics.end_to_end(raw)["total_s"], 5.0)


class LayerAttribution(unittest.TestCase):
    def test_every_ingest_stage_has_a_module(self):
        # the stage names IngestDemo declares, read from its source
        import re
        src = os.path.join(HERE, "..", "src", "main", "scala", "graft", "IngestDemo.scala")
        with open(src) as f:
            stages = set(re.findall(r'^\s+"((?:boot|inc|cal|tdn)_[a-z_]+)" ->', f.read(), re.M))
        self.assertTrue(stages)
        self.assertEqual(stages, set(metrics.STAGE_MODULE))
        self.assertTrue(set(metrics.STAGE_MODULE.values()) <= set(metrics.MODULE_METRICS))

    def test_an_unmapped_stage_is_refused(self):
        raw = {"ops": [op(1, "IngestDemo", "boot_new_store", "ingest")], "jobs": [],
               "totals": {}, "setup": {"setup_s": 1.0}, "peak_heap_mb": 1.0, "run_id": "r"}
        with self.assertRaises(ValueError):
            metrics.per_layer(raw)

    def test_stage_groups_and_module_sums(self):
        raw = {"ops": [op(1, "IngestDemo", "boot_fp_store", "ingest", wall=1.0),
                       op(2, "IngestDemo", "inc_exact_dedup", "ingest", wall=2.0),
                       op(3, "IngestDemo", "tdn_receipts", "ingest", wall=4.0),
                       op(4, "IngestDemo", "cal_artifact_receipts", "ingest", wall=8.0)],
               "jobs": [], "totals": {}, "setup": {"setup_s": 1.0},
               "peak_heap_mb": 1.0, "run_id": "r"}
        m = metrics.per_layer(raw)
        self.assertEqual([m[f"IngestDemo.{g}.wall_s"] for g in metrics.INGEST_GROUPS],
                         [1.0, 2.0, 8.0])
        self.assertEqual(m["TextAnalysis.ingest_s"], 1.0)
        self.assertEqual(m["Dedup.ingest_s"], 2.0)
        self.assertEqual(m["Curation.receipts_s"], 12.0)
        self.assertEqual(m["Curation.ingest_s"], 0.0)

    def test_stream_start_is_drain_but_not_a_batch(self):
        start = op(1, "streaming.DocStreams", "dedupedDocs", "traced", wall=5.0)
        start["extra"] = {"start": 1}
        batches = [op(i, "streaming.DocStreams", "dedupedDocs", "traced", wall=w)
                   for i, w in ((2, 0.3), (3, 0.1), (4, 0.2))]
        for b, rows in zip(batches, (4, 9, 7)):
            b["extra"] = {"state_rows": rows}
        raw = {"ops": [start] + batches, "jobs": [], "totals": {},
               "setup": {"setup_s": 1.0}, "peak_heap_mb": 1.0, "run_id": "r"}
        m = metrics.per_layer(raw)
        self.assertAlmostEqual(m["streaming.DocStreams.dedupedDocs.drain_s"], 5.6)
        self.assertAlmostEqual(m["streaming.DocStreams.dedupedDocs.batch_p50_ms"], 200.0)
        self.assertEqual(m["streaming.DocStreams.dedupedDocs.state_rows"], 9)
        # traced-only layers stay outside the end-to-end times
        self.assertEqual(metrics.end_to_end(raw)["total_s"], 0.0)


class DriverGap(unittest.TestCase):
    def test_idle_time_around_and_between_jobs(self):
        self.assertEqual(metrics.driver_gap(0, 10, [(1, 3), (5, 6)]), 7)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(metrics.driver_gap(2, 9, []), 7)

    def test_overlapping_pool_jobs_count_once(self):
        # three chains from a driver thread pool overlap in [1, 6]
        jobs = [(1, 4), (2, 5), (3, 6), (8, 9)]
        self.assertEqual(metrics.driver_gap(0, 10, jobs), 10 - 5 - 1)

    def test_nested_and_touching_jobs(self):
        self.assertEqual(metrics.driver_gap(0, 10, [(1, 9), (2, 3), (9, 10)]), 1)

    def test_jobs_are_clipped_to_the_span(self):
        self.assertEqual(metrics.driver_gap(2, 4, [(0, 3), (3.5, 7)]), 0.5)

    def test_per_layer_gap_uses_each_ops_own_jobs(self):
        raw = {"ops": [op(1, "ComposedArtifacts", "suffix", start=0, end=10000, wall=10.0)],
               "jobs": [{"id": 0, "span": "1", "start_ms": 1000, "end_ms": 4000},
                        {"id": 1, "span": "1", "start_ms": 2000, "end_ms": 5000},
                        {"id": 2, "span": "", "start_ms": 6000, "end_ms": 9000}],
               "totals": {}, "setup": {"setup_s": 1.0}, "peak_heap_mb": 1.0,
               "run_id": "r"}
        m = metrics.per_layer(raw)
        self.assertEqual(m["ComposedArtifacts.suffix.jobs"], 2)
        self.assertAlmostEqual(m["ComposedArtifacts.suffix.driver_gap_s"], 6.0)


if __name__ == "__main__":
    unittest.main()
