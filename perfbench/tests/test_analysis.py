"""Tests for the benchmark's own analysis code.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import analysis  # noqa: E402

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")


class PercentileTest(unittest.TestCase):
    def test_interpolates_and_counts(self):
        p = analysis.pct([4.0, 1.0, 3.0, 2.0], 50)
        self.assertAlmostEqual(p.value, 2.5)
        self.assertEqual((p.n, p.beyond), (4, 2))

    def test_extremes_and_empty(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(analysis.pct(xs, 0).value, 1.0)
        self.assertEqual(analysis.pct(xs, 100).value, 100.0)
        self.assertEqual(analysis.pct(xs, 100).beyond, 0)
        self.assertEqual(analysis.pct([], 95).n, 0)

    def test_highest_supported_needs_ten_beyond(self):
        q, p = analysis.highest_supported([float(i) for i in range(40)])
        self.assertEqual(q, 75)
        self.assertGreaterEqual(p.beyond, 10)
        q, _ = analysis.highest_supported([float(i) for i in range(200)])
        self.assertEqual(q, 95)
        self.assertIsNone(analysis.highest_supported([1.0] * 5))


def write_log(d, name, entries):
    with open(os.path.join(d, name), "w") as f:
        f.write("v1\n")
        for path, batch in entries:
            f.write(json.dumps({"path": path, "timestamp": 0, "batchId": batch}) + "\n")


class AttributionTest(unittest.TestCase):
    def test_reads_compacted_and_plain_entries(self):
        with tempfile.TemporaryDirectory() as cp:
            d = os.path.join(cp, "sources", "0")
            os.makedirs(d)
            seg = "file:///data/in/segment_{}/part-0.csv"
            # batches 0..9 survive only in the compacted file
            write_log(d, "9.compact", [(seg.format(k), k) for k in range(10)])
            write_log(d, "10", [(seg.format(10), 10), (seg.format(11), 10)])
            write_log(d, "11", [(seg.format(12), 11)])
            open(os.path.join(d, ".10.crc"), "w").close()
            log = analysis.file_source_log(cp)
            self.assertEqual(len(log), 13)
            segments = [{"name": f"segment_{k}", "due": 0.0} for k in range(14)]
            triggers = {b: 1000.0 + b for b in range(12)}
            done, missing = analysis.attribute(segments, log, triggers)
            self.assertEqual([s["name"] for s in missing], ["segment_13"])
            by = {s["name"]: (s["batch"], s["end"]) for s in done}
            self.assertEqual(by["segment_3"], (3, 1003.0))
            self.assertEqual(by["segment_11"], (10, 1010.0))

    def test_segment_without_a_finished_trigger_is_missing(self):
        log = {"file:///in/segment_0/part-0.csv": 4}
        done, missing = analysis.attribute([{"name": "segment_0"}], log, {})
        self.assertEqual((done, len(missing)), ([], 1))


def span(i, parent, name, start, end, trace="t"):
    return {"id": i, "parent": parent, "trace": trace, "name": name, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        spans = [span(1, -1, "query", 0, 10), span(2, 1, "build", 1, 4),
                 span(3, 1, "exec", 3, 8), span(4, 3, "inner", 5, 6)]
        st = analysis.self_times(spans)
        self.assertAlmostEqual(st["query"], 3.0)  # children cover [1, 8]
        self.assertAlmostEqual(st["build"], 3.0)
        self.assertAlmostEqual(st["exec"], 4.0)
        self.assertAlmostEqual(st["inner"], 1.0)

    def test_children_outside_the_parent_are_clipped(self):
        st = analysis.self_times([span(1, -1, "a", 0, 4), span(2, 1, "b", 3, 9)])
        self.assertAlmostEqual(st["a"], 3.0)

    def test_sink_spans_join_their_triggers_add_batch(self):
        spans = [span(1, -1, "trigger", 0, 10, "q#1"), span(2, 1, "trigger.addBatch", 2, 9, "q#1"),
                 span(3, -1, "sink.merge", 3, 5, "q#1"), span(4, -1, "sink.merge", 3, 5, "q#2")]
        linked = {s["id"]: s["parent"] for s in analysis.link_sink_spans(spans)}
        self.assertEqual(linked[3], 2)
        self.assertNotIn(4, linked)  # its trigger was not traced
        st = analysis.self_times(analysis.link_sink_spans(spans))
        self.assertAlmostEqual(st["trigger.addBatch"], 5.0)

    def test_trigger_spans_follow_the_engine_order(self):
        progress = [{"query": "q", "batch": 7, "start": 100.0, "end": 130.0,
                     "duration_ms": {"latestOffset": 2, "walCommit": 3, "addBatch": 20,
                                     "triggerExecution": 30}}]
        spans = analysis.trigger_spans(progress, 50)
        self.assertEqual([s["id"] for s in spans], list(range(50, 57)))
        self.assertTrue(all(s["trace"] == "q#7" for s in spans))
        by = {s["name"]: s for s in spans}
        self.assertEqual((by["trigger"]["parent"], by["trigger.addBatch"]["parent"]), (-1, 50))
        self.assertEqual((by["trigger.walCommit"]["start"], by["trigger.walCommit"]["end"]),
                         (102.0, 105.0))
        self.assertEqual((by["trigger.addBatch"]["start"], by["trigger.addBatch"]["end"]),
                         (105.0, 125.0))


class KpiLayerTest(unittest.TestCase):
    def raw(self):
        progress = [{"run": "r", "query": "q", "batch": b, "start": 0.0, "end": 1.0, "rows": 1000,
                     "duration_ms": {"addBatch": 100, "triggerExecution": 150}} for b in range(4)]
        progress.append(dict(progress[0], run="other"))
        segments = [{"phase": p, "batch": b, "due": 0.0, "at": 1.0, "end": 1.0, "rows": 1000}
                    for p, b in (("warm", 0), ("open", 1), ("open", 2), ("burst_1", 3))]
        listener = {f"stream:qid:{b}": {"jobs": 10 * (b + 1)} for b in range(4)}
        listener["stream:other-qid:0"] = {"jobs": 99}
        merges = [{"table": "gender_counts", "batch": b, "ms": 40.0} for b in range(4)]
        return {"run": "r", "query_id": "qid", "progress": progress, "segments": segments, "listener": listener,
                "merges": merges, "store_bytes": 1}, segments

    def test_only_traced_triggers_count(self):
        raw, attributed = self.raw()
        self.assertEqual([p["batch"] for p in analysis.kpi_traced_progress(raw, attributed)], [1, 2])
        out = analysis.kpi_layers(raw, attributed)
        self.assertEqual(out["trigger.count"], 2)
        self.assertAlmostEqual(out["trigger.jobs"], (20 + 30) / 2)
        self.assertAlmostEqual(out["sink.merge_share"], 80.0 / 200.0)

    def test_catchup_is_median_over_untraced_bursts(self):
        attributed = [{"phase": p, "due": 0.0, "end": ms, "rows": 1000}
                      for p, ms in (("burst_1", 2000.0), ("burst_2", 4000.0), ("burst_3", 9000.0),
                                    ("burst_traced", 1000.0), ("open", 7000.0))]
        self.assertEqual(analysis.untraced_catchup(attributed), (4.0, 1000, 3))


class MetricNameTest(unittest.TestCase):
    def test_names_and_units(self):
        self.assertTrue(analysis.NAME_RE.match("sink.merge_ms.gender_counts"))
        self.assertTrue(analysis.NAME_RE.match("p50_s"))
        self.assertFalse(analysis.NAME_RE.match(".hidden"))
        self.assertFalse(analysis.NAME_RE.match("a" * 65))
        self.assertFalse(analysis.NAME_RE.match("has space"))
        self.assertTrue(analysis.UNIT_RE.match("1/s"))
        self.assertFalse(analysis.UNIT_RE.match("rows per s"))

    def test_repository_benchmark_is_valid(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual(analysis.validate_benchmark(bench), [])

    def test_invalid_documents_are_reported(self):
        bad = {"command": [], "paths": [], "run_seconds": 0,
               "workloads": [{"name": "w", "why": "x"}, {"name": "w", "why": "y"}],
               "end_to_end": [{"name": "lat", "unit": "ms", "better": "lower", "bound": 0.5}],
               "per_layer": [{"name": "bad name", "unit": "ms", "better": "up"}]}
        problems = " | ".join(analysis.validate_benchmark(bad))
        for needle in ("duplicate name 'w'", "bound", "bad name", "better", "setup_s", "run_seconds"):
            self.assertIn(needle, problems)


if __name__ == "__main__":
    unittest.main()
