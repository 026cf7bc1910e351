"""Tests for the benchmark's own logic (perfbench/metrics.py).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import metrics


def span(id, name, kind, start, end, parent=0, ok=True, **attrs):
    return {"id": id, "name": name, "kind": kind, "parent": parent,
            "start": start, "end": end, "ok": ok, "attrs": attrs}


def job(id, start, tag=""):
    return {"id": id, "start": start, "end": start + 0.1, "ok": True, "tag": tag}


class PercentileTest(unittest.TestCase):
    def test_median_is_always_reported(self):
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertEqual(metrics.percentile([5.0], 0.5), 5.0)
        self.assertEqual(metrics.percentile([4.0, 1.0, 2.0, 3.0], 0.5), 2.5)

    def test_tail_percentile_needs_ten_samples_beyond_it(self):
        xs = [float(i) for i in range(1, 100)]  # n = 99: 9 beyond p90
        self.assertIsNone(metrics.percentile(xs, 0.9))
        xs.append(100.0)  # n = 100: exactly 10 beyond p90
        self.assertEqual(metrics.percentile(xs, 0.9), 90.0)

    def test_empty(self):
        self.assertIsNone(metrics.percentile([], 0.5))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        # three concurrent chains: [1, 5], [2, 4] inside it, [4.5, 7]
        parent = span(1, "warm", "phase", 0.0, 10.0)
        kids = [span(2, "a", "chain", 1.0, 5.0, parent=1),
                span(3, "b", "chain", 2.0, 4.0, parent=1),
                span(4, "c", "chain", 4.5, 7.0, parent=1)]
        self.assertAlmostEqual(metrics.self_time(parent, kids), 10.0 - 6.0)

    def test_children_are_clipped_to_the_parent(self):
        parent = span(1, "p", "phase", 0.0, 4.0)
        kids = [span(2, "a", "c", -1.0, 1.0, parent=1),
                span(3, "b", "c", 3.0, 9.0, parent=1)]
        self.assertAlmostEqual(metrics.self_time(parent, kids), 2.0)

    def test_no_children(self):
        self.assertAlmostEqual(metrics.self_time(span(1, "p", "x", 2.0, 5.5), []), 3.5)


class StageAttributionTest(unittest.TestCase):
    def test_jobs_land_in_the_stage_whose_interval_holds_their_start(self):
        dag = span(5, "dag", "dag", 100.0, 106.0,
                   stages=[["extract", 2.0], ["cleanse", 1.0], ["fact load", 3.0]])
        intervals = metrics.stage_intervals(dag)
        self.assertEqual(intervals, [("extract", 100.0, 102.0),
                                     ("cleanse", 102.0, 103.0),
                                     ("fact load", 103.0, 106.0)])
        jobs = [job(1, 100.0), job(2, 101.9), job(3, 102.0), job(4, 105.5),
                job(5, 106.0)]  # 5 starts at the DAG's end: no stage
        got = {k: [j["id"] for j in v]
               for k, v in metrics.attribute_jobs(jobs, intervals).items()}
        self.assertEqual(got, {"extract": [1, 2], "cleanse": [3], "fact load": [4]})

    def test_tagged_jobs_follow_their_span_untagged_ones_the_clock(self):
        spans = [span(1, "landing 0", "landing", 0.0, 10.0),
                 span(2, "rollup", "call", 1.0, 3.0, parent=1),
                 span(3, "landing 1", "landing", 10.0, 20.0)]
        jobs = [job(1, 2.0, tag="2"), job(2, 12.0, tag="2"), job(3, 5.0),
                job(4, 15.0)]
        mine = metrics.jobs_within(jobs, spans[0], metrics.descendant_ids(spans, spans[0]))
        self.assertEqual([j["id"] for j in mine], [1, 2, 3])


def dag_record(stage_secs, fact_ok=True, aggregates_ok=True, dag_ok=True):
    stages = [[s, stage_secs] for s in metrics.STAGES] if dag_ok else []
    dag_s = stage_secs * len(metrics.STAGES)
    spans = [span(1, "session", "setup", 0.5, 2.0),
             span(2, "generate", "prepare", 2.0, 3.0),
             span(3, "iteration 0", "iteration", 3.0, 4.0 + dag_s, input_bytes=100),
             span(4, "dag", "dag", 3.5, 3.5 + dag_s, parent=3, ok=dag_ok, stages=stages),
             span(5, "check", "check", 3.5 + dag_s, 4.0 + dag_s, parent=3,
                  output_bytes=40, fact_ok=fact_ok, aggregates_ok=aggregates_ok)]
    return {"workload": "lfb_dag", "jvm_start": 0.0, "cores": 4,
            "rows_per_iteration": 1000, "peak_rss_mb": 512.0, "peak_heap_mb": 300.0, "trace": False,
            "spans": spans, "jobs": [], "stages": [], "queries": []}


def landing_record(times, fail=(), state_ok=True):
    spans = [span(1, "session", "setup", 0.5, 2.0),
             span(2, "generate", "prepare", 2.0, 3.0)]
    t, sid = 3.0, 3
    for i, secs in enumerate(times):
        attrs = {"error": "boom"} if i in fail else {}
        spans.append(span(sid, f"landing {i}", "landing", t, t + 0.2 + secs, **attrs))
        spans.append(span(sid + 1, "append", "prepare", t, t + 0.2, parent=sid))
        spans.append(span(sid + 2, "rollup", "call", t + 0.2, t + 0.2 + secs / 2,
                          parent=sid))
        spans.append(span(sid + 3, "scd2", "call", t + 0.2 + secs / 2, t + 0.2 + secs,
                          parent=sid, ok=i not in fail))
        t, sid = t + 0.2 + secs, sid + 4
    spans.append(span(sid, "check", "check", t, t + 1.0, rollup_ok=state_ok,
                      scd2_ok=state_ok))
    return {"workload": "events_ingest", "jvm_start": 0.0, "cores": 4,
            "peak_rss_mb": 512.0, "peak_heap_mb": 300.0, "trace": False, "events": 1000 * len(times),
            "landed_bytes": 1000, "state_bytes": 300, "spans": spans,
            "jobs": [], "stages": [], "queries": []}


class FailureTest(unittest.TestCase):
    def test_a_failed_landing_counts_and_never_lowers_time(self):
        times = [4.0, 5.0, 6.0, 7.0, 8.0]
        clean = metrics.end_to_end(landing_record(times))
        # the failed landing crashed fast: its recorded time is tiny
        crashed = landing_record([4.0, 5.0, 0.1, 7.0, 8.0], fail={2})
        got = metrics.end_to_end(crashed)
        self.assertEqual(metrics.errors(crashed), (5, 1))
        self.assertGreaterEqual(got["latency_s"]["value"], clean["latency_s"]["value"])

    def test_wrong_maintained_state_fails_every_landing(self):
        self.assertEqual(metrics.errors(landing_record([1.0] * 5, state_ok=False)), (5, 5))

    def test_a_wrong_dag_output_counts_as_failed(self):
        self.assertEqual(metrics.errors(dag_record(1.0)), (9, 0))
        self.assertEqual(metrics.errors(dag_record(1.0, fact_ok=False)), (9, 1))
        self.assertEqual(metrics.errors(dag_record(1.0, dag_ok=False)), (9, 9))

    def test_penalized_only_raises(self):
        samples = [(1.0, True), (0.2, False), (3.0, True)]
        self.assertEqual(metrics.penalized(samples), [1.0, 3.0, 3.0])
        for got, (orig, _) in zip(metrics.penalized(samples), samples):
            self.assertGreaterEqual(got, orig)


class ReportTest(unittest.TestCase):
    def test_end_to_end_names_and_units(self):
        for rec in (dag_record(1.0), landing_record([1.0, 2.0, 3.0, 4.0, 5.0])):
            got = metrics.end_to_end(rec)
            self.assertEqual({k: v["unit"] for k, v in got.items()}, metrics.END_TO_END)
            self.assertTrue(all(v["value"] > 0 for v in got.values()))

    def test_dag_numbers(self):
        got = metrics.end_to_end(dag_record(2.0))
        self.assertAlmostEqual(got["latency_s"]["value"], 18.0)
        self.assertAlmostEqual(got["bytes_per_input_byte"]["value"], 0.4)
        self.assertAlmostEqual(got["setup_s"]["value"], 3.0)

    def test_per_layer_reports_every_metric(self):
        for rec in (dag_record(1.0), landing_record([1.0] * 5)):
            got = metrics.per_layer(rec, untraced_latency=None)
            self.assertEqual(set(got), set(metrics.per_layer_units()))
        got = metrics.per_layer(dag_record(1.0), untraced_latency=8.5)
        self.assertAlmostEqual(got["trace.overhead_s"]["value"], 0.5)
        self.assertAlmostEqual(got["pipeline.fact_load.s"]["value"], 1.0)


if __name__ == "__main__":
    unittest.main()
