"""Turn one harness record (spans, Spark counters, output checks) into the
benchmark's metrics.

The harness (perfbench/harness) writes a JSON record per process: every
span it timed around calls into the program, plus -- in a traced run --
the Spark jobs, stages and streaming queries it observed. Everything that
is a choice about *what a number means* lives here, where the tests in
perfbench/test_metrics.py pin it down:

- the median is always reported; a higher percentile only with at least
  MIN_BEYOND samples above it;
- a failed operation's time is raised to the slowest time of its run, so a
  failure can never lower a time metric;
- a span's self time is its duration minus the union of its children;
- Spark jobs are attributed to DAG stages by time interval, the intervals
  being rebuilt from the per-stage durations `Pipeline.run` returns.
"""

import math
import statistics

MIN_BEYOND = 10

STAGES = ("extract", "post-extract checks", "cleanse", "dimension builds",
          "dimension checks", "dimension loads", "fact load",
          "post-load checks", "aggregates")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "latency_s": "s",
    "bytes_per_input_byte": "ratio",
}


def stage_key(stage):
    return stage.replace(" ", "_")


def per_layer_units():
    """Every per-layer metric name -> unit, in report order."""
    units = {"sessions.start_s": "s", "fixtures.generate_s": "s",
             "harness.self_s": "s", "jvm.peak_rss_mb": "MB",
             "jvm.peak_heap_mb": "MB"}
    for st in STAGES:
        k = "pipeline." + stage_key(st)
        units.update({k + ".s": "s", k + ".jobs": "count",
                      k + ".shuffle_bytes": "B", k + ".spill_bytes": "B"})
    units.update({
        "eventstreams.rollup_p50_s": "s", "eventstreams.scd2_p50_s": "s",
        "eventstreams.jobs_per_landing": "count",
        "eventstreams.batches_per_landing": "count",
        "eventstreams.state_bytes": "B",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.task_failures": "count", "spark.shuffle_write_bytes": "B",
        "spark.spill_bytes": "B", "spark.gc_s": "s", "spark.task_cpu_s": "s",
        "spark.busy_ratio": "ratio",
        "trace.overhead_s": "s",
    })
    return units


# --- statistics ----------------------------------------------------------

def percentile(values, q):
    """The median of `values` for q = 0.5, which is always given; otherwise
    the nearest-rank q-quantile, None unless at least MIN_BEYOND samples lie
    above it (p90 needs n >= 100)."""
    n = len(values)
    if n == 0:
        return None
    if q == 0.5:
        return statistics.median(values)
    rank = max(1, math.ceil(q * n))
    if q > 0.5 and n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def penalized(samples):
    """Times of (seconds, ok) samples, each failed one raised to the slowest
    time of the set: every order statistic and sum can only go up."""
    if not samples:
        return []
    worst = max(t for t, _ in samples)
    return [t if ok else worst for t, ok in samples]


def mean(values):
    return sum(values) / len(values) if values else 0.0


# --- spans ---------------------------------------------------------------

def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """Duration of `span` minus the part of it its children cover
    (children may overlap each other; parts outside the span don't count)."""
    clipped = [(max(c["start"], span["start"]), min(c["end"], span["end"]))
               for c in children]
    return (span["end"] - span["start"]) - union_length(
        [(s, e) for s, e in clipped if e > s])


def children_of(spans, span):
    return [s for s in spans if s["parent"] == span["id"]]


def stage_intervals(dag_span):
    """Consecutive (stage, start, end) intervals rebuilt from the per-stage
    seconds `Pipeline.run` returned, laid from the DAG span's start."""
    out, t = [], dag_span["start"]
    for name, secs in dag_span["attrs"].get("stages", []):
        out.append((name, t, t + secs))
        t += secs
    return out


def attribute_jobs(jobs, intervals):
    """Map stage name -> jobs whose start falls in that stage's interval."""
    out = {name: [] for name, _, _ in intervals}
    for job in jobs:
        for name, s, e in intervals:
            if s <= job["start"] < e:
                out[name].append(job)
                break
    return out


def jobs_within(jobs, span, tagged_ids):
    """Jobs a span submitted: tagged with it or one of its descendants, or
    untagged but started inside it."""
    return [j for j in jobs
            if (j["tag"] and int(j["tag"]) in tagged_ids)
            or (not j["tag"] and span["start"] <= j["start"] < span["end"])]


def descendant_ids(spans, span):
    ids, frontier = {span["id"]}, [span]
    while frontier:
        kids = [s for s in spans if s["parent"] in {f["id"] for f in frontier}]
        ids.update(k["id"] for k in kids)
        frontier = kids
    return ids


# --- the record ------------------------------------------------------------

def _spans(record, kind, parent=None):
    return [s for s in record["spans"] if s["kind"] == kind
            and (parent is None or s["parent"] == parent)]


def _one(record, name):
    return next(s for s in record["spans"] if s["name"] == name)


def _dur(span):
    return span["end"] - span["start"]


def units_of_work(record):
    """The measured units as (span, seconds, ok, dag span or None): one DAG
    run per iteration (lfb_dag) or one landing from commit to both ingests
    returned (events_ingest)."""
    spans = record["spans"]
    units = []
    if record["workload"] == "lfb_dag":
        for it in _spans(record, "iteration"):
            kids = children_of(spans, it)
            dag = next(k for k in kids if k["kind"] == "dag")
            check = next((k for k in kids if k["kind"] == "check"), None)
            ca = check["attrs"] if check else {}
            done = len(dag["attrs"].get("stages", []))
            wrong = (done == len(STAGES)) and not (
                ca.get("fact_ok") and ca.get("aggregates_ok"))
            units.append((it, _dur(dag), dag["ok"] and not wrong, dag))
    else:
        for ls in _spans(record, "landing"):
            calls = [k for k in children_of(spans, ls) if k["kind"] == "call"]
            start = min((c["start"] for c in calls), default=ls["end"])
            ok = "error" not in ls["attrs"] and len(calls) == 2 and all(
                c["ok"] for c in calls)
            units.append((ls, ls["end"] - start, ok, None))
    return units


def errors(record):
    """(attempted, failed): DAG stages for lfb_dag, landings for
    events_ingest. A wrong output counts as a failed operation."""
    units = units_of_work(record)
    if record["workload"] == "lfb_dag":
        attempted = failed = 0
        for it, _, _, dag in units:
            done = len(dag["attrs"].get("stages", []))
            attempted += len(STAGES)
            failed += len(STAGES) - done
            check = next((k for k in children_of(record["spans"], it)
                          if k["kind"] == "check"), {"attrs": {}})
            if done == len(STAGES):
                failed += (not check["attrs"].get("fact_ok")) + (
                    not check["attrs"].get("aggregates_ok"))
        return attempted, failed
    attempted = len(units)
    failed = sum(1 for _, _, ok, _ in units if not ok)
    check = next((s for s in record["spans"] if s["kind"] == "check"), None)
    if check is None or not (check["attrs"].get("rollup_ok")
                             and check["attrs"].get("scd2_ok")):
        failed = attempted  # the maintained state as a whole is wrong
    return attempted, failed


def setup_seconds(record):
    """JVM start to the first timed call, with the per-unit input
    preparation counted once, at its median over the run."""
    session = _one(record, "session")
    before = session["end"] - record["jvm_start"]
    preps = [_dur(s) for s in _spans(record, "prepare", parent=0)]
    if record["workload"] == "events_ingest":
        appends = [_dur(s) for s in record["spans"] if s["name"] == "append"]
        return before + statistics.median(preps) + statistics.median(appends)
    return before + statistics.median(preps)


def end_to_end(record):
    units = units_of_work(record)
    times = penalized([(t, ok) for _, t, ok, _ in units])
    if record["workload"] == "lfb_dag":
        latency = mean(times)
        ratios = []
        for it, _, _, _ in units:
            check = next(k for k in children_of(record["spans"], it)
                         if k["kind"] == "check")
            ratios.append(check["attrs"]["output_bytes"] / it["attrs"]["input_bytes"])
        bytes_ratio = mean(ratios)
    else:
        latency = percentile(times, 0.5)
        bytes_ratio = record["state_bytes"] / record["landed_bytes"]
    values = {
        "setup_s": setup_seconds(record),
        "latency_s": latency,
        "bytes_per_input_byte": bytes_ratio,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(record, untraced_latency=None):
    """Per-layer metrics of a traced record. `untraced_latency` is the
    median `latency_s` of untraced runs of the same workload, if any; the
    tracing overhead is this run's latency minus it (0 without one)."""
    spans, jobs = record["spans"], record["jobs"]
    stages_by_job = {}
    for st in record["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)
    units = units_of_work(record)
    v = {k: 0.0 for k in per_layer_units()}

    v["sessions.start_s"] = _one(record, "session")["end"] - record["jvm_start"]
    v["jvm.peak_rss_mb"] = record["peak_rss_mb"]
    v["jvm.peak_heap_mb"] = record["peak_heap_mb"]
    v["harness.self_s"] = mean([self_time(u[0], children_of(spans, u[0]))
                                for u in units])

    def stage_sum(js, field):
        return sum(st[field] for j in js for st in stages_by_job.get(j["id"], []))

    unit_jobs = []  # jobs per unit of work
    if record["workload"] == "lfb_dag":
        v["fixtures.generate_s"] = mean(
            [_dur(s) for s in record["spans"] if s["name"] == "generate"])
        for st in STAGES:
            k = "pipeline." + stage_key(st)
            v[k + ".s"] = mean([secs for _, _, _, dag in units
                                for name, secs in dag["attrs"].get("stages", [])
                                if name == st])
        per_stage = {st: [] for st in STAGES}
        for _, _, _, dag in units:
            mine = jobs_within(jobs, dag, descendant_ids(spans, dag))
            unit_jobs.append(mine)
            for name, js in attribute_jobs(mine, stage_intervals(dag)).items():
                per_stage[name].append(js)
        for st, runs in per_stage.items():
            k = "pipeline." + stage_key(st)
            v[k + ".jobs"] = mean([len(js) for js in runs])
            v[k + ".shuffle_bytes"] = mean(
                [stage_sum(js, "shuffle_write_bytes") for js in runs])
            v[k + ".spill_bytes"] = mean([stage_sum(js, "spill_bytes") for js in runs])
    else:
        calls = {"rollup": [], "scd2": []}
        for ls, _, ok, _ in units:
            for c in children_of(spans, ls):
                if c["kind"] == "call":
                    calls[c["name"]].append((_dur(c), c["ok"] and ok))
        v["eventstreams.rollup_p50_s"] = percentile(penalized(calls["rollup"]), 0.5)
        v["eventstreams.scd2_p50_s"] = percentile(penalized(calls["scd2"]), 0.5)
        batches = []
        for ls, _, _, _ in units:
            unit_jobs.append(jobs_within(jobs, ls, descendant_ids(spans, ls)))
            batches.append(sum(q["batches"] for q in record["queries"]
                               if ls["start"] <= q["start"] < ls["end"]))
        v["eventstreams.jobs_per_landing"] = mean([len(js) for js in unit_jobs])
        v["eventstreams.batches_per_landing"] = mean(batches)
        v["eventstreams.state_bytes"] = record["state_bytes"]

    # Spark engine counters, per unit of work
    all_jobs = [j for js in unit_jobs for j in js]
    stages = [st for j in all_jobs for st in stages_by_job.get(j["id"], [])]
    n = max(1, len(unit_jobs))
    v["spark.jobs"] = len(all_jobs) / n
    v["spark.stages"] = len(stages) / n
    v["spark.tasks"] = sum(st["tasks"] for st in stages) / n
    v["spark.task_failures"] = sum(st["failed_tasks"] for st in stages) / n
    v["spark.shuffle_write_bytes"] = sum(st["shuffle_write_bytes"] for st in stages) / n
    v["spark.spill_bytes"] = sum(st["spill_bytes"] for st in stages) / n
    v["spark.gc_s"] = sum(st["gc_ms"] for st in stages) / 1e3 / n
    v["spark.task_cpu_s"] = sum(st["cpu_ns"] for st in stages) / 1e9 / n
    wall = sum(_dur(u[0]) for u in units)
    v["spark.busy_ratio"] = (sum(st["run_ms"] for st in stages) / 1e3
                             / (wall * record["cores"])) if wall else 0.0
    if untraced_latency is not None:
        v["trace.overhead_s"] = (end_to_end(record)["latency_s"]["value"]
                                 - untraced_latency)
    units_by_name = per_layer_units()
    return {k: {"value": val, "unit": units_by_name[k]} for k, val in v.items()}
