"""Per-layer metrics of a traced run, derived from its spans and Spark
counters. Totals are per timed round, so runs with different round
counts compare directly."""

from collections import defaultdict

from . import stats

# name -> unit; the order here is the order they are reported in
METRICS = {
    "engine.catalog_load_s": "s",
    "engine.register_s": "s",
    "tables.register_s": "s",
    "engine.prepass_s": "s",
    "engine.analyze_s": "s",
    "engine.render_s": "s",
    "engine.rows_rendered": "count",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.materialize_s": "s",
    "query.self_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.cpu_per_run": "ratio",
    "spark.sched_delay_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.input_records": "count",
    "spark.tasks_ok_ratio": "ratio",
    "trace.throughput_qps": "queries/s",
}

# span name -> metric it sums into
_SPAN_SUMS = {
    "engine.prepass": "engine.prepass_s",
    "engine.analyze": "engine.analyze_s",
    "engine.render": "engine.render_s",
    "queries.construct": "queries.construct_s",
    "catalyst.plan": "catalyst.plan_s",
    "exec.materialize": "exec.materialize_s",
}
_SETUP_SPANS = {
    "engine.catalog_load": "engine.catalog_load_s",
    "engine.register": "engine.register_s",
    "tables.register": "tables.register_s",
}
_COUNTERS = ["jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
             "sched_delay_s", "shuffle_write_bytes", "shuffle_read_bytes",
             "spill_bytes", "input_bytes", "input_records"]


def derive(spans, counters, execs, rounds, timed_s):
    """spans: dicts from spans.jsonl; counters: dicts from counters.jsonl
    (one per query execution); execs: the timed executions."""
    m = dict.fromkeys(METRICS, 0.0)
    jobs_of = defaultdict(list)
    for s in spans:
        if s["name"] == "spark.job":
            jobs_of[s["query"]].append(s)
    for s in spans:
        secs = (s["end_ns"] - s["start_ns"]) / 1e9
        if s["name"] in _SETUP_SPANS:
            m[_SETUP_SPANS[s["name"]]] += secs
        elif s["name"] in _SPAN_SUMS:
            m[_SPAN_SUMS[s["name"]]] += secs / rounds
        if s["name"] == "queries.construct":
            m["queries.construct_jobs"] += sum(
                1 for j in jobs_of[s["query"]]
                if s["start_ns"] <= j["start_ns"] <= s["end_ns"]) / rounds
        elif s["name"] == "query":
            m["query.self_s"] += stats.self_time(s, jobs_of[s["query"]]) / 1e9 / rounds
    tasks_ok = 0
    for c in counters:
        for k in _COUNTERS:
            m["spark." + k] += c[k] / rounds
        tasks_ok += c["tasks_ok"]
    launched = m["spark.tasks"] * rounds
    m["spark.tasks_ok_ratio"] = tasks_ok / launched if launched else 1.0
    run = m["spark.task_run_s"]
    m["spark.cpu_per_run"] = m["spark.task_cpu_s"] / run if run else 0.0
    m["engine.rows_rendered"] = sum(e.get("rows", 0) for e in execs) / rounds
    m["trace.throughput_qps"] = len(execs) / timed_s
    return m
