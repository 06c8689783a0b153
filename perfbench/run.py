#!/usr/bin/env python3
"""The repository's benchmark. From the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program from source (sbt; cached under .bench_build, or
$CARGO_TARGET_DIR), makes the workload's inputs from the seed, runs the
workload in its own JVM with a single closed-loop client, checks every
output, and prints one JSON object as the last line of stdout. With
--trace 0 it reports the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run. Workloads, metrics and the reasons
behind them are in BENCHMARK.json and perfbench/BASELINE.md.

The parquet workloads read the dataset family of the program's smoke
entry (graft.SparkEntry.entry): <its parent directory>/sf0.1. Pass
--data-root to use another directory holding sf0.1.
"""

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from pb import check, clicsv, layers, stats  # noqa: E402
from pb.jvm import Jvm  # noqa: E402

CORES = len(os.sched_getaffinity(0))  # what nproc reports
SETUPS = 2          # cold set-ups per untraced run; setup_s is their median
CLI_WARMUP_ROUNDS = 2  # cli_csv: untimed rounds, each one text per stratum
CLI_ROUNDS = 12        # cli_csv: timed rounds made; a run times at most this many
# timed rounds a run makes however long they take: cli_csv's 5 rounds of 20
# give the p90 at least 10 samples beyond it
MIN_ROUNDS = {"cli_csv": 6, "relational_sf0.1": 3, "pipeline_sf0.1": 5}
JVM_TIMEOUT = 150   # seconds, per JVM launch of a run
BUILD_TIMEOUT = 800

# The parquet workloads run fixed subsets of the inventory so that a run
# fits the benchmark's time budget; perfbench/BASELINE.md says how each
# subset was chosen.
RELATIONAL = [
    "r01_scan_project", "r02_star", "r03_filter_and_or", "r04_filter_comparators",
    "r05_distinct", "r06_agg_global", "r07_multi_agg", "r08_cross_join_filter",
    "r09_nway_join", "s01_group_agg", "s05_join_left", "s19_window_topk",
    "s22_rollup", "s24_tpch_q3", "s25_tpch_q5", "s28_count_distinct",
    "s40_tpch_q13", "s41_tpch_q18", "s47_tpch_q4", "s48_tpch_q10",
]
PIPELINE = [
    "x32_dedup_clusters", "x35_corpus_pipeline", "x45_semantic_dedup",
    "x57_cluster_canonical", "x86_text_retrieval",
]
WORKLOADS = {
    "cli_csv": None,
    "relational_sf0.1": ("sf0.1", RELATIONAL),
    "pipeline_sf0.1": ("sf0.1", PIPELINE),
}


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def prepare_cli(run_dir, seed):
    """Every round, warm-up or timed, has one text of each stratum."""
    data = os.path.join(run_dir, "data")
    clicsv.write_tables(data, seed)
    rounds = clicsv.rounds(seed, [1] * (CLI_WARMUP_ROUNDS + CLI_ROUNDS))
    warm = [t for r in rounds[:CLI_WARMUP_ROUNDS] for t in r]
    rounds = rounds[CLI_WARMUP_ROUNDS:]
    timed = [t for r in rounds for t in r]
    write_lines(os.path.join(run_dir, "queries.txt"), timed)
    write_lines(os.path.join(run_dir, "warmup.txt"), warm)
    names = ["c%03d" % i for i in range(len(timed))] + ["w%03d" % i for i in range(len(warm))]
    opts = ["--workload", "cli_csv", "--data", data,
            "--queries", os.path.join(run_dir, "queries.txt"),
            "--round-size", str(len(rounds[0])),
            "--warmup", os.path.join(run_dir, "warmup.txt")]
    checker = lambda out: check.check_cli(data, timed + warm, names, out, run_dir, clicsv.TABLES)
    return opts, checker


def prepare_inventory(run_dir, seed, sf_dir, subset, inventory, cache_dir):
    missing = [n for n in subset if n not in inventory]
    if missing:
        fail("queries missing from graft.SparkEntry.queries: %s" % ", ".join(missing))
    order = stats.seeded_order(subset, seed)
    write_lines(os.path.join(run_dir, "queries.txt"), order)
    opts = ["--workload", "inventory", "--data", sf_dir,
            "--queries", os.path.join(run_dir, "queries.txt")]
    checker = lambda out: check.check_inventory(sf_dir, order, inventory, out, run_dir, cache_dir)
    return opts, checker


def end_to_end(setups, summary, execs, attempted, failed):
    secs = [e["seconds"] for e in execs]
    p90 = stats.tail(secs, 90, 10)
    return {
        "setup_s": (stats.median(setups), "s"),
        "warmup_s": (summary["warmup_s"], "s"),
        "query_p50_s": (stats.median(secs), "s"),
        "query_p90_s": (p90["value"], "s"),
        "throughput_qps": (len(execs) / summary["timed_s"], "queries/s"),
        "failed_share": (failed / attempted, "fraction"),
        "peak_rss_mb": (summary["peak_rss_mb"], "MB"),
    }, p90


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data-root", help="directory holding sf0.1 (parquet workloads)")
    args = ap.parse_args()
    # a stopped run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("%s not found: run from the root of a full checkout" % need)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    run_dir = os.path.join(build_dir, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvm = Jvm(ROOT, build_dir, os.path.join(run_dir, "jvm.log"))
    phases, t = {}, time.monotonic()

    def phase(name):
        nonlocal t
        now = time.monotonic()
        phases[name] = round(now - t, 2)
        t = now

    try:
        jvm.ensure_built(BUILD_TIMEOUT)
        phase("build")
        inv = jvm.inventory()
        if WORKLOADS[args.workload] is None:
            opts, checker = prepare_cli(run_dir, args.seed)
        else:
            sf, subset = WORKLOADS[args.workload]
            data_root = args.data_root or os.path.dirname(inv["smoke_dir"] or "")
            sf_dir = os.path.join(data_root, sf)
            if not data_root or not os.path.isdir(sf_dir):
                fail("dataset %s not found; pass --data-root" % (sf_dir or sf))
            opts, checker = prepare_inventory(run_dir, args.seed, sf_dir, subset, inv["queries"],
                                              os.path.join(build_dir, "oracle"))
        opts += ["--cores", str(CORES), "--min-rounds", str(MIN_ROUNDS[args.workload])]
        phase("inputs")
        out = os.path.join(run_dir, "out")
        jvm.timed_call(["run"] + opts + ["--out", out, "--seconds", str(args.seconds),
                                         "--trace", str(args.trace)], JVM_TIMEOUT)
        with open(os.path.join(out, "summary.json")) as f:
            summary = json.load(f)
        phase("run")
        setups = [summary["setup_s"]]
        if not args.trace:
            for _ in range(SETUPS - 1):
                line = jvm.timed_call(["setup"] + opts, JVM_TIMEOUT).strip().splitlines()[-1]
                setups.append(float(line.split("=", 1)[1]))
        phase("setups")

        # Output check, after timing: errors from the untimed passes and
        # mismatches against the oracle, then failures in the timed region.
        check_errors = {c["name"]: c["error"] for c in read_jsonl(os.path.join(out, "check.jsonl"))
                        if c["error"] is not None}
        check_errors.update(checker(os.path.join(out, "check")))
        phase("check")
        execs = read_jsonl(os.path.join(out, "timed.jsonl"))
        first = {}
        for e in execs:  # a name timed again must render the same text
            if e["digest"]:
                e["expected_digest"] = first.setdefault(e["name"], e["digest"])
        timed_names = {e["name"] for e in execs}
        warm_failed = sum(1 for n in check_errors if n not in timed_names)
        attempted, failed = stats.count_failures(execs, check_errors)
        attempted += warm_failed
        failed += warm_failed
        for name, why in sorted(check_errors.items()):
            print("FAIL %s: %s" % (name, str(why).splitlines()[0][:300]), file=sys.stderr)

        e2e, p90 = end_to_end(setups, summary, execs, attempted, failed)
        print("%s seed=%d cores=%d rounds=%d executions=%d p90_beyond=%d setups=%s round_s=%s" % (
            args.workload, args.seed, CORES, len(summary["round_seconds"]), len(execs),
            p90["beyond"], ["%.3f" % s for s in setups],
            ["%.3f" % s for s in summary["round_seconds"]]))
        print("  phases_s %s" % json.dumps(phases))
        for k, (v, unit) in e2e.items():
            print("  %-16s %12.6g %s" % (k, v, unit))
        if args.trace:
            spans = read_jsonl(os.path.join(out, "spans.jsonl"))
            counters = read_jsonl(os.path.join(out, "counters.jsonl"))
            derived = layers.derive(spans, counters, execs, len(summary["round_seconds"]),
                                    summary["timed_s"])
            metrics = {k: {"value": v, "unit": layers.METRICS[k]} for k, v in derived.items()}
            trace_dir = os.path.join(build_dir, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"),
                        os.path.join(trace_dir, "%s.spans.jsonl" % args.workload))
            for k, v in derived.items():
                print("  %-26s %14.6g %s" % (k, v, layers.METRICS[k]))
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()
                       if k != "failed_share"}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
