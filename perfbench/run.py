"""The repository benchmark.

    python3 perfbench/run.py --workload crawl_heavy --seed 1 --seconds 5 --trace 0

One run is one Spark application at ``local[<cpus>]``, driven from this
process by one closed-loop client. The client repeats a cycle until
``--seconds`` have passed, at least once: one ``run_crawl`` of the
workload's crawl, then every query of the workload's slice (a checked full
collect as warm-up, then timed noop-sink writes). Outputs are checked
outside the timed calls.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` instead replays
the crawl layer by layer under Spark job groups (perfbench/spans.py), runs
an untraced ``run_crawl`` to compare with, times every query of both slices
under its own job group, and prints the per-layer metrics from the event
log.

The last line of stdout is the result, ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is a ``{"detail": ...}`` record with the
samples behind each metric and the host telemetry. The exit code is 0 only
when every output check passed.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

SETUPS = 3  # ingests per run; setup_s takes their median
QUERY_REPEATS = 2  # timed executions of each query per cycle
ROBOTS = "User-agent: *\nDisallow: /__none__\n"  # parsed and matched, blocks nothing


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


@dataclass
class Setup:
    spark: object
    pages: object
    host_state: object
    query_dir: str
    seconds: dict  # session, ingest (one per repeat)
    tracer: object | None

    @property
    def setup_s(self) -> float:
        return self.seconds["session"] + statistics.median(self.seconds["ingest"])


def politeness_state(pages):
    """One host_state row per host: zero crawl delay and a parsed robots
    rule, so the closed-host anti-join, the host-clock update and the robots
    match all run without changing what is visited."""
    from pyspark.sql import functions as F

    from obp_search_engine_spark.functions.robots import parse_robots_udf
    from obp_search_engine_spark.functions.urls import host_col, host_hash_col

    return (
        pages.select(host_col(F.col("url")).alias("host"))
        .distinct()
        .select(
            "host",
            host_hash_col(F.col("host")).alias("host_hash"),
            F.lit(0.0).alias("crawl_delay"),
            F.lit(None).cast("timestamp").alias("next_allowed_ts"),
            parse_robots_udf(F.lit(ROBOTS)).alias("robots_rules"),
        )
        .localCheckpoint(eager=True)
    )


def set_up(dirs, wl: Workload, seed: int, trace: bool) -> Setup:
    """Session start, then bucketed ingest and warm-up ``SETUPS`` times.

    ``session`` counts from process start. Each ingest writes a fresh
    bucketed table, reads its html once and builds the politeness table;
    all but the last table are dropped. Input generation happens between
    the two and is not counted.
    """
    from pyspark.sql import functions as F

    from obp_search_engine_spark.sources.pages import bucketed_pages_table
    from perfbench.harness import new_session
    from perfbench.spans import Tracer
    from perfbench.workloads import ensure_corpus, ensure_query_tables

    spec = wl.crawl
    spark = new_session(dirs, event_log=trace)
    seconds = {"session": time.monotonic() - T_START, "ingest": []}
    corpus = ensure_corpus(spark, dirs.cache, spec, seed)
    query_dir = ensure_query_tables(ROOT, dirs.cache)
    tracer = Tracer(spark) if trace else None
    for i in range(SETUPS):
        last = i == SETUPS - 1
        t0 = time.monotonic()
        with tracer.span("pages.ingest") if tracer and last else nullcontext():
            pages = bucketed_pages_table(
                spark, spark.read.parquet(corpus), f"pages_s{i}", n_buckets=spec.n_buckets
            )
        # read the real html bytes once (a bare count reads footers only)
        pages.select(F.sum(F.length("html"))).collect()
        host_state = politeness_state(pages)
        seconds["ingest"].append(time.monotonic() - t0)
        if not last:
            spark.sql(f"DROP TABLE pages_s{i}")
    return Setup(spark, pages, host_state, query_dir, seconds, tracer)


def crawl(spark, pages, host_state, spec, seeds: list[str], ckpt: str) -> dict:
    from obp_search_engine_spark.operators.checkpoint import run_crawl

    t0 = time.monotonic()
    res = run_crawl(
        spark,
        pages,
        seeds=seeds,
        rounds=spec.rounds,
        ckpt_dir=ckpt,
        per_host_budget=spec.per_host_budget,
        hot_host_salts=spec.hot_host_salts,
        use_bloom_seen=spec.use_bloom_seen,
        host_state=host_state,
        extract_documents=True,
    )
    res["wall"] = time.monotonic() - t0
    return res


def check_crawl_output(s: Setup, res: dict, ckpt: str) -> list[str]:
    from perfbench.checks import check_crawl

    harvests = sorted(glob.glob(os.path.join(ckpt, "round=*", "harvest")))
    return check_crawl(s.spark, s.pages, harvests, res["frontier"], res["visited"])


def run_query(s: Setup, name: str, checker, tracer=None) -> tuple[list[float], str | None]:
    """Checked full collect (the warm-up), then ``QUERY_REPEATS`` timed
    noop-sink writes back to back."""
    from obp_search_engine_spark.plans.testdata_queries import REGISTRY

    spec = REGISTRY[name]
    sc = s.spark.sparkContext
    if tracer is not None:
        sc.setJobGroup(f"check.{name}", f"check.{name}")
    problem = checker.problem(spec.sql, spec.fn(s.spark, s.query_dir).toPandas())
    took = []
    with tracer.span(f"query.{name}") if tracer else nullcontext():
        for _ in range(QUERY_REPEATS):
            t0 = time.monotonic()
            spec.fn(s.spark, s.query_dir).write.mode("overwrite").format("noop").save()
            took.append(time.monotonic() - t0)
    return took, problem


def measure(s: Setup, wl: Workload, seed: int, seconds: float, dirs) -> dict:
    """The untraced closed loop; returns the result and its detail."""
    from obp_search_engine_spark.telemetry import host_telemetry, proc_stat
    from perfbench.checks import OracleChecker
    from perfbench.workloads import query_order, seed_urls

    seeds = seed_urls(wl.crawl, seed)
    order = query_order(wl.queries, seed)
    checker = OracleChecker(ROOT, s.query_dir)
    crawls, ckpts, cycles, problems = [], [], [], []
    failed = 0
    stat0, t_window = proc_stat(), time.monotonic()
    try:
        while True:
            ckpts.append(dirs.sub(f"crawl/c{len(crawls)}"))
            crawls.append(crawl(s.spark, s.pages, s.host_state, wl.crawl, seeds, ckpts[-1]))
            cycle = {}
            for name in order:
                cycle[name], bad = run_query(s, name, checker)
                if bad:
                    failed += QUERY_REPEATS
                    problems.append(f"{name}: {bad}")
            cycles.append(cycle)
            if time.monotonic() - t_window >= seconds:
                break
    finally:
        checker.close()
    window_s = time.monotonic() - t_window
    host = host_telemetry(stat0, proc_stat())
    for res, ckpt in zip(crawls, ckpts):
        bad = check_crawl_output(s, res, ckpt)
        failed += bool(bad)
        problems.extend(bad)
    detail = {
        "setup_samples_s": s.seconds,
        "window_s": window_s,
        "crawls": [
            {
                "wall_s": c["wall"],
                "visited": c["visited"],
                "rounds": [
                    {k: r[k] for k in ("round", "visited", "discovered", "frontier_size", "wall_sec")}
                    for r in c["per_round"]
                ],
            }
            for c in crawls
        ],
        "steady_round_samples": sum(len(c["per_round"]) - 1 for c in crawls),
        "query_cycles_s": cycles,
        "host": host,
        "problems": problems,
    }
    return {
        "crawls": crawls,
        "cycles": cycles,
        "attempted": len(crawls) + QUERY_REPEATS * sum(len(c) for c in cycles),
        "failed": failed,
        "problems": problems,
        "detail": detail,
    }


def trace_run(s: Setup, wl: Workload, seed: int, dirs) -> dict:
    """Traced crawl, untraced crawl to compare with, traced queries; then the
    event log is read per job group. Stops the Spark context."""
    from perfbench.checks import OracleChecker, check_crawl, check_replay
    from perfbench.eventlog import read_events, sum_by_group
    from perfbench.spans import round_dir, traced_crawl
    from perfbench.workloads import QUERY_MODULE, query_order, seed_urls

    seeds = seed_urls(wl.crawl, seed)
    sc = s.spark.sparkContext
    traced_ckpt, untraced_ckpt = dirs.sub("crawl/traced"), dirs.sub("crawl/untraced")
    rows, frontier = traced_crawl(s.spark, s.tracer, s.pages, wl.crawl, seeds, s.host_state, traced_ckpt)

    sc.setJobGroup("untraced.crawl", "untraced.crawl")
    ms0 = time.time() * 1000
    untraced = crawl(s.spark, s.pages, s.host_state, wl.crawl, seeds, untraced_ckpt)
    ms1 = time.time() * 1000

    checker = OracleChecker(ROOT, s.query_dir)
    problems, failed = [], 0
    try:
        for name in query_order(QUERY_MODULE, seed):
            _, bad = run_query(s, name, checker, s.tracer)
            if bad:
                failed += QUERY_REPEATS
                problems.append(f"{name}: {bad}")
    finally:
        checker.close()

    sc.setJobGroup("check.crawl", "check.crawl")
    harvests = [os.path.join(round_dir(traced_ckpt, r["round"]), "harvest") for r in rows]
    visited = sum(r["visited"] for r in rows)
    traced_bad = check_crawl(s.spark, s.pages, harvests, frontier, visited)
    traced_bad += check_replay(rows, untraced["per_round"])
    untraced_bad = check_crawl_output(s, untraced, untraced_ckpt)
    failed += bool(traced_bad) + bool(untraced_bad)
    problems += traced_bad + untraced_bad

    s.spark.stop()  # flushes and closes the event log
    events = read_events(dirs.sub("events"))
    untraced_jobs = sum(
        1
        for e in events
        if e["Event"] == "SparkListenerJobStart" and ms0 <= e["Submission Time"] <= ms1
    )
    layer = metrics.per_layer(
        s.tracer.spans, sum_by_group(events), rows, untraced, untraced_jobs, QUERY_REPEATS
    )
    return {
        "metrics": layer,
        "attempted": 2 + QUERY_REPEATS * len(metrics.QUERY_MODULE),
        "failed": failed,
        "problems": problems,
        "detail": {
            "traced_rounds": rows,
            "untraced_jobs": untraced_jobs,
            "query_module": QUERY_MODULE,
            "problems": problems,
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    # the program under test; without it the run fails here, printing nothing
    import obp_search_engine_spark  # noqa: F401
    from obp_search_engine_spark.plans import api_queries, pipeline_queries  # noqa: F401
    from perfbench.harness import RssSampler, RunDirs, isolate_process, shutdown_spark

    dirs = RunDirs.create(ROOT)
    isolate_process(dirs)
    try:
        with RssSampler() as rss:
            s = set_up(dirs, wl, args.seed, bool(args.trace))
            if args.trace:
                out = trace_run(s, wl, args.seed, dirs)
                values, table = out["metrics"], metrics.PER_LAYER
            else:
                out = measure(s, wl, args.seed, args.seconds, dirs)
                values = metrics.end_to_end(s.setup_s, out["crawls"], out["cycles"], rss.peak)
                table = metrics.END_TO_END
    finally:
        shutdown_spark()
        dirs.remove()
    for p in out["problems"]:
        print(f"output check failed: {p}", file=sys.stderr)
    detail = {"workload": wl.name, "seed": args.seed, "run_s": time.monotonic() - T_START}
    print(json.dumps({"detail": {**detail, **out["detail"]}}))
    print(
        json.dumps(
            {
                "correct": not out["problems"],
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": {k: {"value": values[k], "unit": table[k][0]} for k in table},
            }
        )
    )
    return 0 if not out["problems"] else 1


if __name__ == "__main__":
    sys.exit(main())
