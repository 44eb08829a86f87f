"""Scaling-evidence crawl job (BASELINE.json north_rule: same job, same
input, N vs 4N cores; efficiency = (T_4N / T_N) / 4 >= 0.8).

Run via spark-submit (the cluster path) or plain python (local):

  spark-submit --master local[8]  --py-files /tmp/obp_pkg.zip bench/run_crawl.py --cpus 8
  spark-submit --master local[32] --py-files /tmp/obp_pkg.zip bench/run_crawl.py --cpus 32

Prints one JSON line with steady-state URLs/sec (round 1 excluded: JIT +
page-cache warmup).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


from obp_search_engine_spark.telemetry import host_telemetry
from obp_search_engine_spark.telemetry import proc_stat as _proc_stat


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--hosts", type=int, default=1024)
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--seeds", type=int, default=8192)
    ap.add_argument("--budget", type=int, default=100_000)
    ap.add_argument("--salts", type=int, default=8)
    # realistic page weight: ~1.5-6 KB bodies, up to 20 outlinks — makes the
    # wave compute-bound so core-count scaling is measurable
    ap.add_argument("--body-repeat", type=int, default=60)
    ap.add_argument("--outdeg-max", type=int, default=20)
    ap.add_argument("--bucketed", action="store_true",
                    help="read pages as a url-bucketed table (co-located "
                         "fetch join — the 100TB design)")
    ap.add_argument("--buckets", type=int, default=128,
                    help="bucket count for --bucketed. Must give >=2-4 tasks "
                         "per core at the LARGEST cluster size measured: the "
                         "whole co-located round runs at bucket parallelism, "
                         "so buckets == cores means one straggler bucket sets "
                         "the round wall (no task smoothing)")
    ap.add_argument("--bloom", action="store_true",
                    help="dedup via the sharded bloom seen-set probe "
                         "(north_rule path) instead of the exact anti-join")
    ap.add_argument("--broadcast", default="auto", choices=["auto", "true", "false"])
    ap.add_argument("--politeness", action="store_true",
                    help="wire host_state (crawl-delay clocks, delay=0 so "
                         "visit counts stay identical) + a parsed robots "
                         "rule per host into the crawl, so the headline's "
                         "exclusion of the politeness join is a MEASURED "
                         "cost, not an omission")
    args = ap.parse_args()
    bcast = {"auto": "auto", "true": True, "false": False}[args.broadcast]

    from pyspark.sql import functions as F

    from obp_search_engine_spark.operators.checkpoint import run_crawl
    from obp_search_engine_spark.session import get_spark
    from obp_search_engine_spark.sources.pages import synth_pages_df, url_of

    spark = get_spark(
        f"crawl-scaling-{args.cpus}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(8, args.cpus),
        extra_conf={
            "spark.sql.warehouse.dir": "/tmp/spark-warehouse",
            "spark.driver.extraJavaOptions": "-Dderby.system.home=/tmp/derby",
        },
    )

    pages_path = (
        f"/tmp/bench_pages_{args.pages}_{args.hosts}_{args.body_repeat}_{args.outdeg_max}"
    )
    if not os.path.exists(pages_path):
        synth_pages_df(
            spark, args.pages, args.hosts, seed=42,
            body_repeat=args.body_repeat, outdeg_max=args.outdeg_max,
        ).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    if args.bucketed:
        from obp_search_engine_spark.sources.pages import bucketed_pages_table

        tbl = f"pages_b{args.buckets}_{args.pages}_{args.hosts}_{args.body_repeat}_{args.outdeg_max}"
        pages = bucketed_pages_table(spark, pages, tbl, n_buckets=args.buckets)
    # prewarm the OS page cache with the REAL bytes (a bare count() reads
    # only parquet footers) so every cluster size measures compute, not the
    # virtual disk
    pages.select(F.sum(F.length("html"))).collect()
    seeds = [url_of(i, 42, args.hosts) for i in range(args.seeds)]

    host_state = None
    if args.politeness:
        # one host_state row per host with a REAL parsed robots rule set and
        # a zero crawl delay: the dequeue's closed-host anti-join, the
        # per-round host-clock full-outer update, and the robots rule-match
        # over every candidate all execute, while visited counts stay
        # byte-identical to the no-politeness run — the delta IS the
        # politeness machinery's cost
        from obp_search_engine_spark.functions.robots import parse_robots_udf
        from obp_search_engine_spark.functions.urls import host_col, host_hash_col

        host_state = (
            pages.select(host_col(F.col("url")).alias("host"))
            .distinct()
            .select(
                "host",
                host_hash_col(F.col("host")).alias("host_hash"),
                F.lit(0.0).alias("crawl_delay"),
                F.lit(None).cast("timestamp").alias("next_allowed_ts"),
                parse_robots_udf(
                    F.lit("User-agent: *\nDisallow: /__none__\n")
                ).alias("robots_rules"),
            )
            .localCheckpoint(eager=True)
        )

    t0 = time.monotonic()
    stat0 = _proc_stat()
    crawl = run_crawl(
        spark,
        pages,
        seeds=seeds,
        rounds=args.rounds,
        per_host_budget=args.budget,
        hot_host_salts=args.salts,
        broadcast_batch=bcast,
        use_bloom_seen=args.bloom,
        host_state=host_state,
        extract_documents=True,  # full round: links + byte-identical text
        discard_harvest=True,  # benchmark spill is dead weight once counted
    )
    wall = time.monotonic() - t0
    host = host_telemetry(stat0, _proc_stat())
    # steady state = the back half of the rounds: the front half carries
    # JIT, python-worker spawn, and first-big-wave warmup cliffs
    half = max(1, len(crawl["per_round"]) // 2)
    steady = crawl["per_round"][half:] or crawl["per_round"]
    sv = sum(r["visited"] for r in steady)
    sw = sum(r["wall_sec"] for r in steady)
    print(
        json.dumps(
            {
                "cpus": args.cpus,
                "urls_per_sec_steady": round(sv / sw, 1) if sw else 0.0,
                "urls_per_sec_total": round(crawl["visited"] / wall, 1),
                "visited": crawl["visited"],
                "steady_visited": sv,
                "steady_wall_sec": round(sw, 2),
                "wall_sec": round(wall, 2),
                "rounds": [
                    {k: round(v, 2) if isinstance(v, float) else v for k, v in r.items()}
                    for r in crawl["per_round"]
                ],
                "pages": args.pages,
                "hosts": args.hosts,
                "bucketed": args.bucketed,
                "buckets": args.buckets if args.bucketed else None,
                "bloom": args.bloom,
                "broadcast": args.broadcast,
                "politeness": args.politeness,
                "shuffle_partitions": max(8, args.cpus),
                "host": host,
            }
        )
    )


if __name__ == "__main__":
    main()
