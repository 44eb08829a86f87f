"""Capacity planner for the 10^10-URL deployment (the north_rule scale).

Turns the engine's scale knobs into concrete sizes so the cluster shape is
arithmetic, not folklore — the same formulas the code uses
(seen_set.BloomShard.sized_for for bloom bits, checkpoint.N_FRONTIER_SHARDS
for shard counts, sources.pages.bucketed_pages_table for bucketing):

  python tools/capacity_plan.py                      # the 10^10 default
  python tools/capacity_plan.py --urls 1e9 --executors 100

Every number prints with the rule that produced it.
"""

from __future__ import annotations

import argparse
import json
import math

FRONTIER_ROW_BYTES = 120  # url~60 + hash 8 + host~20 + host_hash 4 + depth 4 + 2 ts + state
WAVE_ROW_BYTES = 100
HASH_BYTES = 8


def pow2_at_least(x: float) -> int:
    return 1 << max(0, math.ceil(math.log2(max(1.0, x))))


def plan(
    urls: float,
    page_kb: float,
    round_fraction: float,
    executors: int,
    cores: int,
    fpr: float,
    target_bucket_gb: float = 1.5,
    target_shard_mb: float = 256.0,
) -> dict:
    corpus_tb = urls * page_kb * 1024 / 1e12
    # pages bucketing: bucket files sized for one task's scan, power of two,
    # and >= 2 buckets/core at full cluster width (task smoothing — the
    # 128-vs-32 lesson from BENCH/BASELINE.md)
    buckets = pow2_at_least(
        max(corpus_tb * 1e12 / (target_bucket_gb * 2**30), 2 * executors * cores)
    )
    frontier_gb = urls * FRONTIER_ROW_BYTES / 2**30
    shards = pow2_at_least(frontier_gb * 1024 / target_shard_mb)
    bloom_bits_per_key = -math.log(fpr) / (math.log(2) ** 2)
    bloom_gb = urls * bloom_bits_per_key / 8 / 2**30
    wave = urls * round_fraction
    wave_shuffle_gb = wave * WAVE_ROW_BYTES / 2**30
    exact_antijoin_shuffle_gb = urls * HASH_BYTES / 2**30
    bloom_probe_gb = wave * HASH_BYTES / 2**30 + bloom_gb
    return {
        "inputs": {
            "urls": urls, "page_kb": page_kb, "round_fraction": round_fraction,
            "executors": executors, "cores_per_executor": cores, "bloom_fpr": fpr,
        },
        "pages": {
            "corpus_tb": round(corpus_tb, 1),
            "url_buckets": buckets,
            "bucket_gb": round(corpus_tb * 1e12 / buckets / 2**30, 2),
            "rule": f"pow2(max(corpus/{target_bucket_gb}GB, 2*executors*cores)) "
                    "— co-located fetch join, >=2 tasks/core",
        },
        "frontier": {
            "rows": urls,
            "table_gb": round(frontier_gb, 1),
            "snapshot_shards": shards,
            "shard_mb": round(frontier_gb * 1024 / shards, 1),
            "rule": f"pow2(table/{target_shard_mb}MB) — pmod(host_hash, shards) "
                    "partitioned snapshots + per-shard manifest lineage",
        },
        "seen_set": {
            "bloom_bits_per_key": round(bloom_bits_per_key, 2),
            "bloom_total_gb": round(bloom_gb, 1),
            "blob_mb_per_shard": round(bloom_gb * 1024 / shards, 2),
            "rule": "BloomShard.sized_for: m = -n*ln(fpr)/ln(2)^2, "
                    "sharded like the frontier",
        },
        "per_round": {
            "wave_urls": wave,
            "wave_shuffle_gb": round(wave_shuffle_gb, 2),
            "fetch_scan_tb": round(wave * page_kb * 1024 / 1e12, 2),
            "dedup_exact_antijoin_shuffle_gb": round(exact_antijoin_shuffle_gb, 1),
            "dedup_bloom_probe_gb": round(bloom_probe_gb, 1),
            "dedup_choice": "bloom" if bloom_probe_gb < exact_antijoin_shuffle_gb else "exact",
            "rule": "auto-escalation (run_crawl use_bloom_seen='auto'): exact "
                    "re-shuffles 8B/frontier-row every round; bloom moves "
                    "wave hashes + fixed blobs — crossover is where they meet",
        },
        "spark_conf": {
            "spark.sql.shuffle.partitions": 2 * executors * cores,
            "spark.sql.files.maxPartitionBytes": "256m",
            "spark.sql.adaptive.enabled": "true (coalesce + skew-join; "
                                          "hot-host groupBy skew still needs the salted window)",
            "hot_host_salts": "scale with max(host_queue)/per_host_budget",
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--urls", type=float, default=1e10)
    ap.add_argument("--page-kb", type=float, default=10.0)
    ap.add_argument("--round-fraction", type=float, default=0.01,
                    help="fraction of the frontier visited per round "
                         "(politeness-bounded)")
    ap.add_argument("--executors", type=int, default=1000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--fpr", type=float, default=0.01)
    a = ap.parse_args()
    print(json.dumps(
        plan(a.urls, a.page_kb, a.round_fraction, a.executors, a.cores, a.fpr),
        indent=2,
    ))


if __name__ == "__main__":
    main()
