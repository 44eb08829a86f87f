"""Schema constants for every engine table.

Schemas-as-code replaces the reference's versioned MySQL migrations
(reference: crawler/db/mysql.go:21-79, crawler/db/migrate.go:24-78).
``TABLE_VERSION`` plays the role of ``configuration.schema_version``
(reference: crawler/db/migrations/helpers.go:8-9, current version 7).

All tables are written as parquet snapshots (Iceberg-style: immutable
files + a tiny manifest), partitioned as noted.
"""

from __future__ import annotations

from pyspark.sql import types as T

TABLE_VERSION = 1

# ---------------------------------------------------------------------------
# pages — the crawlable corpus. Exactly BASELINE.json input_hint:
# (url:string, warc_ts:timestamp, html:binary, text:string, lang:string).
# At scale: partitioned/bucketed by pmod(xxhash64(url), N) so the fetch join
# (frontier wave x pages) co-locates without a full shuffle of the 100 TB side.
# ---------------------------------------------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# frontier — crawl state; reference `nodes` table doubles as frontier + corpus
# (crawler/db/mysql.go:40-47). depth/discovered_ts encode the reference's
# sentinel-timestamp priority (crawler/db/mysql.go:293: lastUpdated
# '2000-01-01' = never crawled -> crawled-first ordering).
# Partitioned by pmod(host_hash, N_SHARDS).
# ---------------------------------------------------------------------------
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("host_hash", T.IntegerType(), True),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("discovered_ts", T.TimestampType(), True),
        T.StructField("last_crawled", T.TimestampType(), True),
        T.StructField("state", T.StringType(), False),  # due | done | failed
    ]
)

FRONTIER_STATE_DUE = "due"
FRONTIER_STATE_DONE = "done"
FRONTIER_STATE_FAILED = "failed"

# Sentinel timestamps mirroring the reference's never-crawled markers
# (crawler/db/mysql.go:293 uses 2000-01-01; crawler/crawling/worker.go:37
# uses 2017-12-13).
NEVER_CRAWLED_SENTINEL = "2000-01-01 00:00:00"

# ---------------------------------------------------------------------------
# seen_set — partitioned bloom membership shards. Replaces the reference's
# INSERT IGNORE PK dedup (crawler/db/mysql.go:293) with something that works
# at 10^10 URLs.
# ---------------------------------------------------------------------------
SEEN_SET_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),  # always "bloom"
        T.StructField("filter_bytes", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
    ]
)

# ---------------------------------------------------------------------------
# host_state — per-host politeness clock; generalizes the reference's global
# 10-coroutine cap (crawler/main.go:36), its only politeness mechanism.
# ---------------------------------------------------------------------------
HOST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("host_hash", T.IntegerType(), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
        T.StructField("next_allowed_ts", T.TimestampType(), True),
        T.StructField("robots_rules", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# documents — extracted corpus; reference `items`
# (crawler/db/mysql.go:53-59). Arrays stay arrays (the reference comma-joins,
# crawler/db/mysql.go:402-403); normalized_price narrows DECIMAL(40,20) ->
# (38,18) (Spark max precision 38; documented in tests).
# ---------------------------------------------------------------------------
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("peer_id", T.StringType(), True),
        T.StructField("fetch_ts", T.TimestampType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("categories", T.ArrayType(T.StringType()), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("nsfw", T.BooleanType(), True),
        T.StructField("avg_rating", T.DecimalType(3, 2), True),
        T.StructField("rating_count", T.IntegerType(), True),
        T.StructField("price_amount", T.LongType(), True),
        T.StructField("price_currency", T.StringType(), True),
        T.StructField("normalized_price", T.DecimalType(38, 18), True),
        T.StructField("blocked", T.BooleanType(), True),
        T.StructField("testnet", T.BooleanType(), True),
        T.StructField("classified_manually", T.BooleanType(), True),
        T.StructField("is_blocked", T.BooleanType(), True),  # nullable tri-state
    ]
)

# ---------------------------------------------------------------------------
# round_metrics — per-round lineage + metrics (north_rule resumability);
# reference logs processedCnt + wall time per round
# (crawler/crawling/crawler.go:233-238).
# ---------------------------------------------------------------------------
ROUND_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("n_documents", T.LongType(), True),
        T.StructField("visited", T.LongType(), False),
        T.StructField("discovered", T.LongType(), False),
        T.StructField("frontier_size", T.LongType(), False),
        T.StructField("wall_sec", T.DoubleType(), False),
        T.StructField("urls_per_sec", T.DoubleType(), False),
        T.StructField("n_partitions", T.IntegerType(), True),
    ]
)

# visit log (golden crawl-order fixture shape, FIXTURES.md §7.2)
VISITS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("seq", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
    ]
)
