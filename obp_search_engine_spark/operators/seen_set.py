"""Partitioned URL-seen membership: bloom shards.

Replaces the reference's storage-level dedup (``INSERT IGNORE`` on the
``nodes`` PK, crawler/db/mysql.go:293) with something that works at 10^10
URLs: per-shard bloom filters keyed by ``pmod(host_hash, n_shards)``
(north_rule: "partitioned bloom-filter URL-seen set sharded by host-hash").
The set only ever grows — the crawl never un-sees a url — so no
deletion-capable shard kind is needed.

Scale math: at 1% FPR a bloom costs ~9.6 bits/key -> ~12 GB for 10^10 keys,
sharded into manageable blobs (10^7 keys -> ~12 MB/shard at 1024 shards).
Probe-side we never broadcast the whole set: candidates cogroup with their
shard's blob (one Arrow batch per shard), so each task touches only its
shard. Bloom "maybe" hits fall back to an exact anti-join against the
frontier — the exact join's input shrinks from |candidates| to
|new-and-false-positive|, which is the whole point.

All bit math is vectorized numpy inside grouped pandas UDFs (no per-row
Python).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import SEEN_SET_SCHEMA

_BLOOM_MAGIC = b"BLM1"


def _mix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


# ---------------------------------------------------------------------------
# bloom shard
# ---------------------------------------------------------------------------
class BloomShard:
    """Fixed-size bloom filter over uint64 keys; bytes-serializable."""

    def __init__(self, m_bits: int = 1 << 23, k: int = 7, bits: np.ndarray | None = None,
                 n_items: int = 0):
        assert m_bits % 8 == 0
        self.m = m_bits
        self.k = k
        self.n_items = n_items
        self.bits = bits if bits is not None else np.zeros(m_bits // 8, dtype=np.uint8)

    @classmethod
    def sized_for(cls, capacity: int, fpr: float = 0.01) -> "BloomShard":
        m = int(-capacity * np.log(fpr) / (np.log(2) ** 2))
        m = max(1024, (m + 7) // 8 * 8)
        k = max(1, int(round(m / max(capacity, 1) * np.log(2))))
        return cls(m_bits=m, k=min(k, 16))

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        h1 = keys.astype(np.uint64)
        h2 = _mix64(h1) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m)).astype(np.int64)

    def add_many(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        self.n_items += int(len(keys))

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        hit = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return hit.all(axis=0)

    def to_bytes(self) -> bytes:
        return _BLOOM_MAGIC + struct.pack("<QIQ", self.m, self.k, self.n_items) + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, b: bytes) -> "BloomShard":
        assert b[:4] == _BLOOM_MAGIC, "not a bloom blob"
        m, k, n = struct.unpack("<QIQ", b[4:24])
        bits = np.frombuffer(b[24:], dtype=np.uint8).copy()
        return cls(m_bits=m, k=k, bits=bits, n_items=n)


# ---------------------------------------------------------------------------
# DataFrame-level build / update / probe
# ---------------------------------------------------------------------------
def _shard_col(n_shards: int):
    return F.pmod(F.col("host_hash"), F.lit(n_shards)).cast("int")


def build_seen_set(
    spark,
    urls_df: DataFrame,
    n_shards: int = 32,
    capacity_per_shard: int = 1 << 20,
) -> DataFrame:
    """Build bloom shard blobs from (url_hash, host_hash) rows — one
    grouped-pandas task per shard, each emitting one (shard, kind, blob, n)
    row."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["url_hash"].to_numpy(np.int64).astype(np.uint64)
        keys = np.unique(keys)
        f = BloomShard.sized_for(capacity_per_shard)
        f.add_many(keys)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "kind": ["bloom"],
                "filter_bytes": [f.to_bytes()],
                "n_items": [len(keys)],
            }
        )

    return (
        urls_df.select("url_hash", _shard_col(n_shards).alias("shard"))
        .groupBy("shard")
        .applyInPandas(build, SEEN_SET_SCHEMA)
    )


def update_seen_set(seen: DataFrame, new_urls: DataFrame, n_shards: int = 32) -> DataFrame:
    """Insert new url_hashes into their shard blobs (cogrouped update —
    Iceberg-style: emits NEW blob rows; caller snapshots). A shard with no
    blob yet (keys hashing to a previously-empty shard) gets a fresh one."""

    def upd(keys_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        if blob_pdf.empty:
            f = BloomShard.sized_for(1 << 20)
            shard = int(keys_pdf["shard"].iloc[0])
            n_old = 0
        else:
            f = BloomShard.from_bytes(bytes(blob_pdf["filter_bytes"].iloc[0]))
            shard = int(blob_pdf["shard"].iloc[0])
            n_old = int(blob_pdf["n_items"].iloc[0])
        n_new = 0
        if not keys_pdf.empty:
            keys = np.unique(keys_pdf["url_hash"].to_numpy(np.int64).astype(np.uint64))
            f.add_many(keys)
            n_new = len(keys)
        return pd.DataFrame(
            {
                "shard": [shard],
                "kind": ["bloom"],
                "filter_bytes": [f.to_bytes()],
                "n_items": [n_old + n_new],
            }
        )

    keys = new_urls.select("url_hash", _shard_col(n_shards).alias("shard"))
    return (
        keys.groupBy("shard")
        .cogroup(seen.groupBy("shard"))
        .applyInPandas(upd, SEEN_SET_SCHEMA)
    )


def bloom_probe(
    candidates: DataFrame, seen: DataFrame, n_shards: int = 32
) -> DataFrame:
    """candidates (must carry url_hash + host_hash) -> + maybe_seen BOOLEAN.

    maybe_seen=False is definitive (bloom has no false negatives): the url
    is NEW. maybe_seen=True needs the exact check. Cogrouped per shard so a
    task only deserializes its own blob once per Arrow batch group."""
    from pyspark.sql import types as T

    cand = candidates.withColumn("shard", _shard_col(n_shards))
    # copy the fields — StructType.add mutates in place, which would corrupt
    # the DataFrame's cached schema object
    out_schema = T.StructType(
        list(cand.schema.fields) + [T.StructField("maybe_seen", T.BooleanType())]
    )
    cols = [f.name for f in cand.schema.fields]

    def probe(cand_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=cols + ["maybe_seen"])
        if blob_pdf.empty:
            return cand_pdf.assign(maybe_seen=False)
        f = BloomShard.from_bytes(bytes(blob_pdf["filter_bytes"].iloc[0]))
        keys = cand_pdf["url_hash"].to_numpy(np.int64).astype(np.uint64)
        return cand_pdf.assign(maybe_seen=f.contains_many(keys))

    return (
        cand.groupBy("shard")
        .cogroup(seen.groupBy("shard"))
        .applyInPandas(probe, out_schema)
    )


def seen_probe_factory(get_seen, n_shards: int = 32):
    """Build a seen_probe(candidates, frontier) for crawl_round: bloom
    pre-filter + exact anti-join only on the 'maybe' residue."""
    from ..functions.urls import with_url_keys

    def seen_probe(candidates: DataFrame, frontier: DataFrame) -> DataFrame:
        cand = with_url_keys(candidates)
        probed = bloom_probe(cand, get_seen(), n_shards)
        # ONE anti-join with the bloom verdict folded into the condition:
        # maybe_seen=False rows can never match (condition is false) and
        # survive; maybe_seen=True rows drop iff the exact hash is present.
        # A filter-split + union would execute the Arrow cogroup probe TWICE
        # (once per branch) — this keeps it single-pass, and the join's
        # frontier side only has to beat the maybe-residue, not all
        # candidates.
        out = probed.join(
            # shuffle-hash: build a long-keyed map of the frontier instead
            # of sort-merging both sides each round
            frontier.select(F.col("url_hash").alias("_seen_hash")).hint("shuffle_hash"),
            (probed.url_hash == F.col("_seen_hash")) & probed.maybe_seen,
            "left_anti",
        )
        return out.select([c for c in candidates.columns])

    return seen_probe
