"""Bloom seen-set shards: pure-python units + DataFrame build/probe.

The key property (FIXTURES.md §4 / SURVEY.md §7 step 5): the bloom-probed
anti-join result must EQUAL the exact anti-join result after the confirm
pass — blooms only ever shrink the exact join's input, never change the
answer.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from obp_search_engine_spark.functions.urls import with_url_keys
from obp_search_engine_spark.operators import seen_set as ss
from obp_search_engine_spark.operators.checkpoint import run_crawl
from obp_search_engine_spark.sources.pages import synth_pages_df


def test_bloom_shard_roundtrip():
    b = ss.BloomShard.sized_for(10_000, fpr=0.01)
    keys = np.arange(5_000, dtype=np.uint64) * np.uint64(2654435761)
    b.add_many(keys)
    assert b.contains_many(keys).all()  # no false negatives, ever
    other = (np.arange(20_000, dtype=np.uint64) + np.uint64(10**12)) * np.uint64(97)
    fpr = b.contains_many(other).mean()
    assert fpr < 0.03, fpr
    b2 = ss.BloomShard.from_bytes(b.to_bytes())
    assert b2.contains_many(keys).all()
    assert b2.k == b.k and b2.m == b.m and b2.n_items == b.n_items


def test_build_update_probe_dataframes(spark):
    urls = [f"http://h{i % 7}.example/p/{i}" for i in range(500)]
    df = with_url_keys(spark.createDataFrame([(u,) for u in urls], "url string"))
    seen = ss.build_seen_set(spark, df, n_shards=8).persist()
    assert seen.count() <= 8
    assert seen.agg(F.sum("n_items")).first()[0] == 500

    # probe: all inserted urls must be 'maybe seen'; fresh urls mostly not
    probed = ss.bloom_probe(df, seen, n_shards=8)
    assert probed.filter(~F.col("maybe_seen")).count() == 0

    fresh = with_url_keys(
        spark.createDataFrame(
            [(f"http://h{i % 7}.example/new/{i}",) for i in range(500)], "url string"
        )
    )
    fp = ss.bloom_probe(fresh, seen, n_shards=8).filter(F.col("maybe_seen")).count()
    assert fp < 50  # ~1% FPR target, generous bound

    # incremental update inserts the fresh urls
    seen2 = ss.update_seen_set(seen, fresh, n_shards=8).persist()
    probed2 = ss.bloom_probe(fresh, seen2, n_shards=8)
    assert probed2.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_anti_join_equals_exact(spark):
    """bloom pre-filter + exact confirm == plain exact anti-join."""
    pages = synth_pages_df(spark, 300, 6, seed=5).cache()
    seed_url = pages.orderBy("url").first().url

    exact = run_crawl(spark, pages, seeds=[seed_url], rounds=3)
    got_exact = {
        (r.url, r.depth) for r in exact["frontier"].select("url", "depth").collect()
    }

    state = {"seen": None}

    def get_seen():
        return state["seen"]

    probe = ss.seen_probe_factory(get_seen, n_shards=8)

    from obp_search_engine_spark.operators.crawl import init_frontier

    f0 = init_frontier(spark, [seed_url])
    state["seen"] = ss.build_seen_set(spark, f0, n_shards=8).persist()

    def tracking_probe(cands, frontier):
        fresh = probe(cands, frontier)
        fresh = fresh.persist()
        new_keys = with_url_keys(fresh.select("url"))
        state["seen"] = ss.update_seen_set(state["seen"], new_keys, n_shards=8).persist()
        return fresh

    bloom = run_crawl(spark, pages, seeds=[seed_url], rounds=3, seen_probe=tracking_probe)
    got_bloom = {
        (r.url, r.depth) for r in bloom["frontier"].select("url", "depth").collect()
    }
    assert got_bloom == got_exact
