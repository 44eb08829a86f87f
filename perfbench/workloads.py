"""Workload definitions and the input generator.

A workload is one crawl configuration plus one query slice. Every run of
every workload does both, so each prints the same metric names: the crawl
shape decides which layer dominates; the two slices split the timed registry
entries between them, so that every entry is timed on one workload.

Inputs come from ``--seed`` alone. The seed is the generator seed of the
synthetic pages corpus, which also fixes the crawl's seed URLs. The query
tables are fixed (``tools/gen_scale_testdata.py`` has its own RNG); the seed
only permutes the order the client issues the queries in.
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys
from dataclasses import dataclass

# Every registry entry the benchmark times, mapped to the package module that
# implements it: the API surface (the plain DataFrame plan of
# filtered_join_agg and the composed /search/listings pipeline) and one cheap
# entry per query operators module. Each workload times its own share of
# them; the traced run times them all.
QUERY_MODULE = {
    "filtered_join_agg": "plans.testdata_queries",
    "search_listings_page": "plans.search",
    "serp_host_crowding": "operators.ranking",
    "dedup_exact_groups": "operators.dedup",
    "semdedup_keep": "operators.semdedup",
    "link_assortativity": "operators.graph",
    "ann_lsh_topk_md5": "operators.similarity",
    "click_model_pbm_ctr": "operators.click_models",
}
QUERY_SF = "0.1"


@dataclass(frozen=True)
class CrawlSpec:
    n_pages: int
    n_hosts: int
    body_repeat: int
    outdeg_max: int
    n_buckets: int
    seeds_per_host: int
    rounds: int
    per_host_budget: int
    hot_host_salts: int
    use_bloom_seen: bool | str


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    crawl: CrawlSpec
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "crawl_heavy",
            "4 KB pages with up to 20 outlinks, a 600-URL wave then one of ~4,000 URLs, exact "
            "anti-join: per-URL harvest work (fetch join, extraction, text stats) is the largest span",
            CrawlSpec(
                n_pages=9_000, n_hosts=100, body_repeat=60, outdeg_max=20,
                n_buckets=16, seeds_per_host=6, rounds=2, per_host_budget=2000,
                hot_host_salts=8, use_bloom_seen="auto",
            ),
            ("filtered_join_agg", "search_listings_page", "serp_host_crowding",
             "dedup_exact_groups", "semdedup_keep"),
        ),
        Workload(
            "crawl_many_rounds",
            "thin pages and a 20-URL budget on each of 20 hosts: 3 rounds of ~400 URLs, so "
            "fixed per-round cost (Spark jobs, merge, commits, bloom seen-set) dominates",
            CrawlSpec(
                n_pages=10_000, n_hosts=20, body_repeat=1, outdeg_max=8,
                n_buckets=8, seeds_per_host=20, rounds=3, per_host_budget=20,
                hot_host_salts=1, use_bloom_seen=True,
            ),
            ("link_assortativity", "ann_lsh_topk_md5", "click_model_pbm_ctr"),
        ),
    )
}


def query_order(names, seed: int) -> list[str]:
    """``names`` in the order the client issues them for ``seed``."""
    names = sorted(names)
    random.Random(seed).shuffle(names)
    return names


def seed_urls(spec: CrawlSpec, seed: int) -> list[str]:
    """The first ``seeds_per_host`` pages of every host.

    Seeding every host equally keeps the work per round nearly independent
    of the seed: once each host has ``per_host_budget`` due URLs, every wave
    is exactly ``n_hosts * per_host_budget`` URLs.
    """
    import numpy as np

    from obp_search_engine_spark.sources.pages import host_of, url_of

    ids = np.arange(spec.n_pages)
    hosts = host_of(ids, seed, spec.n_hosts)
    order = np.lexsort((ids, hosts))
    by_host = hosts[order]
    rank = np.arange(len(ids)) - np.searchsorted(by_host, by_host)
    return [url_of(int(i), seed, spec.n_hosts) for i in np.sort(ids[order][rank < spec.seeds_per_host])]


def ensure_corpus(spark, cache: str, spec: CrawlSpec, seed: int) -> str:
    """Write the pages corpus for ``seed`` once; later runs reuse it. The
    cache key includes the generator's schema revision."""
    from obp_search_engine_spark.sources.pages import PAGES_SCHEMA_REV, synth_pages_df

    key = (
        f"{PAGES_SCHEMA_REV}_{spec.n_pages}_{spec.n_hosts}_"
        f"{spec.body_repeat}_{spec.outdeg_max}_s{seed}"
    )
    path = os.path.join(cache, f"pages_{key}")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        synth_pages_df(
            spark, spec.n_pages, spec.n_hosts, seed=seed,
            body_repeat=spec.body_repeat, outdeg_max=spec.outdeg_max,
        ).write.mode("overwrite").parquet(tmp)
        os.replace(tmp, path)
    return path


def ensure_query_tables(root: str, cache: str) -> str:
    """Generate the fixed query tables once with the repo's own generator."""
    path = os.path.join(cache, f"querydata_sf{QUERY_SF}")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(root, "tools", "gen_scale_testdata.py"), QUERY_SF, tmp],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        os.replace(tmp, path)
    return path
