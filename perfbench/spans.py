"""Spans around calls into the engine's layers, and the traced crawl.

A span times one public call from the benchmark's own code, forces its
output, and runs it under a Spark job group named ``<span>`` or
``<span>/r<round>``, so the event log can attribute every job to it. Gaps
between spans run under the ``trace.idle`` group.

``traced_crawl`` replays ``checkpoint.run_crawl``'s round step by step with
the same arguments, so its per-round counts must equal an untraced
``run_crawl``. Differences from ``run_crawl``, all traced-run only:

- the wave is forced through ``localCheckpoint`` before the harvest, so the
  dequeue is timed apart from the fetch join;
- the durability tail and the seen-set update run in the foreground;
- ``seen_set.bloom_check`` and ``seen_set.probe`` redo the bloom probe over
  the round's candidates, to count the bloom's "maybe" residue;
- when the workload's crawl uses the exact anti-join, the bloom seen-set is
  still built and updated, so the probe has something to probe.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

IDLE = "trace.idle"


@dataclass
class Span:
    name: str
    round: int | None
    start: float
    end: float

    @property
    def group(self) -> str:
        return self.name if self.round is None else f"{self.name}/r{self.round}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; the caller reads ``spans`` after the run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.sc.setJobGroup(IDLE, IDLE)

    @contextmanager
    def span(self, name: str, rnd: int | None = None):
        group = name if rnd is None else f"{name}/r{rnd}"
        self.sc.setJobGroup(group, group)
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.spans.append(Span(name, rnd, t0, time.monotonic()))
            self.sc.setJobGroup(IDLE, IDLE)


def round_ts(k: int) -> str:
    """run_crawl's synthetic timestamp for round ``k``."""
    return f"2026-06-01 {k // 3600:02d}:{(k // 60) % 60:02d}:{k % 60:02d}"


def round_dir(ckpt: str, k: int) -> str:
    return os.path.join(ckpt, f"round={k}")


def traced_crawl(spark, tracer: Tracer, pages, spec, seeds, host_state, ckpt: str):
    """One crawl with every layer call in its own span.

    Returns (per-round rows, final frontier). Each row has the same
    ``visited``/``discovered``/``frontier_size`` as run_crawl's, plus the
    layer counts ``wave``, ``fetched``, ``candidates``, ``maybe`` and
    ``fresh`` (candidates not yet seen, before the robots filter).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from obp_search_engine_spark.functions.urls import with_url_keys
    from obp_search_engine_spark.operators import seen_set
    from obp_search_engine_spark.operators.checkpoint import (
        N_FRONTIER_SHARDS,
        append_metrics,
        commit_round,
        write_snapshot,
    )
    from obp_search_engine_spark.operators.crawl import (
        candidates_from_harvest,
        crawl_round,
        init_frontier,
    )
    from obp_search_engine_spark.operators.frontier import dequeue_wave, update_host_clock
    from obp_search_engine_spark.schemas import FRONTIER_STATE_DUE, ROUND_METRICS_SCHEMA

    def stats_cols(ts):
        return (
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("state") == FRONTIER_STATE_DUE).cast("long")).alias("due"),
            F.sum(
                (F.col("last_crawled") == F.lit(ts).cast("timestamp")).cast("long")
            ).alias("vis"),
        )

    with tracer.span("crawl.init"):
        frontier = init_frontier(spark, seeds)
        write_snapshot(frontier, os.path.join(round_dir(ckpt, 0), "frontier"))
        if host_state is not None:
            write_snapshot(
                host_state, os.path.join(round_dir(ckpt, 0), "host_state"), shard_col=None
            )
        commit_round(ckpt, 0)
        first = frontier.agg(*stats_cols(None)).first()
        prev_size, due = int(first["n"]), int(first["due"] or 0)

    # the crawl probes the bloom only when the workload forces it; otherwise
    # the seen-set exists for the traced-only probe spans
    bloom_in_crawl = spec.use_bloom_seen is True
    with tracer.span("seen_set.build"):
        seen = seen_set.build_seen_set(
            spark, frontier.select("url_hash", "host_hash"), n_shards=N_FRONTIER_SHARDS
        ).localCheckpoint(eager=True)
    holder = {"seen": seen}
    probe = seen_set.seen_probe_factory(lambda: holder["seen"], n_shards=N_FRONTIER_SHARDS)

    rows = []
    for k in range(1, spec.rounds + 1):
        if due == 0:
            break
        ts = round_ts(k)
        harvest_dir = os.path.join(round_dir(ckpt, k), "harvest")
        t_round = time.monotonic()
        with tracer.span("frontier.dequeue", k):
            wave = dequeue_wave(
                frontier,
                per_host_budget=spec.per_host_budget,
                host_state=host_state,
                now=ts,
                hot_host_salts=spec.hot_host_salts,
            ).localCheckpoint(eager=True)
            n_wave = wave.count()
        with tracer.span("crawl.harvest", k):
            res = crawl_round(
                spark,
                frontier,
                pages,
                round_no=k,
                per_host_budget=spec.per_host_budget,
                host_state=host_state,
                hot_host_salts=spec.hot_host_salts,
                seen_probe=probe if bloom_in_crawl else None,
                round_ts=ts,
                broadcast_batch=due <= 100_000,  # run_crawl's "auto" rule
                harvest_dir=harvest_dir,
                extract_documents=True,
                wave_override=wave,
            )
            n_fetched = res.metrics["documents"].count()
        with tracer.span("crawl.merge", k):
            obs = Observation(f"trace_stats_r{k}")
            merged = res.frontier.observe(obs, *stats_cols(ts)).localCheckpoint(eager=True)
            got = obs.get
        size, due, visited = int(got["n"]), int(got["due"] or 0), int(got["vis"] or 0)
        with tracer.span("seen_set.bloom_check", k):
            candidates = candidates_from_harvest(spark.read.parquet(harvest_dir), canonical=True)
            verdict = (
                seen_set.bloom_probe(with_url_keys(candidates), holder["seen"], N_FRONTIER_SHARDS)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("maybe_seen").cast("long")).alias("maybe"),
                )
                .first()
            )
        with tracer.span("seen_set.probe", k):
            n_fresh = probe(candidates, frontier).count()
        with tracer.span("seen_set.update", k):
            new_keys = merged.filter(
                F.col("discovered_ts") == F.lit(ts).cast("timestamp")
            ).select("url_hash", "host_hash")
            holder["seen"] = seen_set.update_seen_set(
                holder["seen"], new_keys, n_shards=N_FRONTIER_SHARDS
            ).localCheckpoint(eager=True)
        if host_state is not None:
            with tracer.span("frontier.host_clock", k):
                visited_hosts = merged.filter(
                    F.col("last_crawled") == F.lit(ts).cast("timestamp")
                ).select("host")
                host_state = update_host_clock(host_state, visited_hosts, ts).localCheckpoint(
                    eager=True
                )
        row = {
            "round": k,
            "n_documents": n_fetched,
            "visited": visited,
            "discovered": size - prev_size,
            "frontier_size": size,
            "wall_sec": time.monotonic() - t_round,
            "urls_per_sec": 0.0,
            "n_partitions": merged.rdd.getNumPartitions(),
        }
        with tracer.span("checkpoint.commit", k):
            write_snapshot(merged, os.path.join(round_dir(ckpt, k), "frontier"))
            if host_state is not None:
                write_snapshot(
                    host_state, os.path.join(round_dir(ckpt, k), "host_state"), shard_col=None
                )
            append_metrics(spark, ckpt, {f.name: row[f.name] for f in ROUND_METRICS_SCHEMA.fields})
            commit_round(ckpt, k)
        row.update(
            wall_sec=time.monotonic() - t_round,
            wave=n_wave,
            fetched=n_fetched,
            candidates=int(verdict["n"]),
            maybe=int(verdict["maybe"] or 0),
            fresh=n_fresh,
        )
        rows.append(row)
        frontier, prev_size = merged, size
    return rows, frontier
