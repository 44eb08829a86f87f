"""Metric tables and how each metric is computed from a run.

End-to-end metrics come from the untraced run; per-layer metrics from the
traced run, named ``<span>.<metric>`` (``<span>_s`` for a span's wall).
``BENCHMARK.json`` lists the same names, units and directions.
"""

from __future__ import annotations

import statistics

from perfbench.eventlog import FIELDS
from perfbench.workloads import QUERY_MODULE

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "crawl_urls_per_s": ("1/s", "higher"),
    "crawl_steady_urls_per_s": ("1/s", "higher"),
    "crawl_round_p50_s": ("s", "lower"),
    "query_total_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

# crawl spans timed every round; traced-only duplicates are marked in spans.py
CRAWL_SPANS = (
    "frontier.dequeue",
    "crawl.harvest",
    "crawl.merge",
    "seen_set.probe",
    "seen_set.update",
    "frontier.host_clock",
    "checkpoint.commit",
)
# spans whose jobs run Python workers on every workload
PYTHON_SPANS = ("crawl.harvest", "seen_set.probe", "seen_set.update")
STAGE = {
    "jobs": "count",
    "tasks": "count",
    "cpu_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
}


def _per_layer_table() -> dict[str, tuple[str, str]]:
    t: dict[str, tuple[str, str]] = {}
    for span in CRAWL_SPANS:
        t[f"{span}_s"] = ("s", "lower")
        t[f"{span}_r1_s"] = ("s", "lower")
        for m, unit in STAGE.items():
            t[f"{span}.{m}"] = (unit, "lower")
        if span in PYTHON_SPANS:
            t[f"{span}.python_s"] = ("s", "lower")
    t.update(
        {
            "pages.ingest_s": ("s", "lower"),
            "pages.ingest.cpu_s": ("s", "lower"),
            "crawl.init_s": ("s", "lower"),
            "seen_set.build_s": ("s", "lower"),
            "crawl.wave_urls": ("count", "higher"),
            "crawl.fetched_urls": ("count", "higher"),
            "crawl.candidates": ("count", "higher"),
            "crawl.fresh_urls": ("count", "higher"),
            "crawl.fetch_hit_ratio": ("ratio", "higher"),
            "seen_set.fresh_ratio": ("ratio", "higher"),
            "seen_set.maybe_ratio": ("ratio", "lower"),
            "spark.jobs_per_round": ("count", "lower"),
            "crawl.python_share": ("ratio", "lower"),
            "trace.overhead_frac": ("ratio", "lower"),
        }
    )
    for name in QUERY_MODULE:
        t[f"query.{name}_s"] = ("s", "lower")
    for m, unit in STAGE.items():
        t[f"query.{m}"] = (unit, "lower")
    return t


PER_LAYER = _per_layer_table()


def end_to_end(setup_s: float, crawls: list[dict], query_cycles: list[dict], peak_rss: int) -> dict:
    """crawls: run_crawl results with their measured ``wall``; query_cycles:
    {name: [seconds of each timed execution]} per cycle of the client.

    ``query_total_s`` sums each query's fastest execution over the
    workload's slice. The first execution after the warm-up is often still
    being compiled, and per-job jitter only ever adds time, so the minimum
    is the steadier figure. A slice of four queries has no latency
    distribution to take percentiles of.
    """
    steady = [r for c in crawls for r in c["per_round"][1:]]

    def steady_rate(c):
        rs = c["per_round"][1:]
        return sum(r["visited"] for r in rs) / sum(r["wall_sec"] for r in rs)

    return {
        "setup_s": setup_s,
        "crawl_urls_per_s": statistics.median(c["visited"] / c["wall"] for c in crawls),
        "crawl_steady_urls_per_s": statistics.median(steady_rate(c) for c in crawls),
        "crawl_round_p50_s": statistics.median(r["wall_sec"] for r in steady),
        "query_total_s": statistics.median(
            sum(min(took) for took in cyc.values()) for cyc in query_cycles
        ),
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(
    spans, sums: dict, rows: list[dict], untraced: dict, jobs_untraced: int, query_repeats: int
) -> dict:
    """spans: the Tracer's spans; sums: eventlog.sum_by_group output; rows:
    traced_crawl's per-round rows; untraced: the run_crawl result it is
    compared with, which submitted ``jobs_untraced`` jobs. Each query span
    holds ``query_repeats`` executions; query metrics are per execution."""
    empty = dict.fromkeys(FIELDS, 0.0)
    wall = {s.group: s.seconds for s in spans}
    steady = [r["round"] for r in rows[1:]]
    n = len(steady)
    out: dict[str, float] = {}

    def stage(groups):
        total = dict(empty)
        for g in groups:
            for k, v in sums.get(g, empty).items():
                total[k] += v
        return total

    for span in CRAWL_SPANS:
        out[f"{span}_s"] = sum(wall[f"{span}/r{k}"] for k in steady) / n
        out[f"{span}_r1_s"] = wall[f"{span}/r1"]
        st = stage(f"{span}/r{k}" for k in steady)
        for m in STAGE:
            out[f"{span}.{m}"] = st[m] / n
        if span in PYTHON_SPANS:
            out[f"{span}.python_s"] = st["python_s"] / n
    harvest = stage(f"crawl.harvest/r{k}" for k in steady)
    traced_steady = sum(r["wall_sec"] for r in rows[1:])
    untraced_steady = sum(r["wall_sec"] for r in untraced["per_round"][1:])
    total = {k: sum(r[k] for r in rows) for k in ("wave", "fetched", "candidates", "fresh", "maybe")}
    out.update(
        {
            "pages.ingest_s": wall["pages.ingest"],
            "pages.ingest.cpu_s": stage(["pages.ingest"])["cpu_s"],
            "crawl.init_s": wall["crawl.init"],
            "seen_set.build_s": wall["seen_set.build"],
            "crawl.wave_urls": total["wave"],
            "crawl.fetched_urls": total["fetched"],
            "crawl.candidates": total["candidates"],
            "crawl.fresh_urls": total["fresh"],
            "crawl.fetch_hit_ratio": total["fetched"] / total["wave"],
            "seen_set.fresh_ratio": total["fresh"] / total["candidates"],
            "seen_set.maybe_ratio": total["maybe"] / total["candidates"],
            "spark.jobs_per_round": jobs_untraced / len(untraced["per_round"]),
            "crawl.python_share": harvest["python_s"] / harvest["run_s"],
            "trace.overhead_frac": traced_steady / untraced_steady - 1.0,
        }
    )
    for name in QUERY_MODULE:
        out[f"query.{name}_s"] = wall[f"query.{name}"] / query_repeats
    st = stage(f"query.{q}" for q in QUERY_MODULE)
    for m in STAGE:
        out[f"query.{m}"] = st[m] / query_repeats
    return out
