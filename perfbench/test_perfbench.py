"""Tests for the benchmark's own code, on a tiny corpus.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import replace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.workloads import WORKLOADS, query_order, seed_urls  # noqa: E402

TINY = replace(
    WORKLOADS["crawl_many_rounds"].crawl,
    n_pages=400, n_hosts=4, seeds_per_host=2, rounds=2, per_host_budget=6, n_buckets=4,
)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def tiny():
    """A traced 2-round crawl, the untraced run_crawl it replays and a second
    run_crawl with the same seed, all on a tiny corpus, with the output
    checks evaluated; then the session stops and its event log is read."""
    from pyspark.sql import functions as F

    from obp_search_engine_spark.operators.checkpoint import run_crawl
    from obp_search_engine_spark.sources.pages import synth_pages_df
    from perfbench.checks import check_crawl
    from perfbench.eventlog import read_events
    from perfbench.harness import RunDirs, isolate_process, new_session, shutdown_spark
    from perfbench.run import politeness_state
    from perfbench.spans import Tracer, round_dir, traced_crawl

    saved = dict(os.environ)
    dirs = RunDirs.create(ROOT)
    isolate_process(dirs)
    spark = new_session(dirs, event_log=True)
    try:
        pages = synth_pages_df(spark, TINY.n_pages, TINY.n_hosts, seed=5).localCheckpoint(eager=True)
        host_state = politeness_state(pages)
        seeds = seed_urls(TINY, 5)
        tracer = Tracer(spark)
        with tracer.span("pages.ingest"):
            pages.count()
        rows, frontier = traced_crawl(
            spark, tracer, pages, TINY, seeds, host_state, dirs.sub("crawl/traced")
        )
        spark.sparkContext.setJobGroup("untraced.crawl", "untraced.crawl")

        def crawl(ckpt):
            return run_crawl(
                spark, pages, seeds=seeds, rounds=TINY.rounds, ckpt_dir=ckpt,
                per_host_budget=TINY.per_host_budget, use_bloom_seen=True,
                host_state=host_state, extract_documents=True,
            )

        untraced = crawl(dirs.sub("crawl/untraced"))
        spark.sparkContext.setJobGroup("after", "after")
        again = crawl(dirs.sub("crawl/again"))
        harvests = [
            os.path.join(round_dir(dirs.sub("crawl/traced"), r["round"]), "harvest") for r in rows
        ]
        visited = sum(r["visited"] for r in rows)
        wrong_text = pages.withColumn("text", F.concat(F.col("text"), F.lit("x")))

        def digest(seed):
            df = synth_pages_df(spark, TINY.n_pages, TINY.n_hosts, seed=seed)
            return sorted((r.url, r.text) for r in df.select("url", "text").collect())

        out = {
            "rows": rows,
            "untraced": untraced,
            "again": again,
            "tracer": tracer,
            "check_ok": check_crawl(spark, pages, harvests, frontier, visited),
            "check_dup": check_crawl(
                spark, pages, harvests, frontier.unionByName(frontier.limit(1)), visited
            ),
            "check_text": check_crawl(spark, wrong_text, harvests, frontier, visited),
            "digests": (digest(5), digest(5), digest(6)),
        }
        spark.stop()  # flushes the event log
        out["events"] = read_events(dirs.sub("events"))
        return out
    finally:
        shutdown_spark()
        dirs.remove()
        os.environ.clear()
        os.environ.update(saved)


def test_every_traced_crawl_job_carries_a_span_label(tiny):
    from perfbench.eventlog import job_groups

    groups = job_groups(tiny["events"])
    start = groups.index("crawl.init")
    end = groups.index("untraced.crawl")
    traced = groups[start:end]
    spans = {s.group for s in tiny["tracer"].spans}
    assert len(traced) > 20
    assert [g for g in traced if g not in spans] == []
    assert {f"crawl.harvest/r{k}" for k in (1, 2)} <= set(traced)


def test_traced_replay_matches_run_crawl(tiny):
    from perfbench.checks import check_replay

    assert len(tiny["rows"]) == 2
    assert check_replay(tiny["rows"], tiny["untraced"]["per_round"]) == []


def test_crawl_output_checks_pass_and_catch_bad_output(tiny):
    assert tiny["check_ok"] == []
    assert any("distinct url_hash" in p for p in tiny["check_dup"])
    assert any("differ from pages.text" in p for p in tiny["check_text"])


def test_per_layer_names_match_benchmark_json(tiny):
    from perfbench.eventlog import sum_by_group
    from perfbench.spans import Span

    rows, untraced = tiny["rows"], tiny["untraced"]
    # the query spans come from the query phase, which this test skips
    spans = list(tiny["tracer"].spans)
    spans += [Span(f"query.{q}", None, 0.0, 1.0) for q in metrics.QUERY_MODULE]
    values = metrics.per_layer(spans, sum_by_group(tiny["events"]), rows, untraced, jobs_untraced=10, query_repeats=2)
    declared = {m["name"]: m for m in _benchmark_json()["per_layer"]}
    assert list(values) == list(declared)
    for name, (unit, better) in metrics.PER_LAYER.items():
        assert (declared[name]["unit"], declared[name]["better"]) == (unit, better)
    assert values["crawl.harvest.python_s"] > 0


def test_end_to_end_names_match_benchmark_json():
    crawl = {
        "visited": 30, "wall": 3.0,
        "per_round": [
            {"visited": 10, "wall_sec": 1.0}, {"visited": 20, "wall_sec": 2.0},
        ],
    }
    values = metrics.end_to_end(1.0, [crawl], [{"a": [0.5, 0.7], "b": [1.5, 1.5]}], 2**30)
    declared = {m["name"]: m for m in _benchmark_json()["end_to_end"]}
    assert list(values) == list(declared)
    for name, (unit, better) in metrics.END_TO_END.items():
        assert (declared[name]["unit"], declared[name]["better"]) == (unit, better)
    assert values["crawl_urls_per_s"] == 10.0
    assert values["query_total_s"] == 0.5 + 1.5
    assert values["peak_rss_mb"] == 1024.0


def test_benchmark_json_lists_the_workloads():
    assert [w["name"] for w in _benchmark_json()["workloads"]] == list(WORKLOADS)


def test_same_seed_same_inputs_other_seed_other_corpus(tiny):
    same, again, other = tiny["digests"]
    assert same == again
    assert same != other
    assert seed_urls(TINY, 5) == seed_urls(TINY, 5)
    assert seed_urls(TINY, 5) != seed_urls(TINY, 6)
    for wl in WORKLOADS.values():
        assert query_order(wl.queries, 5) == query_order(wl.queries, 5)
        assert sorted(query_order(wl.queries, 5)) == sorted(wl.queries)
    # every timed registry entry is in exactly one workload's slice
    slices = [q for wl in WORKLOADS.values() for q in wl.queries]
    assert sorted(slices) == sorted(metrics.QUERY_MODULE)


def test_same_seed_same_crawl_counts(tiny):
    keys = ("visited", "discovered", "frontier_size")
    first = [tuple(r[k] for k in keys) for r in tiny["untraced"]["per_round"]]
    assert [tuple(r[k] for k in keys) for r in tiny["again"]["per_round"]] == first


def test_python_time_beyond_run_time_is_a_unit_error():
    from perfbench.eventlog import PY_RUN, sum_by_group

    events = [
        {"Event": "X", "sparkPlanInfo": {"metrics": [
            {"name": PY_RUN, "accumulatorId": 7, "metricType": "timing"}]}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 1000, "Executor CPU Time": 5e8},
         "Task Info": {"Accumulables": [{"ID": 7, "Name": PY_RUN, "Update": "400"}]}},
    ]
    g = sum_by_group(events)["g"]
    assert (g["jobs"], g["tasks"], g["run_s"], g["cpu_s"], g["python_s"]) == (1, 1, 1.0, 0.5, 0.4)
    events[2]["Task Info"]["Accumulables"][0]["Update"] = "4000"
    with pytest.raises(ValueError):
        sum_by_group(events)
