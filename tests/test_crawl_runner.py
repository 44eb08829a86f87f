"""run_crawl / crawl_round: caller-input checks and the failure paths of
run_crawl's async tail (background snapshot commit, background seen-set
update)."""

from __future__ import annotations

import threading

import pytest

from obp_search_engine_spark.operators import checkpoint, seen_set
from obp_search_engine_spark.operators.checkpoint import latest_round, run_crawl
from obp_search_engine_spark.operators.crawl import (
    candidates_from_harvest,
    crawl_round,
    init_frontier,
)
from obp_search_engine_spark.sources.pages import (
    MOCK4_SEED_URL,
    mock4_pages_df,
    synth_pages_df,
)


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_pages_df(spark, n_pages=200, n_hosts=5, seed=11).cache()
    yield df
    df.unpersist()


def _seed(pages):
    # with this corpus the crawl from its first url still grows at round 3
    return pages.orderBy("url").first().url


# ---------------------------------------------------------------------------
# caller-input checks: ValueError, so they hold under ``python -O`` too
# ---------------------------------------------------------------------------
def test_resume_without_ckpt_dir_raises(spark, pages):
    with pytest.raises(ValueError, match="resume requires ckpt_dir"):
        run_crawl(spark, pages, rounds=1, resume=True)


def test_resume_from_empty_ckpt_raises(spark, pages, tmp_path):
    with pytest.raises(ValueError, match="nothing to resume from"):
        run_crawl(spark, pages, rounds=1, ckpt_dir=str(tmp_path), resume=True)


def test_fresh_run_without_seeds_raises(spark, pages):
    with pytest.raises(ValueError, match="fresh run requires seeds"):
        run_crawl(spark, pages, rounds=1)
    with pytest.raises(ValueError, match="fresh run requires seeds"):
        run_crawl(spark, pages, seeds=[], rounds=1)


def test_crawl_round_documents_need_harvest_dir(spark, pages, tmp_path):
    f = init_frontier(spark, [MOCK4_SEED_URL])
    with pytest.raises(ValueError, match="requires harvest_dir"):
        crawl_round(spark, f, mock4_pages_df(spark), round_no=1, extract_documents=True)
    # the spill is the documents store: a harvest_dir without documents
    # would be silently ignored, so it is refused too
    with pytest.raises(ValueError, match="requires harvest_dir"):
        crawl_round(
            spark, f, mock4_pages_df(spark), round_no=1,
            harvest_dir=str(tmp_path / "h"),
        )


def test_candidates_from_raw_links_refused(spark):
    harvest = spark.createDataFrame(
        [("http://a.example/", 0, ["http://b.example/"])],
        "url string, src_depth int, _links array<string>",
    )
    with pytest.raises(ValueError, match="canonical"):
        candidates_from_harvest(harvest, canonical=False)
    assert candidates_from_harvest(harvest, canonical=True).count() == 1


# ---------------------------------------------------------------------------
# async tail failure paths
# ---------------------------------------------------------------------------
def _snap_threads():
    return [t.name for t in threading.enumerate() if t.name.startswith("snap") and t.is_alive()]


def test_failed_snapshot_write_surfaces_and_commits_nothing_after(
    spark, pages, tmp_path, monkeypatch
):
    """A background round commit that raises surfaces from run_crawl;
    LATEST stays at the last fully-written round and the writer thread is
    shut down."""
    real = checkpoint.write_snapshot

    def flaky(df, path, *a, **kw):
        if "round=2" in path:
            raise OSError("disk full at round 2")
        return real(df, path, *a, **kw)

    monkeypatch.setattr(checkpoint, "write_snapshot", flaky)
    ckpt = str(tmp_path / "ck")
    with pytest.raises(OSError, match="disk full at round 2"):
        run_crawl(spark, pages, seeds=[_seed(pages)], rounds=3, ckpt_dir=ckpt)
    assert latest_round(ckpt) == 1
    assert _snap_threads() == []


def test_failed_seen_set_update_surfaces(spark, pages, monkeypatch):
    """The bloom seen-set update runs on the background writer; its error
    must surface from run_crawl, not be dropped with the future."""

    def broken(*a, **kw):
        raise RuntimeError("seen-set update failed")

    monkeypatch.setattr(seen_set, "update_seen_set", broken)
    with pytest.raises(RuntimeError, match="seen-set update failed"):
        run_crawl(spark, pages, seeds=[_seed(pages)], rounds=2, use_bloom_seen=True)
    assert _snap_threads() == []
