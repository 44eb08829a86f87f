"""URL canonicalization + hashing (SURVEY.md §2.8 X12)."""

from __future__ import annotations

from pyspark.sql import functions as F

from obp_search_engine_spark.functions.urls import (
    canonicalize_url,
    with_url_keys,
)

CASES = [
    ("http://Example.COM/a/b", "http://example.com/a/b"),
    ("HTTP://example.com", "http://example.com/"),
    ("http://example.com:80/x", "http://example.com/x"),
    ("https://example.com:443/x", "https://example.com/x"),
    ("https://example.com:8443/x", "https://example.com:8443/x"),
    ("http://example.com/a/../b", "http://example.com/b"),
    ("http://example.com/a/./b", "http://example.com/a/b"),
    ("http://example.com/a/b/..", "http://example.com/a/"),
    ("http://example.com/p#frag", "http://example.com/p"),
    ("http://example.com/p?b=2&a=1", "http://example.com/p?b=2&a=1"),  # query kept verbatim
    ("http://example.com/p?", "http://example.com/p"),
    ("  http://example.com/sp  ", "http://example.com/sp"),
    ("not a url", None),
    ("/relative/only", None),
    ("", None),
    (None, None),
    ("ftp://files.example.com/f", "ftp://files.example.com/f"),
]


def test_canonicalize_pure():
    for raw, want in CASES:
        assert canonicalize_url(raw) == want, raw


def test_canonicalize_idempotent():
    for raw, want in CASES:
        if want is not None:
            assert canonicalize_url(want) == want


def _kernel_links(spark, hrefs):
    """The extraction kernel's canonical links for one page linking hrefs."""
    from obp_search_engine_spark.functions.extract import harvest_col

    html = "".join(f'<a href="{h}">x</a>' for h in hrefs).encode()
    df = spark.createDataFrame([(html,)], "html binary")
    return df.select(harvest_col(F.col("html"), with_text=False)["links"]).first()[0]


def test_canonicalize_udf_matches_pure(spark):
    """The extraction kernel (the crawl's one canonicalizing pass)
    canonicalizes every href exactly as canonicalize_url does, dropping
    the ones it rejects."""
    # an href is one whitespace-free token, so only those CASES can appear
    cases = [(raw, want) for raw, want in CASES if raw and raw.split() == [raw]]
    got = _kernel_links(spark, [raw for raw, _ in cases])
    assert got == [want for _, want in cases if want is not None]


def test_udf_fast_path_covers_canonical_urls(spark):
    # urls that are already canonical must come back unchanged
    urls = [f"http://host{i}.example/p/{i}" for i in range(50)]
    assert _kernel_links(spark, urls) == urls


def test_with_url_keys(spark):
    df = spark.createDataFrame([("http://example.com/a",)], "url string")
    row = with_url_keys(df).first()
    assert row.host == "example.com"
    assert isinstance(row.url_hash, int)
    assert 0 <= row.host_hash < 2**31
    # hash is the JVM xxhash64 of the url string — stable across runs
    again = with_url_keys(df).first()
    assert row.url_hash == again.url_hash


def test_url_keys_jvm_side(spark):
    # host/hash derivation must not appear as a Python UDF in the plan
    df = with_url_keys(spark.createDataFrame([("http://x.example/",)], "url string"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
