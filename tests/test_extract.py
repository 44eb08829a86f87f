"""Link + text extraction: the pure oracles and the crawl's one extraction
kernel; byte-identical invariant (FIXTURES.md §7.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from obp_search_engine_spark.functions.extract import (
    extract_links,
    extract_text,
    harvest_col,
)
from obp_search_engine_spark.functions.urls import canonicalize_url
from obp_search_engine_spark.sources.pages import (
    mock4_pages_df,
    synth_pages_df,
)


def _canonical_links(html):
    return [c for l in extract_links(html) if (c := canonicalize_url(l)) is not None]


def test_extract_links_pure():
    html = b'<html><a href="http://a.example/">x</a><A HREF=\'http://b.example/p\'>y</A></html>'
    assert extract_links(html) == ["http://a.example/", "http://b.example/p"]
    assert extract_links(None) == []
    assert extract_links(b"<html>no links</html>") == []


def test_extract_text_pure():
    html = b"<html><head><script>var x=1;</script><style>.a{}</style></head><body>Hello  <b>world</b> &amp; more</body></html>"
    assert extract_text(html) == "Hello world & more"
    assert extract_text(None) is None


def test_text_udf_byte_identical_on_synth(spark):
    """The input_hint invariant: kernel(html).text == golden text column,
    every url."""
    pages = synth_pages_df(spark, n_pages=300, n_hosts=10, seed=42)
    mism = (
        pages.withColumn("rx", harvest_col(F.col("html"), with_text=True)["text"])
        .filter(F.col("rx") != F.col("text"))
        .count()
    )
    assert mism == 0


def test_text_udf_byte_identical_on_mock4(spark):
    pages = mock4_pages_df(spark)
    mism = (
        pages.withColumn("rx", harvest_col(F.col("html"), with_text=True)["text"])
        .filter(F.col("rx") != F.col("text"))
        .count()
    )
    assert mism == 0


def test_links_udf_matches_pure(spark):
    """The links-only kernel (the in-memory crawl path) emits exactly the
    canonicalized pure-oracle links and no text."""
    pages = synth_pages_df(spark, n_pages=100, n_hosts=5, seed=7).collect()
    df = spark.createDataFrame([(r.url, r.html) for r in pages], "url string, html binary")
    got = {
        r.url: (r.h.links, r.h.text)
        for r in df.select("url", harvest_col(F.col("html"), with_text=False).alias("h")).collect()
    }
    for r in pages:
        assert got[r.url] == (_canonical_links(r.html), None), r.url


# rows no synthetic page exercises: case-folded and spaced script/style
# closers, tags and hrefs inside script, entities, NBSP and other unicode
# whitespace, invalid utf-8, a null body, and hrefs canonicalize_url rejects
ADVERSARIAL_HTML = [
    b"<html><SCRIPT type='x'>var a = '<a href=\"http://in.script.example/\">';</SCRIPT>"
    b"<p>after script</p></html>",
    b"<style>.a{color:red}</style ><b>styled</b> <STYLE>p{}</Style>tail",
    b"<script>if (a < b && c > d) { x = '<p>not text</p>'; }</script>kept",
    b"fish &amp; chips &lt;tag&gt; &#169; &#x263A; &nbsp;nb&nbsp;sp &bogus;",
    "a\u00a0b\u2003c\u3000d\u2028e\u200bf\tg\r\nh  i".encode(),
    b"<a href='http://bad.example/\xff\xfe'>x</a> \xc3\x28 body \xe2\x82",
    None,
    b"<a href='/relative/only'>r</a><a href=\"javascript:void(0)\">j</a>"
    b"<a href='mailto:x@y.example'>m</a><a href='http://'>e</a>"
    b"<a href='HTTP://Example.COM:80/a/../b#frag'>ok</a><a href='http://h.example/?'>q</a>",
    b"",
]


def test_combined_extractor_matches_singles(spark):
    """The one extraction kernel == the single-purpose pure oracles:
    links == [canonicalize_url(l) for l in extract_links(h)] (Nones
    dropped) and text == extract_text(h), on synthetic pages plus
    adversarial rows."""
    synth = synth_pages_df(spark, n_pages=150, n_hosts=6, seed=13).collect()
    rows = [(r.url, bytes(r.html)) for r in synth] + [
        (f"adv{i}", h) for i, h in enumerate(ADVERSARIAL_HTML)
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {
        r.url: (r.h.links, r.h.text)
        for r in df.select("url", harvest_col(F.col("html"), with_text=True).alias("h")).collect()
    }
    assert len(got) == len(rows)
    for url, html in rows:
        assert got[url] == (_canonical_links(html), extract_text(html)), url
    # the adversarial rows do reach the interesting branches
    assert got["adv7"][0] == ["http://example.com/b", "http://h.example/"]
    assert got["adv6"] == ([], None)
    assert "not text" not in got["adv2"][1]


def test_synth_pages_deterministic(spark):
    a = synth_pages_df(spark, 50, 5, seed=42).orderBy("url").collect()
    b = synth_pages_df(spark, 50, 5, seed=42).orderBy("url").collect()
    assert a == b
    c = synth_pages_df(spark, 50, 5, seed=43).orderBy("url").collect()
    assert a != c


def test_canonical_links_udf_equals_two_stage(spark):
    """The kernel's canonical links == canonicalize_url mapped over
    extract_links (invalid dropped), in both its links-only and its
    links + text form; the fused pass must be byte-identical to the
    two-stage path it replaced."""
    df = synth_pages_df(spark, n_pages=200, n_hosts=8, seed=11)
    want = {r.url: _canonical_links(r.html) for r in df.collect()}
    links_only = {
        r.url: (r.h.links, r.h.text)
        for r in df.select("url", harvest_col(F.col("html"), with_text=False).alias("h")).collect()
    }
    assert links_only == {u: (ls, None) for u, ls in want.items()}

    both = {
        r.url: (r.h.links, r.h.text)
        for r in df.select("url", harvest_col(F.col("html"), with_text=True).alias("h")).collect()
    }
    assert {u: v[0] for u, v in both.items()} == want
    assert {u: v[1] for u, v in both.items()} == {
        r.url: extract_text(r.html) for r in df.collect()
    }


def test_spill_path_equals_memory_path(spark, tmp_path):
    """The links-only harvest (persisted in memory) and the documents
    harvest (spilled to the checkpoint as the documents store) come out of
    the same kernel, so the two runs build the same frontier."""
    from obp_search_engine_spark.operators.checkpoint import run_crawl
    from obp_search_engine_spark.sources.pages import MOCK4_SEED_URL

    mem = run_crawl(spark, mock4_pages_df(spark), seeds=[MOCK4_SEED_URL], rounds=4)
    docs = run_crawl(
        spark, mock4_pages_df(spark), seeds=[MOCK4_SEED_URL], rounds=4,
        extract_documents=True, ckpt_dir=str(tmp_path / "ck"),
    )
    cols = ["url", "depth", "state"]
    a = sorted(tuple(r) for r in mem["frontier"].select(*cols).collect())
    b = sorted(tuple(r) for r in docs["frontier"].select(*cols).collect())
    assert a == b
    assert [r["visited"] for r in mem["per_round"]] == [
        r["n_documents"] for r in docs["per_round"]
    ]
