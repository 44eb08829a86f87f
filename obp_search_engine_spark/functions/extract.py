"""HTML link + text extraction: the pure oracles and the crawl's one kernel.

Reference analogues:
  - link extraction <- GetConnections peer-list fetch + discovered-peer
    filter (crawler/rpc/rpc.go:62-86, crawler/crawling/crawler.go:73-77);
    the reference's "links" are closest-peer IDs, ours are <a href> targets.
  - text extraction <- GetItems/GetProfile payload decode
    (crawler/rpc/rpc.go:89-147); input_hint requires the extracted text to
    be byte-identical per url, so ``extract_text`` and the kernel share ONE
    text pipeline (``_text_of``), also used by the fixture generator's
    golden column.

``extract_links`` / ``extract_text`` are the pure per-page oracles.
``harvest_batch`` is the crawl round's single extraction kernel: one utf-8
decode per page yields its canonical outlinks and, optionally, its text.
``harvest_col`` applies it to an ``html BINARY`` column as a pandas UDF
(one Arrow transfer of the html per batch).
"""

from __future__ import annotations

import html as _htmllib
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .urls import canonicalize_url

_HREF_RE = re.compile(r"""<a\s[^>]*?href\s*=\s*["']([^"'<>\s]+)["']""", re.IGNORECASE)
_SCRIPT_STYLE_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_TAG_RE = re.compile(r"<[^>]+>")


def _text_of(doc: str) -> str:
    """Text of a decoded document — the byte-identical invariant's single
    definition.

    Pipeline: drop <script>/<style> subtrees -> tags -> single space -> HTML
    entity unescape -> collapse whitespace -> strip. Every step is
    order-fixed so output is a pure function of input.
    """
    doc = _SCRIPT_STYLE_RE.sub(" ", doc)
    doc = _TAG_RE.sub(" ", doc)
    doc = _htmllib.unescape(doc)
    # " ".join(split()) == re.sub(r"\s+", " ", doc).strip() byte-for-byte
    # (str.split() and regex \s agree on unicode whitespace; verified over
    # an adversarial corpus) but is ~4x faster — this step was the UDF's
    # single hottest line (4.1k docs/s vs 60k+/s for every other step).
    return " ".join(doc.split())


def extract_links(html_bytes: bytes | None) -> list[str]:
    """All href targets in document order (pure function; oracle impl)."""
    if html_bytes is None:
        return []
    try:
        doc = html_bytes.decode("utf-8", errors="replace")
    except Exception:
        return []
    return _HREF_RE.findall(doc)


def extract_text(html_bytes: bytes | None) -> str | None:
    """Deterministic text extraction (pure function; oracle impl): utf-8
    decode (replace), then ``_text_of``."""
    if html_bytes is None:
        return None
    return _text_of(html_bytes.decode("utf-8", errors="replace"))


_HARVEST_TYPE = T.StructType(
    [
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("text", T.StringType()),
    ]
)


def harvest_batch(html: pd.Series, with_text: bool) -> pd.DataFrame:
    """The extraction kernel: per page, its canonical outlinks (hrefs that
    do not canonicalize are dropped) and, ``with_text``, its text.

    Equal by construction to ``[canonicalize_url(l) for l in
    extract_links(h)]`` (Nones dropped) and ``extract_text(h)``. Links leave
    the kernel canonical because they are already Python strings here — a
    separate canonicalization UDF would ship every exploded link (Zipf
    corpora: ~10x the page count) through a second Arrow round trip.
    Without text, the ``text`` field is null.
    """
    links, texts = [], []
    for b in html:
        if b is None:
            links.append([])
            texts.append(None)
            continue
        doc = b.decode("utf-8", errors="replace")
        links.append(
            [c for l in _HREF_RE.findall(doc) if (c := canonicalize_url(l)) is not None]
        )
        texts.append(_text_of(doc) if with_text else None)
    return pd.DataFrame({"links": links, "text": texts})


def _harvest_udf(with_text: bool):
    @F.pandas_udf(_HARVEST_TYPE)
    def harvest_kernel(html: pd.Series) -> pd.DataFrame:
        return harvest_batch(html, with_text)

    return harvest_kernel


_HARVEST_UDFS = {flag: _harvest_udf(flag) for flag in (False, True)}


def harvest_col(html: Column, with_text: bool) -> Column:
    """``struct<links, text>`` of ``harvest_batch`` over an html BINARY
    column — links and text from ONE Arrow transfer of the (heavy) html."""
    return _HARVEST_UDFS[with_text](html)
