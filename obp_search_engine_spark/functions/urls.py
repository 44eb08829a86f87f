"""URL canonicalization + 64-bit hashing.

The reference keys everything on a 46-char peer ID and builds RPC URLs by
string concat (crawler/rpc/rpc.go:44,63,90,120,151); our web-scale analogue
canonicalizes real URLs so that the frontier / seen-set key is stable:

    - scheme + host lowercased
    - fragment stripped
    - default ports removed (http:80, https:443)
    - dot-segments resolved (RFC 3986 §5.2.4)
    - empty path -> "/"
    - query kept verbatim (no reordering — reordering changes semantics on
      some sites); trailing "?" with empty query stripped

``canonicalize_url`` is the pure-Python single-value function, shared by the
synthetic-fixture generator, the pytest oracles and the crawl's extraction
kernel (``functions/extract.harvest_batch``), which emits links already
canonical. Hashing is JVM-side ``xxhash64`` (built-in, whole-stage codegen)
— Python never hashes.

Host extraction is JVM-side ``parse_url(url, 'HOST')``; host_hash is
``pmod(xxhash64(host), 2^31-1)`` cast to int.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://")
_DEFAULT_PORTS = {"http": ":80", "https": ":443"}


def _resolve_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    if "." not in path:
        return path
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
            continue
        out.append(seg)
    # preserve trailing slash semantics of "/a/." and "/a/.."
    if path.endswith(("/.", "/..")) and (not out or out[-1] != ""):
        out.append("")
    res = "/".join(out)
    if not res.startswith("/"):
        res = "/" + res
    return res


def canonicalize_url(url: str | None) -> str | None:
    """Canonicalize one URL (pure function; the oracle implementation)."""
    if url is None:
        return None
    u = url.strip()
    if not u:
        return None
    m = _SCHEME_RE.match(u)
    if not m:
        return None  # relative / garbage: caller resolves or drops
    scheme = m.group(1).lower()
    rest = u[m.end() :]
    # split off fragment first (never part of the fetch key)
    rest = rest.split("#", 1)[0]
    # authority = up to first / or ?
    cut = len(rest)
    for ch in "/?":
        p = rest.find(ch)
        if p != -1:
            cut = min(cut, p)
    authority, tail = rest[:cut], rest[cut:]
    authority = authority.lower()
    dp = _DEFAULT_PORTS.get(scheme)
    if dp and authority.endswith(dp):
        authority = authority[: -len(dp)]
    if not authority:
        return None
    # path / query
    q = tail.find("?")
    if q == -1:
        path, query = tail, ""
    else:
        path, query = tail[:q], tail[q:]
    if not path:
        path = "/"
    path = _resolve_dot_segments(path)
    if query == "?":
        query = ""
    return f"{scheme}://{authority}{path}{query}"


def url_hash_col(url: Column) -> Column:
    """64-bit key of a canonical URL — JVM built-in xxhash64 (seed 42)."""
    return F.xxhash64(url)


def host_col(url: Column) -> Column:
    """Host part of a canonical URL — JVM built-in parse_url."""
    return F.parse_url(url, F.lit("HOST"))


def host_hash_col(host: Column) -> Column:
    """Non-negative 31-bit host shard key."""
    return F.pmod(F.xxhash64(host), F.lit(2147483647)).cast("int")


def with_url_keys(df, url_col: str = "url"):
    """Append url_hash / host / host_hash columns (all JVM-side)."""
    return (
        df.withColumn("url_hash", url_hash_col(F.col(url_col)))
        .withColumn("host", host_col(F.col(url_col)))
        .withColumn("host_hash", host_hash_col(F.col("host")))
    )
