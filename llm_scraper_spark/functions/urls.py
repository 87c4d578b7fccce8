"""URL canonicalization + hashing — pure Python (the oracle's) and
JVM column expressions (the crawl's), equal by test.

Replaces the reference's ad-hoc URL handling: ``href.startswith("/")``
absolutization + set-dedup (extract_product_urls.py:114-132), urljoin /
urlparse usage (scrapping_manager.py:94-97, llm_validation_playwright.py
:54-56).  The reference never canonicalizes, so it can fetch the same
logical page twice; we canonicalize *then* hash so the seen-set is exact.

Canonical form (documented, deterministic):
  - scheme + host lowercased; default ports stripped
  - fragment dropped
  - tracking params dropped (ref, qid, tag, utm_*) — the reference's
    Amazon seed lists are full of ``ref=``/``qid=`` noise
  - remaining query params sorted by key
  - empty path -> "/"; trailing slash preserved otherwise
  - relative hrefs starting "/" resolved against a base url

Hash: first 8 bytes of sha1(canonical_url), masked to 63 bits (non-
negative int64) — stable across Python/Spark/any engine, collision
probability ~n²/2⁶⁴ (≈0.005 at 10^10 URLs per partition-pair check;
the seen-set join keeps the full url alongside the hash so a collision
can never drop a distinct URL: the anti-join key is the hash but
equality is confirmed on url).
"""

from __future__ import annotations

import hashlib
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TRACKING_KEYS = ("ref", "qid", "tag")
_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_one(url: str, base: str | None = None) -> str | None:
    """Canonicalize a single URL (pure; shared with the oracle)."""
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    if base and url.startswith("/"):
        # reference: extract_product_urls.py:114-118 (home_url + href)
        url = urljoin(base, url)
    try:
        parts = urlsplit(url)
        scheme = parts.scheme.lower()
        if scheme not in ("http", "https"):
            return None
        host = parts.hostname
        if not host:
            return None
        # .hostname parses lazily but .port VALIDATES: a crawled href
        # with a junk port ("//h:8a/", ":99999") raises ValueError here
        # — outside the try it would kill the Spark task and the round
        port = parts.port
    except ValueError:
        return None
    host = host.lower()
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    query = ""
    if parts.query:
        kept = []
        for kv in parts.query.split("&"):
            if not kv:
                continue
            k = kv.split("=", 1)[0]
            if k in _TRACKING_KEYS or k.startswith("utm_"):
                continue
            kept.append(kv)
        query = "&".join(sorted(kept))
    return urlunsplit((scheme, netloc, path, query, ""))


def url_hash_one(canonical_url: str) -> int:
    """63-bit sha1 hash of the canonical URL (pure; shared with oracle)."""
    d = hashlib.sha1(canonical_url.encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big") & 0x7FFF_FFFF_FFFF_FFFF


def host_of(canonical_url: str) -> str:
    return urlsplit(canonical_url).netloc


# ---- vectorized (pandas) versions -------------------------------------

def canonicalize_series(urls: pd.Series, bases: pd.Series | None = None) -> pd.Series:
    if bases is None:
        return urls.map(lambda u: canonicalize_one(u) if u is not None else None)
    return pd.Series(
        [canonicalize_one(u, b) for u, b in zip(urls, bases)], index=urls.index
    )


def hash_series(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: url_hash_one(u) if u is not None else None).astype(
        "Int64"
    )


# ---- Spark column functions -------------------------------------------

@F.pandas_udf(T.LongType())
def url_hash_udf(urls: pd.Series) -> pd.Series:
    return hash_series(urls)


def host_col(url_col):
    """Host (netloc incl. port) of a CANONICAL url — regexp, not
    parse_url: java.net.URI construction per row was the top profile
    entry in the frontier-delta stage; a codegen'd regexp is ~10x
    cheaper and the input is already canonical."""
    return F.regexp_extract(url_col, r"^[a-z]+://([^/]+)", 1)


# ---- JVM-native versions (the hot path) --------------------------------
#
# The crawl loop processes billions of outlinks per round; a Python
# stage there costs worker fan-out + Arrow transfer per task and was
# measured 3-8x slower than the JVM expression at local[32].  These
# column expressions implement the SAME canonical form as
# ``canonicalize_one``/``url_hash_one`` (equality is property-tested in
# tests/test_urls_jvm.py and implicitly by the crawl-vs-oracle suite,
# since the oracle uses the Python versions ``canonicalize_one`` /
# ``url_hash_one``).  No crawl path falls back to a Python UDF.

_MAX_LONG = 0x7FFF_FFFF_FFFF_FFFF


def url_hash_col(url_col):
    """63-bit sha1 hash, JVM-side: first 16 hex chars of sha1 as two
    32-bit halves, recombined with bit ops (no overflow under ANSI),
    masked to non-negative int64 — bit-identical to ``url_hash_one``."""
    hexs = F.sha1(url_col)
    hi = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(hexs, 9, 8), 16, 10).cast("bigint")
    return F.shiftleft(hi, 32).bitwiseOR(lo).bitwiseAND(F.lit(_MAX_LONG))


def canonicalize_col(url_col, base_col=None):
    """JVM canonicalization — same spec as ``canonicalize_one``:
    lowercase scheme/host, strip default port + fragment, drop
    tracking params (ref/qid/tag/utm_*), sort surviving params,
    empty path -> '/', root-relative hrefs resolved against base."""
    u = F.trim(url_col)
    u = F.when(u == "", F.lit(None).cast("string")).otherwise(u)
    if base_col is not None:
        root = F.regexp_extract(base_col, r"^(https?://[^/]+)", 1)
        u = F.when(u.startswith("/"), F.concat(root, u)).otherwise(u)
    u = F.substring_index(u, "#", 1)  # fragment off before parsing
    # regexp-only parsing: codegen'd, ~10x cheaper per row than the
    # java.net.URI-backed parse_url (3 URI constructions per URL) and
    # scales linearly with cores — property-tested equal to urlsplit
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    host = F.lower(
        F.regexp_extract(
            u, r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1
        )
    )
    # the RAW text after "host:" (not just its numeric prefix): python's
    # urlsplit().port raises on a non-numeric or >65535 port, which
    # canonicalize_one maps to None — the JVM path must reject the same
    # inputs, not silently keep the numeric prefix of ":8a"
    portish = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?[^/?#:]+:([^/?#]*)", 1
    )
    numericish = portish.rlike(r"^[0-9]{1,5}$")  # bounded: no int overflow
    port_num = F.when(numericish, portish.cast("int")).otherwise(
        F.lit(None).cast("int")
    )
    port_ok = (portish == "") | (numericish & (port_num <= 65535))
    is_default = ((scheme == "http") & (port_num == 80)) | (
        (scheme == "https") & (port_num == 443)
    )
    netloc = F.when(
        port_num.isNull() | is_default, host
    ).otherwise(
        # numeric reconstruction also normalizes leading zeros (":080"
        # -> ":80"), matching python's int round-trip
        F.concat(host, F.lit(":"), port_num.cast("string"))
    )
    raw_path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(/[^?#]*)", 1)
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    k = lambda kv: F.substring_index(kv, "=", 1)  # noqa: E731
    kept = F.filter(
        F.split(F.coalesce(query, F.lit("")), "&"),
        lambda kv: (kv != "")
        & ~k(kv).isin("ref", "qid", "tag")
        & ~k(kv).startswith("utm_"),
    )
    qpart = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(F.array_sort(kept), "&"))
    ).otherwise(F.lit(""))
    valid = (
        scheme.isin("http", "https") & host.isNotNull() & (host != "") & port_ok
    )
    return F.when(
        valid, F.concat(scheme, F.lit("://"), netloc, path, qpart)
    ).otherwise(F.lit(None).cast("string"))
