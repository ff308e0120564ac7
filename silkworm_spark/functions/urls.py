"""URL functions: canonicalization, host extraction, join, param merge.

Vectorized pandas UDFs over urllib (plain Python per batch, Arrow
transfer — never per-row Python UDFs). Reference behaviors covered:

- query-param merge into an existing query string, existing keys
  overridden (reference http.py:396-406);
- relative URL join for ``response.follow`` (reference
  response.py:132-133,271-296);
- the seen-set key. The reference keys on the *raw* URL string
  (engine.py:99-106); the rebuild keys on the canonical form + a
  64-bit hash, which is strictly stronger (identical when inputs are
  already canonical, as the goldens are).
"""

from __future__ import annotations

from urllib.parse import parse_qsl, urlencode, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}

# Fast paths for the crawl's hot shapes (already-canonical absolute
# http(s) URLs — the overwhelming majority of extracted links). Each
# is exact: anything the pattern can't PROVE canonical falls through
# to the general urllib path. urlsplit/urljoin are ~20 µs/call and the
# parse stage calls them per link — they were >half its profile.
import re as _re

_CANON_FAST = _re.compile(r"^(https?)://([a-z0-9.\-]+)(/[^#]*)?$")
_HOST_FAST = _re.compile(r"^https?://([a-z0-9.\-]+)(?:[/?#].*)?$")


def canonicalize_url(url: str) -> str:
    """Canonical form: lowercase scheme/host, drop default port, drop
    fragment, '/' for empty path. Path+query byte-preserved (two URLs
    differing in query order are distinct, matching the reference's
    raw-string keying)."""
    if not url:
        return url
    m = _CANON_FAST.match(url)
    if m:  # lowercase scheme+host, no port/userinfo/fragment already
        return url if m.group(3) else url + "/"
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return url.strip()
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    port = parts.port
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    return urlunsplit((scheme, netloc, path, parts.query, ""))


def host_of(url: str) -> str:
    m = _HOST_FAST.match(url) if url else None
    if m:
        return m.group(1)
    try:
        return (urlsplit(url).hostname or "").lower()
    except ValueError:
        return ""


def url_join(base: str, href: str) -> str | None:
    """Resolve ``href`` against ``base`` (reference response.py:132-133)."""
    if href is None:
        return None
    h = href.strip()
    # absolute http(s) href: urljoin returns it unchanged (no dot-segment
    # removal is performed when the href carries a netloc)
    if h.startswith("http://") or h.startswith("https://"):
        return h
    # root-relative with no dot segments (every "." or ".." path segment
    # contains the substring "/."): scheme://netloc + href
    if h.startswith("/") and not h.startswith("//") and "/." not in h:
        i = base.find("/", base.find("://") + 3)
        return (base[:i] if i != -1 else base) + h
    return urljoin(base, h)


def merge_params(url: str, params: dict[str, str] | None) -> str:
    """Merge params into the URL query string; existing keys overridden
    (reference http.py:396-406)."""
    if not params:
        return url
    parts = urlsplit(url)
    existing = dict(parse_qsl(parts.query, keep_blank_values=True))
    existing.update(params)
    return urlunsplit(
        (parts.scheme, parts.netloc, parts.path, urlencode(existing, doseq=True), parts.fragment)
    )


def has_params_col() -> Column:
    """NULL-safe: True where the request carries non-empty ``params``."""
    return F.coalesce(F.size(F.col("params")) > 0, F.lit(False))


@pandas_udf(StringType())
def merge_params_udf(urls: pd.Series, params: pd.Series) -> pd.Series:
    return pd.Series(
        [merge_params(u, dict(p) if p is not None else None)
         for u, p in zip(urls, params)]
    )


@pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: canonicalize_url(u) if u is not None else None)


# JVM twins of the _CANON_FAST / _HOST_FAST fast paths: the same
# patterns as Java regexes, so bulk canonicalization of seed tables
# never crosses the Python boundary for the (overwhelmingly common)
# already-canonical absolute http(s) URL. Anything the pattern cannot
# PROVE canonical falls through to the pandas-UDF path — identical
# split-filter discipline as fetch.with_fetch_url.
_CANON_FAST_SQL = r"^https?://[a-z0-9.\-]+(/[^#]*)?$"
_NO_PATH_SQL = r"^https?://[a-z0-9.\-]+$"
_HOST_EXTRACT_SQL = r"^https?://([a-z0-9.\-]+)"


def with_canonical_url_host(df, url_col: str = "url"):
    """``url_col`` canonicalized in place plus a ``host`` column.

    Value-identical to ``canonicalize_udf`` + ``host_udf`` (pinned by
    tests/test_optimization_r06.py) but JVM-side for fast-pattern URLs:
    a 2.4M-seed initialize() spent most of its wall in the two pandas
    UDFs re-deriving strings that were already canonical (guide §4:
    eliminate the Python boundary when a builtin expression exists).
    Row order is NOT preserved (split-filter + union); every consumer
    orders by explicit keys."""
    u = F.col(url_col)
    is_fast = u.rlike(_CANON_FAST_SQL)
    fast = (
        df.filter(is_fast)
        .withColumn(
            url_col,
            F.when(u.rlike(_NO_PATH_SQL), F.concat(u, F.lit("/"))).otherwise(u),
        )
        .withColumn("host", F.regexp_extract(F.col(url_col), _HOST_EXTRACT_SQL, 1))
    )
    slow = (
        df.filter(~F.coalesce(is_fast, F.lit(False)))
        .withColumn(url_col, canonicalize_udf(url_col))
        .withColumn("host", host_udf(url_col))
    )
    return fast.unionByName(slow)


@pandas_udf(StringType())
def host_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: host_of(u) if u is not None else None)


@pandas_udf(StringType())
def url_join_udf(bases: pd.Series, hrefs: pd.Series) -> pd.Series:
    return pd.Series(
        [url_join(b, h) if b is not None else h for b, h in zip(bases, hrefs)]
    )


def url_hash_col(url_col: str | Column) -> Column:
    """64-bit seen-set key via the JVM-side xxhash64 builtin — the
    scale-path hash the north rule asks for, with zero Python cost."""
    col = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.xxhash64(col)
