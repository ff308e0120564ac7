"""Deterministic synthetic offline web (FIXTURES.md §2).

Replaces live HTTP in tests and benchmarks: the fetch stage joins the
frontier against this table instead of opening sockets, emulating the
reference fetch semantics (status, content-type, redirects ≤3 + one
loop, charset variants, retryable statuses via ``attempts_until_ok``
— reference http.py:67-203, middlewares.py:99-153).

Every page is a **pure function of its index** (blake2b-keyed, no
shared RNG state), so the same web can be built single-process for the
golden simulator or distributed via ``mapInPandas`` at bench scale —
bit-identical either way, and embarrassingly parallel at 10^10 rows.

Traits at defaults: one hot host holds ~30% of pages (exercises skew
salting), ~2% redirects (+1 forced 2-hop chain and 1 forced loop),
~3% retryable, ~2% 404, ~2% non-HTML (json/png), charset variants
(utf-8 / windows-1251 header / iso-8859-1 meta).
"""

from __future__ import annotations

import hashlib
import html as _html
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from silkworm_spark.schemas import ROBOTS_SCHEMA, SEEDS_SCHEMA, WEB_SCHEMA

# Forced structures (small indexes so they exist at every scale).
_LOOP_A, _LOOP_B = 7, 8  # redirect loop A→B→A (reference http.py:128-129)
_CHAIN = (11, 12, 13)  # 2-hop redirect chain 11→12→13(200)

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt labore dolore magna aliqua enim minim veniam quis "
    "nostrud exercitation ullamco laboris nisi aliquip commodo consequat"
).split()
_CYRILLIC = "данные страница текст пример узел сеть поток задача".split()


def _h(seed: int, *parts: int) -> int:
    """Deterministic 64-bit hash independent of PYTHONHASHSEED."""
    buf = struct.pack(f"<{len(parts) + 1}q", seed, *parts)
    return int.from_bytes(hashlib.blake2b(buf, digest_size=8).digest(), "little")


def host_id(i: int, n_hosts: int, seed: int) -> int:
    h = _h(seed, i, 1)
    if h % 10 < 3:  # hot host: ~30% of all pages
        return 0
    return 1 + (h // 10) % max(1, n_hosts - 1)


def host_name(k: int) -> str:
    return f"h{k}.example.com"


def _is_private(i: int, n_hosts: int, seed: int) -> bool:
    # Pages under a robots-disallowed prefix live on hosts where
    # host_id % 7 == 3 (see build_robots) with ~10% of that host's pages.
    return host_id(i, n_hosts, seed) % 7 == 3 and _h(seed, i, 2) % 10 == 0


def url_of(i: int, n_hosts: int, seed: int) -> str:
    path = "private" if _is_private(i, n_hosts, seed) else "p"
    return f"http://{host_name(host_id(i, n_hosts, seed))}/{path}/{i}"


def _page_class(i: int, seed: int) -> str:
    if i in (_LOOP_A, _LOOP_B) or i in _CHAIN[:2]:
        return "redirect"
    h = _h(seed, i, 3) % 100
    if h < 2:
        return "redirect"
    if h < 5:
        return "retryable"
    if h < 7:
        return "notfound"
    if h < 9:
        return "nonhtml"
    return "ok"


def _charset(i: int, seed: int) -> str:
    h = _h(seed, i, 4) % 100
    if h < 5:
        return "windows-1251"
    if h < 10:
        return "iso-8859-1"
    return "utf-8"


def _text_for(i: int, j: int, seed: int, cyrillic: bool) -> str:
    words = _CYRILLIC if cyrillic else _WORDS
    h = _h(seed, i, 100 + j)
    return " ".join(words[(h >> (4 * k)) % len(words)] for k in range(3 + h % 4))


def gen_page(i: int, n_pages: int, n_hosts: int, seed: int,
             min_spans: int = 3, span_spread: int = 6) -> dict:
    url = url_of(i, n_hosts, seed)
    host = host_name(host_id(i, n_hosts, seed))
    cls = _page_class(i, seed)

    if cls == "redirect":
        if i == _LOOP_A:
            target = _LOOP_B
        elif i == _LOOP_B:
            target = _LOOP_A
        elif i == _CHAIN[0]:
            target = _CHAIN[1]
        elif i == _CHAIN[1]:
            target = _CHAIN[2]
        else:
            # land on a guaranteed-non-redirect page: scan forward
            target = (i + 1 + _h(seed, i, 5) % 97) % n_pages
            for _ in range(4):
                if _page_class(target, seed) != "redirect":
                    break
                target = (target + 1) % n_pages
        status = 301 if _h(seed, i, 6) % 2 == 0 else 302
        return dict(
            url=url, host=host, status=status, content_type="text/html",
            redirect_to=url_of(target, n_hosts, seed), body=b"",
            out_links=[], spans_expected=[], attempts_until_ok=0,
        )

    if cls == "notfound":
        return dict(
            url=url, host=host, status=404, content_type="text/html",
            redirect_to=None, body=b"<!doctype html><html><body>404</body></html>",
            out_links=[], spans_expected=[], attempts_until_ok=0,
        )

    if cls == "nonhtml":
        if _h(seed, i, 7) % 2 == 0:
            return dict(
                url=url, host=host, status=200, content_type="application/json",
                redirect_to=None, body=b'{"id": %d}' % i,
                out_links=[], spans_expected=[], attempts_until_ok=0,
            )
        return dict(
            url=url, host=host, status=200, content_type="image/png",
            redirect_to=None, body=b"\x89PNG\r\n\x1a\n" + bytes([i % 251] * 16),
            out_links=[], spans_expected=[], attempts_until_ok=0,
        )

    attempts = 0
    status = 200
    if cls == "retryable":
        attempts = 1 + _h(seed, i, 8) % 4  # 1..4; 4 exhausts max_times=3
        status = (429, 500, 503)[_h(seed, i, 9) % 3]

    charset = _charset(i, seed)
    cyr = charset == "windows-1251"
    n_spans = min_spans + _h(seed, i, 10) % span_spread
    spans: list[dict] = []
    out_links: list[str] = []
    body_parts: list[str] = []
    k_link = 0
    for j in range(n_spans):
        kind_h = _h(seed, i, 200 + j) % 10
        if kind_h < 4:  # text
            t = _text_for(i, j, seed, cyr)
            spans.append(dict(kind="text", text=t, media_ref=None, offset=j))
            body_parts.append(f"<p>{_html.escape(t)}</p>")
        elif kind_h < 8:  # link
            target = _h(seed, i, 300 + k_link) % n_pages
            if target == i:
                target = (target + 1) % n_pages
            abs_url = url_of(target, n_hosts, seed)
            anchor = _text_for(i, 50 + j, seed, cyr)
            # same-host targets rendered as relative hrefs to exercise urljoin
            t_host = host_name(host_id(target, n_hosts, seed))
            href = abs_url[len(f"http://{t_host}"):] if t_host == host else abs_url
            spans.append(dict(kind="link", text=anchor, media_ref=abs_url, offset=j))
            out_links.append(abs_url)
            body_parts.append(f'<a href="{_html.escape(href, quote=True)}">{_html.escape(anchor)}</a>')
            k_link += 1
        elif kind_h < 9:  # image
            ref = f"http://cdn.example.com/img/{_h(seed, i, 400 + j) % 100000}.png"
            spans.append(dict(kind="image", text=None, media_ref=ref, offset=j))
            body_parts.append(f'<img src="{ref}">')
        else:  # video
            ref = f"http://cdn.example.com/vid/{_h(seed, i, 500 + j) % 100000}.mp4"
            spans.append(dict(kind="video", text=None, media_ref=ref, offset=j))
            body_parts.append(f'<video src="{ref}"></video>')

    if charset == "iso-8859-1":
        head = '<head><meta charset="iso-8859-1"><title>page</title></head>'
        content_type = "text/html"
    elif charset == "windows-1251":
        head = "<head><title>page</title></head>"
        content_type = "text/html; charset=windows-1251"
    else:
        head = "<head><title>page</title></head>"
        content_type = "text/html; charset=utf-8"
    doc = f"<!doctype html><html>{head}<body>{''.join(body_parts)}</body></html>"
    return dict(
        url=url, host=host, status=status, content_type=content_type,
        redirect_to=None, body=doc.encode(charset, errors="replace"),
        out_links=out_links, spans_expected=spans, attempts_until_ok=attempts,
    )


def gen_web_rows(n_pages: int, n_hosts: int, seed: int = 42,
                 min_spans: int = 3, span_spread: int = 6) -> list[dict]:
    return [gen_page(i, n_pages, n_hosts, seed, min_spans, span_spread) for i in range(n_pages)]


def build_web_df(
    spark: SparkSession, n_pages: int, n_hosts: int = 40, seed: int = 42,
    partitions: int | None = None, min_spans: int = 3, span_spread: int = 6,
) -> DataFrame:
    """Distributed generation: pure function of the row index, no
    driver-side materialization — scales to arbitrarily large webs."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_page(int(i), n_pages, n_hosts, seed, min_spans, span_spread) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n_pages, numPartitions=parts)
        .mapInPandas(gen, schema=WEB_SCHEMA)
    )


def build_seeds(n_seeds: int, n_pages: int, n_hosts: int = 40, seed: int = 42) -> list[dict]:
    """Seed list in significant order (reference spiders.py:59-61)."""
    urls, taken = [], set()
    i = 0
    while len(urls) < n_seeds and i < n_pages:
        # prefer OK pages spread across hosts; skip forced loop/chain indexes
        if _page_class(i, seed) == "ok" and i not in (_LOOP_A, _LOOP_B, *_CHAIN):
            u = url_of(i, n_hosts, seed)
            if u not in taken:
                urls.append(u)
                taken.add(u)
        i += 1 + _h(seed, i, 11) % 3
    return [dict(url=u, seq=k, priority=0) for k, u in enumerate(urls)]


def build_robots(n_hosts: int, seed: int = 42) -> list[dict]:
    rows = []
    for k in range(n_hosts):
        disallow = ["/private"] if k % 7 == 3 else []
        delay = 0
        if k % 11 == 5:
            delay = 500
        elif k % 11 == 9:
            delay = 1000
        budget = 25 if k % 13 == 6 else None
        rows.append(dict(
            host=host_name(k), disallow_prefixes=disallow,
            crawl_delay_ms=delay, fetch_budget=budget,
        ))
    return rows


def _local_df(spark: SparkSession, rows: list[dict], schema) -> DataFrame:
    """Driver-side rows as a JVM-resident frame: shipped once as Arrow
    batches, so no job that reads it starts a Python worker (a
    ``createDataFrame`` over a Python list is an RDD that every job
    re-runs through Python)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)), schema
    )


def seeds_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    return _local_df(spark, rows, SEEDS_SCHEMA)


def robots_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    return _local_df(spark, rows, ROBOTS_SCHEMA)
