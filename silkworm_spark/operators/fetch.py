"""The fetch stage.

Offline mode (tests/bench): the redirect loop of the reference fetch
(http.py:80-152,427-464) is resolved ONCE per crawl over the synthetic
``web`` table (``resolve_web``), unrolled as a bounded chain of joins
— follow 301/302/303/307/308 ``Location``, cap at ``max_redirects``
(http.py:119-122), detect loops via the visited-URL set
(http.py:128-129), count ``redirect_times`` (http.py:461-463). Each
round is then one equi-join of the dequeued batch against that table
(``offline_fetch_resolved``). Retryable pages surface their listed
status until ``retry_times`` reaches the fixture's
``attempts_until_ok`` (emulating a server that fails k times then
succeeds).

Each unroll step joins only the still-redirecting tail (a few % of
rows), so the chain costs ~1 join at scale; AQE picks broadcast for
the tail side automatically.

Live mode: a ``mapInPandas`` batch fetcher (thread-pooled stdlib HTTP)
with per-host crawl-delay pacing and the same manually-driven redirect
count/cap/loop semantics as the offline path — exercised against a
loopback server in tests/test_live_fetch.py (no external network in
this sandbox, but 127.0.0.1 is real HTTP).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from silkworm_spark.functions.urls import has_params_col, merge_params_udf
from silkworm_spark.schemas import FETCH_RESULT_SCHEMA

REDIRECT_STATUSES = (301, 302, 303, 307, 308)

# Frontier metadata carried through the fetch untouched (`part` is the
# scheduler's salted partition key — preserved so downstream stages keep
# the skew-balanced layout and per-partition metric lineage).
from silkworm_spark.schemas import FRONTIER_COLS

_CARRY = [*FRONTIER_COLS, "part"]


def with_fetch_url(batch: DataFrame, has_params: bool) -> DataFrame:
    """Add ``_fetch``: the effective request URL with query params
    merged at FETCH time, raw ``url`` untouched (the reference merges
    in http._build_url, http.py:396-406 — the seen set and ordering
    key stay on req.url).

    ``has_params`` says whether any row of ``batch`` may carry
    non-empty ``params`` (the dequeue counts them in its aggregate,
    ``DequeueResult.n_params``). Without such a row ``_fetch`` is a
    plain column alias and the round plans no Python stage at all: an
    empty UDF branch still starts a Python worker per task. With one,
    the batch is split so ``merge_params_udf`` sees only the rows that
    carry params."""
    if not has_params:
        return batch.withColumn("_fetch", F.col("url"))
    has_p = has_params_col()
    without = batch.filter(~has_p).withColumn("_fetch", F.col("url"))
    with_p = batch.filter(has_p).withColumn(
        "_fetch", merge_params_udf("url", "params")
    )
    return without.unionByName(with_p)


RESOLVED_COLS = [
    "url", "final_url", "status", "content_type", "body", "body_len",
    "redirect_times", "error", "attempts_until_ok",
]


def resolve_web(web: DataFrame, max_redirects: int = 10) -> DataFrame:
    """Precompute each URL's redirect resolution ONCE per crawl:
    (final_url, terminal status/body/content_type, redirect_times,
    error, attempts_until_ok of the terminal node).

    Equivalent to running the per-request redirect loop, because only
    terminal (non-3xx) nodes carry retryable statuses — so the
    retry-vs-attempts rule applies only at the end of a chain. Turns
    the per-round unroll (≤10 joins/round) into one upfront pass and
    one equi-join per round."""
    w = web.select(
        F.col("url").alias("w_url"), F.col("status").alias("w_status"),
        F.col("content_type").alias("w_ct"), F.col("redirect_to").alias("w_redir"),
        F.col("body").alias("w_body"), F.col("attempts_until_ok").alias("w_attempts"),
    )
    pending = web.select(
        F.col("url"),
        F.col("url").alias("cur_url"),
        F.array(F.col("url")).alias("visited"),
        F.lit(0).alias("redirect_times"),
    )
    finished: list[DataFrame] = []
    cached: list[DataFrame] = []
    for _step in range(max_redirects + 1):
        j = pending.join(w, pending.cur_url == w.w_url, "left")
        is_redirect = (
            F.col("w_status").isin(*REDIRECT_STATUSES) & F.col("w_redir").isNotNull()
        )
        loops = is_redirect & F.array_contains(F.col("visited"), F.col("w_redir"))
        over = F.lit(_step >= max_redirects)
        done = j.filter(~is_redirect | loops | over).select(
            "url",
            F.col("cur_url").alias("final_url"),
            F.col("w_status").alias("status"),
            F.col("w_ct").alias("content_type"),
            F.col("w_body").alias("body"),
            F.col("redirect_times"),
            F.when(F.col("w_url").isNull(), F.lit("fetch_error"))
            .when(loops, F.lit("redirect_loop"))
            .when(is_redirect & over, F.lit("too_many_redirects"))
            .otherwise(F.lit(None).cast("string"))
            .alias("error"),
            F.coalesce(F.col("w_attempts"), F.lit(0)).alias("attempts_until_ok"),
        )
        finished.append(done)
        pending = j.filter(is_redirect & ~loops & ~over).select(
            "url",
            F.col("w_redir").alias("cur_url"),
            F.array_append(F.col("visited"), F.col("w_redir")).alias("visited"),
            (F.col("redirect_times") + 1).alias("redirect_times"),
        ).cache()
        cached.append(pending)
        if pending.isEmpty():
            break
    out = finished[0]
    for d in finished[1:]:
        out = out.unionByName(d)
    # body_len precomputed so per-round metrics/retry plans never touch
    # the binary column — their scans column-prune the bodies away
    out = out.withColumn("body_len", F.length("body")).select(*RESOLVED_COLS)
    for c in cached:
        c.unpersist()
    return out


def offline_fetch_missing(batch: DataFrame, resolved: DataFrame) -> DataFrame:
    """Rows of the fetch-ready ``batch`` (``with_fetch_url``) with no
    resolved row (dead links) — the keys-only anti-join split out so
    one round can compute it ONCE and feed both the parse source and
    the body-free metadata twin (round 5 ran this 2.6M-key shuffle-hash
    anti-join twice per round, once inside each twin's plan). Returns
    the batch's columns; usually empty. The caller may cache it (the
    engine does, releasing after the round).
    """
    return batch.join(
        resolved.select(F.col("url").alias("r_url")).hint("SHUFFLE_HASH"),
        batch["_fetch"] == F.col("r_url"), "left_anti"
    )


def offline_fetch_resolved(
    batch: DataFrame,
    resolved: DataFrame,
    missing: DataFrame,
    n_batch: int | None = None,
    broadcast_max_rows: int = 2_000_000,
    include_body: bool = True,
) -> DataFrame:
    """Per-round fetch of the fetch-ready ``batch`` (``with_fetch_url``;
    the round builds it once and shares it with ``missing`` and both
    twins) against the precomputed resolution table: one equi-join,
    then the retryable-status rule
    (status=200 once retry_times >= attempts_until_ok). ``missing`` is
    ``offline_fetch_missing(batch, resolved)``, computed once per round.

    ``include_body=False`` builds the body-FREE metadata twin: the
    parquet scan column-prunes the binary away (``body_len`` stands in
    for length checks), so the metrics/retry plan re-joins at a tiny
    fraction of the parse join's bytes instead of forcing a 100s-of-MB
    in-memory cache of page bodies."""
    has_len = "body_len" in resolved.columns
    body_cols = [F.col("body"), F.col("content_type")] if include_body else []
    r = resolved.select(
        F.col("url").alias("r_url"), F.col("final_url"),
        F.col("status").alias("r_status"), *body_cols,
        *( [F.col("body_len")] if has_len
           else [F.length("body").alias("body_len")] ),
        F.col("redirect_times"), F.col("error").alias("r_error"),
        F.col("attempts_until_ok"),
    )
    # Matches: INNER join with the (small, body-free) batch broadcast —
    # the body-heavy resolved side streams in place, nothing megabyte-
    # sized ever shuffles or builds on the driver. An outer join can't
    # do this (only the non-preserved side may be broadcast), so the
    # missing-URL path (a dead link — never occurs in generated webs)
    # is a separate keys-only anti-join. The broadcast is size-GATED:
    # beyond broadcast_max_rows a multi-GB round batch would be shipped
    # to every executor, so it falls back to a shuffle-hash join.
    b = (
        F.broadcast(batch)
        if n_batch is None or n_batch <= broadcast_max_rows
        else batch.hint("SHUFFLE_HASH")
    )
    matched = r.join(b, batch["_fetch"] == r.r_url, "inner")
    eff_status = F.when(
        (F.col("attempts_until_ok") > 0)
        & (F.col("retry_times") >= F.col("attempts_until_ok"))
        & F.col("r_error").isNull(),
        F.lit(200),
    ).otherwise(F.col("r_status"))
    null_hdrs = F.lit(None).cast("map<string,string>").alias("resp_headers")
    out_body = ["content_type", "body"] if include_body else []
    miss_body = (
        [F.lit(None).cast("string").alias("content_type"),
         F.lit(None).cast("binary").alias("body")]
        if include_body else []
    )
    ok_rows = matched.select(
        *_CARRY,
        F.coalesce(F.col("final_url"), F.col("_fetch")).alias("final_url"),
        eff_status.alias("status"),
        *out_body, "body_len",
        F.coalesce(F.col("redirect_times"), F.lit(0)).alias("redirect_times"),
        F.col("r_error").alias("error"),
        null_hdrs,
    )
    missing_rows = missing.select(
        *_CARRY,
        F.col("_fetch").alias("final_url"),
        F.lit(None).cast("int").alias("status"),
        *miss_body,
        F.lit(None).cast("int").alias("body_len"),
        F.lit(0).alias("redirect_times"),
        F.lit("fetch_error").alias("error"),
        null_hdrs,
    )
    return ok_rows.unionByName(missing_rows)


# Browser header presets — the stdlib-reachable half of the reference's
# browser emulation (rnet `Emulation.Firefox139` default, http.py:26;
# the Rust client applies the browser's header set AND its TLS/HTTP2
# fingerprint). HONESTY NOTE: stdlib ssl cannot reproduce a browser TLS
# ClientHello (cipher ordering, extension set/order, GREASE, ALPN h2)
# or an HTTP/2 SETTINGS fingerprint — this path speaks HTTP/1.1 with
# Python's default TLS stack. Against fingerprint-gated hosts the two
# engines see different webs; what CAN be matched from stdlib is the
# header surface below (opt in via
# CrawlConfig(default_headers=BROWSER_HEADER_PRESETS["firefox139"])).
# Compressed responses the presets invite are decoded transparently
# (gzip/deflate, Content-Encoding — reference gets this from rnet).
BROWSER_HEADER_PRESETS: dict[str, dict[str, str]] = {
    "firefox139": {
        "User-Agent": ("Mozilla/5.0 (X11; Linux x86_64; rv:139.0) "
                       "Gecko/20100101 Firefox/139.0"),
        "Accept": ("text/html,application/xhtml+xml,application/xml;q=0.9,"
                   "*/*;q=0.8"),
        "Accept-Language": "en-US,en;q=0.5",
        "Accept-Encoding": "gzip, deflate",
        "Upgrade-Insecure-Requests": "1",
        "Sec-Fetch-Dest": "document",
        "Sec-Fetch-Mode": "navigate",
        "Sec-Fetch-Site": "none",
        "Sec-Fetch-User": "?1",
    },
    "chrome137": {
        "User-Agent": ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 "
                       "(KHTML, like Gecko) Chrome/137.0.0.0 Safari/537.36"),
        "Accept": ("text/html,application/xhtml+xml,application/xml;q=0.9,"
                   "image/avif,image/webp,image/apng,*/*;q=0.8,"
                   "application/signed-exchange;v=b3;q=0.7"),
        "Accept-Language": "en-US,en;q=0.9",
        "Accept-Encoding": "gzip, deflate",
        "Upgrade-Insecure-Requests": "1",
        "Sec-Fetch-Dest": "document",
        "Sec-Fetch-Mode": "navigate",
        "Sec-Fetch-Site": "none",
        "Sec-Fetch-User": "?1",
    },
}


# decompression output bound: without it a small hostile response (a
# few MB of gzip compressing gigabytes of repeats) would materialize
# its full expansion in the fetch worker before the engine's
# html_max_size cap ever sees the decoded body. 64 MiB is far above
# any real page and far above the 5 MB default cap, so a truncated-at-
# bound body still lands in the engine's oversize accounting and is
# dropped there with the normal bookkeeping.
_MAX_DECODE_BYTES = 64 * 1024 * 1024


def _env_proxy_applies(scheme: str, host: str) -> bool:
    """True when an environment proxy (http_proxy/https_proxy, minus
    no_proxy) covers ``scheme://host`` — such requests must ride
    urllib's ProxyHandler, not the raw keep-alive pool, or the mandated
    proxy would be silently bypassed (the pre-pool urlopen path honored
    getproxies(); the pool must keep honoring it)."""
    import urllib.request

    return scheme in urllib.request.getproxies() and not (
        urllib.request.proxy_bypass(host or "")
    )


def _decode_content(body: bytes, headers, max_out: int = _MAX_DECODE_BYTES) -> bytes:
    """Transparent Content-Encoding decode (gzip/deflate) — required
    once the browser presets advertise Accept-Encoding; the reference
    gets this from rnet. Output is bounded by ``max_out`` (incremental
    decompressobj, never a one-shot decompress of attacker-controlled
    size)."""
    enc = (headers.get("Content-Encoding") or "").strip().lower()
    if not body or enc in ("", "identity"):
        return body
    import zlib as _zlib

    def bounded(wbits: int) -> bytes:
        d = _zlib.decompressobj(wbits)
        out = d.decompress(body, max_out)
        # d.unconsumed_tail non-empty → bound hit; return the truncated
        # prefix (already > any html size cap → oversize-dropped later)
        return out

    try:
        if enc == "gzip":
            out = bounded(16 + _zlib.MAX_WBITS)
        elif enc == "deflate":
            try:
                out = bounded(_zlib.MAX_WBITS)
            except _zlib.error:  # raw-deflate servers omit the zlib wrapper
                out = bounded(-_zlib.MAX_WBITS)
        else:
            return body
    except Exception:
        return body  # undecodable → hand back the raw bytes with the header
    # successful decode: rewrite the headers so the stored headers
    # describe the stored body (a persisted Content-Encoding: gzip next
    # to a plaintext body would make any consumer re-decode garbage,
    # and the stale Content-Length would misreport its size)
    for k in ("Content-Encoding", "Content-Length"):
        try:
            del headers[k]
        except KeyError:
            pass
    headers["Content-Length"] = str(len(out))
    return out


def live_fetch(
    batch: DataFrame,
    timeout_s: float = 30.0,
    concurrency: int = 16,
    default_headers: dict[str, str] | None = None,
    max_redirects: int = 10,
    default_delay_s: float = 0.0,
    delay_col: str = "_delay_s",
) -> DataFrame:
    """Production fetch path: thread-pooled HTTP inside mapInPandas.

    Politeness pacing: rows are GROUPED BY HOST inside each Arrow
    batch; each host group runs serially on one pool thread with ≥
    max(row's ``delay_col``, ``default_delay_s``) seconds between
    request starts (the per-host timestamp persists across batches of
    the partition). Distinct hosts fetch concurrently up to
    ``concurrency`` — the distributed analog of the reference's
    DelayMiddleware sleeps (middlewares.py:164-263) under its
    semaphore-capped client (http.py:43,89). A hot host the scheduler
    salted across partitions is paced per-partition; the scheduler's
    politeness window already caps its total per-round slots, so the
    global rate stays budget-bounded.

    Redirects are driven MANUALLY (the opener's redirect handler is
    disabled) so count/cap/loop semantics match the offline path
    (``resolve_web``) exactly (reference http.py:80-152,427-464): follow
    301/302/303/307/308 ``Location``, count ``redirect_times``, detect
    loops via the visited set (error ``redirect_loop``), stop at
    ``max_redirects`` (error ``too_many_redirects``); 301/302/303
    switch non-GET/HEAD methods to GET and drop the body, 307/308
    preserve both. Each hop is paced like a first request. Non-2xx
    terminal statuses (404, 503, …) return as STATUS rows — body and
    headers included, error NULL — exactly like the offline path, so
    RetryMiddleware sees 5xx statuses (a plain urllib call would raise
    and misreport them as fetch errors).

    Carries the full reference request surface (http.py:67-152):
    method, merged query params (_build_url, http.py:396-406),
    default∪request headers (http.py:96), request body, per-request
    timeout override, per-request proxy from ``meta['proxy']``
    (http.py:68) falling back to the middleware ``proxy`` column, UA
    from the middleware ``ua`` column. Response headers come back
    normalized to a lowercase-key map (http.py:323-364). Tested
    against a loopback server (tests/test_live_fetch.py): pacing
    spacing, redirect chains/loops, status rows, wire headers.
    """
    carry = [f.name for f in batch.schema.fields
             if f.name in _CARRY or f.name in ("ua", "proxy")]
    have_delay = delay_col in batch.columns
    out_schema = ", ".join(
        [f"{c} {batch.schema[c].dataType.simpleString()}" for c in carry]
        + [f"{f.name} {f.dataType.simpleString()}" for f in FETCH_RESULT_SCHEMA.fields
           if f.name != "url"]
    )
    base_headers = dict(default_headers or {})

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import concurrent.futures as cf
        import http.client
        import threading
        import urllib.error
        import urllib.parse
        import urllib.request
        from time import monotonic, sleep

        from silkworm_spark.functions.urls import merge_params

        # host -> monotonic time of the last request START; persists
        # across Arrow batches of this partition (host groups never run
        # on two threads at once, so no lock is needed)
        last_start: dict[str, float] = {}

        # per-THREAD keep-alive connections, keyed (scheme, netloc):
        # a host group's serial requests reuse one TCP connection
        # (reference rnet pools keep-alive connections, http.py:43;
        # pacing already serializes per host, so reuse is safe).
        # Thread-local because a cross-host redirect may touch a netloc
        # another pool thread is fetching.
        tls = threading.local()

        class _NoRedirect(urllib.request.HTTPRedirectHandler):
            def redirect_request(self, *a, **k):  # 3xx falls through
                return None  # → HTTPError carrying code/headers/body

        def val(x):
            # pandas surfaces SQL NULLs as NaN/None depending on dtype
            if x is None or (isinstance(x, float) and x != x):
                return None
            return x

        def pace(host: str, delay: float) -> None:
            if delay > 0:
                wait = last_start.get(host, -1e18) + delay - monotonic()
                if wait > 0:
                    sleep(wait)
            last_start[host] = monotonic()

        def open_keepalive(url, method, headers, data, tmo):
            """One request over a pooled per-(scheme, netloc) HTTP/1.1
            connection, redirects NOT followed → (status, headers,
            body). ONLY a stale POOLED socket (server closed the idle
            keep-alive connection between requests) gets ONE transparent
            reconnect, and only for idempotent methods — retrying a
            request that went out on a FRESH connection would re-send
            work the server may have executed (the classic keep-alive
            retry hazard), and it would double the connect-timeout cost
            of every dead host; a failed non-idempotent request becomes
            an error row for RetryMiddleware's explicit policy instead."""
            sp = urllib.parse.urlsplit(url)
            key = (sp.scheme, sp.netloc)
            path = (sp.path or "/") + (f"?{sp.query}" if sp.query else "")
            conns = getattr(tls, "conns", None)
            if conns is None:
                conns = tls.conns = {}
            for attempt in (0, 1):
                conn = conns.get(key)
                pooled = conn is not None and conn.sock is not None
                if conn is None:
                    cls = (http.client.HTTPSConnection if sp.scheme == "https"
                           else http.client.HTTPConnection)
                    conn = conns[key] = cls(sp.hostname, sp.port, timeout=tmo)
                if conn.sock is not None:
                    conn.sock.settimeout(tmo)  # per-request override
                try:
                    conn.request(method, path, body=data, headers=headers)
                    resp = conn.getresponse()
                    body = resp.read()
                except (http.client.HTTPException, OSError) as exc:
                    conn.close()
                    conns.pop(key, None)
                    # a read timeout is a slow-but-alive host, not a
                    # stale socket: transparently re-sending would
                    # double the effective timeout AND re-issue a GET
                    # the server may still be processing
                    if attempt or not pooled or isinstance(
                        exc, TimeoutError
                    ) or method not in ("GET", "HEAD", "OPTIONS", "TRACE"):
                        raise
                    continue  # reconnect once on a stale pooled socket
                if resp.will_close:
                    conn.close()
                    conns.pop(key, None)
                return resp.status, resp.headers, _decode_content(body, resp.headers)

        def open_once(url, method, headers, data, proxy, tmo):
            """One request, redirects NOT followed → (status, headers,
            body). Direct requests ride the keep-alive pool UNLESS an
            environment proxy (http_proxy/https_proxy, minus no_proxy)
            applies to the URL — those requests must go through
            urllib's ProxyHandler like explicitly-proxied ones (the
            raw http.client pool would silently bypass a mandated
            proxy). Proxied requests use a fresh opener — proxy
            tunneling isn't pooled."""
            if not proxy:
                sp = urllib.parse.urlsplit(url)
                if not _env_proxy_applies(sp.scheme, sp.hostname or ""):
                    return open_keepalive(url, method, headers, data, tmo)
                handler = urllib.request.ProxyHandler()  # env-driven
            else:
                handler = urllib.request.ProxyHandler(
                    {"http": proxy, "https": proxy}
                )
            req = urllib.request.Request(
                url, data=data, headers=headers, method=method
            )
            opener = urllib.request.build_opener(_NoRedirect(), handler)
            try:
                with opener.open(req, timeout=tmo) as resp:
                    return resp.status, resp.headers, \
                        _decode_content(resp.read(), resp.headers)
            except urllib.error.HTTPError as e:
                # non-2xx is still a response (reference returns it to
                # the middleware chain, http.py:140-152)
                try:
                    body = e.read()
                except Exception:
                    body = b""
                finally:
                    e.close()
                return e.code, e.headers, _decode_content(body, e.headers)

        def fetch_one(row: dict) -> dict:
            row = dict(row)
            delay = max(float(val(row.pop(delay_col, None)) or 0.0), default_delay_s)
            try:
                headers = {str(k).lower(): str(v) for k, v in base_headers.items()}
                if val(row.get("ua")):
                    headers.setdefault("user-agent", row["ua"])
                headers.setdefault("user-agent", "silkworm-spark/0.1")
                for k, v in (val(row.get("headers")) or {}).items():
                    headers[str(k).lower()] = str(v)
                url = merge_params(row["url"], val(row.get("params")))
                proxy = (val(row.get("meta")) or {}).get("proxy") or val(row.get("proxy"))
                tmo = val(row.get("timeout")) or timeout_s
                method = val(row.get("method")) or "GET"
                data = val(row.get("data"))

                cur, visited, redirect_times = url, [url], 0
                for step in range(max_redirects + 1):
                    pace(urllib.parse.urlsplit(cur).netloc, delay)
                    status, hdrs, body = open_once(
                        cur, method, headers, data, proxy, tmo
                    )
                    loc = hdrs.get("Location")
                    resp_headers = {
                        str(k).strip().lower(): str(v).strip()
                        for k, v in hdrs.items()
                    }
                    if status not in REDIRECT_STATUSES or loc is None:
                        err = None
                    else:
                        nxt = urllib.parse.urljoin(cur, loc)
                        if nxt in visited:
                            err = "redirect_loop"  # http.py:128-129
                        elif step >= max_redirects:
                            err = "too_many_redirects"  # http.py:119-122
                        else:
                            visited.append(nxt)
                            cur = nxt
                            redirect_times += 1  # http.py:461-463
                            if status in (301, 302, 303) and method not in ("GET", "HEAD"):
                                method, data = "GET", None
                            continue
                    return dict(
                        row, final_url=cur, status=status,
                        content_type=resp_headers.get("content-type"),
                        body=body, redirect_times=redirect_times, error=err,
                        resp_headers=resp_headers,
                    )
            except Exception as exc:
                return dict(
                    row, final_url=None, status=None, content_type=None,
                    body=None, redirect_times=0, error=f"{type(exc).__name__}: {exc}",
                    resp_headers=None,
                )

        cols = carry + ([delay_col] if have_delay else [])
        for pdf in batches:
            rows = pdf[cols].to_dict("records")
            groups: dict = {}
            for r in rows:
                groups.setdefault(r.get("host"), []).append(r)
            with cf.ThreadPoolExecutor(
                max_workers=min(concurrency, max(1, len(groups)))
            ) as pool:
                outs = pool.map(lambda g: [fetch_one(r) for r in g], groups.values())
                yield pd.DataFrame([o for g in outs for o in g])

    return batch.mapInPandas(gen, schema=out_schema)
