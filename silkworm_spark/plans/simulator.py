"""Pure-Python reference simulator — the golden spec.

Reimplements the reference engine's exact semantics at concurrency=1
(engine.py:99-106,339-368: seeds in ``start_urls`` order, FIFO dequeue,
dedup-at-enqueue first-wins, children in callback-yield order, retries
with ``dont_filter=True`` re-enqueued at the tail, redirect loop inside
fetch per http.py:80-152), structured in the same budgeted rounds and
virtual clock as the Spark engine so politeness/retry timing lines up
row for row. No Spark anywhere — plain dicts and lists over the same
``gen_web_rows`` fixture. Shares the *scalar* helpers (decode, span
extraction, canonicalization) with the engine so both sides agree on
pure functions and the tests exercise the distributed plumbing.

Outputs: fetch order [(round, seq, url)], final seen set, documents
rows — the three reproduction invariants of SURVEY.md §3.4.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from urllib.parse import urlsplit

from silkworm_spark.functions.text import decode_body, is_html
from silkworm_spark.functions.urls import canonicalize_url, host_of
from silkworm_spark.operators.parse import extract_spans
from silkworm_spark.operators.retry import RETRY_HTTP_CODES

_INF = (1 << 31) - 1
REDIRECTS = {301, 302, 303, 307, 308}


@dataclass
class SimConfig:
    max_rounds: int = 50
    round_budget: int = 1_000_000
    per_host_cap: int = _INF
    round_seconds: float = 1.0
    max_retries: int = 3
    backoff_base: float = 0.5
    max_redirects: int = 10
    max_depth: int | None = None
    html_max_bytes: int = 5_000_000


@dataclass
class SimResult:
    fetch_order: list = field(default_factory=list)  # (round, seq, url)
    seen: set = field(default_factory=set)
    documents: list = field(default_factory=list)  # dicts incl. spans
    robots_denied: int = 0
    errors: int = 0
    rounds: int = 0


def _fetch(web: dict, url: str, retry_times: int, max_redirects: int):
    """Mirror of the offline fetch for one row: the redirect chain
    operators/fetch.resolve_web resolves, then the retryable-status
    rule of operators/fetch.offline_fetch_resolved."""
    cur, visited, redirects = url, {url}, 0
    for step in range(max_redirects + 1):
        page = web.get(cur)
        if page is None:
            return dict(final_url=cur, status=None, content_type=None, body=None,
                        redirect_times=redirects, error="fetch_error")
        status = page["status"]
        if page["attempts_until_ok"] > 0 and retry_times >= page["attempts_until_ok"]:
            status = 200
        if status in REDIRECTS and page["redirect_to"]:
            target = page["redirect_to"]
            if target in visited:
                return dict(final_url=cur, status=status, content_type=page["content_type"],
                            body=page["body"], redirect_times=redirects, error="redirect_loop")
            if step >= max_redirects:
                return dict(final_url=cur, status=status, content_type=page["content_type"],
                            body=page["body"], redirect_times=redirects,
                            error="too_many_redirects")
            visited.add(target)
            cur = target
            redirects += 1
            continue
        return dict(final_url=cur, status=status, content_type=page["content_type"],
                    body=page["body"], redirect_times=redirects, error=None)
    raise AssertionError("unreachable")


def simulate(
    web_rows: list[dict],
    seed_rows: list[dict],
    robots_rows: list[dict] | None = None,
    cfg: SimConfig | None = None,
) -> SimResult:
    cfg = cfg or SimConfig()
    web = {r["url"]: r for r in web_rows}
    robots = {r["host"]: r for r in (robots_rows or [])}
    res = SimResult()

    frontier: list[dict] = []
    seq_next = 0
    # seeding (engine.py:79-86): first occurrence wins
    for s in seed_rows:
        url = canonicalize_url(s["url"])
        if url in res.seen:
            continue
        res.seen.add(url)
        frontier.append(dict(
            url=url, host=host_of(url), depth=0, parent_seq=-1,
            child_index=int(s["seq"]), seq=seq_next,
            callback=s.get("callback") or "parse",
            priority=int(s["priority"]), dont_filter=False, retry_times=0,
            not_before=0.0,
        ))
        seq_next += 1

    host_state: dict[str, dict] = {}
    vtime = 0.0
    round_no = 0

    while res.rounds < cfg.max_rounds and frontier:
        window_end = vtime + cfg.round_seconds
        eligible = [r for r in frontier if r["not_before"] <= vtime]

        denied, allowed = [], []
        for r in eligible:
            rb = robots.get(r["host"])
            path = urlsplit(r["url"]).path or "/"
            if rb and rb.get("disallow_prefixes") and any(
                path.startswith(p) for p in rb["disallow_prefixes"]
            ):
                denied.append(r)
            else:
                allowed.append(r)
        res.robots_denied += len(denied)

        # per-host politeness/budget caps, then rank by (priority desc, seq)
        by_host: dict[str, list[dict]] = {}
        for r in allowed:
            by_host.setdefault(r["host"], []).append(r)
        selected: list[dict] = []
        for host, rows in by_host.items():
            rb = robots.get(host, {})
            delay_s = (rb.get("crawl_delay_ms") or 0) / 1000.0
            budget = rb.get("fetch_budget")
            st = host_state.setdefault(host, dict(fetched=0, next_free=vtime))
            next_free = max(st["next_free"], vtime)
            # ceil, not floor: a host with delay > round window still gets
            # one slot per window once next_free < window_end (see
            # operators/scheduler.py cap_polite)
            cap_polite = _INF if delay_s <= 0 else max(0, math.ceil((window_end - next_free) / delay_s))
            cap_budget = _INF if budget is None else max(0, budget - st["fetched"])
            cap = min(cap_polite, cap_budget, cfg.per_host_cap)
            rows.sort(key=lambda r: (-r["priority"], r["seq"]))
            selected.extend(rows[:cap])
        selected.sort(key=lambda r: r["seq"])
        selected = selected[: cfg.round_budget]

        if not selected and not denied:
            nb = [r["not_before"] for r in frontier if r["not_before"] > vtime]
            nf = [
                host_state[r["host"]]["next_free"]
                for r in frontier
                if r["host"] in host_state and host_state[r["host"]]["next_free"] > vtime
            ]
            cands = nb + nf
            if not cands:
                break
            vtime = min(cands)
            continue

        round_no += 1
        taken_ids = {id(r) for r in selected} | {id(r) for r in denied}
        frontier = [r for r in frontier if id(r) not in taken_ids]
        for host, rows in by_host.items():
            n_taken = sum(1 for r in selected if r["host"] == host)
            if n_taken:
                st = host_state[host]
                rb = robots.get(host, {})
                delay_s = (rb.get("crawl_delay_ms") or 0) / 1000.0
                st["fetched"] += n_taken
                st["next_free"] = max(st["next_free"], vtime) + n_taken * delay_s

        candidates: list[dict] = []  # (parent_seq, child_index) ordered later
        for r in selected:
            res.fetch_order.append((round_no, r["seq"], r["url"]))
            f = _fetch(web, r["url"], r["retry_times"], cfg.max_redirects)
            if f["error"] is not None or f["status"] is None:
                res.errors += 1
                continue
            status = f["status"]
            if status in RETRY_HTTP_CODES:
                if r["retry_times"] < cfg.max_retries:
                    n = r["retry_times"] + 1
                    candidates.append(dict(
                        url=r["url"], host=r["host"], depth=r["depth"],
                        parent_seq=r["seq"], child_index=0, callback=r["callback"],
                        priority=r["priority"], dont_filter=True, retry_times=n,
                        not_before=vtime + cfg.backoff_base * 2 ** (n - 1),
                    ))
                continue
            if r["callback"] == "noop":
                continue
            if len(f["body"] or b"") > cfg.html_max_bytes:
                continue
            if r["callback"] == "parse_sitemap":
                from silkworm_spark.operators.parse import parse_sitemap

                row = dict(url=r["url"], final_url=f["final_url"], status=status,
                           content_type=f["content_type"], body=f["body"],
                           callback="parse_sitemap")
                for o in parse_sitemap(row):
                    child = canonicalize_url(o["child_url"])
                    candidates.append(dict(
                        url=child, host=host_of(child), depth=r["depth"] + 1,
                        parent_seq=r["seq"], child_index=o["child_index"] + 1,
                        callback=o.get("callback") or "parse", priority=0,
                        dont_filter=False, retry_times=0, not_before=0.0,
                    ))
                continue
            if status == 200 and is_html(f["body"], f["content_type"]):
                text, _ = decode_body(f["body"], f["content_type"])
                spans = extract_spans(text, f["final_url"])
                res.documents.append(dict(
                    doc_id=canonicalize_url(f["final_url"]), spans=spans,
                    status=status, depth=r["depth"], seq=r["seq"], round=round_no,
                ))
                k = 0
                for s in spans:
                    if s["kind"] == "link" and s["media_ref"]:
                        child = canonicalize_url(s["media_ref"])
                        if cfg.max_depth is not None and r["depth"] + 1 > cfg.max_depth:
                            k += 1
                            continue
                        candidates.append(dict(
                            url=child, host=host_of(child), depth=r["depth"] + 1,
                            parent_seq=r["seq"], child_index=k + 1,
                            callback=r["callback"], priority=0, dont_filter=False,
                            retry_times=0, not_before=0.0,
                        ))
                        k += 1

        # enqueue in FIFO order with dedup-at-enqueue (engine.py:99-106)
        candidates.sort(key=lambda c: (c["parent_seq"], c["child_index"]))
        for c in candidates:
            if not c["dont_filter"]:
                if c["url"] in res.seen:
                    continue
                res.seen.add(c["url"])
            c["seq"] = seq_next
            seq_next += 1
            frontier.append(c)

        vtime += cfg.round_seconds
        res.rounds += 1

    return res
