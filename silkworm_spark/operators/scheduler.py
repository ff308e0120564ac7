"""Frontier dequeue: per-host politeness priority queue.

Replaces the reference's bounded FIFO ``asyncio.Queue``
(engine.py:52-59) with a budgeted per-round dequeue:

- eligibility: ``not_before <= vtime`` (virtual-clock politeness and
  retry backoff — the deterministic analog of DelayMiddleware sleeps,
  middlewares.py:164-263, strengthened from global-per-worker to
  per-host per the north rule);
- robots: broadcast join on host; disallowed path prefixes dropped and
  counted; per-host ``fetch_budget`` enforced against cumulative host
  state (north-rule addition, no reference equivalent);
- per-host rank: ``row_number() over (partition by host order by
  priority desc, seq)`` — activates the reference's reserved
  ``priority`` field (request.py:25, docs/core-concepts.md:37) while
  keeping FIFO (``seq``) within a priority class;
- global round budget: the k-th smallest selected seq is found with a
  narrow single-column TakeOrdered and applied as a distributed filter
  (never a driver-side merge of full rows);
- hot-host skew: the dequeued batch carries a salted partition key so
  one hot domain (30% of the fixture) spreads over multiple tasks —
  AQE cannot rebalance UDF fan-out by value, so salting is explicit.

Driver-job discipline: the whole dequeue is ONE cached plan (`scored`)
plus ONE aggregation job that yields every scalar the round needs
(denied count, selected count, seq bounds, next floor hint). Round 1
ran 3-4 separate jobs here; at fixed ~0.3-0.7 s/job launch that fixed
cost was the top N→4N scaling killer (VERDICT r1).

Seq-horizon pruning (the O(frontier)→O(budget) fix): when every row
carries the same priority (the engine tracks this — children and
retries always inherit, so seeds decide), selection is provably
"lowest seqs first, subject to host caps": any selected row has a
smaller seq than every unselected row of its host, and the global
budget keeps the smallest seqs overall. Hence ranking only rows with
``seq < H`` is EXACT as long as it yields a full budget; if it does
not, H doubles until it covers ``seq_next`` (total coverage). Because
each checkpoint round writes one frontier-delta file with a disjoint
seq range, ``seq < H`` prunes whole files via parquet min/max stats —
the window shuffle becomes O(budget), not O(frontier). Robots denial
is still evaluated over the FULL eligible set (map-only broadcast
join, no shuffle) so denial timing matches the golden simulator
exactly.

MIXED priorities (``mixed_priority=True``) stay horizon-prunable too,
because priority can only influence selection through a FINITE host
cap: a host with no politeness rule has cap=∞, so every one of its
eligible rows is selected and the global cut is by seq alone — for
such rows ``seq < H`` pruning is exact exactly as in the uniform
case. Rows of RULED hosts (matched by the broadcast robots join) are
exempted from the horizon — ``_has_rule OR seq < H`` — so a capped
host's per-(priority desc, seq) ranking always sees all its rows.
The window shuffle is O(budget + ruled-host frontier rows); politeness
rule sets are config-scale (broadcast), so ruled rows are the small
minority of a web-scale frontier. Exactness audit: after the budget
cut, if any horizon pruning happened and the batch's kth seq reached
H (possible only via exempt ruled rows with seq ≥ H), the horizon
widens and the round re-runs — pruned unruled rows with seq < kth
would otherwise have displaced batch rows. The engine's remaining
full-window fallback is the one case where a FINITE cap applies to
every host without a rule table entry: a global ``per_host_cap``
config under non-uniform priority.

The virtual clock makes politeness exactly reproducible in tests; in a
wall-clock deployment ``vtime`` is seconds-since-epoch and nothing else
changes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from silkworm_spark.functions.urls import has_params_col

_INF = (1 << 31) - 1


@dataclass
class DequeueResult:
    batch: DataFrame  # selected rows, fetch-ready (salted partition col `part`)
    denied: DataFrame  # robots-disallowed rows (removed from frontier)
    new_host_state: DataFrame  # host, fetched, next_free after this round
    host_counts: DataFrame  # host, taken (for metrics)
    n_batch: int = 0
    n_denied: int = 0
    seq_bounds: tuple | None = None  # (min seq, max seq) of the batch
    floor_next: int = 0  # lower bound on the smallest live seq after this round
    # batch rows with non-empty params: 0 lets the fetch keep
    # `_fetch = url` on the JVM (fetch.with_fetch_url)
    n_params: int = 0
    _scored: DataFrame | None = None  # internal cache handle (unpersist after round)

    def release(self) -> None:
        if self._scored is not None:
            self._scored.unpersist()


def _params_flag(df: DataFrame):
    """1 for a row with non-empty ``params``, else 0 — summed by the
    dequeue's own aggregate into ``n_params``."""
    if "params" not in df.columns:
        return F.lit(0)
    return has_params_col().cast("int")


def _budget_cut(sel: DataFrame, round_budget: int) -> tuple[int, int]:
    """(k-th smallest selected seq, params rows among those k): one
    narrow TakeOrdered job over the selection."""
    r = (
        sel.select("seq", _params_flag(sel).alias("_p")).orderBy("seq")
        .limit(round_budget)
        .agg(F.max("seq").alias("kth"), F.sum("_p").alias("np"))
        .first()
    )
    return int(r["kth"]), int(r["np"] or 0)


def _dequeue_fifo(
    eligible: DataFrame,
    host_state: DataFrame,
    keep_cols: list,
    vtime: float,
    round_budget: int,
    horizon: tuple[int, int, int] | None,
) -> DequeueResult:
    """Politeness-free FIFO dequeue: budget-th smallest eligible seq in
    one narrow job, batch as a lazy filter (no cache, no window). Exact
    equivalence with the general path is asserted by
    tests/test_operators_unit.py::test_dequeue_fifo_fast_path_equals_general."""
    spark = eligible.sparkSession
    floor, seq_next, factor = horizon if horizon else (0, None, 0)
    h_cap: int | None = None
    if horizon is not None:
        h_cap = floor + factor * max(1, round_budget)
        if h_cap >= seq_next:
            h_cap = None

    while True:
        e = eligible.filter(F.col("seq") < F.lit(h_cap)) if h_cap is not None else eligible
        st = (
            e.select("seq", _params_flag(e).alias("_p")).orderBy("seq").limit(round_budget)
            .agg(F.count("*").alias("n"), F.min("seq").alias("mn"), F.max("seq").alias("mx"),
                 F.sum("_p").alias("np"))
            .first()
        )
        n_batch = int(st["n"] or 0)
        if h_cap is None or n_batch >= round_budget:
            break
        h_cap = floor + (h_cap - floor) * 2  # horizon under-filled: widen
        if h_cap >= seq_next:
            h_cap = None

    kth = st["mx"]
    batch = e.filter(F.col("seq") <= F.lit(kth)) if n_batch else e.filter(F.lit(False))
    # no host-locality requirement without politeness: salt uniformly
    batch = batch.withColumn(
        "part", F.pmod(F.xxhash64("url"), F.lit(1024)).cast("int")
    )
    # floor for the next round's horizon: everything ≤ kth is consumed
    if n_batch and (h_cap is None or n_batch >= round_budget):
        floor_next = int(kth) + 1
    elif h_cap is not None:
        floor_next = int(h_cap)
    else:
        floor_next = int(floor)

    taken = batch.groupBy("host").agg(F.count("*").alias("taken"))
    prev = host_state.select("host", "fetched", "next_free")
    new_host_state = prev.join(taken, on="host", how="full").select(
        "host",
        (F.coalesce(F.col("fetched"), F.lit(0))
         + F.coalesce(F.col("taken"), F.lit(0))).alias("fetched"),
        F.coalesce(F.col("next_free"), F.lit(float(vtime))).alias("next_free"),
    )
    empty = batch.filter(F.lit(False)).select(*keep_cols)
    return DequeueResult(
        batch=batch.select(*keep_cols, "part"),
        denied=empty,
        new_host_state=new_host_state,
        host_counts=taken,
        n_batch=n_batch,
        n_denied=0,
        seq_bounds=(int(st["mn"]), int(kth)) if n_batch else None,
        floor_next=floor_next,
        n_params=int(st["np"] or 0),
        _scored=None,
    )


def dequeue_round(
    frontier: DataFrame,
    robots: DataFrame,
    host_state: DataFrame,
    vtime: float,
    round_seconds: float = 1.0,
    round_budget: int = 1_000_000,
    per_host_cap: int = _INF,
    num_partitions: int | None = None,
    target_rows_per_partition: int = 1000,
    horizon: tuple[int, int, int] | None = None,
    no_politeness: bool = False,
    mixed_priority: bool = False,
) -> DequeueResult:
    """``horizon`` = (seq_floor, seq_next, factor) enables seq-horizon
    pruning (see module docstring). With ``mixed_priority`` the pruning
    exempts ruled hosts (their finite caps make priority matter) and
    audits the budget cut against the horizon — exact for any priority
    mix as long as every finite cap comes from the broadcast robots
    table; pass horizon=None only when a global ``per_host_cap`` caps
    rule-less hosts under non-uniform priority.

    ``no_politeness`` (caller guarantees: robots table EMPTY and no
    per-host cap — ANY priority mix is fine) switches to the provably-
    equivalent FIFO fast path: with no delays, budgets, or disallows,
    every per-host cap is infinite, so every eligible row is selected
    and the global budget cut by seq reduces the whole dequeue to "the
    round_budget smallest eligible seqs" — priority never influences
    the outcome (it only reorders WITHIN a host's cap, and the cap is
    infinite). ONE TakeOrdered job instead of the window + agg + kth
    chain (at 16 cores that chain is ~1.5-2 s of pure fixed cost per
    round; a real scheduler with zero politeness rules loaded would do
    exactly this)."""
    window_end = vtime + round_seconds

    eligible = frontier.filter(F.col("not_before") <= F.lit(vtime))
    keep_cols = frontier.columns

    if no_politeness:
        return _dequeue_fifo(
            eligible, host_state, keep_cols, vtime, round_budget, horizon
        )

    rb = F.broadcast(
        robots.select(
            "host",
            F.col("disallow_prefixes").alias("_disallow"),
            (F.coalesce(F.col("crawl_delay_ms"), F.lit(0)) / 1000.0).alias("_delay_s"),
            F.coalesce(F.col("fetch_budget"), F.lit(_INF)).alias("_budget"),
            F.lit(True).alias("_has_rule"),
        )
    )
    hs = F.broadcast(
        host_state.select(
            "host", F.col("fetched").alias("_fetched"), F.col("next_free").alias("_next_free")
        )
    )

    def build(h_cap: int | None) -> DataFrame:
        e = eligible.join(rb, on="host", how="left").withColumns(
            {
                "_delay_s": F.coalesce(F.col("_delay_s"), F.lit(0.0)),
                "_budget": F.coalesce(F.col("_budget"), F.lit(_INF)),
                "_path": F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/")),
            }
        )
        is_denied = F.when(
            F.col("_disallow").isNotNull(),
            F.exists("_disallow", lambda p: F.col("_path").startswith(p)),
        ).otherwise(F.lit(False))
        e = e.withColumn("_denied", is_denied)
        out_cols = [*keep_cols, "_denied", "_delay_s", "_sel", "_host_rows"]

        denied_b = e.filter(F.col("_denied")).select(
            *keep_cols, "_denied", "_delay_s",
            F.lit(False).alias("_sel"), F.lit(None).cast("long").alias("_host_rows"),
        )

        a = e.filter(~F.col("_denied"))
        if h_cap is not None:
            in_horizon = F.col("seq") < F.lit(h_cap)
            if mixed_priority:
                # ruled hosts have finite caps, so their (priority desc,
                # seq) ranking must see every row — exempt them
                in_horizon = F.coalesce(F.col("_has_rule"), F.lit(False)) | in_horizon
            a = a.filter(in_horizon)
        a = a.join(hs, on="host", how="left").withColumns(
            {
                "_fetched": F.coalesce(F.col("_fetched"), F.lit(0)),
                "_next_free": F.greatest(
                    F.coalesce(F.col("_next_free"), F.lit(float(vtime))), F.lit(float(vtime))
                ),
            }
        )
        # slots at next_free + m*delay while < window_end → ceil; ceil
        # (not floor) so a host with delay > the round window still
        # gets ≥1 slot once next_free < window_end (never starves)
        cap_polite = F.when(F.col("_delay_s") <= 0, F.lit(_INF)).otherwise(
            F.ceil((F.lit(window_end) - F.col("_next_free")) / F.col("_delay_s")).cast("int")
        )
        cap = F.greatest(
            F.least(cap_polite, (F.col("_budget") - F.col("_fetched")).cast("int"),
                    F.lit(per_host_cap)),
            F.lit(0),
        )
        w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("seq"))
        ranked = (
            a.withColumn("_rank", F.row_number().over(w))
            # per-host row count rides the same exchange (salting input)
            .withColumn("_host_rows", F.count("*").over(Window.partitionBy("host")))
            .withColumn("_sel", F.col("_rank") <= cap)
        )
        return ranked.select(*out_cols).unionByName(denied_b.select(*out_cols))

    floor, seq_next, factor = horizon if horizon else (0, None, 0)
    h_cap: int | None = None
    if horizon is not None:
        h_cap = floor + factor * max(1, round_budget)
        if h_cap >= seq_next:
            h_cap = None  # horizon already covers everything

    cut: tuple[int, int] | None = None  # (kth, n_params) of the budget cut
    while True:
        scored = build(h_cap).cache()
        st = scored.agg(
            F.sum(F.col("_denied").cast("long")).alias("nd"),
            F.sum(F.col("_sel").cast("long")).alias("ns"),
            F.min(F.when(F.col("_sel"), F.col("seq"))).alias("mn"),
            F.max(F.when(F.col("_sel"), F.col("seq"))).alias("mx"),
            F.min(F.when(~F.col("_denied") & ~F.col("_sel"), F.col("seq"))).alias("floor_cand"),
            # exact unless the budget cut below drops selected rows
            F.sum(F.when(F.col("_sel"), _params_flag(scored))).alias("np"),
        ).first()
        n_denied = int(st["nd"] or 0)
        n_sel = int(st["ns"] or 0)
        if h_cap is None:
            break
        if n_sel < round_budget:
            # horizon too small to fill the budget — double and retry
            # (each iteration is one cheap pruned-window job;
            # terminates at seq_next)
            scored.unpersist()
            h_cap = floor + (h_cap - floor) * 2
            if h_cap >= seq_next:
                h_cap = None
            continue
        if not mixed_priority:
            break  # every selected row has seq < H ⇒ the cut stays < H
        # mixed-priority audit: exempt ruled rows may carry seq ≥ H into
        # the selection; if the budget cut reaches H, unruled rows just
        # past the horizon would have displaced batch rows — widen
        if n_sel > round_budget:
            cut = _budget_cut(scored.filter(F.col("_sel")), round_budget)
        if (cut[0] if cut else int(st["mx"])) < h_cap:
            break
        cut = None
        scored.unpersist()
        h_cap = floor + (h_cap - floor) * 2
        if h_cap >= seq_next:
            h_cap = None

    seq_min, seq_max, floor_cand = st["mn"], st["mx"], st["floor_cand"]
    n_batch, n_params = n_sel, int(st["np"] or 0)
    batch = scored.filter(F.col("_sel"))
    if n_sel > round_budget:
        kth, n_params = cut or _budget_cut(batch, round_budget)
        batch = batch.filter(F.col("seq") <= kth)
        n_batch, seq_max = round_budget, kth
        floor_cand = min(x for x in (floor_cand, kth + 1) if x is not None)

    # next round's horizon floor: smallest possibly-live seq. Unselected
    # eligible rows bound it; if none remain, everything below the
    # horizon (or the batch max) is consumed.
    if floor_cand is not None:
        floor_next = int(floor_cand)
    elif h_cap is not None:
        floor_next = int(h_cap)
    else:
        floor_next = int(seq_max) + 1 if seq_max is not None else int(floor)

    # salted partition key: hot hosts fan out over ceil(rows/target)
    # salts. `part` is a logical key in a fixed 1024 space — the engine
    # repartitions on it with a width adapted to the batch size.
    key_space = 1024
    batch = (
        batch.withColumn(
            "_salts",
            F.greatest(
                F.ceil(F.col("_host_rows") / F.lit(target_rows_per_partition)), F.lit(1)
            ),
        )
        .withColumn(
            "part",
            F.pmod(
                F.xxhash64("host") + F.pmod(F.xxhash64("url"), F.col("_salts")),
                F.lit(key_space),
            ).cast("int"),
        )
    )

    taken = batch.groupBy("host").agg(
        F.count("*").alias("taken"), F.first("_delay_s").alias("_delay_s")
    )
    prev = host_state.select("host", "fetched", "next_free")
    new_host_state = (
        prev.join(taken, on="host", how="full")
        .select(
            "host",
            (F.coalesce(F.col("fetched"), F.lit(0)) + F.coalesce(F.col("taken"), F.lit(0))).alias("fetched"),
            F.when(
                F.col("taken").isNotNull(),
                F.greatest(F.coalesce(F.col("next_free"), F.lit(float(vtime))), F.lit(float(vtime)))
                + F.col("taken") * F.coalesce(F.col("_delay_s"), F.lit(0.0)),
            )
            .otherwise(F.coalesce(F.col("next_free"), F.lit(float(vtime))))
            .alias("next_free"),
        )
    )

    return DequeueResult(
        batch=batch.select(*keep_cols, "part"),
        denied=scored.filter(F.col("_denied")).select(*keep_cols),
        new_host_state=new_host_state,
        host_counts=taken.select("host", "taken"),
        n_batch=n_batch,
        n_denied=n_denied,
        seq_bounds=(int(seq_min), int(seq_max)) if n_batch else None,
        floor_next=floor_next,
        n_params=n_params,
        _scored=scored,
    )
