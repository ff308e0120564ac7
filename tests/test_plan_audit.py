"""Physical-plan audits: the scale properties the engine claims must
be visible in the plans Catalyst actually produces.

- The FIFO fast-path dequeue's seq-horizon filter must reach the
  frontier parquet scan as a PUSHED filter (file/row-group pruning via
  min/max stats — the O(budget) dequeue property).
- The body-free metadata twin of the offline fetch must COLUMN-PRUNE
  the page-body binary out of its resolved-table scan (bodies stream
  through the parse join exactly once per round).
- The uniform-priority politeness path must push the horizon below the
  robots broadcast join onto the frontier scan.
- A round whose batch carries no params keeps the fetch URL on the
  JVM: none of its fetch sources plans a Python stage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def frontier_parquet(spark, tmp_path_factory):
    from silkworm_spark.schemas import FRONTIER_SCHEMA

    path = str(tmp_path_factory.mktemp("fr") / "frontier")
    rows = []
    for seq in range(2000):
        rows.append((
            f"http://h{seq % 7}.test/p{seq}", seq, f"h{seq % 7}.test", 0,
            -1, seq, seq, "parse", 0, False, 0, 0.0, 0,
            None, None, None, None, None, None,
        ))
    df = spark.createDataFrame(rows, FRONTIER_SCHEMA)
    # disjoint seq ranges per file — the checkpoint's delta layout
    df.repartitionByRange(8, "seq").write.parquet(path)
    return spark.read.schema(FRONTIER_SCHEMA).parquet(path)


def test_fifo_dequeue_pushes_seq_horizon(spark, frontier_parquet):
    from silkworm_spark.operators.scheduler import dequeue_round
    from silkworm_spark.plans.checkpoint import _empty_df
    from silkworm_spark.schemas import HOST_STATE_SCHEMA, ROBOTS_SCHEMA

    dq = dequeue_round(
        frontier_parquet, _empty_df(spark, ROBOTS_SCHEMA),
        _empty_df(spark, HOST_STATE_SCHEMA), vtime=0.0,
        round_budget=100, horizon=(0, 2000, 4), no_politeness=True,
    )
    try:
        plan = _plan(dq.batch)
        assert "PushedFilters" in plan
        # the horizon (seq < 400) and the kth cut both reach the scan
        assert "LessThan(seq" in plan or "LessThanOrEqual(seq" in plan, plan
        assert dq.n_batch == 100
    finally:
        dq.release()


def test_politeness_dequeue_pushes_horizon_below_robots_join(spark, frontier_parquet):
    from silkworm_spark.operators.scheduler import dequeue_round
    from silkworm_spark.plans.checkpoint import _empty_df
    from silkworm_spark.schemas import HOST_STATE_SCHEMA, ROBOTS_SCHEMA

    robots = spark.createDataFrame(
        [("h0.test", [], 500, None)], ROBOTS_SCHEMA
    )
    dq = dequeue_round(
        frontier_parquet, robots, _empty_df(spark, HOST_STATE_SCHEMA),
        vtime=0.0, round_budget=100, horizon=(0, 2000, 4),
    )
    try:
        plan = _plan(dq.batch)
        # the uniform-priority horizon is frontier-side only, so
        # Catalyst pushes it below the broadcast join into the scan
        assert "LessThan(seq" in plan, plan
        assert dq.n_batch == 100
    finally:
        dq.release()


DOCS_SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{DOCS_SF}/documents.parquet")


def test_contamination_broadcasts_benchmark_side(spark, documents):
    """The eval-set gram probe must be a broadcast hash join — the
    corpus gram stream is never shuffled for the membership test."""
    from silkworm_spark.operators.decontam import ngram_contamination

    df = ngram_contamination(
        documents.filter(F.col("doc_id") % 50 != 0),
        documents.filter(F.col("doc_id") % 50 == 0),
        n=4,
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_repetition_stats_aggregates_map_side(spark, documents):
    """Repetition signals are per-doc hash aggs: partial (map-side)
    combine must appear, and nothing may cross-join documents."""
    from silkworm_spark.operators.textstats import repetition_stats

    plan = _plan(repetition_stats(documents))
    assert "partial_count" in plan or "partial_max" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_scan_is_shuffle_free(spark, documents):
    """PII scan/redaction are pure projections — zero exchanges in
    the plan, so they run at scan speed at any corpus size."""
    from silkworm_spark.operators.pii import pii_scan, redact_pii

    assert "Exchange" not in _plan(pii_scan(documents))
    assert "Exchange" not in _plan(redact_pii(documents))


def test_substring_dup_keyed_joins_only(spark, documents):
    from silkworm_spark.operators.dedup_corpus import substring_dup_stats

    plan = _plan(substring_dup_stats(documents, n=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


_PY_EVAL = ("ArrowEvalPython", "BatchEvalPython")


def _resolved_and_batch(spark, tmp_path, params_every: int = 0):
    """A resolved web table and a 50-row fetch batch in frontier
    layout; every ``params_every``-th row carries query params."""
    from silkworm_spark.operators.fetch import resolve_web
    from silkworm_spark.schemas import FRONTIER_SCHEMA
    from silkworm_spark.sources.webgen import build_web_df

    web = build_web_df(spark, 200, 5)
    rpath = str(tmp_path / "resolved")
    resolve_web(web).write.parquet(rpath)
    resolved = spark.read.parquet(rpath)

    params = F.lit(None).cast("map<string,string>")
    if params_every:
        params = F.when(
            F.xxhash64("url") % params_every == 0,
            F.create_map(F.lit("q"), F.lit("1")),
        ).otherwise(params)
    defaults = dict(
        url_hash=F.xxhash64("url"), host=F.lit("h.test"), depth=F.lit(0),
        parent_seq=F.lit(-1).cast("long"), child_index=F.lit(0),
        seq=F.lit(0).cast("long"), callback=F.lit("parse"),
        priority=F.lit(0), dont_filter=F.lit(False), retry_times=F.lit(0),
        not_before=F.lit(0.0), round_added=F.lit(0), params=params,
    )
    batch = web.orderBy("url").limit(50).select(
        F.col("url"),
        *[
            defaults.get(f.name, F.lit(None).cast(f.dataType)).alias(f.name)
            for f in FRONTIER_SCHEMA.fields if f.name != "url"
        ],
        F.lit(0).alias("part"),
    )
    return resolved, batch


def _round_fetch_sources(batch, resolved, has_params):
    """The offline round's three fetch sources over ONE fetch-ready
    batch, as the engine builds them."""
    from silkworm_spark.operators.fetch import (
        offline_fetch_missing,
        offline_fetch_resolved,
        with_fetch_url,
    )

    fb = with_fetch_url(batch, has_params)
    missing = offline_fetch_missing(fb, resolved)
    return fb, {
        "missing": missing,
        "parse": offline_fetch_resolved(fb, resolved, n_batch=50, missing=missing),
        "meta": offline_fetch_resolved(
            fb, resolved, n_batch=50, include_body=False, missing=missing
        ),
    }


def test_metadata_twin_prunes_body_column(spark, tmp_path):
    resolved, batch = _resolved_and_batch(spark, tmp_path)
    _fb, sources = _round_fetch_sources(batch, resolved, has_params=False)
    plan = _plan(sources["meta"])
    # every scan of the resolved table must read a schema WITHOUT the
    # body binary — the metrics/retry twin never touches page bodies
    for line in plan.splitlines():
        if "ReadSchema" in line and "resolved" not in line:
            assert "body:binary" not in line, line
    assert "body_len" in plan


def test_params_free_fetch_sources_plan_no_python(spark, tmp_path):
    """A batch without params keeps ``_fetch`` on the JVM: the parse
    twin, the body-free metadata twin and the dead-link anti-join plan
    no Python evaluation (an empty UDF branch would still start a
    Python worker in every task)."""
    resolved, batch = _resolved_and_batch(spark, tmp_path)
    _fb, sources = _round_fetch_sources(batch, resolved, has_params=False)
    for name, df in sources.items():
        plan = _plan(df)
        for node in _PY_EVAL:
            assert node not in plan, (name, plan)
    assert sources["parse"].count() == 50


def test_params_batch_merges_params_at_fetch(spark, tmp_path):
    from silkworm_spark.functions.urls import merge_params

    resolved, batch = _resolved_and_batch(spark, tmp_path, params_every=3)
    fb, sources = _round_fetch_sources(batch, resolved, has_params=True)
    assert any(node in _plan(sources["parse"]) for node in _PY_EVAL)
    rows = fb.select("url", "params", "_fetch").collect()
    assert any(r["params"] for r in rows)
    for r in rows:
        assert r["_fetch"] == merge_params(r["url"], r["params"]), r


@pytest.fixture(scope="module")
def frontier_with_params(spark, tmp_path_factory):
    """The ``frontier_parquet`` layout with params on two rows: one
    inside a 100-row budget (seq 5), one far past it (seq 1500)."""
    from silkworm_spark.schemas import FRONTIER_SCHEMA

    path = str(tmp_path_factory.mktemp("frp") / "frontier")
    rows = []
    for seq in range(2000):
        params = {"q": str(seq)} if seq in (5, 1500) else None
        rows.append((
            f"http://h{seq % 7}.test/p{seq}", seq, f"h{seq % 7}.test", 0,
            -1, seq, seq, "parse", 0, False, 0, 0.0, 0,
            None, None, params, None, None, None,
        ))
    spark.createDataFrame(rows, FRONTIER_SCHEMA).repartitionByRange(
        8, "seq"
    ).write.parquet(path)
    return spark.read.schema(FRONTIER_SCHEMA).parquet(path)


@pytest.mark.parametrize("horizon", [(0, 2000, 4), None])
@pytest.mark.parametrize("no_politeness", [True, False])
def test_dequeue_counts_params_rows(spark, frontier_parquet, frontier_with_params,
                                    no_politeness, horizon):
    """The dequeue's own aggregates count the batch rows that carry
    params (0 lets the fetch plan no UDF). Without a horizon the
    selection reaches the params row at seq 1500, which the 100-row
    budget cut then drops: it must not be counted."""
    from silkworm_spark.operators.scheduler import dequeue_round
    from silkworm_spark.plans.checkpoint import _empty_df
    from silkworm_spark.schemas import HOST_STATE_SCHEMA, ROBOTS_SCHEMA

    robots = (
        _empty_df(spark, ROBOTS_SCHEMA) if no_politeness
        else spark.createDataFrame([("h0.test", [], 500, None)], ROBOTS_SCHEMA)
    )
    for frontier, budget, want in (
        (frontier_parquet, 100, 0),
        (frontier_with_params, 100, 1),
        (frontier_with_params, 2000, 2),
    ):
        dq = dequeue_round(
            frontier, robots, _empty_df(spark, HOST_STATE_SCHEMA), vtime=0.0,
            round_budget=budget, horizon=horizon,
            no_politeness=no_politeness,
        )
        try:
            in_batch = dq.batch.filter(F.size("params") > 0).count()
            assert in_batch == want
            assert dq.n_params == in_batch
        finally:
            dq.release()


def test_seed_tables_need_no_python(spark):
    """Seed and robots frames are JVM-local tables (shipped once as
    Arrow, not a Python RDD that every job re-runs), so canonicalizing
    fast-pattern seeds plans no UDF either: the optimizer filters the
    local rows and drops the empty slow branch. initialize() then
    starts no Python worker for them. A URL that misses the fast
    pattern still brings the UDF branch in."""
    from silkworm_spark.functions.urls import with_canonical_url_host
    from silkworm_spark.sources.webgen import (
        build_robots,
        build_seeds,
        robots_df,
        seeds_df,
    )

    seeds = build_seeds(8, 200, 5)
    for df in (seeds_df(spark, seeds), robots_df(spark, build_robots(5)),
               with_canonical_url_host(seeds_df(spark, seeds))):
        plan = _plan(df)
        assert "ExistingRDD" not in plan, plan
        for node in _PY_EVAL:
            assert node not in plan, plan
    odd = seeds + [dict(url="HTTP://H.test/x", seq=99, priority=0)]
    canon = with_canonical_url_host(seeds_df(spark, odd))
    assert any(node in _plan(canon) for node in _PY_EVAL)
    got = {r["seq"]: r["url"] for r in canon.collect()}
    assert got[99] == "http://h.test/x"


def test_pagerank_keyed_shuffles_only(spark):
    """PageRank iterations are edge-join + keyed sum: map-side partial
    combine present, never a cross join; the per-round localCheckpoint
    keeps the plan constant-size, so the audited plan is one round's."""
    from silkworm_spark.operators.graph import pagerank_fixed_point

    edges = spark.range(200).select(
        F.col("id").alias("src"),
        ((F.col("id") * F.col("id") + 3) % 200).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    plan = _plan(pagerank_fixed_point(edges, iterations=1,
                                      checkpoint_rounds=False))
    assert "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_exchanges_only_hash_column(spark):
    """The shard-local bloom probe must shuffle ONLY the 8-byte hash
    column (+ its derived shard key): url/body/etc are pruned before
    the exchange, and the bits ride in as (shard, bits) rows — nothing
    is broadcast, no task holds more than its own shards' bits."""
    import re

    import numpy as np

    from silkworm_spark.plans.bloom import ShardedBloom

    bf = ShardedBloom(n_shards=8, bits_per_shard=1 << 12, k=5)
    bf.add_many(np.arange(100, dtype=np.int64))
    cand = spark.createDataFrame(
        [(f"http://h.test/{i}", int(i), "x" * 50, False) for i in range(50)],
        "url string, url_hash long, body string, dont_filter boolean",
    )
    probe = bf.maybe_hashes(cand)
    plan = _plan(probe)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Broadcast" not in plan
    exchanges = [b for b in re.split(r"\n\n", plan)
                 if re.match(r"\(\d+\) Exchange", b)]
    assert exchanges, plan
    for block in exchanges:
        m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        cols = {c.strip().split("#")[0] for c in m.group(1).split(",")}
        assert cols <= {"url_hash", "_shard", "shard", "bits"}, block
