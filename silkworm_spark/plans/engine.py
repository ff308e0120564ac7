"""CrawlEngine: the reference's event loop as an iterative DataFrame job.

One reference worker iteration (engine.py:108-154: dequeue → request
middlewares → fetch → response middlewares → callback → enqueue/sink)
becomes one *round* over the whole dequeued batch:

    frontier_R ──dequeue (politeness+robots+priority, salted)──►
      batch ──offline/live fetch (redirect loop inside)──►
        fetched ──retry split──► retries ──► candidates
                └─parse mapInPandas──► items ──► documents
                                   └─► child requests ──► candidates
      candidates ──first-wins + bloom + anti-join dedup──►
        dense-seq assign ──► frontier_{R+1};  seen += enqueued
      commit(frontier, seen, documents, metrics, fetch_log, bloom)

``while queue not empty`` (engine.py:354) is the driver's round loop;
``seq`` is FIFO dequeue order as data (SURVEY.md §3.4), so the crawl
reproduces the reference's concurrency=1 ordering exactly while
executing wide.

Driver-job discipline (the N→4N scaling fix, VERDICT r1): each round
runs exactly FIVE sequential job launches —

    J1 dequeue agg        (general path: scored plan cached + every
                           dequeue scalar; with no politeness rules
                           loaded, ONE TakeOrdered — scheduler.py
                           fast path)
    J1b budget kth        (general path only, when selection exceeds
                           the budget)
    J2 parse counts       (the heavy Python stage: bodies STREAM
                           through scan → broadcast join → Arrow —
                           never cached; materializes the parse cache
                           and yields item/error/json-item counts)
    J3 fetch metrics agg  (body-FREE twin: re-join against the
                           column-pruned resolved scan; one collect for
                           per-partition lineage + every round total)
    J4 dedup bucket count (anti-join + bloom probe + seq numbering
                           offsets in one pass)
    commit                (ALL appends WRITE-BEHIND — documents/items/
                           fetch_log AND seen/frontier_delta/consumed
                           plus the executor-side bloom merge — over-
                           lapping the next round's J1-J2 and joining
                           before its J4; the next dequeue patches its
                           merge-on-read frontier with the in-memory
                           new-rows/consumed DataFrames while their
                           files land. Only the tiny host_state
                           snapshot writes sync — checkpoint.
                           PendingCommit)

No ``.collect()`` of URL hashes, no per-table ``isEmpty()`` probes, no
standalone ``count()`` jobs, no multi-hundred-MB body caches. Round 1
ran ~20 driver jobs/round; the ~10-12 s of fixed per-round latency
that cost was the reason measured N→4N efficiency stalled at 0.565.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from time import perf_counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from silkworm_spark.functions.urls import (
    url_hash_col,
    with_canonical_url_host,
)
from silkworm_spark.operators.dedup import dedup_candidates
from silkworm_spark.operators.fetch import (
    live_fetch,
    offline_fetch_missing,
    offline_fetch_resolved,
    resolve_web,
    with_fetch_url,
)
from silkworm_spark.operators.order import assign_dense_seq
from silkworm_spark.operators.parse import run_parse_stage
from silkworm_spark.operators.retry import RETRY_HTTP_CODES
from silkworm_spark.operators.scheduler import dequeue_round
from silkworm_spark.plans.bloom import BloomTable
from silkworm_spark.plans.checkpoint import CrawlCheckpoint, _empty_df
from silkworm_spark.schemas import (
    FRONTIER_COLS as _FRONTIER_COLS,
    FRONTIER_SCHEMA,
    HOST_STATE_SCHEMA,
    PARSE_OUT_SCHEMA,
    REQUEST_EXTRA_COLS,
    ROBOTS_SCHEMA,
)

from pyspark.sql import types as _T

# read schema of the round's partitioned parse spill: the parse columns
# plus the round literal; out_kind (in PARSE_OUT_SCHEMA) is filled from
# the partition directories. Explicit so an all-empty round (no data
# files, just _SUCCESS) still reads back as an empty frame instead of
# failing schema inference.
_PARSE_SPILL_SCHEMA = _T.StructType(
    PARSE_OUT_SCHEMA.fields
    + [_T.StructField("round", _T.IntegerType())]
)


@dataclass
class CrawlConfig:
    max_rounds: int = 50
    round_budget: int = 1_000_000
    per_host_cap: int = (1 << 31) - 1
    round_seconds: float = 1.0
    max_retries: int = 3  # reference middlewares.py:102
    backoff_base: float = 0.5  # reference middlewares.py:104
    max_redirects: int = 10  # reference http.py:31
    use_bloom: bool = True
    # write-behind commits: sink tables (documents/items/fetch_log) and
    # the bloom merge overlap the NEXT round's dequeue+fetch+parse; the
    # manifest publishes at the join point before that round's dedup.
    # Exact-resume is preserved (a crash in the window replays one
    # deterministic round from the previous manifest).
    async_commit: bool = True
    bloom_shards: int = 64  # scale: ~1 shard per seen-table partition
    bloom_bits_per_shard: int = 1 << 17
    bloom_k: int = 7
    num_partitions: int | None = None
    target_rows_per_partition: int = 1000  # salt granularity per host
    min_rows_per_partition: int = 64  # floor before shrinking task width
    max_depth: int | None = None
    # global page cap (reference examples/sitemap_spider.py:189-201
    # counts pages_scraped under a lock; the distributed analog caps
    # cumulative dequeues — resume-exact via the manifest counter)
    max_pages: int | None = None
    html_max_bytes: int = 5_000_000  # parse cap (reference engine.py:37)
    # batch size at which the round's parse output is materialized to
    # compressed parquet in the checkpoint dir instead of the executor
    # block-manager cache. The cache form of a multi-million-page round
    # is ~10x the compressed size (uncompressed columnar + spans/links
    # duplication) and every consumer (dedup's child explode, the
    # document/item commit appends) streams ALL of it back — three
    # full-cache scans per round of pure memory bandwidth, the one
    # resource local[N] threads share. Parquet gives column-pruned,
    # compressed re-reads (the child explode reads only the `children`
    # column) and is the only form that exists at 10^10-URL scale,
    # where a round's parse output cannot live in executor memory.
    parse_spill_rows: int = 300_000
    horizon_factor: int = 4  # dequeue scans ~factor*budget seqs (see scheduler)
    fetch_broadcast_max_rows: int = 2_000_000  # gate on the batch-side broadcast
    # seen-set size up to which dedup uses a map-side broadcast
    # anti-join; beyond it, the sharded-bloom prefilter path.
    # Env-overridable so deployments (and A/B measurements) can move
    # the crossover without code edits: the broadcast build is a
    # DRIVER-side collect+hash of the whole seen table per round — a
    # fixed, width-independent cost that erodes N→4N scaling as the
    # seen set grows, while the bloom probe is a keyed shuffle that
    # scales with the cluster.
    seen_broadcast_max_rows: int = field(
        default_factory=lambda: int(
            os.environ.get("SILKWORM_SEEN_BCAST_MAX", 4_000_000)
        )
    )
    # request middlewares (reference middlewares.py:30-96,164-263):
    # UA rotation + proxy pool feed the live fetch; the per-request
    # delay paces enqueued children on the virtual clock
    user_agents: list | None = None
    proxies: list | None = None
    default_headers: dict | None = None
    request_timeout: float = 30.0  # reference http.py:34 default
    request_delay: float = 0.0
    request_delay_range: tuple | None = None
    # CDP browser-rendering backend (reference cdp.py:42), used by
    # fetch_mode="cdp"
    cdp_endpoint: str = "ws://127.0.0.1:9222"


@dataclass
class CrawlStats:
    rounds: int = 0
    requests_sent: int = 0
    responses_received: int = 0
    items_scraped: int = 0
    errors: int = 0
    retries: int = 0
    gave_up: int = 0
    robots_denied: int = 0
    dropped_oversize: int = 0
    elapsed_s: float = 0.0
    # wall time of the LAST round's write-behind commit joined after
    # the loop exits — the only commit no subsequent round's compute
    # can overlap. A continuous crawl (rounds ≫ 1) never pays it;
    # bench.py subtracts it from the steady-state span for that reason.
    final_commit_s: float = 0.0
    per_round: list = field(default_factory=list)

    @property
    def requests_per_second(self) -> float:  # reference engine.py:305,313
        return self.requests_sent / self.elapsed_s if self.elapsed_s else 0.0


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        config: CrawlConfig | None = None,
        fetch_mode: str = "offline",
        web: DataFrame | None = None,
    ) -> None:
        self.spark = spark
        self.config = config or CrawlConfig()
        self.ckpt = CrawlCheckpoint(spark, checkpoint_dir)
        self.fetch_mode = fetch_mode
        self.web = web
        if fetch_mode == "offline" and web is None:
            raise ValueError("offline fetch mode requires a web fixture DataFrame")
        self.stats = CrawlStats()

    def _load_bloom(self) -> BloomTable:
        cfg = self.config
        return self.ckpt.load_bloom(cfg.bloom_shards, cfg.bloom_bits_per_shard, cfg.bloom_k)

    # ---- seeding (reference open_spider, engine.py:79-86) ----
    def initialize(self, seeds: DataFrame, robots: DataFrame | None = None) -> None:
        cfg = self.config
        if self.ckpt.exists():
            raise ValueError(
                f"checkpoint already exists at {self.ckpt.root}; resume with "
                "run() or point initialize() at a fresh directory"
            )
        bloom = self._load_bloom()
        # JVM fast-path canonicalization (guide §4): a web-scale seed
        # table is overwhelmingly already-canonical URLs; the pandas-UDF
        # pair cost ~60 s of the 4-core leg's initialize at 2.4M seeds
        s = with_canonical_url_host(seeds).withColumn(
            "url_hash", url_hash_col("url")
        )
        # seeds pass through _enqueue too: first occurrence wins (engine.py:99-106)
        s = s.withColumn("parent_seq", F.lit(-1).cast("long")).withColumn(
            "child_index", F.col("seq").cast("int")
        )
        from silkworm_spark.operators.dedup import first_wins_intra_round

        s = first_wins_intra_round(s)
        # start_requests() may set a per-seed callback (reference
        # spiders.py:59-61 override); default is the spider's parse
        cb = (
            F.coalesce(F.col("callback"), F.lit("parse"))
            if "callback" in seeds.columns
            else F.lit("parse")
        )
        # optional request-surface seed columns (method/headers/params/
        # meta/data/timeout — reference start_requests can build full
        # Requests, spiders.py:59-61); absent ⇒ NULL (GET, no extras)
        extras = [
            (F.col(c) if c in seeds.columns
             else F.lit(None).cast(FRONTIER_SCHEMA[c].dataType)).alias(c)
            for c in REQUEST_EXTRA_COLS
        ]
        dfcol = (
            F.coalesce(F.col("dont_filter"), F.lit(False))
            if "dont_filter" in seeds.columns else F.lit(False)
        )
        frontier = s.select(
            "url", "url_hash", "host",
            F.lit(0).alias("depth"),
            "parent_seq", "child_index",
            F.col("seq").cast("long").alias("seq"),
            cb.alias("callback"),
            F.col("priority").cast("int").alias("priority"),
            dfcol.alias("dont_filter"),
            F.lit(0).alias("retry_times"),
            F.lit(0.0).alias("not_before"),
            F.lit(0).alias("round_added"),
            *extras,
        )
        # uniformity probe rides the numbering job: all-zero seeds keep
        # the dequeue on the uniform seq-horizon fast paths; each later
        # round re-probes its new rows (a spider callback may yield
        # prioritized Requests at any time) and demotes the flag
        assigned, n, pr = assign_dense_seq(
            frontier.drop("seq"), ["parent_seq", "child_index"], start=0,
            probe_col="priority",
        )
        frontier = assigned.select(*_FRONTIER_COLS).cache()
        uniform = pr[0] is None or (pr[0] == 0 and pr[1] == 0)
        seen = frontier.filter(~F.col("dont_filter")).select(
            "url_hash", "url", F.lit(0).alias("round_added")
        )
        if robots is None:
            robots = _empty_df(self.spark, ROBOTS_SCHEMA)
        self.ckpt.commit(
            round_no=0, vtime=0.0, seq_next=n,
            appends={"seen": seen, "frontier_delta": frontier},
            snapshots={
                "host_state": _empty_df(self.spark, HOST_STATE_SCHEMA),
                "robots": robots,
            },
            bloom=bloom if cfg.use_bloom else None,
            bloom_update=seen if cfg.use_bloom else None,
            known_counts={"seen": n, "frontier_delta": n},
            extras={"uniform_priority": uniform, "seq_floor": 0, "n_seen": n,
                    "n_fetched": 0},
        )
        frontier.unpersist()

    def _robots(self) -> DataFrame:
        return self.ckpt.read("robots")

    def _resolved_web(self, shared_path: str | None = None) -> DataFrame:
        """Redirect resolution, precomputed once per crawl and kept as
        a checkpointed table (operators/fetch.resolve_web). Pass
        ``shared_path`` to reuse one resolution across crawls of the
        same web (benchmarks)."""
        import os

        path = shared_path or f"{self.ckpt.root}/resolved_web"
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            # many small files, not few giant row groups: a parquet range
            # split cannot cross a row group, so an AQE-coalesced write
            # (~8 files x 240 MB) silently caps the per-round fetch+parse
            # scan at ~8 concurrent tasks regardless of cores
            n_files = max(64, self.spark.sparkContext.defaultParallelism * 4)
            resolve_web(self.web, self.config.max_redirects).repartition(
                n_files
            ).write.mode("overwrite").parquet(path)
        self._resolved_path = path
        return self.spark.read.parquet(path)

    # ---- the round loop (reference engine.py:339-368) ----
    def run(self) -> CrawlStats:
        cfg = self.config
        t0 = perf_counter()
        resolved = (
            self._resolved_web(getattr(self, "_resolved_path", None))
            if self.fetch_mode == "offline"
            else None
        )
        robots = self._robots().cache()
        n_robots = robots.count()  # one tiny job per run(), not per round
        bloom = self._load_bloom()
        vtime = float(self.ckpt.manifest["vtime"])
        seq_next = int(self.ckpt.manifest["seq_next"])
        round_no = int(self.ckpt.manifest["round"])
        uniform_priority = bool(self.ckpt.manifest.get("uniform_priority", False))
        seq_floor = int(self.ckpt.manifest.get("seq_floor", 0))
        n_seen = self.ckpt.manifest.get("n_seen")  # None (old ckpt) ⇒ bloom path
        n_fetched = int(self.ckpt.manifest.get("n_fetched", 0))

        n_frontier: int | None = None  # tracked incrementally after round 1
        pending = None  # write-behind commit of the previous round
        held: list = []  # caches the pending writes still read
        # local-checkpoint RDD keep-alive (the round-5 fatal class): a
        # patch's blocks are lineage-FREE, but plans built from the
        # patched frontier (scored/fresh caches, the NEXT patch before
        # it materializes) can still need them for recomputation until
        # two join points later. Dropping the Dataset reference at the
        # next join point let the ContextCleaner remove the blocks
        # while such a recompute could still run → "Block rdd_N_M does
        # not exist" → job abort (local mode has maxTaskFailures=1) →
        # the leg crash BENCH_r05's driver re-run recorded. Keep the
        # last two rounds' patch Datasets referenced; entries age out
        # only when nothing can reach their blocks anymore.
        pf_keep: list = []
        # (new_rows, consumed) of a deferred frontier write: until the
        # pending commit finalizes, the manifest's frontier tables lag
        # one round, so the next dequeue patches its merge-on-read
        # frontier with these in-memory DataFrames (both derive from
        # caches in `held`, released only after the join point)
        pending_frontier = None

        def join_pending():
            nonlocal pending, held, pending_frontier
            if pending is not None:
                pending.finalize()
                pending = None
            pending_frontier = None
            for h in held:
                h()
            held = []
        # max_rounds bounds the *crawl*, not this run() call — a resumed
        # crawl continues to the same global bound (exact-resume contract)
        while round_no < cfg.max_rounds:
            frontier = self.ckpt.read_frontier()
            if pending_frontier is not None:
                # previous round's frontier writes are still in flight:
                # the manifest read above lacks that round's enqueues
                # and consumptions, so patch them in from the held
                # in-memory DataFrames. The background parquet writes of
                # the SAME data overlap this dequeue + fetch + parse and
                # are joined before dedup (join_pending below).
                p_new, p_consumed, _p_n_consumed = pending_frontier
                # measured note (r6): broadcasting p_consumed here was
                # tried and REVERTED — the driver-side collect+hash of
                # a round's seqs cost more at both widths than the
                # keyed anti-join shuffle it replaced (the patch sides
                # are O(budget), not O(frontier))
                frontier = frontier.join(
                    p_consumed, "seq", "left_anti"
                ).unionByName(p_new)
            if n_frontier is None:
                n_frontier = frontier.count()
            if n_frontier == 0:
                break  # queue.join() returned (engine.py:354)
            host_state = self.ckpt.read("host_state")

            _t = {}
            _tp = rt0 = perf_counter()

            def tick(name):
                nonlocal _tp
                now = perf_counter()
                _t[name] = round((now - _tp) * 1000.0, 1)
                _tp = now

            budget = cfg.round_budget
            if cfg.max_pages is not None:
                budget = min(budget, cfg.max_pages - n_fetched)
                if budget <= 0:
                    break  # reached the global page cap
            # J1 (+J1b when over budget)
            # horizon pruning is exact for ANY priority mix as long as
            # every finite host cap comes from the (broadcast) robots
            # table — rule-less hosts have cap ∞, where priority cannot
            # influence selection (scheduler module docstring). The one
            # remaining full-window case: a global per_host_cap under
            # non-uniform priority caps rule-less hosts too.
            _inf_cap = cfg.per_host_cap >= (1 << 31) - 1
            dq = dequeue_round(
                frontier, robots, host_state, vtime,
                round_seconds=cfg.round_seconds,
                round_budget=budget,
                per_host_cap=cfg.per_host_cap,
                num_partitions=cfg.num_partitions,
                target_rows_per_partition=cfg.target_rows_per_partition,
                horizon=(seq_floor, seq_next, cfg.horizon_factor)
                if (uniform_priority or _inf_cap) else None,
                # provably-equivalent FIFO fast path: no robots rules
                # loaded + no host cap ⇒ every per-host cap is infinite
                # ⇒ selection is exactly "budget smallest eligible
                # seqs" for ANY priority mix (priority only reorders
                # within a host's infinite cap)
                no_politeness=(n_robots == 0 and _inf_cap),
                mixed_priority=not uniform_priority,
            )
            batch, denied = dq.batch, dq.denied
            n_batch, n_denied = dq.n_batch, dq.n_denied
            batch_cached = None
            if dq._scored is None and n_batch:
                # FIFO fast path: dq.batch is a lazy filter over the
                # (patched, merge-on-read) frontier — every downstream
                # consumer (two fetch-join broadcasts, the missing
                # anti-join, fetch_log, consumed, host_state) would
                # re-scan the whole frontier. One body-free cache
                # (~O(budget) narrow rows) collapses those to cache
                # reads; r5's "commit" tick was ~47 s@4c of exactly
                # these rescans. The general path already caches
                # `scored`, so its batch is cheap by construction.
                batch = batch_cached = batch.cache()
            tick("dequeue")

            if n_batch == 0 and n_denied == 0:
                # nothing eligible: jump the virtual clock forward
                nb = frontier.agg(F.min("not_before")).first()[0]
                nf = (
                    host_state.join(frontier.select("host").distinct(), "host")
                    .agg(F.min("next_free")).first()[0]
                )
                candidates_t = [t for t in (nb, nf) if t is not None and t > vtime]
                dq.release()
                if not candidates_t:
                    break  # nothing can ever become eligible
                vtime = min(candidates_t)
                continue

            round_no += 1

            # partition width adapted to the batch: full configured width
            # for big rounds, shrinking only when partitions would drop
            # under min_rows_per_partition (tiny retry-tail rounds)
            max_parts = cfg.num_partitions or self.spark.sparkContext.defaultParallelism
            nparts = max(1, min(max_parts, -(-n_batch // cfg.min_rows_per_partition)))

            raw_fetched = None  # live-mode cache handle
            missing = None  # offline-mode shared dead-link cache handle
            if self.fetch_mode == "offline":
                # NO body cache: page bodies stream through the parse
                # python stage exactly once (scan → broadcast join →
                # Arrow), and the metrics/retry twin below re-joins
                # against a column-PRUNED resolved scan (body_len, no
                # binary) — re-running a slim join beats building and
                # GC-ing a multi-100 MB in-memory cache every round
                # the dead-link anti-join is computed ONCE and shared
                # by both twins (it is usually empty; r5 paid the
                # 2.6M-key shuffle-hash join twice per round)
                # one fetch-ready batch for all three: `_fetch` stays a
                # JVM alias of `url` unless the dequeue counted a row
                # with params (no Python stage otherwise)
                fetch_batch = with_fetch_url(batch, dq.n_params > 0)
                missing = offline_fetch_missing(fetch_batch, resolved).cache()
                parse_src = offline_fetch_resolved(
                    fetch_batch, resolved, n_batch=n_batch,
                    broadcast_max_rows=cfg.fetch_broadcast_max_rows,
                    missing=missing,
                )
                meta_src = offline_fetch_resolved(
                    fetch_batch, resolved, n_batch=n_batch,
                    broadcast_max_rows=cfg.fetch_broadcast_max_rows,
                    include_body=False, missing=missing,
                )
            else:
                # live fetch: request middlewares (UA/proxy columns,
                # reference engine.py:94-97 order) then salted per-host
                # layout BEFORE the I/O stage (politeness pacing happens
                # inside each Arrow batch)
                from silkworm_spark.operators.middleware import (
                    apply_request_middlewares,
                )

                prepared = apply_request_middlewares(
                    batch, cfg.user_agents, cfg.proxies
                )
                # robots crawl-delay rides along as a column so the
                # fetch stage can pace each host group for real
                # (no driver collect — the robots side is broadcast)
                prepared = prepared.join(
                    F.broadcast(
                        robots.select(
                            "host",
                            (F.coalesce(F.col("crawl_delay_ms"), F.lit(0)) / 1000.0)
                            .alias("_delay_s"),
                        )
                    ),
                    "host", "left",
                )
                if self.fetch_mode == "cdp":
                    # browser-rendered fetch (reference cdp.py): one
                    # CDP page session per partition, same result
                    # contract as live_fetch
                    from silkworm_spark.operators.cdp import cdp_fetch

                    raw_fetched = cdp_fetch(
                        prepared.repartition(nparts, "part"),
                        ws_endpoint=cfg.cdp_endpoint,
                        timeout_s=cfg.request_timeout,
                        html_max_bytes=cfg.html_max_bytes,
                    ).cache()
                else:
                    raw_fetched = live_fetch(
                        prepared.repartition(nparts, "part"),
                        timeout_s=cfg.request_timeout,
                        default_headers=cfg.default_headers,
                        max_redirects=cfg.max_redirects,
                        default_delay_s=cfg.request_delay,
                    ).cache()
                parse_src = raw_fetched.withColumn("body_len", F.length("body"))
                meta_src = parse_src

            is_retryable = F.coalesce(
                F.col("status").isin(RETRY_HTTP_CODES), F.lit(False)
            )
            will_retry = is_retryable & (F.col("retry_times") < cfg.max_retries)
            gave_up = is_retryable & (F.col("retry_times") >= cfg.max_retries)

            # Parseable = delivered to the callback: errors and
            # will-retry rows are withheld, but retry-EXHAUSTED rows go
            # through (reference RetryMiddleware returns the final
            # response to the spider, middlewares.py:134-135; built-in
            # callbacks then no-op on non-200). Oversize bodies are
            # dropped AND counted (dropped_oversize below).
            parseable = (
                F.col("error").isNull()
                & F.col("status").isNotNull()
                & ~will_retry
                # parser cost guard (reference html_max_size_bytes,
                # engine.py:37, response.py:314)
                & (F.col("body_len") <= cfg.html_max_bytes)
            )
            # No repartition before parse: the offline fetch join output
            # inherits the resolved table's scan splits (uniform in url,
            # host-mixed), so the Python stage is already balanced — a
            # repartition here would shuffle every BODY (round 1 shuffled
            # ~600 MB/round through the spill disk and capped parse-stage
            # scaling at 0.37). Live mode pre-salts by `part` instead.
            parse_in = parse_src.filter(parseable)
            if self.fetch_mode != "offline":
                parse_in = parse_in.repartition(nparts, "part")
            # small rounds: block-manager cache (no per-round file I/O);
            # big rounds: spill to compressed parquet (see parse_spill_rows)
            spill_parse = n_batch >= cfg.parse_spill_rows
            parse_out = run_parse_stage(parse_in)
            parse_scratch = None
            if spill_parse:
                # the spill lives INSIDE the round dir, partitioned by
                # out_kind and carrying the round column: the item
                # partition IS this round's documents append in final
                # form, so the commit records a POINTER to it instead
                # of parquet-encoding the identical span table a second
                # time (r5 wrote ~the whole parse output twice per
                # round — once here, once as the documents sink; guide
                # §1.2: don't compute things you throw away). Inert
                # until the manifest publishes, like every round file.
                parse_scratch = os.path.join(
                    self.ckpt.root, f"round_{round_no:05d}", "parse"
                )
            else:
                parse_out = parse_out.cache()

            # body-free metadata twin: the retry split and metrics never
            # touch page bodies (offline: column-pruned re-join; live:
            # projection off the fetch cache)
            # cached: J3's agg materializes it, the retry split (J4's
            # candidates chain) reuses it — without the cache the slim
            # join would run twice per round
            fetched = meta_src.withColumn(
                "_oversize",
                F.coalesce(F.col("body_len") > cfg.html_max_bytes, F.lit(False)),
            ).drop(
                *[c for c in ("body", "content_type") if c in meta_src.columns]
            ).cache()

            # J2 ∥ J3: the heavy python parse job and the slim metrics
            # agg have no dependency — the metrics collect runs on a
            # second driver thread, filling executor slots the parse
            # stage's stragglers leave idle
            import concurrent.futures as _cf

            def _part_rows():
                return (
                    fetched.groupBy(F.col("part").alias("partition_id"))
                    .agg(
                        F.count("*").alias("requests_sent"),
                        F.count("status").alias("responses_received"),
                        F.count("error").alias("errors"),
                        F.sum(will_retry.cast("long")).alias("retries"),
                        F.sum(gave_up.cast("long")).alias("gave_up"),
                        F.sum(
                            (F.col("_oversize") & F.col("error").isNull()
                             & ~will_retry).cast("long")
                        ).alias("dropped_oversize"),
                    )
                    .collect()
                )

            with _cf.ThreadPoolExecutor(1) as _ex:
                part_fut = _ex.submit(_part_rows)
                if spill_parse:
                    # J2: ONE pass python parse → snappy parquet; the
                    # item/error/json-item counts ride the same job as
                    # observed metrics, so counting costs no extra scan
                    from pyspark.sql import Observation

                    _obs = Observation()
                    (
                        parse_out.withColumn("round", F.lit(round_no))
                        .observe(
                            _obs,
                            F.sum((F.col("out_kind") == "item").cast("long"))
                            .alias("n_item"),
                            F.sum((F.col("out_kind") == "error").cast("long"))
                            .alias("n_error"),
                            F.sum(F.size("items")).alias("n_jitems"),
                        )
                        .write.mode("overwrite").partitionBy("out_kind")
                        .parquet(parse_scratch)
                    )
                    _m = _obs.get
                    parse_counts = {
                        "item": int(_m["n_item"] or 0),
                        "error": int(_m["n_error"] or 0),
                    }
                    n_json_items = int(_m["n_jitems"] or 0)
                    # downstream consumers re-read column-pruned: dedup's
                    # child explode touches only `children`, the commit
                    # appends touch spans/items — never the whole round
                    parse_out = self.spark.read.schema(
                        _PARSE_SPILL_SCHEMA
                    ).parquet(parse_scratch)
                else:
                    # J2: materializes the parse cache (the python stage
                    # pipelines with the fetch join) and yields the
                    # span-item/error/json-item counts
                    pc_rows = parse_out.groupBy("out_kind").agg(
                        F.count("*").alias("cnt"),
                        F.sum(F.size("items")).alias("jitems"),
                    ).collect()
                    parse_counts = {r["out_kind"]: r["cnt"] for r in pc_rows}
                    n_json_items = int(sum(r["jitems"] or 0 for r in pc_rows))
                tick("parse")
                part_rows = part_fut.result()
            tick("fetch")

            from silkworm_spark.operators.retry import split_retries

            _, retry_rows, _ = split_retries(
                fetched, vtime, cfg.max_retries, cfg.backoff_base
            )

            # item/request routing is pure projection — parse carried the
            # parent metadata and canonical child URLs through the UDF;
            # the per-link explode happens here, JVM-side
            doc_pointer = None
            if spill_parse:
                # zero-copy documents append: the spill's item
                # partition already holds (doc_id, spans, status,
                # depth, seq, round) — extra columns (url, children,
                # callback, …) are never decoded by the column-pruned
                # documents reader
                documents = None
                if parse_counts.get("item", 0):
                    doc_pointer = os.path.join(
                        f"round_{round_no:05d}", "parse", "out_kind=item"
                    )
            else:
                documents = parse_out.filter(F.col("out_kind") == "item").select(
                    "doc_id", "spans", "status", "depth", "seq",
                    F.lit(round_no).alias("round"),
                )
            # free-form JSON items → the pipelines' input stream
            # (reference engine.py:200-268 → pipelines.py connectors)
            json_items = (
                parse_out.filter(F.size("items") > 0)
                .select(
                    F.lit(round_no).alias("round"), "seq", "url",
                    F.posexplode("items").alias("item_index", "item"),
                )
            )

            children = (
                parse_out.filter(F.size("children") > 0)
                .select(
                    F.col("seq").alias("parent_seq"), "depth", "callback",
                    F.explode("children").alias("c"),
                )
                .select(
                    F.col("c.url").alias("url"),
                    url_hash_col(F.col("c.url")).alias("url_hash"),
                    F.col("c.host").alias("host"),
                    (F.col("depth") + 1).alias("depth"),
                    "parent_seq",
                    (F.col("c.idx") + 1).alias("child_index"),
                    F.lit(-1).cast("long").alias("seq"),
                    # explicit child callback wins; else inherit the parent's
                    # (reference response.follow, response.py:271-284)
                    F.coalesce(F.col("c.cb"), F.col("callback"), F.lit("parse")).alias("callback"),
                    # request-surface overrides from follow(**kwargs) /
                    # yielded Requests; NULL means default, never inherit
                    # (a reference child Request starts fresh)
                    F.coalesce(F.col("c.priority"), F.lit(0)).alias("priority"),
                    F.coalesce(F.col("c.dont_filter"), F.lit(False)).alias("dont_filter"),
                    F.lit(0).alias("retry_times"),
                    F.lit(0.0).alias("not_before"),
                    F.lit(round_no).alias("round_added"),
                    F.col("c.method").alias("method"),
                    F.col("c.headers").alias("headers"),
                    F.col("c.params").alias("params"),
                    F.col("c.meta").alias("meta"),
                    F.col("c.data").alias("data"),
                    F.col("c.timeout").alias("timeout"),
                )
                .select(*_FRONTIER_COLS)
            )
            if cfg.max_depth is not None:
                children = children.filter(F.col("depth") <= cfg.max_depth)
            if cfg.request_delay or cfg.request_delay_range is not None:
                from silkworm_spark.operators.middleware import request_delay_col

                children = children.withColumn(
                    "not_before",
                    F.lit(float(vtime))
                    + request_delay_col(cfg.request_delay, cfg.request_delay_range),
                )
            # retries sort before children of later parents: child_index 0 vs 1+
            candidates = children.unionByName(
                retry_rows.withColumn("round_added", F.lit(round_no)).select(*_FRONTIER_COLS)
            )

            # join point: the previous round's write-behind tables
            # (seen/frontier/sinks) and bloom merge must land before
            # this round's dedup reads seen / probes the bloom —
            # everything up to here (dequeue, fetch, parse) overlapped
            # with them. commit_join measures the NOT-overlapped
            # residue: ~0 when the round's compute covers the writes.
            join_pending()
            tick("commit_join")

            seen = self.ckpt.read("seen")
            deduped = dedup_candidates(
                candidates, seen, bloom if cfg.use_bloom else None,
                n_seen=n_seen, broadcast_max_rows=cfg.seen_broadcast_max_rows,
            )
            fresh = deduped.cache()
            # J4: assign_dense_seq's bucket-count collect materializes
            # `fresh` (anti-join + bloom probe) in the same pass; the
            # priority probe rides along to keep uniform_priority honest
            assigned, n_new, pr_new = assign_dense_seq(
                fresh.drop("seq"), ["parent_seq", "child_index"], start=seq_next,
                bounds=dq.seq_bounds, probe_col="priority",
            )
            if uniform_priority and pr_new[0] is not None and not (
                pr_new[0] == 0 and pr_new[1] == 0
            ):
                uniform_priority = False
            new_rows = assigned.select(*_FRONTIER_COLS)
            seq_next += n_new
            tick("dedup_seq")

            # seen rows need no seq — project straight off the cached
            # `fresh` so the seen write and the executor-side bloom merge
            # never recompute the numbering window
            seen_new = fresh.filter(~F.col("dont_filter")).select(
                "url_hash", "url", F.lit(round_no).alias("round_added")
            )

            # frontier update is delta-only: append the new enqueues and
            # the consumed seqs (fetched + denied); the checkpoint's
            # merge-on-read + compaction reconstruct the live frontier.
            # Commit cost is O(round budget), never O(frontier).
            consumed = batch.select("seq").unionByName(denied.select("seq"))

            n_resp = sum(r["responses_received"] for r in part_rows)
            n_retries = sum(r["retries"] for r in part_rows)
            n_gave_up = sum(r["gave_up"] for r in part_rows)
            n_oversize = sum(r["dropped_oversize"] for r in part_rows)
            n_items = parse_counts.get("item", 0) + n_json_items
            n_err = sum(r["errors"] for r in part_rows) + parse_counts.get("error", 0)
            elapsed_ms = (perf_counter() - rt0) * 1000.0
            metric_tuples = [
                (round_no, int(r["partition_id"]), r["requests_sent"],
                 r["responses_received"], 0, r["errors"], r["retries"], 0,
                 r["gave_up"], r["dropped_oversize"], 0.0)
                for r in part_rows
            ] + [
                (round_no, -1, n_batch, n_resp, n_items, n_err,
                 n_retries, n_denied, n_gave_up, n_oversize, elapsed_ms)
            ]
            fetch_log = batch.select(
                F.lit(round_no).alias("round"), "seq", "url", "host"
            )

            seq_floor = dq.floor_next
            new_host_state = dq.new_host_state
            if batch_cached is not None:
                # FIFO fast path: dq's host_state recipe aggregates its
                # own lazy batch plan (a full-frontier rescan at write
                # time — most of r5's anti-scaling "commit" tick);
                # rebuild the IDENTICAL aggregate over the cached batch
                # (dequeue_fifo: taken counts per host, next_free
                # floored at vtime, denied is empty on this path)
                _taken = batch.groupBy("host").agg(F.count("*").alias("taken"))
                _prev = host_state.select("host", "fetched", "next_free")
                new_host_state = _prev.join(_taken, on="host", how="full").select(
                    "host",
                    (F.coalesce(F.col("fetched"), F.lit(0))
                     + F.coalesce(F.col("taken"), F.lit(0))).alias("fetched"),
                    F.coalesce(F.col("next_free"), F.lit(float(vtime))).alias("next_free"),
                )
            appends = {
                "seen": seen_new,
                "items": json_items,
                "fetch_log": fetch_log,
                "frontier_delta": new_rows,
                "consumed": consumed,
            }
            if documents is not None:
                appends["documents"] = documents
            pending = self.ckpt.commit(
                round_no=round_no,
                vtime=vtime + cfg.round_seconds,
                seq_next=seq_next,
                appends=appends,
                pointer_appends=(
                    {"documents": doc_pointer} if doc_pointer else None
                ),
                driver_appends={"metrics": metric_tuples},
                snapshots={"host_state": new_host_state},
                bloom=bloom if cfg.use_bloom else None,
                bloom_update=seen_new if cfg.use_bloom else None,
                known_counts={
                    "seen": n_new - n_retries,
                    "documents": n_items - n_json_items,
                    "items": n_json_items,
                    "fetch_log": n_batch,
                    "frontier_delta": n_new,
                    "consumed": n_batch + n_denied,
                },
                extras={
                    "uniform_priority": uniform_priority,
                    "seq_floor": seq_floor,
                    "n_seen": (n_seen or 0) + (n_new - n_retries),
                    "n_fetched": n_fetched + n_batch,
                },
                # ALL appends are write-behind: documents/items/
                # fetch_log gate nothing in the loop; `seen` gates only
                # the next round's dedup, which sits behind the join
                # point; frontier_delta/consumed gate the next DEQUEUE,
                # which patches its read from the in-memory DataFrames
                # (pending_frontier) while the files land in the
                # background. The sync tail this removes was the one
                # anti-scaling phase left (r4: 63 s@4c → 59 s@16c).
                async_sinks=(
                    ("documents", "items", "fetch_log",
                     "seen", "frontier_delta", "consumed")
                    if cfg.async_commit else ()
                ),
            )
            if pending is not None:
                # lineage MUST be severed here (localCheckpoint →
                # LogicalRDD): the patched frontier otherwise embeds
                # this round's full plan tree — which itself embeds the
                # previous patch — so plans grow geometrically across
                # rounds (driver OOM at ~10 rounds just STRINGIFYING
                # the tree). Lazy: no extra job now; the RDD blocks
                # materialize with the next dequeue's first action,
                # reading from the still-held fresh/scored caches.
                pending_frontier = (
                    new_rows.localCheckpoint(eager=False),
                    consumed.localCheckpoint(eager=False),
                    n_batch + n_denied,
                )
                # keep the last two patches' RDDs referenced (see
                # pf_keep above) so the cleaner cannot drop their
                # lineage-free blocks while a recompute can still
                # reach them
                pf_keep.append(pending_frontier)
                del pf_keep[:-2]
            tick("commit")
            vtime += cfg.round_seconds

            self.stats.rounds += 1
            self.stats.requests_sent += n_batch
            self.stats.responses_received += n_resp
            self.stats.items_scraped += n_items
            self.stats.errors += n_err
            self.stats.retries += n_retries
            self.stats.gave_up += n_gave_up
            self.stats.robots_denied += n_denied
            self.stats.dropped_oversize += n_oversize
            self.stats.per_round.append(
                dict(round=round_no, batch=n_batch, new=n_new, elapsed_ms=elapsed_ms,
                     timings=_t)
            )
            n_frontier = n_frontier - n_batch - n_denied + n_new
            n_fetched += n_batch
            if n_seen is not None:
                n_seen += n_new - n_retries

            releases = [
                df.unpersist
                for df in (raw_fetched, fetched, parse_out, fresh,
                           batch_cached, missing)
                if df is not None
            ]
            # the spill is NOT deleted: it lives in the round dir and
            # its item partition is the documents append (doc_pointer)
            if getattr(deduped, "_dedup_cache", None) is not None:
                releases.append(deduped._dedup_cache.unpersist)
            releases.append(dq.release)
            if pending is not None:
                # the write-behind sinks still read these caches — hold
                # them until the next join point
                held = releases
            else:
                for r in releases:
                    r()

        tj = perf_counter()
        join_pending()
        self.stats.final_commit_s = perf_counter() - tj
        robots.unpersist()
        self.stats.elapsed_s = perf_counter() - t0
        return self.stats

    # ---- convenience accessors ----
    def documents(self) -> DataFrame:
        return self.ckpt.read("documents")

    def fetch_log(self) -> DataFrame:
        return self.ckpt.read("fetch_log")

    def seen(self) -> DataFrame:
        return self.ckpt.read("seen")

    def items(self) -> DataFrame:
        """Free-form JSON items yielded by spider callbacks (the
        reference pipelines' input stream)."""
        return self.ckpt.read("items")

    def metrics(self) -> DataFrame:
        return self.ckpt.read("metrics")


def run_crawl(
    spark: SparkSession,
    web: DataFrame,
    seeds: DataFrame,
    robots: DataFrame | None,
    checkpoint_dir: str,
    config: CrawlConfig | None = None,
    resume: bool = False,
) -> CrawlEngine:
    engine = CrawlEngine(spark, checkpoint_dir, config, fetch_mode="offline", web=web)
    if not resume:
        engine.initialize(seeds, robots)
    engine.run()
    return engine
