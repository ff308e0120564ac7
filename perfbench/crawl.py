"""The two crawl workloads: inputs from the seed, the closed crawl loop,
per-layer tracing around the engine's calls, and the check against the
golden simulator.

Each operation is one crawl round. One client (this driver process)
runs whole crawls back to back until the measured time is used up; a
round starts only after the previous one finished.
"""

from __future__ import annotations

import json
import os
import sys
import traceback
from dataclasses import dataclass
from time import perf_counter

from perfbench.tracing import TRACE_GROUP, Tracer, patched, percentile


@dataclass(frozen=True)
class CrawlSpec:
    n_pages: int
    min_spans: int
    span_spread: int
    n_seeds: int
    round_budget: int
    rounds: int
    priorities: tuple
    robots: bool
    n_hosts: int = 40


# Sized for a 4-core box: at 4 cores a round of this engine carries
# ~5-10 s of fixed cost (about 35 Spark jobs), so a crawl has few
# rounds to keep a run inside the benchmark's wall budget.
SPECS = {
    # heavy pages (~100 spans, ~6 KB, ~40 links), no robots table (the
    # FIFO fast-path dequeue), uniform priority, large rounds: the
    # parse stage carries most of the round
    "crawl_bulk": CrawlSpec(
        n_pages=3000, min_spans=60, span_spread=80, n_seeds=1000,
        round_budget=1000, rounds=2, priorities=(0,), robots=False,
    ),
    # small pages (3-8 spans), the full robots table (disallow, crawl
    # delay, per-host budgets), priorities mixed over {0,1,2}, a
    # frontier 20x the round budget: per-round fixed cost (general
    # dequeue path, merge-on-read frontier, dedup, commit) dominates
    "crawl_polite": CrawlSpec(
        n_pages=8000, min_spans=3, span_spread=6, n_seeds=6000,
        round_budget=300, rounds=2, priorities=(0, 1, 2), robots=True,
    ),
}


def _seed_rows(spec: CrawlSpec, seed: int) -> list[dict]:
    from silkworm_spark.sources.webgen import url_of

    return [
        dict(url=url_of(i, spec.n_hosts, seed), seq=i,
             priority=spec.priorities[i % len(spec.priorities)])
        for i in range(spec.n_seeds)
    ]


def _robots_rows(spec: CrawlSpec, seed: int) -> list[dict] | None:
    from silkworm_spark.sources.webgen import build_robots

    return build_robots(spec.n_hosts, seed) if spec.robots else None


def build_web(spark, spec: CrawlSpec, seed: int, cache_dir: str) -> str:
    """Parquet of the synthetic web for (spec, seed), generated once and
    kept in the cache directory."""
    from silkworm_spark.sources.webgen import build_web_df

    path = os.path.join(cache_dir, "web")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build_web_df(
            spark, spec.n_pages, spec.n_hosts, seed,
            min_spans=spec.min_spans, span_spread=spec.span_spread,
        ).write.mode("overwrite").parquet(path)
    return path


def simulate_cached(spec: CrawlSpec, seed: int, web_path: str, cache_dir: str) -> dict:
    """The golden simulator's fetch order and final seen set on the same
    web, seeds and robots, cached per (workload, seed)."""
    path = os.path.join(cache_dir, "simulator.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import pyarrow.parquet as pq

    from silkworm_spark.plans.simulator import SimConfig, simulate

    cols = ["url", "status", "content_type", "redirect_to", "body", "attempts_until_ok"]
    web_rows = pq.read_table(web_path, columns=cols).to_pylist()
    res = simulate(
        web_rows, _seed_rows(spec, seed), _robots_rows(spec, seed),
        SimConfig(max_rounds=spec.rounds, round_budget=spec.round_budget),
    )
    out = dict(fetch_order=[list(r) for r in res.fetch_order], seen=sorted(res.seen))
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def failed_rounds(fetch_log, seen, sim: dict, rounds: int) -> set[int]:
    """Rounds whose output differs from the simulator. fetch_log is
    [(round, seq, url)] in (round, seq) order; a wrong final seen set
    fails the last round."""
    want: dict[int, list] = {}
    for r, s, u in sim["fetch_order"]:
        want.setdefault(r, []).append((r, s, u))
    got: dict[int, list] = {}
    for r, s, u in fetch_log:
        got.setdefault(r, []).append((r, s, u))
    bad = {r for r in range(1, rounds + 1) if got.get(r, []) != want.get(r, [])}
    bad |= set(got) - set(range(1, rounds + 1))
    if set(seen) != set(sim["seen"]):
        bad.add(rounds)
    return bad


class CrawlWorkload:
    def __init__(self, spark, name: str, seed: int, cache_dir: str, work_dir: str) -> None:
        from silkworm_spark.plans.engine import CrawlConfig

        self.spark = spark
        self.name = name
        self.spec = SPECS[name]
        self.seed = seed
        self.cache_dir = cache_dir
        self.work_dir = work_dir
        self.config = CrawlConfig(
            max_rounds=self.spec.rounds, round_budget=self.spec.round_budget
        )
        self._n = 0
        self._first = None
        self._init_s = 0.0  # wall of the last initialize()
        self.web_path = build_web(spark, self.spec, seed, cache_dir)
        self.resolved_path = os.path.join(work_dir, "resolved")

    # ---- set-up (timed by the caller)

    def _engine(self):
        from silkworm_spark.plans.engine import CrawlEngine

        self._n += 1
        eng = CrawlEngine(
            self.spark, os.path.join(self.work_dir, f"ckpt{self._n}"),
            self.config, web=self.spark.read.parquet(self.web_path),
        )
        eng._resolved_path = self.resolved_path
        return eng

    def _initialize(self, eng) -> None:
        from silkworm_spark.sources.webgen import robots_df, seeds_df

        robots = _robots_rows(self.spec, self.seed)
        eng.initialize(
            seeds_df(self.spark, _seed_rows(self.spec, self.seed)),
            robots_df(self.spark, robots) if robots else None,
        )

    def setup(self) -> None:
        """Redirect resolution, warm-up and initialize() of the first
        crawl; later crawls of the run share the resolved web."""
        eng = self._engine()
        eng._resolved_web(self.resolved_path)
        warm_up(self.spark, self.resolved_path)
        t = perf_counter()
        self._initialize(eng)
        self._init_s = perf_counter() - t
        self._first = eng

    # ---- measured loop

    def run(self, seconds: float, tracer: Tracer | None = None) -> dict:
        """Whole crawls back to back (at least one); another crawl
        starts only if, at the walls the last one and its initialize()
        took, it is expected to end within ``seconds`` of the loop's
        start. Returns per-crawl results."""
        crawls = []
        t_loop = perf_counter()
        last = 0.0
        while not crawls or perf_counter() - t_loop + last <= seconds:
            eng, self._first = self._first, None
            if eng is None:
                t = perf_counter()
                eng = self._engine()
                self._initialize(eng)
                self._init_s = perf_counter() - t
            rec = dict(engine=eng, error=None)
            t0 = perf_counter()
            try:
                if tracer is None:
                    eng.run()
                else:
                    with patched(self._trace_targets(tracer, f"crawl{len(crawls) + 1}")):
                        eng.run()
            except Exception:  # a failed crawl is reported, not fatal
                traceback.print_exc(file=sys.stderr)
                rec["error"] = True
            finally:
                if tracer is not None:
                    tracer.set_group(None)
            rec["wall_s"] = perf_counter() - t0
            crawls.append(rec)
            if rec["error"]:
                break
            last = self._init_s + rec["wall_s"]
        return dict(crawls=crawls)

    def _trace_targets(self, tr: Tracer, crawl_id: str):
        import silkworm_spark.plans.checkpoint as C
        import silkworm_spark.plans.engine as E

        def dequeued(out, args, kwargs):
            tr.add("scheduler.dequeue_rows", out.n_batch)
            tr.add("scheduler.denied_rows", out.n_denied)

        def assigned(out, args, kwargs):
            tr.add("order.new_rows", out[1])

        orig_dedup = E.dedup_candidates

        def dedup(candidates, *args, **kwargs):
            # candidate count for the fresh ratio, in a job group that
            # no layer is charged for
            tr.set_group(TRACE_GROUP)
            tr.add("dedup.candidates", candidates.count())
            with tr.span("dedup"):
                return orig_dedup(candidates, *args, **kwargs)

        orig_read = C.CrawlCheckpoint.read_frontier
        rounds = iter(range(1, 1 << 30))

        def read_frontier(ckpt):
            # the engine reads the frontier once at the top of each round
            tr.parent = f"{crawl_id}/round{next(rounds)}"
            with tr.span("checkpoint.read_frontier"):
                return orig_read(ckpt)

        return [
            (E, "dequeue_round", tr.wrap("scheduler", E.dequeue_round, dequeued)),
            (E, "offline_fetch_resolved", tr.wrap("fetch", E.offline_fetch_resolved)),
            (E, "run_parse_stage", tr.wrap("parse", E.run_parse_stage)),
            (E, "dedup_candidates", dedup),
            (E, "assign_dense_seq", tr.wrap("order", E.assign_dense_seq, assigned)),
            (C.CrawlCheckpoint, "read_frontier", read_frontier),
            (C.CrawlCheckpoint, "commit",
             tr.wrap("checkpoint.commit", C.CrawlCheckpoint.commit)),
            (C.PendingCommit, "finalize",
             tr.wrap("checkpoint.join_wait", C.PendingCommit.finalize)),
        ]

    # ---- results

    def check(self, result: dict) -> tuple[int, int]:
        """(attempted, failed) rounds; each crawl is compared with the
        simulator outside the timed loop."""
        sim = simulate_cached(self.spec, self.seed, self.web_path, self.cache_dir)
        attempted = failed = 0
        for rec in result["crawls"]:
            attempted += self.spec.rounds
            if rec["error"]:
                failed += self.spec.rounds
                continue
            eng = rec["engine"]
            log = [(r["round"], r["seq"], r["url"])
                   for r in eng.fetch_log().orderBy("round", "seq").collect()]
            seen = [r["url"] for r in eng.seen().select("url").collect()]
            bad = failed_rounds(log, seen, sim, self.spec.rounds)
            if bad:
                print(f"{self.name}: rounds {sorted(bad)} differ from the simulator",
                      file=sys.stderr)
            failed += len(bad)
        return attempted, failed

    def headline(self, result: dict) -> dict:
        ok = [r for r in result["crawls"] if not r["error"]]
        urls = sum(r["engine"].stats.requests_sent for r in ok)
        wall = sum(r["wall_s"] for r in ok)
        rounds = [sum(pr["timings"].values()) / 1000.0
                  for r in ok for pr in r["engine"].stats.per_round]
        return dict(
            work_per_s=urls / wall if wall else 0.0,
            op_s_p50=percentile(rounds, 50) if rounds else 0.0,
            urls_per_s=urls / wall if wall else 0.0,
            round_s_p50=percentile(rounds, 50) if rounds else 0.0,
            ops=len(rounds),
        )

    def layer_metrics(self, result: dict, tracer: Tracer, totals: dict) -> dict:
        ok = [r["engine"] for r in result["crawls"] if not r["error"]]
        pages = sum(e.stats.requests_sent for e in ok)
        ticks: dict[str, float] = {}
        for e in ok:
            for pr in e.stats.per_round:
                for k, v in pr["timings"].items():
                    ticks[k] = ticks.get(k, 0.0) + v / 1000.0
        ckpt_bytes = sum(_dir_bytes(e.ckpt.root) for e in ok)
        c = tracer.counts

        def task_s(layer):
            return totals.get(layer, {}).get("run_s", 0.0)

        out = {
            "parse.task_s": task_s("parse"),
            "parse.pages": pages,
            "parse.task_ms_per_page": 1000.0 * task_s("parse") / pages if pages else 0.0,
            "scheduler.dequeue_s": tracer.layer_wall("scheduler"),
            "scheduler.dequeue_rows": c.get("scheduler.dequeue_rows", 0),
            "scheduler.denied_rows": c.get("scheduler.denied_rows", 0),
            "checkpoint.read_frontier_s": tracer.layer_wall("checkpoint.read_frontier"),
            # the dedup plan is lazy: its anti-join runs in the count job
            # that assign_dense_seq starts
            "dedup.task_s": task_s("dedup") + task_s("order"),
            "order.assign_seq_s": tracer.layer_wall("order"),
            "dedup.fresh_ratio": (c.get("order.new_rows", 0) / c["dedup.candidates"]
                                  if c.get("dedup.candidates") else 0.0),
            "fetch.task_s": task_s("fetch"),
            "checkpoint.commit_s": tracer.layer_wall("checkpoint.commit"),
            "checkpoint.join_wait_s": tracer.layer_wall("checkpoint.join_wait"),
            "checkpoint.bytes_per_url": ckpt_bytes / pages if pages else 0.0,
        }
        for k in ("dequeue", "fetch", "parse", "commit_join", "dedup_seq", "commit"):
            out[f"engine.tick.{k}_s"] = ticks.get(k, 0.0)
        return out


def warm_up(spark, resolved_path: str) -> None:
    """A small query in the session before timing: on every core a
    Python worker starts, imports the parse module and scans a slice of
    the resolved web with it. A warm-up crawl would cost ~16 s of the
    run's wall budget (its own initialize() plus a round of fixed cost)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    def scan(batches):
        from silkworm_spark.functions.text import decode_body
        from silkworm_spark.operators.parse import extract_spans

        n = 0
        for b in batches:
            for url, body, ctype in zip(b.column("final_url").to_pylist(),
                                        b.column("body").to_pylist(),
                                        b.column("content_type").to_pylist()):
                if body:
                    text, _ = decode_body(body, ctype)
                    n += len(extract_spans(text, url))
        yield pa.RecordBatch.from_pydict({"n": [n]})

    cores = spark.sparkContext.defaultParallelism
    spark.read.parquet(resolved_path).select("final_url", "body", "content_type").limit(
        cores * 50
    ).repartition(cores).mapInArrow(
        scan, T.StructType([T.StructField("n", T.LongType())])
    ).agg({"n": "sum"}).collect()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total

