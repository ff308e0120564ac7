"""Crawl-loop scale proof at 10x the bench round (VERDICT r5 item 6).

One ~13M-URL round (10x the bench's 1.3M round budget) at two pinned
parallelism widths (local[4] vs local[16], each leg its own subprocess
bound via sched_setaffinity — the same cgroup stand-in as bench.py's
headline legs), confirming the dequeue / sharded-bloom dedup / dense
seq-assign / commit path has no hidden constant at 10^7-row rounds.

The fixture deliberately scales the FRONTIER, not the page bodies: the
synthetic web here is ~14.3M pages of ~4 spans each (bench pages carry
~100), so the parse/body stages — whose linear scaling is already
evidenced at bench scale (parse-stage N->4N 0.93-1.0) and at 100x for
the priciest corpus operator (tools/scale_proof.py) — stay small while
every frontier-proportional phase runs at 10x:

- dequeue over a 13M-row frontier (budget = frontier: one full-drain
  round),
- URL-seen dedup on the SHARDED BLOOM path (n_seen = 13M seeds is past
  the 4M broadcast crossover, so this is the 10^10-shape code path,
  not the bench's broadcast anti-join),
- dense seq assignment + the full write-behind commit (seen delta,
  frontier delta, consumed, fetch_log, documents pointer).

With a single round nothing can overlap the final commit, so the
reported wall INCLUDES the commit join (stats.elapsed_s) — the
conservative number; bench.py's steady-state span rightly excludes
only the final commit because a continuous crawl overlaps it.

Usage: python tools/crawl_scale_proof.py [multiplier]   # default 10
Prints one JSON line: per-leg walls + phase ticks + N->4N efficiency.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from time import perf_counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCRATCH = "/dev/shm/silkworm_crawl_scale"
N_HOSTS = 40
BENCH_ROUND = 1_300_000  # bench.py ROUND_BUDGET (the 1x reference)
MIN_SPANS, SPAN_SPREAD = 2, 4  # ~4 spans/page (see module docstring)


def fixture(mult: int) -> dict:
    budget = BENCH_ROUND * mult
    n_pages = int(budget * 1.1)
    return {
        "budget": budget,
        "n_pages": n_pages,
        "web": os.path.join(SCRATCH, f"web_{n_pages}"),
        "resolved": os.path.join(SCRATCH, f"resolved_{n_pages}"),
        "seeds": os.path.join(SCRATCH, f"seeds_{budget}.parquet"),
    }


def build_fixtures(mult: int) -> dict:
    """Web + resolved-redirect + seed fixtures, built once at full box
    width (outside every timed leg, like bench.py --prepare)."""
    from silkworm_spark.session import get_spark
    from silkworm_spark.sources.webgen import build_web_df, url_of

    fx = fixture(mult)
    os.makedirs(SCRATCH, exist_ok=True)
    spark = get_spark(app_name="crawl-scale-prep", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if not os.path.exists(os.path.join(fx["web"], "_SUCCESS")):
            build_web_df(
                spark, fx["n_pages"], N_HOSTS,
                min_spans=MIN_SPANS, span_spread=SPAN_SPREAD,
            ).write.mode("overwrite").parquet(fx["web"])
        if not os.path.exists(fx["seeds"]):
            import pandas as pd

            def gen(batches):
                for pdf in batches:
                    yield pd.DataFrame({
                        "url": [url_of(int(i), N_HOSTS, 42) for i in pdf["id"]],
                        "seq": pdf["id"].astype("int64"),
                        "priority": 0,
                    })

            (
                spark.range(0, fx["budget"], numPartitions=32)
                .mapInPandas(gen, schema="url string, seq long, priority int")
                .write.mode("overwrite").parquet(fx["seeds"] + ".tmp")
            )
            os.rename(fx["seeds"] + ".tmp", fx["seeds"])
        if not os.path.exists(os.path.join(fx["resolved"], "_SUCCESS")):
            # redirect resolution fixture shared by both legs (bench.py
            # does the same: it is derived from the web, not per-leg)
            from silkworm_spark.plans.engine import CrawlConfig, CrawlEngine

            eng = CrawlEngine(
                spark, tempfile.mkdtemp(prefix="fx_", dir=SCRATCH),
                CrawlConfig(max_rounds=1, round_budget=1),
                web=spark.read.parquet(fx["web"]),
            )
            eng._resolved_web(fx["resolved"])
    finally:
        spark.stop()
    return fx


def run_leg(cores: int, mult: int) -> dict:
    """Child mode: pinned engine leg, one full-drain round."""
    os.sched_setaffinity(0, set(range(cores)))
    from silkworm_spark.plans.engine import CrawlConfig, CrawlEngine
    from silkworm_spark.schemas import SEEDS_SCHEMA
    from silkworm_spark.session import get_spark

    fx = fixture(mult)
    spark = get_spark(
        app_name=f"crawl-scale-{cores}", master=f"local[{cores}]",
        shuffle_partitions=max(8, cores),
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        web = spark.read.parquet(fx["web"])
        # warmup: small crawl in the same session (JIT + python workers)
        warm_dir = tempfile.mkdtemp(prefix=f"warm_{cores}_", dir=SCRATCH)
        warm = CrawlEngine(
            spark, warm_dir,
            CrawlConfig(max_rounds=1, round_budget=4000,
                        num_partitions=max(8, cores), min_rows_per_partition=16),
            web=web,
        )
        warm._resolved_path = fx["resolved"]
        warm.initialize(
            spark.read.schema(SEEDS_SCHEMA).parquet(fx["seeds"]).limit(4000), None
        )
        warm.run()
        shutil.rmtree(warm_dir, ignore_errors=True)

        ckpt = tempfile.mkdtemp(prefix=f"run_{cores}_", dir=SCRATCH)
        engine = CrawlEngine(
            spark, ckpt,
            CrawlConfig(max_rounds=1, round_budget=fx["budget"],
                        num_partitions=max(8, cores)),
            web=web,
        )
        engine._resolved_web(fx["resolved"])  # fixture read, outside the timer
        engine.initialize(
            spark.read.schema(SEEDS_SCHEMA).parquet(fx["seeds"]), None
        )
        t0 = perf_counter()
        engine.run()
        wall = perf_counter() - t0
        out = dict(
            cores=cores,
            urls=engine.stats.requests_sent,
            wall_seconds=round(wall, 2),
            urls_per_sec=round(engine.stats.requests_sent / wall, 1),
            final_commit_seconds=round(engine.stats.final_commit_s, 2),
            timings=[r["timings"] for r in engine.stats.per_round],
        )
        shutil.rmtree(ckpt, ignore_errors=True)
        return out
    finally:
        spark.stop()


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description="One crawl round at MULTIPLIER x the bench round, "
        "at local[4] and local[16]."
    )
    ap.add_argument("multiplier", nargs="?", type=_positive_int, default=10,
                    help="round size as a multiple of the bench round (default 10)")
    mult = ap.parse_args(argv).multiplier
    t0 = perf_counter()
    fx = build_fixtures(mult)
    prep_s = round(perf_counter() - t0, 1)
    legs = {}
    for cores in (4, 16):
        out = os.path.join(SCRATCH, f"leg_{cores}.json")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--leg", str(cores), str(mult), out],
            check=True, timeout=5400,
        )
        with open(out) as f:
            legs[cores] = json.load(f)
        print(json.dumps({f"local[{cores}]": legs[cores]}), flush=True)
    eff = (legs[4]["wall_seconds"] / legs[16]["wall_seconds"]) / 4.0
    print(json.dumps({
        "crawl_scale_proof": {
            "round_urls": fx["budget"],
            "multiplier_vs_bench_round": mult,
            "n_pages": fx["n_pages"],
            "prepare_seconds": prep_s,
            "local4": legs[4],
            "local16": legs[16],
            "scaling_efficiency_n_to_4n": round(eff, 3),
        }
    }))


if __name__ == "__main__":
    if "--leg" in sys.argv:
        i = sys.argv.index("--leg")
        cores, mult, out_path = (
            int(sys.argv[i + 1]), int(sys.argv[i + 2]), sys.argv[i + 3]
        )
        res = run_leg(cores, mult)
        with open(out_path, "w") as f:
            json.dump(res, f)
    else:
        main()
