#!/usr/bin/env python3
"""Benchmark of the crawl engine and the corpus operators.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the per-layer ones, from spans recorded around the
engine's calls and a Spark event log switched on for that run. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
from time import perf_counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_KEEP = 10  # input caches kept per workload (web + simulator answer)


def _heap_mb() -> int:
    """Driver heap from box RAM: an eighth of it, within [1, 4] GiB. The
    JVM, its Python workers and the on-disk fixtures share the box."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 8))


def _environment(work: str, trace: bool) -> None:
    """Everything the JVM and its Python workers need, set before the
    JVM starts: workers import silkworm_spark whatever their working
    directory, and all scratch stays inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env.pop("SPARK_GRAFT_MASTER", None)
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    heap = f"{_heap_mb()}m"
    env["SPARK_DRIVER_MEMORY"] = heap
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = [
        "spark.ui.showConsoleProgress=false",
        # the whole heap resident from the start: otherwise the JVM's
        # share of peak memory follows when G1 happens to grow the heap,
        # which moved a run's peak by up to 0.5 GB
        f"spark.driver.extraJavaOptions=-Xms{heap} -XX:+AlwaysPreTouch",
    ]
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events, exist_ok=True)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf
    ) + " pyspark-shell"


def _prune_caches(cache_root: str, workload: str) -> None:
    dirs = [os.path.join(cache_root, d) for d in os.listdir(cache_root)
            if d.startswith(workload + "-")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[CACHE_KEEP:]:
        shutil.rmtree(d, ignore_errors=True)


def _stop(spark) -> None:
    """Stops Spark and waits for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _spark_metrics(event_log: str, tracer, t0: float, t1: float, ops: int):
    from perfbench.tracing import attribute_jobs, layer_totals, read_event_log

    jobs, tasks = read_event_log(event_log)
    totals = layer_totals(jobs, tasks, attribute_jobs(jobs, tracer.boundaries, t0, t1))
    all_layers = list(totals.values())
    out = {
        "spark.jobs_per_op": sum(t["jobs"] for t in all_layers) / ops if ops else 0.0,
        "spark.task_s": sum(t["run_s"] for t in all_layers),
        "spark.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in all_layers),
        "spark.spill_bytes": sum(t["spill_bytes"] for t in all_layers),
        "spark.gc_s": sum(t["gc_s"] for t in all_layers),
    }
    return totals, out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)

    if not os.path.isdir(os.path.join(ROOT, "silkworm_spark")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: no silkworm_spark package or __spark_entry__.py in {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    from perfbench.crawl import SPECS

    # crawl_polite runs by hand only; see README.md
    if args.workload not in {w["name"] for w in bench["workloads"]} | set(SPECS):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    cache_root = os.path.join(ROOT, ".bench_cache")
    cache = os.path.join(cache_root, f"{args.workload}-{args.seed}")
    os.makedirs(cache, exist_ok=True)
    os.utime(cache)
    _prune_caches(cache_root, args.workload)
    _environment(work, bool(args.trace))

    from perfbench.tracing import Tracer, TreeSampler
    from silkworm_spark.session import get_spark

    t = perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = perf_counter() - t
    try:
        if args.workload == "corpus_ops":
            from perfbench.corpus import CorpusWorkload

            wl = CorpusWorkload(spark, args.seed, cache)
        else:
            from perfbench.crawl import CrawlWorkload

            wl = CrawlWorkload(spark, args.workload, args.seed, cache, work)
        t = perf_counter()
        wl.setup()
        setup_s = session_s + perf_counter() - t

        with TreeSampler() as sampler:
            result = wl.run(args.seconds)
        head = wl.headline(result)
        checked = [result]
        if args.trace:
            sc = spark.sparkContext
            tracer = Tracer(lambda layer: sc.setLocalProperty("spark.jobGroup.id", layer))
            t0 = time.time()
            with TreeSampler() as traced_sampler:
                traced = wl.run(args.seconds, tracer)
            t1 = time.time()
            checked.append(traced)
            event_log = os.path.join(work, "eventlog", sc.applicationId)
        attempted = failed = 0
        for res in checked:
            a, b = wl.check(res)
            attempted += a
            failed += b
    finally:
        _stop(spark)

    if args.trace:
        traced_head = wl.headline(traced)
        totals, spark_m = _spark_metrics(event_log, tracer, t0, t1, traced_head["ops"])
        values = wl.layer_metrics(traced, tracer, totals)
        values.update(spark_m)
        values["box.cores_busy"] = traced_sampler.cores_busy()
        values["trace_overhead"] = (
            head["work_per_s"] / traced_head["work_per_s"] - 1.0
            if traced_head["work_per_s"] else 0.0
        )
        tracer.dump(os.path.join(work, "spans.json"))
        wanted = bench["per_layer"]
    else:
        values = dict(head, setup_s=setup_s, peak_rss_gb=sampler.peak_rss / 2**30)
        wanted = bench["end_to_end"]
    # scratch is large (checkpoints, event log); spans.json is kept
    for name in os.listdir(work):
        if name != "spans.json":
            p = os.path.join(work, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)

    readable = {k: v for k, v in head.items() if k not in ("work_per_s", "op_s_p50", "ops")}
    readable["setup_s"] = setup_s
    readable["failed_ratio"] = failed / attempted if attempted else 1.0
    print(" ".join(f"{k}={v:.6g}" for k, v in readable.items()))
    # a layer this workload never enters reports 0
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0) if args.trace
                                   else values[m["name"]]), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps(dict(correct=failed == 0 and attempted > 0,
                          attempted=max(attempted, 1), failed=failed,
                          metrics=metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
