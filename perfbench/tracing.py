"""Measurement helpers of the benchmark: percentiles, the process-tree
sampler, layer spans recorded around the engine's calls, and the
Spark event-log reader that charges task time to those layers.

Nothing here imports pyspark at module level, so the helpers are
testable without a JVM.
"""

from __future__ import annotations

import json
import os
import threading
import time
from bisect import bisect_right
from contextlib import contextmanager

# Job group the benchmark's own bookkeeping jobs run under; excluded from
# every layer's totals.
TRACE_GROUP = "bench.trace"


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty
    sample; small samples are the norm here (2-3 rounds per crawl)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---------------------------------------------------------------- /proc


def _read_stat(pid: str):
    """(ppid, cpu_seconds) of one process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    # fields after "(comm)": state ppid ... utime(11) stime(12)
    return int(rest[1]), (int(rest[11]) + int(rest[12])) / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    between the processes sharing it. The Python workers are forks of one
    daemon, so summing their plain RSS would count its pages once per
    worker and jump with the number of workers alive."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def process_tree(root_pid: int) -> dict[int, tuple[float, int]]:
    """pid -> (cpu_seconds, pss_bytes) for root_pid and all descendants
    (the driver, its JVM and the JVM's Python workers)."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(name)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in out or pid not in stats:
            continue
        out[pid] = (stats[pid][1], _pss_bytes(pid))
        stack.extend(children.get(pid, []))
    return out


class TreeSampler:
    """Polls the process tree's resident memory (as PSS) and CPU time.
    The peak is the largest sum seen in one poll. CPU is accumulated per pid
    (last minus first reading), so a Python worker that exits keeps
    the CPU it used up to its last poll: the kernel drops the times of
    auto-reaped children, so a single end-minus-start tree total would
    undercount."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_rss = 0
        self._first: dict[int, float] = {}
        self._last: dict[int, float] = {}
        self._t0 = self._t1 = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def poll(self) -> None:
        tree = process_tree(os.getpid())
        self.peak_rss = max(self.peak_rss, sum(rss for _, rss in tree.values()))
        for pid, (cpu, _) in tree.items():
            self._first.setdefault(pid, cpu)
            self._last[pid] = cpu

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.poll()

    def __enter__(self) -> "TreeSampler":
        self._t0 = time.perf_counter()
        self.poll()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.poll()
        self._t1 = time.perf_counter()

    def cpu_seconds(self) -> float:
        return sum(self._last[p] - self._first[p] for p in self._last)

    def cores_busy(self) -> float:
        wall = self._t1 - self._t0
        return self.cpu_seconds() / wall if wall > 0 else 0.0


# ---------------------------------------------------------------- spans


class Tracer:
    """Records one span per call into a layer and sets the Spark job
    group to that layer, so jobs the call starts, and lazy jobs started
    after it in the same thread, carry the layer's name. Boundaries
    (entry times) let ``attribute_jobs`` place jobs that carry no
    group, such as those of the engine's second driver thread."""

    def __init__(self, set_group) -> None:
        self.set_group = set_group  # callable(layer or None)
        self.spans: list[dict] = []
        self.boundaries: list[tuple[float, str]] = []
        self.counts: dict[str, float] = {}
        self.parent: str | None = None

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def enter(self, layer: str) -> None:
        self.boundaries.append((time.time(), layer))
        self.set_group(layer)

    @contextmanager
    def span(self, layer: str):
        self.enter(layer)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(dict(name=layer, start=t0, end=time.time(),
                                   parent=self.parent))

    def wrap(self, layer: str, fn, after=None):
        """fn wrapped in a span; ``after(result, args, kwargs)`` records
        counts from the result outside the span."""
        def wrapped(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out
        wrapped.__wrapped__ = fn
        return wrapped

    def layer_wall(self, layer: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == layer)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(dict(spans=self.spans, boundaries=self.boundaries,
                           counts=self.counts), f)


@contextmanager
def patched(targets):
    """Temporarily replace attributes: targets is [(obj, name, new)]."""
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in targets]
    try:
        for obj, name, new in targets:
            setattr(obj, name, new)
        yield
    finally:
        for obj, name, old in reversed(saved):
            setattr(obj, name, old)


# ---------------------------------------------------------------- event log

_KEEP = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')


def read_event_log(path: str):
    """Jobs and task metrics from one uncompressed, unrolled Spark event
    log. Returns (jobs, tasks): jobs = {job_id: (submit_epoch_s, group,
    stage_ids)}, tasks = [(stage_id, metrics)] with metrics in seconds
    and bytes. Only the two event kinds needed are JSON-decoded; the
    SQL plan events that make up most of the file are skipped by
    prefix."""
    jobs, tasks = {}, []
    with open(path) as f:
        for line in f:
            if not line.startswith(_KEEP):
                continue
            e = json.loads(line)
            if e["Event"] == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = (
                    e["Submission Time"] / 1000.0,
                    props.get("spark.jobGroup.id"),
                    e["Stage IDs"],
                )
            else:
                m = e.get("Task Metrics")
                if not m:
                    continue
                tasks.append((e["Stage ID"], dict(
                    run_s=m["Executor Run Time"] / 1000.0,
                    gc_s=m["JVM GC Time"] / 1000.0,
                    shuffle_write_bytes=m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    spill_bytes=m["Disk Bytes Spilled"],
                )))
    return jobs, tasks


def attribute_jobs(jobs, boundaries, t0: float, t1: float) -> dict[int, str]:
    """job_id -> layer for jobs submitted in [t0, t1]. A job takes its
    job group when the group names a layer; otherwise the last layer
    entered at or before its submission. Jobs of the benchmark's own
    bookkeeping group are dropped."""
    bounds = sorted(boundaries)
    times = [t for t, _ in bounds]
    layers = {name for _, name in bounds}
    out = {}
    for job_id, (t, group, _) in jobs.items():
        if not (t0 <= t <= t1) or group == TRACE_GROUP:
            continue
        if group in layers:
            out[job_id] = group
            continue
        i = bisect_right(times, t) - 1
        out[job_id] = bounds[i][1] if i >= 0 else "other"
    return out


def layer_totals(jobs, tasks, job_layer: dict[int, str]) -> dict[str, dict]:
    """Per-layer sums of task metrics plus job counts ("jobs")."""
    # a shuffle stage listed by several jobs runs in the first of them
    stage_layer: dict[int, str] = {}
    for j in sorted(job_layer):
        for s in jobs[j][2]:
            stage_layer.setdefault(s, job_layer[j])
    out: dict[str, dict] = {}
    for layer in job_layer.values():
        out.setdefault(layer, dict(jobs=0, run_s=0.0, gc_s=0.0,
                                   shuffle_write_bytes=0, spill_bytes=0))
        out[layer]["jobs"] += 1
    for stage, m in tasks:
        layer = stage_layer.get(stage)
        if layer is None:
            continue
        for k, v in m.items():
            out[layer][k] += v
    return out
