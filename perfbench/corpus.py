"""The corpus_ops workload: corpus operators from ``__spark_entry__``
over a documents and an embeddings table generated from the seed,
each query checked against its DuckDB oracle.

Each operation is one query, materialized to pandas. One client runs
passes over the query list in a seed-shuffled order. Shuffling exposes
a query that rides on another's cached state.
"""

from __future__ import annotations

import math
import os
import random
import sys
import traceback
from time import perf_counter

import numpy as np

from perfbench.tracing import Tracer, percentile

# One query per corpus operator module, the cheaper one where a module
# has several. All of queries() takes ~35 s at 4 cores; eight leave room
# for a warm-up pass and two timed passes inside a run's wall budget.
QUERIES = {
    "dedup_minhash_lsh": "dedup_corpus",
    "embed_ivf_topk": "similarity",
    "text_token_stats": "textstats",
    "dedup_clusters": "graph",
    "multimodal_real_decode": "multimodal",
    "pii_scan": "pii",
    "contamination_ngrams": "decontam",
    "token_budget_pack": "corpus_pipeline",
}

# passes over the query list in a timed loop, at least; each pass
# starts the order at another place (see run())
MIN_PASSES = 2

N_DOCS = 500
N_VECS = 500
DIM = 64
_VOCAB = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "window spark order data column join small line customer query big "
    "filter sort stream group vector"
).split()
_LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]


def build_tables(seed: int, cache_dir: str) -> str:
    """documents and embeddings parquet for the seed, in the layout the
    queries read (``<dir>/<table>.parquet``). About 5% of documents
    repeat an earlier one with a marker token appended, so the dedup,
    clustering and decontamination operators have near-duplicates to
    find."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(cache_dir, "tables")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[k] for k in rng.integers(0, len(_VOCAB), n)))
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[k] for k in rng.integers(0, len(_LANGS), N_DOCS)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(size=(10, DIM))
    vecs = 0.15 * centers[labels] + rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
    open(done, "w").close()
    return out


def normalize(df):
    """Column- and row-order-free form of a result, as the repository's
    oracle test compares them."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frames_match(got, want) -> bool:
    """Same columns, row count and values; floats to 1e-9 absolute."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(w.dtype, np.floating):
            if not np.allclose(g.astype(float), w.astype(float), rtol=0, atol=1e-9):
                return False
        elif (g != w).any():
            return False
    return True


class CorpusWorkload:
    def __init__(self, spark, seed: int, cache_dir: str) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.data_dir = build_tables(seed, cache_dir)
        qs = entry.queries()
        self.queries = {name: qs[name] for name in QUERIES}
        self.oracles = entry.oracle_sql()
        self.order = sorted(QUERIES)
        random.Random(seed).shuffle(self.order)

    def setup(self) -> None:
        """Warm-up: one pass over the query list spawns the Python
        workers, loads the tables into the page cache and compiles every
        query's plan once; a cold pass takes about twice a warm one and
        varies far more."""
        t0 = perf_counter()
        for name in self.order:
            self.queries[name](self.spark, self.data_dir).toPandas()
        self.warm_up_s = perf_counter() - t0

    def run(self, seconds: float, tracer: Tracer | None = None) -> dict:
        """Passes over the query list: as many as ``seconds`` holds at
        half the cold warm-up pass's wall, at least MIN_PASSES.
        Each pass starts the seed's order at another place, so each
        query runs early, midway and late in a pass. A query's wall
        still falls over the first passes as the JVM compiles; in a
        fixed order the queries that came first read up to 1.4x their
        wall when last, which moved the metrics with the seed."""
        passes = max(MIN_PASSES, int(seconds / (self.warm_up_s / 2)))
        n = len(self.order)
        walls: dict[str, list] = {name: [] for name in self.order}
        frames, failed = {}, set()
        for k in range(passes):
            shift = k * n // passes
            for name in self.order[shift:] + self.order[:shift]:
                if name in failed:
                    continue
                t0 = perf_counter()
                try:
                    if tracer is None:
                        pdf = self.queries[name](self.spark, self.data_dir).toPandas()
                    else:
                        tracer.parent = f"pass{k + 1}"
                        with tracer.span(f"query.{name}"):
                            pdf = self.queries[name](self.spark, self.data_dir).toPandas()
                except Exception:  # a failed query is reported, not fatal
                    traceback.print_exc(file=sys.stderr)
                    failed.add(name)
                    continue
                walls[name].append(perf_counter() - t0)
                frames.setdefault(name, pdf)
        if tracer is not None:
            tracer.set_group(None)
        return dict(walls=walls, errors=failed, frames=frames)

    def check(self, result: dict) -> tuple[int, int]:
        """(attempted, failed) queries; results of the first pass are
        compared with DuckDB outside the timed loop."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.data_dir, t)}.parquet'")
            attempted = sum(len(w) for w in result["walls"].values()) + len(result["errors"])
            failed = len(result["errors"])
            for name, pdf in result["frames"].items():
                if not frames_match(pdf, con.sql(self.oracles[name]).df()):
                    print(f"corpus_ops: {name} differs from its DuckDB oracle",
                          file=sys.stderr)
                    failed += len(result["walls"][name])
        finally:
            con.close()
        return attempted, failed

    def headline(self, result: dict) -> dict:
        """Per query the median of its walls; the queries differ ~15x in
        wall, so one median over all walls would jump between two
        queries' walls as the sample shifts."""
        medians = [percentile(w, 50) for w in result["walls"].values() if w]
        total = sum(medians)
        return dict(
            # queries per second of a pass at the median walls
            work_per_s=len(medians) / total if total else 0.0,
            # the typical query: geometric mean of the medians, so each
            # query's relative change counts alike
            op_s_p50=math.exp(sum(map(math.log, medians)) / len(medians))
            if medians else 0.0,
            corpus_s=total,
            ops=sum(len(w) for w in result["walls"].values()),
        )

    def layer_metrics(self, result: dict, tracer: Tracer, totals: dict) -> dict:
        return {f"query.{n}_s": percentile(w, 50) if w else 0.0
                for n, w in result["walls"].items()}
