"""The benchmark's workloads: which operations a pass runs, in what order,
and how each operation's output is checked.

Every operation is a closure that builds a DataFrame (the engine's plan
construction, including any eager jobs it runs) plus a check of the
collected result. Every workload reads the sf0.01 test tables; the seed only
orders each pass and picks index_read's request batches. The engine is
imported inside functions, so that importing this module (perfbench/run.py
does) loads no engine code.
"""

from __future__ import annotations

import importlib
import os
import types
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

# Why each workload exists. BENCHMARK.json gates driver_loops and index_write,
# the pair that fits the gate's time budget with every layer measured;
# relational and index_read run from the same command.
REGISTRY_WORKLOADS = {
    # Executor- and Catalyst-bound queries that run no iterative
    # materialization and no index commit: the control on which driver-gap
    # and commit-tail changes should show no change.
    "relational": [
        "q1_pricing_summary",
        "q21_waiting_supplier",
        "join_multikey",
        "groupby_agg_core",
        "window_topk_per_group",
        "merge_asof_backward",
        "rolling_corr_cov",
        "agg_stats",
        "sort_values",
        "value_counts",
    ],
    # Eager jobs inside the query function and the driver gaps between
    # them: iterative connected components (large-star/small-star) and
    # MinHash-LSH near-dup pairs. No index is written or read.
    "driver_loops": [
        "dedup_components_star",
        "dedup_minhash_lsh",
    ],
    # A persisted-index lifecycle: build, screen a batch, bucketed append,
    # screen again, with the commit tail after each write.
    "index_write": [
        "dedup_index_ingest_loop",
    ],
}

# Median wall time of one timed pass on a 4-core host (after one warm-up
# pass). A run turns --seconds into a fixed number of passes with it.
REFERENCE_PASS_S = {
    "relational": 9.7,
    "driver_loops": 4.8,
    "index_write": 5.8,
    "index_read": 2.9,
}

# The table each index-building query indexes (index_bytes_per_input_byte).
INDEXED_TABLE = {"dedup_index_ingest_loop": "documents"}

INDEX_READ_REQUESTS = ("search", "screen")  # index_read's operation kinds
SEARCH_QUERIES = 40  # query vectors per ANN search request
# documents per dedup-screen request: a fifth of the held-out documents
# (100 of the 500 at sf0.01)
SCREEN_DOCS = 20
IVF_NPROBE, IVF_K, IVF_CELLS = 4, 5, 16  # the ann_ivf_persisted settings
SCREEN_THRESHOLD = 0.8
RECALL_FLOOR = 0.25  # ann_ivf_persisted's mean-recall bound vs brute force


@dataclass
class Op:
    name: str  # operation kind: a registry name, or "search" / "screen"
    build: Callable[[], object]  # returns the DataFrame of the final action
    check: Callable[[object], str | None]  # pandas result -> problem, or None


def redirect_index_roots(root: str) -> None:
    """Point every persisted-index default root of the engine (``/tmp/...``
    path_root defaults and maintenance's root table) under ``root``, so a
    run writes only inside its own directory."""
    names = [
        "sdc_spark.operators.dedup",
        "sdc_spark.operators.similarity",
        "sdc_spark.operators.retrieval",
        "sdc_spark.operators.maintenance",
    ]

    def moved(v):
        if isinstance(v, str) and v.startswith("/tmp/"):
            return os.path.join(root, os.path.basename(v))
        return v

    for name in names:
        mod = importlib.import_module(name)
        for fn in vars(mod).values():
            if isinstance(fn, types.FunctionType) and fn.__module__ == name:
                if fn.__defaults__:
                    fn.__defaults__ = tuple(moved(v) for v in fn.__defaults__)
                if fn.__kwdefaults__:
                    fn.__kwdefaults__ = {k: moved(v) for k, v in fn.__kwdefaults__.items()}
    roots = importlib.import_module("sdc_spark.operators.maintenance")._DEFAULT_ROOTS
    for kind in roots:
        roots[kind] = moved(roots[kind])


def _same(spark_pdf, expected_pdf) -> str | None:
    """The correctness gate's rule: row count, column names and an
    order-insensitive value hash (tools/check_correctness.py)."""
    from tools.check_correctness import canonicalize, frame_hash

    a, b = canonicalize(spark_pdf), canonicalize(expected_pdf)
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if list(a.columns) != list(b.columns):
        return f"cols {list(a.columns)} vs {list(b.columns)}"
    if frame_hash(a) != frame_hash(b):
        return "value-hash mismatch"
    return None


class Context:
    """What operations need: the session, the input tables and a DuckDB
    connection with one view per table for the oracles."""

    def __init__(self, spark, data_dir: str) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self._duck = None

    def duck(self):
        if self._duck is None:
            import duckdb

            from sdc_spark.sources.readers import TABLES, table_path

            self._duck = duckdb.connect()
            for t in TABLES:
                p = table_path(self.data_dir, t)
                self._duck.execute(
                    f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        return self._duck

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


class RegistryWorkload:
    """A fixed list of registry queries, shuffled by the seed each pass and
    checked against their DuckDB oracles."""

    def __init__(self, ctx: Context, names: list[str]) -> None:
        from sdc_spark.plans.registry import ORACLES, QUERIES

        self.ctx, self.names = ctx, names
        self.queries, self.oracles = QUERIES, ORACLES

    def setup(self) -> None:
        pass

    def input_bytes(self) -> int:
        from sdc_spark.sources.readers import table_path

        return sum(
            os.path.getsize(table_path(self.ctx.data_dir, INDEXED_TABLE[n]))
            for n in self.names
            if n in INDEXED_TABLE
        )

    def pass_ops(self, rng: np.random.Generator) -> list[Op]:
        return [self._op(self.names[i]) for i in rng.permutation(len(self.names))]

    def _op(self, name: str) -> Op:
        fn, ctx = self.queries[name], self.ctx

        def check(pdf):
            return _same(pdf, ctx.duck().sql(self.oracles[name]).df())

        return Op(name, lambda: fn(ctx.spark, ctx.data_dir), check)


class IndexReadWorkload:
    """Read-only serving of two persisted indexes built once in set-up: an
    IVF index over ``embeddings`` and an LSH index over the 4/5 of
    ``documents`` whose id is not a multiple of 5. Each pass alternates ANN
    searches of SEARCH_QUERIES seeded query vectors with dedup screens of
    SCREEN_DOCS seeded documents from the held-out fifth."""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    def setup(self) -> None:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        import sdc_spark.operators.dedup as sdedup
        import sdc_spark.operators.similarity as ssim
        from sdc_spark.sources.readers import table_path

        spark, d = self.ctx.spark, self.ctx.data_dir
        self.emb = spark.read.parquet(table_path(d, "embeddings"))
        self.docs = spark.read.parquet(table_path(d, "documents"))
        corpus = self.docs.filter(F.col("doc_id") % 5 != 0)
        self.cent_p, self.cells_p = ssim.write_ivf_index(
            spark, self.emb, name="bench_ivf", n_cells=IVF_CELLS, overwrite=True
        )
        self.bands_t, self.grams_t = sdedup.write_lsh_index(
            spark, corpus, "text", "doc_id", "bench_lsh", overwrite=True
        )
        self.vec_ids = np.sort(pq.read_table(table_path(d, "embeddings"), columns=["vec_id"])
                               .column(0).to_numpy())
        doc_ids = pq.read_table(table_path(d, "documents"), columns=["doc_id"]).column(0).to_numpy()
        self.new_doc_ids = np.sort(doc_ids[doc_ids % 5 == 0])
        self._pairs = None

    def input_bytes(self) -> int:
        from sdc_spark.sources.readers import table_path

        return sum(
            os.path.getsize(table_path(self.ctx.data_dir, t)) for t in ("embeddings", "documents")
        )

    def pass_ops(self, rng: np.random.Generator) -> list[Op]:
        vecs = rng.choice(self.vec_ids, SEARCH_QUERIES, replace=False)
        docs = rng.choice(self.new_doc_ids, SCREEN_DOCS, replace=False)
        return [self._search([int(i) for i in vecs]), self._screen([int(i) for i in docs])]

    def _search(self, ids: list[int]) -> Op:
        import pandas as pd
        from pyspark.sql import functions as F

        import sdc_spark.operators.similarity as ssim

        q = self.emb.filter(F.col("vec_id").isin(ids))

        def build():
            return ssim.ann_ivf_search_index(
                self.ctx.spark, self.cent_p, self.cells_p, q, k=IVF_K, nprobe=IVF_NPROBE
            )

        def check(pdf):
            # the twins ann_ivf_persisted is graded against: the in-session
            # IVF search (row-for-row equal) and brute force (mean recall)
            insess = ssim.ann_ivf_topk(
                self.emb, q, k=IVF_K, n_cells=IVF_CELLS, nprobe=IVF_NPROBE
            ).select("qid", "rank", "nid").toPandas()
            problem = _same(pdf[["qid", "rank", "nid"]], insess)
            if problem:
                return f"differs from in-session search: {problem}"
            exact = ssim.ann_bruteforce_topk(self.emb, q, k=IVF_K).toPandas()
            hits = pd.merge(pdf, exact, on=["qid", "nid"]).groupby("qid").size()
            recall = hits.reindex(ids, fill_value=0).mean() / IVF_K
            if recall < RECALL_FLOOR:
                return f"mean recall {recall:.3f} < {RECALL_FLOOR}"
            return None

        return Op("search", build, check)

    def _screen(self, ids: list[int]) -> Op:
        from pyspark.sql import functions as F

        import sdc_spark.operators.dedup as sdedup

        spark = self.ctx.spark
        new = self.docs.filter(F.col("doc_id").isin(ids))

        def build():
            return sdedup.screen_against_index(
                spark.table(self.bands_t), spark.table(self.grams_t), new,
                "text", "doc_id", threshold=SCREEN_THRESHOLD,
            )

        def check(pdf):
            # dedup_incremental_persisted's oracle: exact cross pairs of the
            # held-out fifth against the corpus, restricted to this batch
            if self._pairs is None:
                from sdc_spark.plans.registry import ORACLES

                self._pairs = self.ctx.duck().sql(ORACLES["dedup_incremental_persisted"]).df()
            expected = self._pairs[self._pairs["new_doc"].isin(ids)]
            return _same(pdf, expected)

        return Op("screen", build, check)


WORKLOADS = (*REGISTRY_WORKLOADS, "index_read")


def make(name: str, ctx: Context):
    if name == "index_read":
        return IndexReadWorkload(ctx)
    return RegistryWorkload(ctx, REGISTRY_WORKLOADS[name])
