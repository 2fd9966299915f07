"""Persisted posting index: the served scores must equal in-session
batch BM25 from the same corpus snapshot — through the append round-trip
— and appends must not shatter the bucket layout into small files."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

import sdc_spark.operators.retrieval as sret
from sdc_spark.operators.maintenance import INDEX_BUCKETS

NAME = "pytest_lexidx"
ROOT = "/tmp/sdc_spark_postidx"


@pytest.fixture()
def docs(spark, sf_dir):
    from sdc_spark.sources.readers import read_table

    return read_table(spark, sf_dir, "documents").select("doc_id", "text")


def _served(spark, q):
    return {
        (r["qid"], r["doc"]): (r["n_hit_terms"], round(r["score"], 9))
        for r in sret.bm25_from_index(spark, NAME, q).collect()
    }


def _insession(spark, corpus, q):
    return {
        (r["qid"], r["doc"]): (r["n_hit_terms"], round(r["score"], 9))
        for r in sret.bm25_multi(corpus, q, "text", "doc_id").collect()
    }


def test_index_serves_bm25_through_append(spark, docs):
    q = spark.createDataFrame(
        [(0, "vector"), (0, "hash"), (1, "merge"), (1, "stream")],
        "qid int, term string",
    )
    base = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    sret.drop_posting_index(spark, NAME)
    try:
        sret.write_posting_index(spark, base, "text", "doc_id", NAME)
        assert _served(spark, q) == _insession(spark, base, q)
        sret.append_posting_index(spark, batch, "text", "doc_id", NAME)
        assert _served(spark, q) == _insession(spark, docs, q)
        # additive stats: two rows whose totals equal the full corpus
        st = spark.table(f"lexstats_{NAME}").agg(
            F.count(F.lit(1)).alias("rows"), F.sum("n_docs").alias("n")
        ).collect()[0]
        assert st["rows"] == 2 and st["n"] == docs.count()
        # append laid down ~one file per bucket, not a blizzard
        files = glob.glob(f"{ROOT}/{NAME}/postings/*.parquet")
        assert 0 < len(files) <= 2 * INDEX_BUCKETS, len(files)
        # idempotent reuse: a second write call must NOT rebuild
        t1, t2 = sret.write_posting_index(spark, base, "text", "doc_id", NAME)
        assert (t1, t2) == (f"postings_{NAME}", f"lexstats_{NAME}")
        assert spark.table(f"lexstats_{NAME}").count() == 2
    finally:
        sret.drop_posting_index(spark, NAME)


def test_compact_and_delete_posting_index(spark, docs):
    q = spark.createDataFrame(
        [(0, "vector"), (0, "hash"), (1, "merge")], "qid int, term string"
    )
    base = docs.filter(F.col("doc_id") % 5 != 0)
    b1 = docs.filter(F.col("doc_id") % 5 == 0)
    sret.drop_posting_index(spark, NAME)
    try:
        sret.write_posting_index(spark, base, "text", "doc_id", NAME)
        sret.append_posting_index(spark, b1, "text", "doc_id", NAME)
        before = _served(spark, q)
        sret.compact_posting_index(spark, NAME)
        assert _served(spark, q) == before  # bit-identical service
        files = glob.glob(f"{ROOT}/{NAME}/postings/*.parquet")
        assert 0 < len(files) <= INDEX_BUCKETS, len(files)
        # takedown (deferred/tombstone default): served == in-session
        # BM25 on the surviving corpus, INCLUDING the shifted (N, avgdl)
        # normalization from the negative additive stats row
        def _index_files():
            return {
                (f, os.path.getsize(f))
                for f in glob.glob(f"{ROOT}/{NAME}/postings/*.parquet")
            }

        before_files = _index_files()
        gone = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
        sret.delete_from_posting_index(spark, gone, NAME)
        survivors = docs.filter(F.col("doc_id") % 7 != 0)
        assert _served(spark, q) == _insession(spark, survivors, q)
        n = spark.table(f"lexstats_{NAME}").agg(F.sum("n_docs")).collect()[0][0]
        assert n == survivors.count()
        # O(|batch|) write: the posting files are BYTE-UNTOUCHED — only
        # the tiny tombstone log + one stats row were written
        assert _index_files() == before_files
        tomb_bytes = sum(
            os.path.getsize(f)
            for f in glob.glob(f"{ROOT}/{NAME}/tombstones/*.parquet")
        )
        index_bytes = sum(sz for _, sz in before_files)
        assert 0 < tomb_bytes < index_bytes / 4, (tomb_bytes, index_bytes)
        # double-delete of already-tombstoned ids must not double-subtract
        sret.delete_from_posting_index(spark, gone, NAME)
        n2 = spark.table(f"lexstats_{NAME}").agg(F.sum("n_docs")).collect()[0][0]
        assert n2 == survivors.count()
        assert _served(spark, q) == _insession(spark, survivors, q)
        # compaction applies the log physically: tombstone table gone,
        # stored docs == survivors, service bit-identical
        served_before = _served(spark, q)
        sret.compact_posting_index(spark, NAME)
        assert not spark.catalog.tableExists(f"lexdel_{NAME}")
        stored = {
            r["doc"]
            for r in spark.table(f"postings_{NAME}").select("doc").distinct().collect()
        }
        assert stored == {r["doc_id"] for r in survivors.select("doc_id").collect()}
        assert _served(spark, q) == served_before
    finally:
        sret.drop_posting_index(spark, NAME)


def test_eager_delete_has_no_forced_broadcast(spark, docs):
    """Takedowns leave join strategy to AQE: a bulk expiry's id set can
    be corpus-scale, and a forced broadcast of it is a driver OOM. Pin
    the plan shape of the anti-join compaction applies (raw postings
    against the id log): no broadcast hint reaches it. The delete itself
    only logs ids; its serve-side anti-join and the shared log and
    replace helpers are pinned at source level."""
    base = docs.filter(F.col("doc_id") % 5 != 0)
    sret.drop_posting_index(spark, NAME)
    try:
        sret.write_posting_index(spark, base, "text", "doc_id", NAME)
        ids = docs.filter(F.col("doc_id") % 7 == 0).select(
            F.col("doc_id").alias("doc")
        ).distinct()
        remaining = spark.read.parquet(f"{ROOT}/{NAME}/postings").join(
            ids, "doc", "left_anti"
        )
        logical = remaining._jdf.queryExecution().logical().toString()
        assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical
        # and the tombstone path's serve-side anti-join is hint-free too
        sret.delete_from_posting_index(spark, ids, NAME, id_col="doc")
        q = spark.createDataFrame([(0, "vector")], "qid int, term string")
        served = {r["doc"] for r in sret.bm25_from_index(spark, NAME, q).collect()}
        assert served  # tombstoned serve still works end-to-end
        # source-level guard (the serve anti-join lives behind the
        # materialize boundary, so plan strings can't see it): no
        # F.broadcast() is ever applied to a tombstone frame — neither in
        # the posting module nor in the shared lifecycle helpers that
        # read, extend and apply the logs
        import inspect

        from sdc_spark.operators import maintenance as maint

        src = inspect.getsource(sret)
        for fn in ("delete_from_posting_index", "compact_posting_index"):
            body = src.split(f"def {fn}(")[1].split("\ndef ")[0]
            assert "F.broadcast" not in body, fn
        serve_body = src.split("def bm25_from_index(")[1].split("\ndef ")[0]
        tomb_seg = serve_body.split("posting_tombstones")[1].split("_materialize")[0]
        assert "F.broadcast" not in tomb_seg
        for helper in (
            maint.read_log,
            maint.unlogged,
            maint.append_log,
            maint.save_table,
            maint.replace_table,
            maint.clear_logs,
        ):
            assert "broadcast" not in inspect.getsource(helper), helper.__name__
    finally:
        sret.drop_posting_index(spark, NAME)
