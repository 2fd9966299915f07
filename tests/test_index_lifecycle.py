"""Shared persisted-index lifecycle (operators/maintenance.py): appends,
deletes and compactions refuse a root the index was never written to,
and an in-session append is visible to readers without a catalog
refresh."""

from __future__ import annotations

import os
import re
import threading
import time

import pytest
from pyspark.sql import functions as F

import sdc_spark.operators.dedup as sdedup
import sdc_spark.operators.retrieval as sret
import sdc_spark.operators.similarity as ssim
from sdc_spark.operators.maintenance import index_lock
from sdc_spark.sources.readers import read_table

NAME = "pytest_lifecycle"


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_mismatched_root_raises_and_creates_nothing(spark, docs, tmp_path):
    """Every append, delete and compaction refuses a ``path_root`` its
    index was never written under — before any write, lock or directory
    creation — and leaves the index at its real root untouched."""
    written, wrong = str(tmp_path / "written"), str(tmp_path / "wrong")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    ids = batch.select("doc_id")
    calls = {
        "append_posting": lambda: sret.append_posting_index(
            spark, batch, "text", "doc_id", NAME, path_root=wrong
        ),
        "delete_posting": lambda: sret.delete_from_posting_index(
            spark, ids, NAME, path_root=wrong
        ),
        "compact_posting": lambda: sret.compact_posting_index(
            spark, NAME, path_root=wrong
        ),
        "append_lsh": lambda: sdedup.append_lsh_index(
            spark, batch, "text", "doc_id", NAME, path_root=wrong
        ),
        "delete_lsh": lambda: sdedup.delete_from_lsh_index(
            spark, ids, NAME, path_root=wrong
        ),
        "compact_lsh": lambda: sdedup.compact_lsh_index(spark, NAME, path_root=wrong),
        "append_substring": lambda: sdedup.append_substring_index(
            spark, batch, "text", "doc_id", NAME, path_root=wrong
        ),
        "delete_substring": lambda: sdedup.delete_from_substring_index(
            spark, batch, "text", "doc_id", NAME, path_root=wrong
        ),
        "compact_substring": lambda: sdedup.compact_substring_index(
            spark, NAME, path_root=wrong
        ),
        "append_ivf": lambda: ssim.append_ivf_index(
            spark, batch, f"{wrong}/{NAME}/centroids", f"{wrong}/{NAME}/cells"
        ),
        "delete_ivf": lambda: ssim.delete_from_ivf_index(
            spark, ids, NAME, path_root=wrong
        ),
        "compact_ivf": lambda: ssim.compact_ivf_index(spark, NAME, path_root=wrong),
    }
    sret.drop_posting_index(spark, NAME, path_root=written)
    try:
        sret.write_posting_index(
            spark, base, "text", "doc_id", NAME, path_root=written
        )
        for op, call in calls.items():
            with pytest.raises(FileNotFoundError, match=re.escape(wrong)):
                call()
            assert not os.path.exists(wrong), op
        # the index at its real root is untouched
        assert sret.posting_tombstones(spark, NAME) is None
        n = spark.table(f"lexstats_{NAME}").agg(F.sum("n_docs")).collect()[0][0]
        assert n == base.count()
    finally:
        sret.drop_posting_index(spark, NAME, path_root=written)


def test_append_waits_out_a_compaction_window(spark, docs, tmp_path):
    """An append that starts while a compaction holds the lock and has
    deleted a data directory for its stage-then-replace waits for the
    lock instead of raising, then lands in the rewritten index."""
    root = str(tmp_path / "lsh")
    idx = f"{root}/{NAME}"
    base = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    added = {
        r.doc
        for r in sdedup.gram_index(batch, "text", "doc_id").select("doc").collect()
    }
    sdedup.drop_lsh_index(spark, NAME, path_root=root)
    try:
        sdedup.write_lsh_index(spark, base, "text", "doc_id", NAME, path_root=root)
        errs, done = [], threading.Event()

        def append():
            try:
                sdedup.append_lsh_index(
                    spark, batch, "text", "doc_id", NAME, path_root=root
                )
            except Exception as e:  # noqa: BLE001 - surfaced below
                errs.append(e)
            done.set()

        with index_lock(idx):
            # the compaction's window: the data directory is gone
            os.rename(f"{idx}/bands", f"{idx}/bands.staged")
            t = threading.Thread(target=append)
            t.start()
            time.sleep(1.0)
            assert not done.is_set() and not errs, errs
            os.rename(f"{idx}/bands.staged", f"{idx}/bands")
        t.join(timeout=300)
        assert done.is_set() and not errs, errs
        seen = {
            r.doc
            for r in spark.table(f"lsh_grams_{NAME}").select("doc").distinct().collect()
        }
        assert added <= seen
    finally:
        sdedup.drop_lsh_index(spark, NAME, path_root=root)


def test_append_visible_without_refresh(spark, docs, tmp_path):
    """An in-session append through saveAsTable refreshes the table's
    cached relation: both a fresh ``spark.table()`` and a frame created
    BEFORE the append see the appended rows, so callers need no
    ``spark.catalog.refreshTable`` between an append and a screen."""
    root = str(tmp_path / "lsh")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    added = {
        r.doc
        for r in sdedup.gram_index(batch, "text", "doc_id").select("doc").collect()
    }
    assert added
    sdedup.drop_lsh_index(spark, NAME, path_root=root)
    try:
        tables = sdedup.write_lsh_index(
            spark, base, "text", "doc_id", NAME, path_root=root
        )
        before = {t: spark.table(t) for t in tables}
        counts = {t: frame.count() for t, frame in before.items()}
        sdedup.append_lsh_index(
            spark, batch, "text", "doc_id", NAME, path_root=root
        )
        for t, old_frame in before.items():
            for frame in (spark.table(t), old_frame):
                seen = {r.doc for r in frame.select("doc").distinct().collect()}
                assert added <= seen, t
                assert frame.count() > counts[t], t
    finally:
        sdedup.drop_lsh_index(spark, NAME, path_root=root)
