"""Exact substring dedup + benchmark decontamination on the operator
layer — the Lee et al. 2022 ExactSubstr pipeline, distributed:

1. corpus span map (every ≥50-char repeated passage)
       operators/dedup.repeated_substring_spans
2. keep-first rewrite (one canonical copy survives)
       operators/dedup.substring_dedup_rewrite(keep_first=True)
3. benchmark decontamination (surgical span cut, not doc drop)
       operators/dedup.substring_decontaminate
4. incremental ingest: persist the gram-hash set, screen a new
   batch in O(|batch|), append, re-screen
       operators/dedup.write_substring_index / screen / append

Every step is a DataFrame composition; the corpus participates in the
incremental path as 8-byte hashes only — the same code scales by
partitioning, not rewriting.

Run:  python examples/substring_dedup_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sdc_spark.operators import dedup as D
from sdc_spark.session import get_spark
from sdc_spark.sources.readers import read_table

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark("example_substring_dedup")
    doc = read_table(spark, SF_DIR, "documents")

    # 1. span map: where does ANY ≥50-char passage repeat corpus-wide?
    spans = D.repeated_substring_spans(doc, "text", "doc_id", min_len=50)
    n_spans = spans.count()
    dup_chars = spans.agg(F.sum("span_len")).first()[0] or 0
    print(f"[1] {n_spans} duplicated spans, {dup_chars} duplicated chars")

    # 2. keep-first rewrite: later copies cut, canonical copies kept
    clean = D.substring_dedup_rewrite(
        doc, "text", "doc_id", min_len=50, keep_first=True
    )
    removed = clean.agg(F.sum("removed_chars")).first()[0] or 0
    print(f"[2] keep-first rewrite removed {removed} chars")

    # 3. decontamination: cut verbatim benchmark passages, keep the rest
    bench = doc.filter(F.col("doc_id") % 17 == 0).select(
        F.expr("substring(text, 30, 120)").alias("q")
    )
    decon = D.substring_decontaminate(doc, bench, "text", "doc_id", "q")
    hit = decon.filter(F.col("n_spans") > 0).count()
    print(f"[3] decontamination touched {hit} documents")

    # 4. incremental ingest loop against the persisted gram-hash set
    name = "example_subidx"
    D.drop_substring_index(spark, name)
    corpus = doc.filter(F.col("doc_id") % 5 >= 2)
    batch1 = doc.filter(F.col("doc_id") % 5 == 0)
    batch2 = doc.filter(F.col("doc_id") % 5 == 1)
    D.write_substring_index(spark, corpus, "text", "doc_id", name)
    s1 = D.screen_substrings_against_index(spark, batch1, "text", "doc_id", name)
    print(f"[4] batch 1: {s1.count()} duplicated spans vs corpus")
    D.append_substring_index(spark, batch1, "text", "doc_id", name)
    s2 = D.screen_substrings_against_index(spark, batch2, "text", "doc_id", name)
    print(f"[4] batch 2: {s2.count()} duplicated spans vs corpus ∪ batch 1")
    D.drop_substring_index(spark, name)


if __name__ == "__main__":
    main()
