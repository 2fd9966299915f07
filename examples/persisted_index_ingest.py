"""Continuous-ingest dedup + ANN on PERSISTED indexes — the loop a
continuously-growing 100-TB corpus actually runs, demonstrated on the
bundled test tables:

1. build the LSH index once           operators/dedup.write_lsh_index
   (bucketed tables: bands on (band, bhash), grams on doc — so every
   later screen reads the corpus side with ZERO Exchange)
2. screen an incoming batch           operators/dedup.screen_against_index
   (only the batch shuffles; verify aggregation is semi-join-pruned to
   candidates)
3. append the batch to the index      operators/dedup.append_lsh_index
   (~one new file per bucket)
4. compact after many appends         operators/dedup.compact_lsh_index
5. takedown/expiry                    operators/dedup.delete_from_lsh_index
6. the ANN twin                       operators/similarity.write_ivf_index /
                                      ann_ivf_search_index / append_ivf_index

Run:  python examples/persisted_index_ingest.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sdc_spark.operators import dedup, similarity
from sdc_spark.session import get_spark
from sdc_spark.sources.readers import read_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("example_persisted_ingest")
    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 >= 2)
    batch1 = docs.filter(F.col("doc_id") % 5 == 0)
    batch2 = docs.filter(F.col("doc_id") % 5 == 1)

    name = "example_loop"
    dedup.drop_lsh_index(spark, name)
    bands_t, grams_t = dedup.write_lsh_index(spark, corpus, "text", "doc_id", name)
    print("index built:", bands_t, grams_t)

    hits1 = dedup.screen_against_index(
        spark.table(bands_t), spark.table(grams_t), batch1, "text", "doc_id"
    ).count()
    print("batch 1 near-dups vs corpus:", hits1)

    dedup.append_lsh_index(spark, batch1, "text", "doc_id", name)
    hits2 = dedup.screen_against_index(
        spark.table(bands_t), spark.table(grams_t), batch2, "text", "doc_id"
    ).count()
    print("batch 2 near-dups vs corpus+batch1:", hits2)

    dedup.compact_lsh_index(spark, name)
    print("compacted: one file per bucket again")

    dedup.delete_from_lsh_index(spark, batch1.select("doc_id"), name)
    print("takedown: batch-1 docs removed from the index")

    # --- ANN twin over the embeddings table ---
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    newv = emb.filter(F.col("vec_id") % 5 == 0)
    similarity.drop_ivf_index("example_ann")
    cent_p, cells_p = similarity.write_ivf_index(spark, base, name="example_ann")
    q = emb.filter(F.col("vec_id") < 5)
    topk = similarity.ann_ivf_search_index(spark, cent_p, cells_p, q, k=3)
    print("ANN top-3 rows:", topk.count())
    similarity.append_ivf_index(spark, newv, cent_p, cells_p)
    print("ANN index appended; searches now see the new vectors")

    # --- lexical twin: persisted BM25 posting index ---
    from sdc_spark.operators import retrieval

    retrieval.drop_posting_index(spark, "example_lex")
    retrieval.write_posting_index(spark, corpus, "text", "doc_id", "example_lex")
    queries = spark.createDataFrame(
        [(0, "vector"), (0, "stream"), (1, "merge")], "qid int, term string"
    )
    print(
        "BM25 scored rows from the index:",
        retrieval.bm25_from_index(spark, "example_lex", queries).count(),
    )
    retrieval.append_posting_index(spark, batch1, "text", "doc_id", "example_lex")
    print("posting index appended; stats rows stay additive")
    retrieval.compact_posting_index(spark, "example_lex")
    retrieval.delete_from_posting_index(
        spark, batch1.select("doc_id"), "example_lex"
    )
    print("lexical takedown: idf/avgdl recomputed without the removed docs")

    dedup.drop_lsh_index(spark, name)
    similarity.drop_ivf_index("example_ann")
    retrieval.drop_posting_index(spark, "example_lex")
    spark.stop()


if __name__ == "__main__":
    main()
