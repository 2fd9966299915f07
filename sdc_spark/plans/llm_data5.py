"""Round-10 LLM-pipeline additions: exact substring-level dedup (the
ExactSubstr operator of Lee et al. 2022, "Deduplicating Training Data
Makes Language Models Better") — span detection, aggressive rewrite, and
the paper's keep-first retention rewrite.

All three DuckDB-oracled: the oracle EXECUTES the identical position-level
k-gram semantics (unnest every char offset, group grams corpus-wide,
HAVING count >= 2, gaps-and-islands merge) so span boundaries are graded
byte-for-byte, and the rewrite is re-assembled in SQL via ordered
string_agg over the inter-span segments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdc_spark.operators.dedup import (
    repeated_substring_spans,
    substring_decontaminate,
    substring_dedup_rewrite,
)
from sdc_spark.plans.registry import oracle, query
from sdc_spark.sources.readers import read_table

_K = 50  # Lee et al. use 50 tokens; chars here — same order of magnitude


@query("text_substring_dedup")
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring spans over the documents corpus
    (operators/dedup.py: repeated_substring_spans). Finds every maximal
    char span whose every 50-gram occurs >= 2 times corpus-wide —
    within- or cross-document, the Lee et al. >= 2 rule that line- and
    document-level dedup both miss (mid-document pasted boilerplate)."""
    doc = read_table(spark, sf_dir, "documents")
    return (
        repeated_substring_spans(doc, "text", "doc_id", min_len=_K)
        .select(
            F.col("doc").alias("doc_id"),
            "span_start",
            "span_end",
            "span_len",
        )
        .orderBy("doc_id", "span_start")
    )


oracle(
    "text_substring_dedup",
    f"""
    WITH p AS (
        SELECT doc_id, text,
               unnest(range(1, length(text) - {_K} + 2)) AS pos
        FROM documents WHERE length(text) >= {_K}
    ),
    g AS (
        SELECT doc_id, pos::BIGINT AS pos, substr(text, pos::INT, {_K}) AS gram
        FROM p
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    m AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
    i AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                         OR pos > lag(pos) OVER w + {_K}
                    THEN 1 ELSE 0 END AS flag
        FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    s AS (
        SELECT doc_id, pos,
               sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM i
    )
    SELECT doc_id,
           min(pos) AS span_start,
           max(pos) + {_K} - 1 AS span_end,
           max(pos) + {_K} - min(pos) AS span_len
    FROM s GROUP BY doc_id, isl
    ORDER BY doc_id, span_start
    """,
)


@query("text_substring_rewrite")
def text_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggressive substring-dedup rewrite (operators/dedup.py:
    substring_dedup_rewrite): every duplicated span cut from every doc,
    remainder reassembled in order by a JVM higher-order aggregate (no
    UDF, no per-segment explode). Graded on the md5 of the rebuilt
    UTF-8 text plus span/char accounting for EVERY document — docs
    below 50 chars or with no duplicated spans must pass through
    byte-identical."""
    doc = read_table(spark, sf_dir, "documents")
    out = substring_dedup_rewrite(doc, "text", "doc_id", min_len=_K)
    return out.select(
        F.col("doc").alias("doc_id"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("removed_chars").cast("long").alias("removed_chars"),
        F.length("clean_text").cast("long").alias("clean_len"),
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    ).orderBy("doc_id")


@query("text_substring_keepfirst")
def text_substring_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. retention-mode rewrite (keep_first=True): the
    globally-first occurrence of each duplicated 50-gram — argmin over
    (doc, pos), a deterministic total order — stays, every later copy
    is cut. Graded like the aggressive rewrite: md5 over rebuilt UTF-8
    bytes for every document, so the oracle proves BOTH that later
    copies vanish and that the canonical copies survive byte-identical.
    The argmin rides the same single hash aggregation as the >= 2 count
    (one extra broadcast column, not a second corpus pass)."""
    doc = read_table(spark, sf_dir, "documents")
    out = substring_dedup_rewrite(doc, "text", "doc_id", min_len=_K, keep_first=True)
    return out.select(
        F.col("doc").alias("doc_id"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("removed_chars").cast("long").alias("removed_chars"),
        F.length("clean_text").cast("long").alias("clean_len"),
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    ).orderBy("doc_id")


oracle(
    "text_substring_keepfirst",
    f"""
    WITH p AS (
        SELECT doc_id, text,
               unnest(range(1, length(text) - {_K} + 2)) AS pos
        FROM documents WHERE length(text) >= {_K}
    ),
    g AS (
        SELECT doc_id, pos::BIGINT AS pos, substr(text, pos::INT, {_K}) AS gram
        FROM p
    ),
    m AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY gram) AS n,
                   row_number() OVER (PARTITION BY gram
                                      ORDER BY doc_id, pos) AS rn
            FROM g
        ) WHERE n >= 2 AND rn > 1
    ),
    i AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                         OR pos > lag(pos) OVER w + {_K}
                    THEN 1 ELSE 0 END AS flag
        FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    s AS (
        SELECT doc_id, pos,
               sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM i
    ),
    spans AS (
        SELECT doc_id, min(pos) AS a, max(pos) + {_K} - 1 AS b
        FROM s GROUP BY doc_id, isl
    ),
    seg AS (
        SELECT sp.doc_id, sp.a AS ord,
               substr(d.text,
                      (coalesce(lag(sp.b) OVER w2, 0) + 1)::INT,
                      (sp.a - coalesce(lag(sp.b) OVER w2, 0) - 1)::INT) AS piece
        FROM spans sp JOIN documents d USING (doc_id)
        WINDOW w2 AS (PARTITION BY sp.doc_id ORDER BY sp.a)
        UNION ALL
        SELECT t.doc_id, 9223372036854775807 AS ord,
               substr(d.text, (t.mx + 1)::INT) AS piece
        FROM (SELECT doc_id, max(b) AS mx FROM spans GROUP BY doc_id) t
        JOIN documents d USING (doc_id)
    ),
    clean AS (
        SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text,
               count(*) - 1 AS n_spans
        FROM seg GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(c.n_spans, 0)::BIGINT AS n_spans,
           (length(d.text) - length(coalesce(c.clean_text, d.text)))::BIGINT
               AS removed_chars,
           length(coalesce(c.clean_text, d.text))::BIGINT AS clean_len,
           md5(coalesce(c.clean_text, d.text)) AS clean_md5
    FROM documents d LEFT JOIN clean c USING (doc_id)
    ORDER BY d.doc_id
    """,
)


oracle(
    "text_substring_rewrite",
    f"""
    WITH p AS (
        SELECT doc_id, text,
               unnest(range(1, length(text) - {_K} + 2)) AS pos
        FROM documents WHERE length(text) >= {_K}
    ),
    g AS (
        SELECT doc_id, pos::BIGINT AS pos, substr(text, pos::INT, {_K}) AS gram
        FROM p
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    m AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
    i AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                         OR pos > lag(pos) OVER w + {_K}
                    THEN 1 ELSE 0 END AS flag
        FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    s AS (
        SELECT doc_id, pos,
               sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM i
    ),
    spans AS (
        SELECT doc_id, min(pos) AS a, max(pos) + {_K} - 1 AS b
        FROM s GROUP BY doc_id, isl
    ),
    seg AS (
        SELECT sp.doc_id, sp.a AS ord,
               substr(d.text,
                      (coalesce(lag(sp.b) OVER w2, 0) + 1)::INT,
                      (sp.a - coalesce(lag(sp.b) OVER w2, 0) - 1)::INT) AS piece
        FROM spans sp JOIN documents d USING (doc_id)
        WINDOW w2 AS (PARTITION BY sp.doc_id ORDER BY sp.a)
        UNION ALL
        SELECT t.doc_id, 9223372036854775807 AS ord,
               substr(d.text, (t.mx + 1)::INT) AS piece
        FROM (SELECT doc_id, max(b) AS mx FROM spans GROUP BY doc_id) t
        JOIN documents d USING (doc_id)
    ),
    clean AS (
        SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text,
               count(*) - 1 AS n_spans
        FROM seg GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(c.n_spans, 0)::BIGINT AS n_spans,
           (length(d.text) - length(coalesce(c.clean_text, d.text)))::BIGINT
               AS removed_chars,
           length(coalesce(c.clean_text, d.text))::BIGINT AS clean_len,
           md5(coalesce(c.clean_text, d.text)) AS clean_md5
    FROM documents d LEFT JOIN clean c USING (doc_id)
    ORDER BY d.doc_id
    """,
)


@query("text_substring_decontaminate")
def text_substring_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-precise benchmark decontamination (operators/dedup.py:
    substring_decontaminate — Lee et al. 2022 §5 / the GPT-3 appendix
    leak class): the "benchmark" is a 120-char slice (offset 30) of
    every 17th document, the corpus is ALL documents — so contaminated
    docs include each slice's own source AND every near-dup sharing the
    passage, and the rewrite must cut exactly the leaked chars while
    keeping the rest (vs the 8-gram gate's drop-the-whole-doc rule).
    Graded per-doc on the md5 of the rebuilt UTF-8 text. The benchmark
    gram set reduces to DISTINCT 8-byte hashes that broadcast — corpus
    positions never shuffle."""
    doc = read_table(spark, sf_dir, "documents")
    bench = doc.filter(F.col("doc_id") % 17 == 0).select(
        F.expr("substring(text, 30, 120)").alias("q")
    )
    out = substring_decontaminate(doc, bench, "text", "doc_id", "q", min_len=_K)
    return out.select(
        F.col("doc").alias("doc_id"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("removed_chars").cast("long").alias("removed_chars"),
        F.length("clean_text").cast("long").alias("clean_len"),
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    ).orderBy("doc_id")


oracle(
    "text_substring_decontaminate",
    f"""
    WITH bench AS (
        SELECT substr(text, 30, 120) AS q FROM documents WHERE doc_id % 17 = 0
    ),
    bg AS (
        SELECT DISTINCT substr(q, pos::INT, {_K}) AS gram
        FROM (SELECT q, unnest(range(1, length(q) - {_K} + 2)) AS pos
              FROM bench WHERE length(q) >= {_K})
    ),
    p AS (
        SELECT doc_id, text,
               unnest(range(1, length(text) - {_K} + 2)) AS pos
        FROM documents WHERE length(text) >= {_K}
    ),
    g AS (
        SELECT doc_id, pos::BIGINT AS pos, substr(text, pos::INT, {_K}) AS gram
        FROM p
    ),
    m AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM bg)),
    i AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                         OR pos > lag(pos) OVER w + {_K}
                    THEN 1 ELSE 0 END AS flag
        FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    s AS (
        SELECT doc_id, pos,
               sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM i
    ),
    spans AS (
        SELECT doc_id, min(pos) AS a, max(pos) + {_K} - 1 AS b
        FROM s GROUP BY doc_id, isl
    ),
    seg AS (
        SELECT sp.doc_id, sp.a AS ord,
               substr(d.text,
                      (coalesce(lag(sp.b) OVER w2, 0) + 1)::INT,
                      (sp.a - coalesce(lag(sp.b) OVER w2, 0) - 1)::INT) AS piece
        FROM spans sp JOIN documents d USING (doc_id)
        WINDOW w2 AS (PARTITION BY sp.doc_id ORDER BY sp.a)
        UNION ALL
        SELECT t.doc_id, 9223372036854775807 AS ord,
               substr(d.text, (t.mx + 1)::INT) AS piece
        FROM (SELECT doc_id, max(b) AS mx FROM spans GROUP BY doc_id) t
        JOIN documents d USING (doc_id)
    ),
    clean AS (
        SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text,
               count(*) - 1 AS n_spans
        FROM seg GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(c.n_spans, 0)::BIGINT AS n_spans,
           (length(d.text) - length(coalesce(c.clean_text, d.text)))::BIGINT
               AS removed_chars,
           length(coalesce(c.clean_text, d.text))::BIGINT AS clean_len,
           md5(coalesce(c.clean_text, d.text)) AS clean_md5
    FROM documents d LEFT JOIN clean c USING (doc_id)
    ORDER BY d.doc_id
    """,
)


@query("substring_index_ingest_loop")
def substring_index_ingest_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL persisted substring-index ingest loop (operators/dedup.py:
    write_substring_index / screen_substrings_against_index /
    append_substring_index): batch 1 (doc_id%5==0) is screened against
    the corpus index (doc_id%5>=2), APPENDED, then batch 2 (doc_id%5==1)
    is screened against corpus ∪ batch 1. The screen is EXACTLY the
    full-run ExactSubstr span set restricted to batch docs (algebraic
    equivalence: a batch gram repeats in corpus ∪ batch iff it is in the
    persisted hash set or repeats within the batch) — so the oracle
    computes full-run spans per scope and must match span-for-span,
    including the append round-trip. Batch 1's screen is eagerly
    materialized before the append so it cannot observe index growth.
    The index is bucketed on h: every screen reads the corpus side with
    zero Exchange; the 100-TB corpus participates as 8-byte hashes."""
    import re

    from sdc_spark.materialize import materialize, unmaterialize
    from sdc_spark.operators.dedup import (
        append_substring_index,
        drop_substring_index,
        kgram_positions,
        screen_substrings_against_index,
        write_substring_index,
    )
    import os

    name = "subloop_" + re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))
    # the index MUTATES (append) — rebuild fresh per run, never resume
    drop_substring_index(spark, name)
    doc = read_table(spark, sf_dir, "documents")
    corpus = doc.filter(F.col("doc_id") % 5 >= 2)
    batch1 = doc.filter(F.col("doc_id") % 5 == 0)
    batch2 = doc.filter(F.col("doc_id") % 5 == 1)
    # NOT overlapped with the batch kgram pass (measured, r12: the index
    # build saturates every core — a concurrent batch job only contends;
    # 5.3 → 10.5s with the build∥kgram overlap)
    write_substring_index(spark, corpus, "text", "doc_id", name, min_len=_K)
    from sdc_spark.operators.maintenance import run_concurrently

    def screen(batch: DataFrame, n: int, kpos: DataFrame) -> DataFrame:
        spans = screen_substrings_against_index(
            spark, batch, "text", "doc_id", name, min_len=_K,
            kgram_positions=kpos,
        )
        # truncate=True: the screen precedes the append — kept lineage
        # (persist mode) recomputing an evicted partition AFTER the
        # append would read the grown index and silently change the
        # snapshot
        return materialize(
            spans.select(F.lit(n).alias("batch"), "*"), truncate=True
        )

    # batch 1 is screened AND appended: ONE materialized (doc, pos, h)
    # frame feeds both (guide §1.2) — unshared, the per-character
    # explode+hash pass over the batch text ran once per operation. The
    # frame derives only from the immutable batch text, never from the
    # index the append grows.
    kpos1 = materialize(kgram_positions(batch1, "text", "doc_id", _K))
    out1 = screen(batch1, 1, kpos1)
    # batch 2's (doc, pos, h) materialization reads only the immutable
    # batch-2 text — never the index the append grows — so it overlaps
    # the append's bucketed write (guide §2.6); screen 2, which does
    # read the grown index, still runs strictly after both finish
    kpos2_box: list = []
    run_concurrently(
        lambda: append_substring_index(
            spark, batch1, "text", "doc_id", name, min_len=_K,
            kgram_positions=kpos1,
        ),
        lambda: kpos2_box.append(
            materialize(kgram_positions(batch2, "text", "doc_id", _K))
        ),
    )
    unmaterialize(kpos1)  # out1 is truncated; nothing reads kpos1 again
    kpos2 = kpos2_box[0]
    out2 = screen(batch2, 2, kpos2)
    unmaterialize(kpos2)
    return (
        out1.unionByName(out2)
        .select(
            "batch", F.col("doc").alias("doc_id"), "span_start", "span_end", "span_len"
        )
        .orderBy("batch", "doc_id", "span_start")
    )


oracle(
    "substring_index_ingest_loop",
    f"""
    WITH p1 AS (
        SELECT doc_id, text, unnest(range(1, length(text) - {_K} + 2)) AS pos
        FROM documents WHERE doc_id % 5 <> 1 AND length(text) >= {_K}
    ),
    g1 AS (
        SELECT doc_id, pos::BIGINT AS pos, substr(text, pos::INT, {_K}) AS gram
        FROM p1
    ),
    m1 AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n FROM g1
        ) WHERE n >= 2 AND doc_id % 5 = 0
    ),
    i1 AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + {_K}
                    THEN 1 ELSE 0 END AS flag
        FROM m1 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    s1 AS (
        SELECT doc_id, pos,
               sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM i1
    ),
    sp1 AS (
        SELECT 1 AS batch, doc_id, min(pos) AS span_start,
               max(pos) + {_K} - 1 AS span_end,
               max(pos) + {_K} - min(pos) AS span_len
        FROM s1 GROUP BY doc_id, isl
    ),
    p2 AS (
        SELECT doc_id, text, unnest(range(1, length(text) - {_K} + 2)) AS pos
        FROM documents WHERE length(text) >= {_K}
    ),
    g2 AS (
        SELECT doc_id, pos::BIGINT AS pos, substr(text, pos::INT, {_K}) AS gram
        FROM p2
    ),
    m2 AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n FROM g2
        ) WHERE n >= 2 AND doc_id % 5 = 1
    ),
    i2 AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + {_K}
                    THEN 1 ELSE 0 END AS flag
        FROM m2 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    s2 AS (
        SELECT doc_id, pos,
               sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM i2
    ),
    sp2 AS (
        SELECT 2 AS batch, doc_id, min(pos) AS span_start,
               max(pos) + {_K} - 1 AS span_end,
               max(pos) + {_K} - min(pos) AS span_len
        FROM s2 GROUP BY doc_id, isl
    )
    SELECT * FROM sp1
    UNION ALL
    SELECT * FROM sp2
    ORDER BY batch, doc_id, span_start
    """,
)


@query("text_substring_multibyte")
def text_substring_multibyte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multibyte grading of the substring-dedup family: the corpus is
    deterministically accent-ified on BOTH engines (vowels → ä/é/ï/ø/ü +
    a Katakana/№ suffix keyed by doc_id), so nearly EVERY character in
    every 50-gram is multibyte and every span coordinate is a codepoint
    offset that differs from its byte offset. The keep-first rewrite is
    then graded md5-exact over UTF-8 bytes, plus codepoint-vs-octet
    lengths (equal only if substring/positions are codepoint-based on
    both engines). Closes the unicode angle the ASCII-graded substring
    oracles leave open — same role text_multibyte_pipeline plays for
    the crawl-text family."""
    doc = read_table(spark, sf_dir, "documents")
    mb = F.lower(F.col("text"))
    for a, b in (("a", "ä"), ("e", "é"), ("i", "ï"), ("o", "ø"), ("u", "ü")):
        mb = F.regexp_replace(mb, a, b)
    mb = F.concat(mb, F.lit(" — テキスト№"), (F.col("doc_id") % 7).cast("string"))
    synth = doc.select("doc_id", mb.alias("page"))
    out = substring_dedup_rewrite(synth, "page", "doc_id", min_len=_K, keep_first=True)
    return out.select(
        F.col("doc").alias("doc_id"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("removed_chars").cast("long").alias("removed_chars"),
        F.length("clean_text").cast("long").alias("clean_chars"),
        F.octet_length("clean_text").cast("long").alias("clean_bytes"),
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


oracle(
    "text_substring_multibyte",
    f"""
    WITH synth AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(lower(text), 'a', 'ä', 'g'),
                   'e', 'é', 'g'), 'i', 'ï', 'g'), 'o', 'ø', 'g'), 'u', 'ü', 'g')
               || ' — テキスト№' || CAST(doc_id % 7 AS VARCHAR) AS page
        FROM documents
    ),
    p AS (
        SELECT doc_id, page, unnest(range(1, length(page) - {_K} + 2)) AS pos
        FROM synth WHERE length(page) >= {_K}
    ),
    g AS (
        SELECT doc_id, pos::BIGINT AS pos, substr(page, pos::INT, {_K}) AS gram
        FROM p
    ),
    m AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY gram) AS n,
                   row_number() OVER (PARTITION BY gram
                                      ORDER BY doc_id, pos) AS rn
            FROM g
        ) WHERE n >= 2 AND rn > 1
    ),
    i AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + {_K}
                    THEN 1 ELSE 0 END AS flag
        FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    s AS (
        SELECT doc_id, pos,
               sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM i
    ),
    spans AS (
        SELECT doc_id, min(pos) AS a, max(pos) + {_K} - 1 AS b
        FROM s GROUP BY doc_id, isl
    ),
    seg AS (
        SELECT sp.doc_id, sp.a AS ord,
               substr(d.page,
                      (coalesce(lag(sp.b) OVER w2, 0) + 1)::INT,
                      (sp.a - coalesce(lag(sp.b) OVER w2, 0) - 1)::INT) AS piece
        FROM spans sp JOIN synth d USING (doc_id)
        WINDOW w2 AS (PARTITION BY sp.doc_id ORDER BY sp.a)
        UNION ALL
        SELECT t.doc_id, 9223372036854775807 AS ord,
               substr(d.page, (t.mx + 1)::INT) AS piece
        FROM (SELECT doc_id, max(b) AS mx FROM spans GROUP BY doc_id) t
        JOIN synth d USING (doc_id)
    ),
    clean AS (
        SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text,
               count(*) - 1 AS n_spans
        FROM seg GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(c.n_spans, 0)::BIGINT AS n_spans,
           (length(d.page) - length(coalesce(c.clean_text, d.page)))::BIGINT
               AS removed_chars,
           length(coalesce(c.clean_text, d.page))::BIGINT AS clean_chars,
           strlen(coalesce(c.clean_text, d.page))::BIGINT AS clean_bytes,
           md5(coalesce(c.clean_text, d.page)) AS clean_md5
    FROM synth d LEFT JOIN clean c USING (doc_id)
    ORDER BY d.doc_id
    """,
)
