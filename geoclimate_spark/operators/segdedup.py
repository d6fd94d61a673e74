"""Segment-level (paragraph) deduplication over the documents text column.

The corpus-curation pass LLM pipelines run between exact-dedup and near-dup
(CCNet / Dolma "paragraph dedup"): split every document into consecutive
k-token segments, keep only the globally FIRST occurrence of each distinct
segment (ordered by (doc_id, segment index)), and reassemble each document
from its surviving segments. Boilerplate shared across pages (headers,
footers, license blurbs) disappears from every copy but the first, while
unique prose is untouched.

Reference analogue: the same dedup-by-canonical-first shape as
:func:`geoclimate_spark.operators.dedup.exact_duplicates` (lowest-id canon,
mirroring the PIP join's lowest-id tie-break, reference
`/root/reference/geoindicators/.../SpatialUnits.groovy:517-529` deterministic
top-1), applied at sub-document granularity.

Scale design (10^12 docs):
* segmentation is a pure row expression inside the scan projection
  (normalize → split → transform(sequence) → posexplode) — no Python, no
  pre-shuffle;
* the dedup decision is ONE shuffle keyed by the segment text (Spark hashes
  the string key; identical segments co-locate) + a row_number window — the
  classic first-writer-wins, deterministic under any partitioning because
  the order key (id, pos) is globally unique;
* reassembly is ONE groupBy(doc) — collect_list + array_sort(struct(pos,
  seg)) keeps the shuffle payload exactly the surviving segments;
* docs whose every segment was seen earlier survive as empty strings (the
  left join keeps them), so downstream length filters can drop them
  explicitly — rows are never silently lost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql

SEG_TOKENS = 12


def _segments(docs: DataFrame, id_col: str, text_col: str,
              k: int) -> DataFrame:
    """(id, pos, seg): consecutive k-token segments of the normalized text,
    pos 0-based. A doc always yields >= 1 segment (split('') -> ['']), so
    the total count per doc is (n_tokens + k - 1) div k."""
    t = normalize_col(F.col(text_col))
    segs = F.expr(
        f"transform(sequence(1, (size(_tk) + {k - 1}) div {k}), "
        f"s -> array_join(slice(_tk, (s - 1) * {k} + 1, {k}), ' '))")
    return (docs.select(F.col(id_col).alias("id"), F.split(t, " ").alias("_tk"))
            .select("id", F.posexplode(segs).alias("pos", "seg")))


def segment_dedup(docs: DataFrame, k: int = SEG_TOKENS) -> DataFrame:
    """(doc_id, n_segs, n_kept, dedup_text): global first-occurrence segment
    dedup. A segment survives iff its (id, pos) is the minimum over all
    occurrences of that exact segment text — including later occurrences
    inside the SAME document (within-doc repetition dedups too)."""
    seg = _segments(docs, "doc_id", "text", k)
    w = Window.partitionBy("seg").orderBy("id", "pos")
    kept = (seg.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1))
    tot = seg.groupBy("id").agg(F.count("*").alias("n_segs"))
    agg = (kept.groupBy("id")
           .agg(F.count("*").alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                        lambda x: x["seg"]),
                    " ").alias("dedup_text")))
    return (tot.join(agg, "id", "left")
            .select(F.col("id").alias("doc_id"),
                    F.col("n_segs").cast("long").alias("n_segs"),
                    F.coalesce(F.col("n_kept"), F.lit(0))
                    .cast("long").alias("n_kept"),
                    F.coalesce(F.col("dedup_text"), F.lit(""))
                    .alias("dedup_text")))


def segment_dedup_sql(doc_rel: str = "documents") -> str:
    """DuckDB dual of :func:`segment_dedup` — list slicing clamps at the tail
    exactly like Spark's slice(arr, start, len), and string_split('') yields
    [''] on both sides, so segment sets match bit-for-bit."""
    norm = normalize_sql("text")
    return f"""
WITH toks AS (SELECT doc_id AS id, string_split({norm}, ' ') AS tk
              FROM {doc_rel}),
segs AS (SELECT id, s - 1 AS pos,
                array_to_string(tk[(s - 1) * {SEG_TOKENS} + 1 : s * {SEG_TOKENS}], ' ') AS seg
  FROM toks, UNNEST(generate_series(1, (len(tk) + {SEG_TOKENS - 1}) // {SEG_TOKENS})) AS g(s)),
ranked AS (SELECT id, pos, seg,
                  ROW_NUMBER() OVER (PARTITION BY seg ORDER BY id, pos) AS rn
           FROM segs),
kept AS (SELECT id, pos, seg FROM ranked WHERE rn = 1),
agg AS (SELECT id, COUNT(*) AS n_kept,
               string_agg(seg, ' ' ORDER BY pos) AS dedup_text
        FROM kept GROUP BY id),
tot AS (SELECT id, COUNT(*) AS n_segs FROM segs GROUP BY id)
SELECT t.id AS doc_id, CAST(t.n_segs AS BIGINT) AS n_segs,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(a.dedup_text, '') AS dedup_text
FROM tot t LEFT JOIN agg a USING (id)"""
