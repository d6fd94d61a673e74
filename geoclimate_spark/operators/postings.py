"""Inverted-index storage planning: Elias-gamma delta-gap posting costs.

The index-layout planning pass a retrieval system runs BEFORE building a
corpus-scale inverted index (:mod:`bm25` / :mod:`phrase` are the consumers):
per term, sort the distinct posting doc ids, delta-encode the gaps, and
price each gap at its Elias-gamma length ``2·⌊log2 gap⌋ + 1`` bits — the
classic compressed-posting cost model (Witten/Moffat/Bell, "Managing
Gigabytes" §3). The report ranks the most expensive posting lists, which is
exactly the skew diagnostic an index shard planner needs: stop-word-like
terms dominate storage AND shuffle volume, and this table says which to
stop, cap, or impact-sort.

All arithmetic is exact int64 — ⌊log2 g⌋ via the repo's binary-string-length
identity ``length(bin(g)) − 1`` (no libm), so the DuckDB dual replays
bit-for-bit.

Scale shape (10^12 docs): the posting build is ONE shuffle keyed by
(term, doc) for the distinct — the same ~1× token-stream volume as
:mod:`bm25`'s index build (term text must reach the index regardless);
the gap window partitions per term (never global); per-term rollup is
map-side combinable; the final top-k is TakeOrderedAndProject (per-partition
heap + driver merge of k rows, no global sort).

Reference analogue: the count/reporting rollup family
(`/root/reference/geoindicators/.../GenericIndicators.groovy:241`
per-entity statistics), applied to index-layout planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql

TOPK_TERMS = 50

# Elias-gamma length of integer column g (>= 1): 2*floor(log2 g) + 1
_GAMMA_BITS = "CAST(2 * (length(bin(gap)) - 1) + 1 AS BIGINT)"
_GAMMA_BITS_SQL = "CAST(2 * (length(bin(gap)) - 1) + 1 AS BIGINT)"


def posting_size_plan(docs: DataFrame, topk: int = TOPK_TERMS) -> DataFrame:
    """Top-``topk`` most storage-expensive posting lists:
    (term, df, postings_bits, bits_per_posting_milli). The first gap is
    ``doc_id + 1`` (ids are 0-based; gamma needs >= 1), later gaps are
    consecutive-id differences — the standard d-gap convention."""
    postings = (docs
                .select(F.col("doc_id").cast("long").alias("doc"),
                        normalize_col(F.col("text")).alias("_t"))
                .where(F.col("_t") != "")
                .select("doc", F.explode(F.split("_t", " ")).alias("term"))
                .distinct())
    w = Window.partitionBy("term").orderBy("doc")
    gaps = (postings
            .withColumn("_prev", F.lag("doc").over(w))
            .withColumn("gap", F.coalesce(F.col("doc") - F.col("_prev"),
                                          F.col("doc") + 1)))
    per_term = (gaps.groupBy("term")
                .agg(F.count("*").cast("long").alias("df"),
                     F.sum(F.expr(_GAMMA_BITS)).cast("long")
                     .alias("postings_bits")))
    return (per_term
            .orderBy(F.col("postings_bits").desc(), F.col("term").asc())
            .limit(topk)
            .select("term", "df", "postings_bits",
                    F.expr("(postings_bits * 1000) div df")
                    .alias("bits_per_posting_milli")))


def posting_size_plan_sql(topk: int = TOPK_TERMS) -> str:
    """DuckDB dual of :func:`posting_size_plan`."""
    norm = normalize_sql("text")
    return f"""
WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc, {norm} AS t
              FROM documents),
postings AS (SELECT DISTINCT doc, u.term
  FROM base, UNNEST(string_split(t, ' ')) AS u(term)
  WHERE t <> ''),
gaps AS (SELECT term,
                COALESCE(doc - LAG(doc) OVER (PARTITION BY term
                                              ORDER BY doc), doc + 1) AS gap
         FROM postings),
per_term AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
                    CAST(SUM({_GAMMA_BITS_SQL}) AS BIGINT) AS postings_bits
             FROM gaps GROUP BY term)
SELECT term, df, postings_bits,
       (postings_bits * 1000) // df AS bits_per_posting_milli
FROM per_term
ORDER BY postings_bits DESC, term ASC
LIMIT {int(topk)}"""
