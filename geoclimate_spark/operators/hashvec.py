"""Feature-hashing text vectorizer (the "hashing trick", Weinberger et al.
2009) — fixed-dimension sparse vectors from raw text with NO vocabulary
table, the scalable way to featurize 10^12 documents for clustering,
classification or ANN when a learned embedding is unavailable or too
expensive.

Each token t contributes ``sign(t)`` to bucket ``h(t) mod dim`` where h is
the engine's md5-derived 60-bit hash (:mod:`..functions.hashing`) and the
sign bit comes from the NEXT bit of the same hash — the signed variant
makes collisions cancel in expectation instead of accumulating.

Reference analogue: the fixed-width indicator columns GeoClimate pivots
tags into (`GenericIndicators.groovy` upperScaleAreaStatistics pivot) —
here the "columns" are hash buckets, so the width is constant regardless
of vocabulary.

Exactness: bucket and sign are pure integer functions of the md5 hex
(both engines share :func:`..functions.hashing.hash60_sql`); weights are
int64 sums. The output is the sparse form (doc_id, bucket, weight) with
zero-weight buckets dropped — identical row sets in both engines.

Scale shape: tokens explode inside the scan projection; ONE groupBy
(doc, bucket) with map-side combine is the only shuffle — output rows per
doc are bounded by min(tokens, dim). The dense ``array<long>`` form (for
feeding :mod:`.kmeans` / :mod:`.similarity`) is a per-row transform over
the sparse rows grouped per doc — one more groupBy(doc), no extra pass
over the text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash60_col, hash60_sql
from ..functions.text import normalize_col, normalize_sql, tokens_col

HV_DIM = 64


def feature_hash_sparse(docs: DataFrame, dim: int = HV_DIM) -> DataFrame:
    """(doc_id, bucket, weight): signed-hash bucket weights per document,
    zero-weight buckets dropped (sign cancellation can zero a bucket)."""
    norm = normalize_col(F.col("text"))
    toks = (docs.where(F.col("text").isNotNull())
            .select(F.col("doc_id"), F.explode(tokens_col(norm)).alias("t"))
            .where(F.length("t") > 0)
            .withColumn("_h", hash60_col(F.col("t"))))
    sign = (F.expr(f"(_h div {dim}) % 2") * 2 - 1).cast("long")
    return (toks
            .select("doc_id", F.expr(f"_h % {dim}").alias("bucket"),
                    sign.alias("_s"))
            .groupBy("doc_id", "bucket")
            .agg(F.sum("_s").alias("weight"))
            .where(F.col("weight") != 0))


def feature_hash_sparse_sql(dim: int = HV_DIM,
                            doc_rel: str = "documents") -> str:
    norm = normalize_sql("text")
    h = hash60_sql("t")
    return f"""WITH toks AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS t
  FROM {doc_rel} WHERE text IS NOT NULL),
hashed AS (
  SELECT doc_id, {h} AS _h FROM toks WHERE length(t) > 0),
w AS (
  SELECT doc_id, _h % {dim} AS bucket,
         CAST(SUM((_h // {dim}) % 2 * 2 - 1) AS BIGINT) AS weight
  FROM hashed GROUP BY 1, 2)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, weight
FROM w WHERE weight != 0"""
