"""Embedding-space outlier filter — semantic quality control per slice.

A curation pipeline drops documents whose embedding sits far from its
slice's centroid (mislabeled language, garbled extraction, spam): compute
the centroid per label, the distance of every vector to its own centroid,
and flag the top decile as outliers. This is the embedding-space sibling of
the text-side quality gates (:mod:`..functions.text` ratios,
:mod:`.lmquality`); geoclimate's analogue is the z-score outlier trim in
its building-height sanity pass (``InputDataFormatting.groovy:317-330``,
heights beyond a stat bound are reset) — same centroid+deviation shape,
different space.

Determinism contract (:mod:`.kmeans` idioms, shared constants):
* vectors quantize once to int64 (floor(x·2^20));
* the per-label centroid is floor(mean) through ONE double division per
  (label, dim) with exactly-representable operands;
* per-vector distance is the exact integer sum of squared diffs;
* the outlier cut is RANK-based, not threshold-based: rank vectors per
  label by (d2 DESC, id ASC) and flag rank <= floor(n/10) — integer
  arithmetic only, no quantile interpolation, total order ⇒ bit-exact in
  the DuckDB dual.

Scale shape: one posexplode+groupBy for centroids (map-side partials,
k·dim rows out), one broadcast join back (labels are few), one window rank
per label. The window is the only per-label sort; at 10^12 vectors with
few labels it would skew — the salted two-phase top-k of
:mod:`.skew` is the drop-in fix because only the top decile boundary is
needed, and the module doc of skew.py covers that composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .kmeans import KM_DIM, KM_Q, _d2_spark, _d2_sql, _quant

OUTLIER_DECILE = 10  # flag rank <= n DIV 10


def label_centroids(emb: DataFrame) -> DataFrame:
    """(label, c): floor-mean centroid of the quantized vectors per label."""
    q = emb.select(F.col("label").alias("lbl"),
                   F.expr(_quant("embedding")).alias("q"))
    per = (q.select("lbl", F.posexplode("q").alias("d", "v"))
           .groupBy("lbl", "d")
           .agg(F.sum("v").alias("_s"), F.count("*").alias("_n")))
    return (per.withColumn("m", F.floor(
                F.col("_s").cast("double") / F.col("_n").cast("double"))
                .cast("long"))
            .groupBy("lbl")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))),
                lambda x: x["m"]).alias("c")))


def embedding_outliers(emb: DataFrame, dim: int = KM_DIM) -> DataFrame:
    """(vec_id, label, d2, d2_rank, n_label, is_outlier): exact integer
    distance to the own-label centroid; is_outlier=1 for the top
    ``1/OUTLIER_DECILE`` of each label by (d2 DESC, id ASC) rank."""
    cents = label_centroids(emb)
    q = emb.select(F.col("vec_id").alias("id"), F.col("label").alias("lbl"),
                   F.expr(_quant("embedding")).alias("q"))
    j = (q.join(F.broadcast(cents), "lbl")
         .withColumn("d2", F.expr(_d2_spark("q", "c", dim))))
    w = Window.partitionBy("lbl")
    wr = w.orderBy(F.col("d2").desc(), F.col("id").asc())
    return (j.withColumn("d2_rank", F.row_number().over(wr).cast("long"))
            .withColumn("n_label", F.count("*").over(w).cast("long"))
            .withColumn("is_outlier",
                        (F.col("d2_rank") * F.lit(int(OUTLIER_DECILE))
                         <= F.col("n_label")).cast("long"))
            .select(F.col("id").alias("vec_id"), F.col("lbl").alias("label"),
                    "d2", "d2_rank", "n_label", "is_outlier"))


# --------------------------------------------------------------- DuckDB dual
def embedding_outliers_sql() -> str:
    quant = ("list_transform(embedding, x -> "
             f"CAST(FLOOR(CAST(x AS DOUBLE) * {KM_Q}) AS BIGINT))")
    return f"""
WITH q AS (
  SELECT vec_id AS id, label AS lbl, {quant} AS q FROM embeddings
), per AS (
  SELECT lbl, d, CAST(SUM(v) AS BIGINT) AS _s, COUNT(*) AS _n
  FROM (SELECT lbl, unnest(generate_series(1, {KM_DIM})) AS d, unnest(q) AS v
        FROM q)
  GROUP BY lbl, d
), cents AS (
  SELECT lbl, list(CAST(FLOOR(CAST(_s AS DOUBLE) / CAST(_n AS DOUBLE))
                        AS BIGINT) ORDER BY d) AS c
  FROM per GROUP BY lbl
), scored AS (
  SELECT q.id, q.lbl, {_d2_sql('q.q', 'cents.c', KM_DIM)} AS d2
  FROM q JOIN cents USING (lbl)
), ranked AS (
  SELECT id, lbl, CAST(d2 AS BIGINT) AS d2,
         CAST(ROW_NUMBER() OVER (PARTITION BY lbl
                                 ORDER BY d2 DESC, id ASC) AS BIGINT)
           AS d2_rank,
         CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT) AS n_label
  FROM scored
)
SELECT id AS vec_id, lbl AS label, d2, d2_rank, n_label,
       CAST(CASE WHEN d2_rank * {int(OUTLIER_DECILE)} <= n_label
                 THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
FROM ranked"""
