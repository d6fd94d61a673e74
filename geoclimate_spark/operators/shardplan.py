"""Export shard planning — size-balanced output layout for a 100-TB dump.

Writing a curated corpus back out, a pipeline wants K shards of near-equal
byte mass (downstream loaders stream shards whole; a fat shard is the
straggler). The classic deterministic heuristic is sorted round-robin:
rank documents by size descending and deal them out ``shard = (rank-1) mod
K`` — equivalent to LPT scheduling restricted to a fixed deal order, with a
worst-case shard spread bounded by the single largest document (asserted in
tests).

The interesting part at 10^12 docs is the GLOBAL rank, which is naively a
partition-less window (one task holds the corpus). This module reuses
:mod:`.vocab`'s exact decomposition:

* bucket = the size value itself (``n_chars``) — order-aligned with the
  global order (n_chars DESC, doc_id ASC) by construction;
* a tiny distinct-size table takes exclusive prefix COUNTS via a window
  over |distinct sizes| rows, broadcast back;
* the within-bucket row_number runs partitioned by ``n_chars`` — parallel.
  (A pathologically flat size distribution concentrates a stratum; widen
  the bucket with a doc_id prefix exactly as vocab.py documents.)

All integers; the DuckDB oracle is the NAIVE global ROW_NUMBER window, so
the decomposition is hash-gated bit-for-bit.

Reference analogue: the deterministic id-dealing of
`/root/reference/geoindicators/src/main/groovy/org/orbisgis/geoclimate/
geoindicators/SpatialUnits.groovy` grid-cell id assignment (row-major ids
over a computed order) — here the order is size-derived and the id is the
shard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_SHARDS = 8


def export_shard_plan(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars, rank, shard): sorted-round-robin shard assignment
    with an exactly decomposed global rank."""
    base = docs.select(F.col("doc_id"), F.col("n_chars").cast("long")
                       .alias("_sz"))
    bw = Window.orderBy(F.col("_sz").desc())
    buckets = (base.groupBy("_sz").agg(F.count("*").alias("_bn"))
               .withColumn("_off", F.coalesce(
                   F.sum("_bn").over(bw.rowsBetween(
                       Window.unboundedPreceding, -1)), F.lit(0))))
    ww = Window.partitionBy("_sz").orderBy(F.col("doc_id").asc())
    return (base.join(F.broadcast(buckets.select("_sz", "_off")), "_sz")
            .withColumn("rank",
                        (F.col("_off") + F.row_number().over(ww))
                        .cast("long"))
            .select("doc_id", F.col("_sz").alias("n_chars"), "rank",
                    F.expr(f"(rank - 1) % {int(N_SHARDS)}").cast("long")
                    .alias("shard")))


def export_shard_plan_sql() -> str:
    """DuckDB dual: the naive global window the decomposition must match."""
    return f"""SELECT doc_id, n_chars,
       CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC)
            AS BIGINT) AS rank,
       CAST((ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) - 1)
            % {int(N_SHARDS)} AS BIGINT) AS shard
FROM documents"""


# ---------------------------------------------------- range partition plan
def range_partition_plan(docs: DataFrame, n_buckets: int = 8) -> DataFrame:
    """Equi-depth range-partitioner planning — the physical-layout consumer
    of exact rank arithmetic (what Spark's RangePartitioner does by
    SAMPLING, computed exactly): pick ``n_buckets − 1`` split values so
    each value range holds ≈ N/n_buckets rows, then assign every row and
    report the realized balance. Output one row per bucket:
    (bucket, lo_value, hi_value, n_docs) with lo/hi the observed min/max
    value inside the bucket (hi of bucket j < lo of bucket j+1 unless a
    heavy value straddles — duplicates of one value NEVER split across
    buckets, the property a range shuffle needs).

    Boundary rule: boundary_j = min value v with cum(v) > (j·N) div K,
    where cum(v) = #rows ≤ v; bucket(x) = #{j : boundary_j ≤ x}.

    Scale: ONE map-side-combinable groupBy(value) count; the cumulative
    window runs over the DISTINCT-VALUE rollup (bounded domain — n_chars
    here), not the corpus; boundaries reach rows via the constant-key
    broadcast idiom (kmeans.py — a column-derived key, since a literal key
    constant-folds into a BNLJ); the final count is one hash agg on
    bucket."""
    if int(n_buckets) < 1:
        raise ValueError("n_buckets must be >= 1")
    if int(n_buckets) == 1:
        # Degenerate single-bucket plan: no boundaries, one rollup. An
        # UNGROUPED aggregate (always exactly one row, even on empty
        # input) — matching the SQL dual's aggregate-without-GROUP-BY.
        return (docs.agg(F.min(F.col("n_chars").cast("long"))
                         .alias("lo_value"),
                         F.max(F.col("n_chars").cast("long"))
                         .alias("hi_value"),
                         F.count("*").cast("long").alias("n_docs"))
                .select(F.lit(0).cast("long").alias("bucket"),
                        "lo_value", "hi_value", "n_docs"))
    vc = (docs.select(F.col("n_chars").cast("long").alias("v"))
          .groupBy("v").agg(F.count("*").alias("c")))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vc.withColumn("_cum", F.sum("c").over(wv)) \
            .withColumn("_n", F.sum("c").over(
                Window.partitionBy()))
    k = int(n_buckets)
    bounds = None
    for j in range(1, k):
        bj = (cum.where(F.col("_cum") > F.expr(f"(_n * {j}) div {k}"))
              .agg(F.min("v").alias("bval"))
              .select(F.lit(j).alias("j"), "bval"))
        bounds = bj if bounds is None else bounds.unionAll(bj)
    barr = (bounds.where(F.col("bval").isNotNull())
            .agg(F.sort_array(F.collect_list("bval")).alias("_bs"))
            .withColumn("_one", F.pmod(F.size("_bs").cast("long"),
                                       F.lit(1))))
    rows = (docs.select(F.col("doc_id").alias("id"),
                        F.col("n_chars").cast("long").alias("v"))
            .withColumn("_one", F.pmod(F.col("id"), F.lit(1)))
            .join(F.broadcast(barr), "_one")
            .withColumn("bucket", F.expr(
                "CAST(size(filter(_bs, b -> b <= v)) AS LONG)")))
    return (rows.groupBy("bucket")
            .agg(F.min("v").cast("long").alias("lo_value"),
                 F.max("v").cast("long").alias("hi_value"),
                 F.count("*").cast("long").alias("n_docs")))


def range_partition_plan_sql(n_buckets: int = 8,
                             doc_rel: str = "documents") -> str:
    k = int(n_buckets)
    if k < 1:
        raise ValueError("n_buckets must be >= 1")
    if k == 1:
        return f"""SELECT CAST(0 AS BIGINT) AS bucket,
       CAST(MIN(CAST(n_chars AS BIGINT)) AS BIGINT) AS lo_value,
       CAST(MAX(CAST(n_chars AS BIGINT)) AS BIGINT) AS hi_value,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM {doc_rel}"""
    bsel = " UNION ALL ".join(
        f"SELECT {j} AS j, (SELECT MIN(v) FROM cum WHERE _cum > (_n * {j}) // {k}) AS bval"
        for j in range(1, k))
    return f"""WITH vc AS (
  SELECT CAST(n_chars AS BIGINT) AS v, COUNT(*) AS c
  FROM {doc_rel} GROUP BY 1
), cum AS (
  SELECT v, c,
         SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS _cum,
         SUM(c) OVER () AS _n
  FROM vc
), bounds AS ({bsel}),
rows_b AS (
  SELECT CAST(doc_id AS BIGINT) AS id, CAST(n_chars AS BIGINT) AS v,
         (SELECT COUNT(*) FROM bounds b
          WHERE b.bval IS NOT NULL AND b.bval <= CAST(n_chars AS BIGINT))
           AS bucket
  FROM {doc_rel}
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(MIN(v) AS BIGINT) AS lo_value,
       CAST(MAX(v) AS BIGINT) AS hi_value,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM rows_b GROUP BY 1"""
