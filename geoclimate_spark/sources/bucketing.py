"""Bucketed tables for co-located (shuffle-free) joins.

The 100 TB join strategy (SURVEY §4, session config): big↔big equi-joins on
a stable key (page_id, tile_id, doc id) should not shuffle either side on
every query. Writing both relations bucketed by the join key — Spark's
``bucketBy`` (hash-partitioned files + catalog metadata) or, on Iceberg, a
``bucket(N, key)`` partition transform — lets the planner use the existing
layout: the join compiles to zero Exchange nodes (asserted in tests).

The reference's analogue is its manual index creation before every join
(`GI/SpatialUnits.groovy:128-129, 407-409` — `createSpatialIndex` /
`createIndex`): a persistent physical layout paid once at write time and
reused by every subsequent join.

Notes for real deployments:
* both sides must agree on bucket COUNT and key;
* ``spark.sql.sources.bucketing.enabled`` (default true) must be on, and
  AQE leaves bucketed joins alone;
* sort within buckets (`sortBy`) additionally removes the per-task sort of
  a sort-merge join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def save_bucketed(df: DataFrame, table: str, key: str, n_buckets: int) -> None:
    """Persist as a bucketed, bucket-sorted catalog table."""
    (df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
     .sortBy(key).saveAsTable(table))


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  key: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — no Exchange."""
    return spark.table(left_table).join(spark.table(right_table), key, "inner")
