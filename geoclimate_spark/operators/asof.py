"""As-of (point-in-time) join — the temporal analogue of the engine's
distance-join-with-default (§2.3 `SpatialUnits.groovy:517-529` top-1 nearest
with fallback): every left event is matched to the LATEST right row at or
before its timestamp, per key, with an optional staleness tolerance.

Spark has no native as-of join; the standard scalable formulation is the
union-and-window trick:

  1. tag both inputs and union them on (key, event-time);
  2. one window per key ordered by (time, side, right-row-id) — right rows
     sort before left rows at equal timestamps, so a simultaneous quote is
     visible to its trade (`t_right <= t_left` semantics);
  3. ``last(value, ignorenulls=True)`` over the running frame carries each
     right row's values forward to every later left row;
  4. keep the left rows.

ONE shuffle on the join key, no per-row Python, and state per partition is a
running scalar — this survives 100× scale-up wherever a sort-merge join
would (at extreme key skew, salt the key and union the salted feeds). The
DuckDB oracle is the INDEPENDENT native ``ASOF LEFT JOIN`` — two different
algorithms, hash-identical output.

Right-side timestamps must be unique per key (true for the events feed:
timestamps are strictly increasing); with duplicates the highest
row_number over (key, ts) wins — deterministic and partition-independent —
while DuckDB ASOF would pick arbitrarily.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(left: DataFrame, right: DataFrame, key: str,
               left_ts: str = "ts", right_ts: str = "ts",
               right_vals: tuple[str, ...] = ("value",),
               tolerance_us: int | None = None,
               prefix: str = "asof_",
               right_unique: str | None = None) -> DataFrame:
    """Left rows + ``{prefix}{v}`` for each right value column +
    ``{prefix}lag_us`` (microseconds since the matched right row; NULL when
    no right row at-or-before, or when older than ``tolerance_us``).

    Determinism: with duplicate right timestamps per key the winner among
    ties is physical-order-dependent UNLESS ``right_unique`` names a unique
    right column to break ties on (it is appended to the ranking order, and
    the HIGHEST value among equal timestamps wins). With unique
    (key, right_ts) — e.g. a strictly increasing feed — the result is fully
    deterministic either way."""
    lcols = [c for c in left.columns]
    rt = F.unix_micros(F.col(right_ts).cast("timestamp"))
    # The carried payload is ONE struct (matched timestamp + value columns),
    # so a matched right row whose value is NULL still rides along with its
    # own timestamp — last(ignorenulls) skips NULL STRUCTS (left rows), not
    # NULL fields. A per-column carry would skip to an older non-NULL value
    # while the lag advanced, diverging from the ASOF oracle.
    rs = F.struct(rt.alias("_rt"),
                  *[F.col(v).alias(f"_v_{v}") for v in right_vals])
    null_rs = F.when(F.lit(False), F.struct(
        F.lit(None).cast("long").alias("_rt"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"_v_{v}")
          for v in right_vals]))
    # right-row tie-break: row_number per (key, ts[, right_unique]) — the
    # LAST right row in this order wins. Partition-independent when
    # (key, ts) is unique or right_unique is given; see docstring.
    rw = Window.partitionBy(key).orderBy(
        *([right_ts, right_unique] if right_unique else [right_ts]))
    r = right.select(
        F.col(key).alias("_k"), rt.alias("_t"),
        F.lit(0).alias("_side"),
        F.row_number().over(rw).cast("long").alias("_rid"),
        rs.alias("_rs"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols])
    l = left.select(
        F.col(key).alias("_k"),
        F.unix_micros(F.col(left_ts).cast("timestamp")).alias("_t"),
        F.lit(1).alias("_side"), F.lit(None).cast("long").alias("_rid"),
        null_rs.alias("_rs"),
        *[F.col(c) for c in lcols])
    u = l.unionByName(r)
    w = (Window.partitionBy("_k").orderBy("_t", "_side", "_rid")
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = u.select(
        "*", F.last("_rs", ignorenulls=True).over(w).alias("_m"))
    lag = F.col("_t") - F.col("_m._rt")
    fresh = (F.col("_m").isNotNull()
             & ((lag <= F.lit(tolerance_us)) if tolerance_us is not None
                else F.lit(True)))
    return (carried.where(F.col("_side") == 1)
            .select(*lcols,
                    *[F.when(fresh, F.col(f"_m._v_{v}")).alias(f"{prefix}{v}")
                      for v in right_vals],
                    F.when(fresh, lag).cast("long").alias(f"{prefix}lag_us")))


def interval_join(left: DataFrame, intervals: DataFrame, key: str,
                  bucket_us: int = 1_800_000_000) -> DataFrame:
    """Range (interval-containment) join: every left event × every interval
    of the same key containing its timestamp (``start <= t < end``).

    The temporal twin of the spatial kring join (operators/knn.py): a naive
    theta join is a per-key cartesian; instead each interval EXPLODES into
    the fixed-width time buckets it spans and events equi-join on
    (key, bucket) before the exact containment refine — row amplification is
    ⌈duration/bucket⌉ per interval (2 for the default sizing), the join is a
    hash join, and nothing cartesian survives in the plan. Size
    ``bucket_us`` near the typical interval length; salt pathological keys
    the same way the spatial path does (operators/skew.py).

    Returns (left columns, ``interval_id``, ``offset_us`` = t − start).
    """
    lb = F.unix_micros(F.col("ts").cast("timestamp"))
    lcols = list(left.columns)
    l = left.select(*lcols, lb.alias("_lt"),
                    (lb - lb % F.lit(bucket_us)).alias("_b"),
                    F.col(key).alias("_k"))
    s, e = F.col("start_us"), F.col("end_us")
    # empty/inverted intervals yield zero matches (like the oracle's plain
    # inequality join) instead of a runtime error from an inverted sequence
    # (stop bucket < start bucket with a positive step)
    intervals = intervals.where(e > s)
    iv = (intervals.select(
        F.col(key).alias("_k"), F.col("interval_id"),
        s.alias("_s"), e.alias("_e"),
        F.explode(F.sequence(
            s - s % F.lit(bucket_us),
            (e - 1) - (e - 1) % F.lit(bucket_us),
            F.lit(bucket_us))).alias("_b")))
    return (l.join(iv, ["_k", "_b"])
            .where((F.col("_lt") >= F.col("_s")) & (F.col("_lt") < F.col("_e")))
            .select(*lcols, "interval_id",
                    (F.col("_lt") - F.col("_s")).cast("long").alias("offset_us")))


def interval_join_sql(left_sql: str, intervals_sql: str, key: str,
                      left_cols: tuple[str, ...]) -> str:
    """Oracle: the plain inequality join (DuckDB handles the theta join
    directly at oracle scale)."""
    lsel = ", ".join(f"l.{c}" for c in left_cols)
    return f"""WITH lft AS ({left_sql}),
iv AS ({intervals_sql})
SELECT {lsel}, i.interval_id,
       CAST(epoch_us(l.ts) - i.start_us AS BIGINT) AS offset_us
FROM lft l JOIN iv i ON l.{key} = i.{key}
 AND epoch_us(l.ts) >= i.start_us
 AND epoch_us(l.ts) < i.end_us"""


def as_of_join_sql(left_sql: str, right_sql: str, key: str,
                   left_cols: tuple[str, ...],
                   tolerance_us: int | None = None) -> str:
    """Independent DuckDB oracle via the native ASOF LEFT JOIN."""
    lag = "epoch_us(l.ts) - epoch_us(r.ts)"
    fresh = ("r.ts IS NOT NULL"
             + (f" AND {lag} <= {tolerance_us}"
                if tolerance_us is not None else ""))
    vals = f"CASE WHEN {fresh} THEN r.value END AS asof_value"
    lsel = ", ".join(f"l.{c}" for c in left_cols)
    return f"""WITH lft AS ({left_sql}),
rgt AS ({right_sql})
SELECT {lsel},
       {vals},
       CAST(CASE WHEN {fresh} THEN {lag} END AS BIGINT) AS asof_lag_us
FROM lft l ASOF LEFT JOIN rgt r
  ON l.{key} = r.{key} AND l.ts >= r.ts"""
