"""Zonal statistics library — the core GeoClimate aggregation family.

Reference operators re-expressed as single-pass DataFrame aggregations:

* :func:`unweighted_stats` — `GenericIndicators.unweightedOperationFromLowerScale`
  (`/root/reference/geoindicators/.../GenericIndicators.groovy:57-125`): the
  op menu SUM / AVG / STD(pop) / GEOM_AVG / DENS / NB_DENS, RIGHT-JOIN-keeps-
  empty-zones-at-0 semantics (`:116-117`).
* :func:`weighted_stats` — `weightedAggregatedStatistics` (`:148-212`):
  weighted mean ``Σvw/Σw`` and weighted std ``sqrt(Σw(v-m)²/Σw)`` — the
  reference needs two passes + a join; one grouped pass here.
* :func:`type_proportion` — `typeProportion` (`:697-779`): per-zone value
  fraction of each type bucket via conditional sums.
* :func:`pivot_fractions` — `upperScaleAreaStatistics` (`:978-1102`): the
  SELECT-DISTINCT-driven dynamic pivot becomes a native ``groupBy().pivot()``
  with an explicit value list (deterministic output schema).
* :func:`mode_weighted` — `GridIndicators.groovy:196-228`: top-1 per group by
  (count desc, tie-break asc) via a window ``row_number``.

Numeric determinism (the driver hash-compares against DuckDB): every
statistic is derived from *exact integer* partial sums (n, Σx, Σx², Σvw, …)
combined in a fixed double-arithmetic order, so results are bit-identical
regardless of partitioning — except GEOM_AVG, whose Σln(x) is float and
order-dependent; it is rounded to 6 decimals on both sides by the same
``FLOOR(x * 1e6 + 0.5) / 1e6`` as ``quality`` (functions/text.py::round6_col).

Scale: each operator is ONE ``groupBy(zone)`` with algebraic aggregates —
map-side partial aggregation shrinks the shuffle to one row per (partition,
zone); the zone dim side is always broadcast. Skewed zones (dense urban)
cost nothing beyond the combine because only partial sums move.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import round6_col, round6_sql

UNWEIGHTED_OPS = ("sum", "avg", "std", "geom_avg", "dens", "nb_dens")


# ---------------------------------------------------------------- Spark path
def _geom_avg_col(sln: Column, n: Column) -> Column:
    """exp(mean ln x), rounded to 6 decimals."""
    return round6_col(F.exp(sln / n))


def unweighted_stats(df: DataFrame, dim: DataFrame, key: str, value: str,
                     ops: Sequence[str] = UNWEIGHTED_OPS) -> DataFrame:
    """Per-zone stats of an integer value column; empty zones kept at 0.

    ``dim`` must carry (key, area_deg2) [+ any describe columns]; it is
    broadcast and LEFT-joined so zones with no rows appear with zeros —
    the reference's RIGHT JOIN + COALESCE(0) contract.
    """
    v = F.col(value).cast("long")
    aggs = [F.count("*").alias("_n"), F.sum(v).alias("_sx"),
            F.sum(v * v).alias("_sx2")]
    if "geom_avg" in ops:
        # guard v>0 identically on both sides: Spark's log(0) yields NULL
        # (silently dropped from the sum) while DuckDB's LN(0) raises — the
        # CASE guard makes both engines skip non-positive values explicitly.
        aggs.append(F.sum(F.when(v > 0, F.log(v.cast("double")))).alias("_sln"))
    agg = df.groupBy(key).agg(*aggs)
    j = dim.join(agg, key, "left")
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sx2 = F.col("_sx2").cast("double")
    area = F.col("area_deg2")
    exprs: dict[str, Column] = {
        "sum": F.coalesce(F.col("_sx"), F.lit(0)).cast("long"),
        "avg": F.coalesce(sx / n, F.lit(0.0)),
        "std": F.coalesce(F.sqrt((sx2 - sx * sx / n) / n), F.lit(0.0)),
        "geom_avg": F.coalesce(_geom_avg_col(F.col("_sln"), n), F.lit(0.0)),
        "dens": F.coalesce(sx / area, F.lit(0.0)),
        "nb_dens": F.coalesce(n / area, F.lit(0.0)),
    }
    keep = [c for c in dim.columns]
    return j.select(*keep, *[exprs[o].alias(f"{o}_{value}") for o in ops])


def weighted_stats(df: DataFrame, key: str, value: str, weight: str) -> DataFrame:
    """Per-zone weighted mean + population-weighted std, one grouped pass."""
    v = F.col(value).cast("long")
    w = F.col(weight).cast("long")
    agg = df.groupBy(key).agg(
        F.sum(w).alias("_sw"), F.sum(v * w).alias("_svw"),
        F.sum(v * v * w).alias("_sv2w"))
    sw = F.col("_sw").cast("double")
    svw = F.col("_svw").cast("double")
    sv2w = F.col("_sv2w").cast("double")
    m = svw / sw
    return agg.select(
        key, m.alias(f"wmean_{value}"),
        F.sqrt(sv2w / sw - (svw / sw) * (svw / sw)).alias(f"wstd_{value}"))


def type_proportion(df: DataFrame, key: str, type_col: str, value: str,
                    buckets: dict[str, Sequence[str]]) -> DataFrame:
    """Per-zone fraction of Σvalue falling in each type bucket."""
    v = F.col(value).cast("long")
    aggs = [F.sum(F.when(F.col(type_col).isin(list(types)), v).otherwise(F.lit(0)))
            .alias(f"_s_{name}") for name, types in buckets.items()]
    agg = df.groupBy(key).agg(F.sum(v).alias("_tot"), *aggs)
    tot = F.col("_tot").cast("double")
    return agg.select(
        key, *[(F.col(f"_s_{name}").cast("double") / tot).alias(f"frac_{name}")
               for name in buckets])


def pivot_fractions(df: DataFrame, key: str, pivot_col: str, value: str,
                    values: Sequence[str]) -> DataFrame:
    """Native pivot: per-zone Σvalue fraction per pivot value (explicit value
    list → stable schema; the reference synthesizes columns from SELECT
    DISTINCT at codegen time)."""
    v = F.col(value).cast("long")
    p = (df.groupBy(key).pivot(pivot_col, list(values)).agg(F.sum(v)))
    tot = None
    for val in values:
        c = F.coalesce(F.col(f"`{val}`"), F.lit(0)).cast("long")
        tot = c if tot is None else tot + c
    sel = [F.col(key), tot.alias("_tot")] + [
        F.coalesce(F.col(f"`{val}`"), F.lit(0)).alias(f"_c_{i}")
        for i, val in enumerate(values)]
    t = p.select(*sel)
    return t.select(
        key, *[(F.col(f"_c_{i}").cast("double") / F.col("_tot").cast("double"))
               .alias(f"frac_{val}") for i, val in enumerate(values)])


def mode_weighted(df: DataFrame, key: str, cat_col: str, weight: str) -> DataFrame:
    """Top-1 category per zone by Σweight, deterministic tie-break on the
    category value ascending (reference `GridIndicators.groovy:218-228`)."""
    w = F.col(weight).cast("long")
    counts = df.groupBy(key, cat_col).agg(F.sum(w).alias("_w"),
                                          F.count("*").alias("_n"))
    win = Window.partitionBy(key).orderBy(F.col("_w").desc(), F.col(cat_col).asc())
    return (counts.withColumn("_rn", F.row_number().over(win))
            .where(F.col("_rn") == 1)
            .select(key, F.col(cat_col).alias(f"mode_{cat_col}"),
                    F.col("_w").alias("mode_weight"), F.col("_n").alias("mode_rows")))


def exact_median(df: DataFrame, key: str, value: str) -> DataFrame:
    """Exact per-zone median via explicit rank arithmetic: sort by (value,
    row-identity), average the middle one/two values. Engine medians
    (percentile_approx, DuckDB's interpolating median) disagree across
    implementations; rank arithmetic on exact integers does not.
    One window sort per zone — same shuffle budget as any ranking op."""
    w = Window.partitionBy(key).orderBy(F.col("_v").asc())
    t = (df.select(key, F.col(value).cast("long").alias("_v"))
         .withColumn("_rn", F.row_number().over(w))
         .withColumn("_n", F.count("*").over(Window.partitionBy(key))))
    mid = (t.where((F.col("_rn") * 2 == F.col("_n"))
                   | (F.col("_rn") * 2 == F.col("_n") + 1)
                   | (F.col("_rn") * 2 == F.col("_n") + 2)))
    return (mid.groupBy(key)
            .agg((F.sum("_v").cast("double") / F.count("*")).alias(f"median_{value}"),
                 F.max("_n").alias("n_rows")))


def exact_median_sql(rows_sql: str, key: str, value: str) -> str:
    return f"""WITH rows_in AS ({rows_sql}),
t AS (SELECT {key}, CAST({value} AS BIGINT) AS v,
        ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY {value} ASC) AS rn,
        COUNT(*) OVER (PARTITION BY {key}) AS n
  FROM rows_in),
mid AS (SELECT * FROM t
  WHERE rn * 2 = n OR rn * 2 = n + 1 OR rn * 2 = n + 2)
SELECT {key}, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS median_{value},
       CAST(MAX(n) AS BIGINT) AS n_rows
FROM mid GROUP BY {key}"""


QUANTILES = (25, 50, 75, 95)


def exact_quantiles(df: DataFrame, key: str, value: str,
                    qs: Sequence[int] = QUANTILES) -> DataFrame:
    """Exact per-zone percentiles via rank arithmetic (linear interpolation
    at position (n-1)*q/100) — :func:`exact_median` generalized to any
    integer-percent list. The interpolation fraction is computed as the
    INTEGER ((n-1)*q) % 100 divided once by 100.0, so engine and oracle
    share one exact double per quantile instead of each accumulating their
    own float error. One window sort per zone (same shuffle budget as any
    ranking op); the per-quantile picks are conditional aggregates over
    that single sorted pass, NOT one pass per quantile."""
    w = Window.partitionBy(key).orderBy(F.col("_v").asc())
    t = (df.select(key, F.col(value).cast("long").alias("_v"))
         .withColumn("_rk", F.row_number().over(w) - 1)
         .withColumn("_n", F.count("*").over(Window.partitionBy(key))))
    aggs = [F.max("_n").cast("long").alias("n_rows")]
    for q in qs:
        pos = (F.col("_n") - 1) * q
        lo = F.floor(pos / 100).cast("long")
        fr = pos % 100
        vlo = F.max(F.when(F.col("_rk") == lo, F.col("_v")))
        vhi = F.max(F.when(F.col("_rk") == F.least(
            lo + 1, F.col("_n") - 1), F.col("_v")))
        aggs.append(
            (vlo.cast("double")
             + (vhi - vlo).cast("double")
             * F.max(fr).cast("double") / F.lit(100.0))
            .alias(f"p{q}_{value}"))
    return t.groupBy(key).agg(*aggs)


def exact_quantiles_sql(rows_sql: str, key: str, value: str) -> str:
    cols = []
    for q in QUANTILES:
        lo = f"(((n - 1) * {q}) // 100)"
        fr = f"(((n - 1) * {q}) % 100)"
        vlo = f"MAX(CASE WHEN rk = {lo} THEN v END)"
        vhi = (f"MAX(CASE WHEN rk = LEAST({lo} + 1, n - 1) THEN v END)")
        cols.append(
            f"CAST({vlo} AS DOUBLE) + CAST({vhi} - {vlo} AS DOUBLE)"
            f" * CAST(MAX({fr}) AS DOUBLE) / 100.0 AS p{q}_{value}")
    sel = ",\n       ".join(cols)
    return f"""WITH rows_in AS ({rows_sql}),
t AS (SELECT {key}, CAST({value} AS BIGINT) AS v,
        ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY {value} ASC) - 1 AS rk,
        COUNT(*) OVER (PARTITION BY {key}) AS n
  FROM rows_in)
SELECT {key}, CAST(MAX(n) AS BIGINT) AS n_rows,
       {sel}
FROM t GROUP BY {key}"""


# ------------------------------------------------------------------ SQL path
def _geom_avg_sql(sln: str, n: str) -> str:
    """DuckDB dual of :func:`_geom_avg_col`."""
    return round6_sql(f"EXP({sln} / CAST({n} AS DOUBLE))")


def unweighted_stats_sql(rows_sql: str, dim_values_sql: str, key: str,
                         value: str, ops: Sequence[str] = UNWEIGHTED_OPS) -> str:
    """DuckDB mirror. ``rows_sql`` must select (key, value); ``dim_values_sql``
    a relation (key, area_deg2, ...) e.g. a VALUES list."""
    exprs = {
        "sum": f"CAST(COALESCE(_sx, 0) AS BIGINT)",
        "avg": f"COALESCE(CAST(_sx AS DOUBLE) / CAST(_n AS DOUBLE), 0.0)",
        "std": ("COALESCE(SQRT((CAST(_sx2 AS DOUBLE) - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)"
                " / CAST(_n AS DOUBLE)) / CAST(_n AS DOUBLE)), 0.0)"),
        "geom_avg": f"COALESCE({_geom_avg_sql('_sln', '_n')}, 0.0)",
        "dens": "COALESCE(CAST(_sx AS DOUBLE) / area_deg2, 0.0)",
        "nb_dens": "COALESCE(CAST(_n AS DOUBLE) / area_deg2, 0.0)",
    }
    sel = ",\n       ".join(f"{exprs[o]} AS {o}_{value}" for o in ops)
    sln = (f",\n        SUM(CASE WHEN {value} > 0 THEN LN(CAST({value} AS DOUBLE)) END) AS _sln"
           if "geom_avg" in ops else "")
    return f"""WITH rows_in AS ({rows_sql}),
dim AS ({dim_values_sql}),
agg AS (SELECT {key}, COUNT(*) AS _n, SUM({value}) AS _sx,
        SUM({value} * {value}) AS _sx2{sln}
        FROM rows_in GROUP BY {key})
SELECT dim.*, {sel}
FROM dim LEFT JOIN agg USING ({key})"""


def weighted_stats_sql(rows_sql: str, key: str, value: str, weight: str) -> str:
    return f"""WITH rows_in AS ({rows_sql}),
agg AS (SELECT {key}, SUM({weight}) AS _sw, SUM({value} * {weight}) AS _svw,
        SUM({value} * {value} * {weight}) AS _sv2w FROM rows_in GROUP BY {key})
SELECT {key},
       CAST(_svw AS DOUBLE) / CAST(_sw AS DOUBLE) AS wmean_{value},
       SQRT(CAST(_sv2w AS DOUBLE) / CAST(_sw AS DOUBLE)
            - (CAST(_svw AS DOUBLE) / CAST(_sw AS DOUBLE))
            * (CAST(_svw AS DOUBLE) / CAST(_sw AS DOUBLE))) AS wstd_{value}
FROM agg"""


def type_proportion_sql(rows_sql: str, key: str, type_col: str, value: str,
                        buckets: dict[str, Sequence[str]]) -> str:
    conds = []
    for name, types in buckets.items():
        inlist = ", ".join(f"'{t}'" for t in types)
        conds.append(
            f"CAST(SUM(CASE WHEN {type_col} IN ({inlist}) THEN {value} ELSE 0 END) AS DOUBLE)"
            f" / CAST(SUM({value}) AS DOUBLE) AS frac_{name}")
    sel = ",\n       ".join(conds)
    return f"""WITH rows_in AS ({rows_sql})
SELECT {key}, {sel}
FROM rows_in GROUP BY {key}"""


def pivot_fractions_sql(rows_sql: str, key: str, pivot_col: str, value: str,
                        values: Sequence[str]) -> str:
    cells = [f"SUM(CASE WHEN {pivot_col} = '{v}' THEN {value} ELSE 0 END)"
             for v in values]
    tot = " + ".join(f"({c})" for c in cells)
    sel = ",\n       ".join(
        f"CAST({c} AS DOUBLE) / CAST({tot} AS DOUBLE) AS frac_{v}"
        for c, v in zip(cells, values))
    return f"""WITH rows_in AS ({rows_sql})
SELECT {key}, {sel}
FROM rows_in GROUP BY {key}"""


def mode_weighted_sql(rows_sql: str, key: str, cat_col: str, weight: str) -> str:
    return f"""WITH rows_in AS ({rows_sql}),
counts AS (SELECT {key}, {cat_col}, SUM({weight}) AS _w, COUNT(*) AS _n
           FROM rows_in GROUP BY {key}, {cat_col}),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY {key}
           ORDER BY _w DESC, {cat_col} ASC) AS _rn FROM counts)
SELECT {key}, {cat_col} AS mode_{cat_col}, CAST(_w AS BIGINT) AS mode_weight,
       CAST(_n AS BIGINT) AS mode_rows
FROM ranked WHERE _rn = 1"""


def exact_mad(df: DataFrame, key: str, value: str) -> DataFrame:
    """Exact median absolute deviation per group: (key, n_rows, median,
    mad) — the robust dispersion statistic outlier gates want at corpus
    scale (stddev is itself corrupted by the outliers it should flag; MAD
    is 50 %-breakdown). median = exact_quantiles' p50 rank arithmetic;
    mad = the same arithmetic applied to |x − median|.

    Two window sorts per group (values, then deviations) — the same
    shuffle budget as running two ranking ops; deviations join the 1-row-
    per-group median via a broadcast hash join. Interpolation fractions
    stay integer-derived, so both doubles replay bit-for-bit in DuckDB."""
    med = (exact_quantiles(df, key, value, qs=(50,))
           .select(key, F.col("n_rows"),
                   F.col(f"p50_{value}").alias("_med")))
    dev = (df.select(key, F.col(value).cast("long").alias("_v"))
           .join(F.broadcast(med), key)
           .withColumn("_d", F.abs(F.col("_v").cast("double")
                                   - F.col("_med"))))
    w = Window.partitionBy(key).orderBy(F.col("_d").asc())
    t = (dev.withColumn("_rk", F.row_number().over(w) - 1)
         .withColumn("_n", F.count("*").over(Window.partitionBy(key))))
    pos = (F.col("_n") - 1) * 50
    lo = F.floor(pos / 100).cast("long")
    fr = pos % 100
    vlo = F.max(F.when(F.col("_rk") == lo, F.col("_d")))
    vhi = F.max(F.when(F.col("_rk") == F.least(lo + 1, F.col("_n") - 1),
                       F.col("_d")))
    return (t.groupBy(key, "n_rows", "_med")
            .agg((vlo + (vhi - vlo) * F.max(fr).cast("double")
                  / F.lit(100.0)).alias("mad"))
            .select(key, "n_rows", F.col("_med").alias("median"), "mad"))


def exact_mad_sql(rows_sql: str, key: str, value: str) -> str:
    """DuckDB dual of :func:`exact_mad` (same two-stage rank arithmetic)."""
    return f"""WITH rows_in AS ({rows_sql}),
t1 AS (SELECT {key}, CAST({value} AS BIGINT) AS v,
        ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY {value} ASC) - 1 AS rk,
        COUNT(*) OVER (PARTITION BY {key}) AS n
  FROM rows_in),
med AS (SELECT {key}, CAST(MAX(n) AS BIGINT) AS n_rows,
        CAST(MAX(CASE WHEN rk = (((n - 1) * 50) // 100) THEN v END) AS DOUBLE)
        + CAST(MAX(CASE WHEN rk = LEAST((((n - 1) * 50) // 100) + 1, n - 1)
                        THEN v END)
               - MAX(CASE WHEN rk = (((n - 1) * 50) // 100) THEN v END)
               AS DOUBLE)
          * CAST(MAX(((n - 1) * 50) % 100) AS DOUBLE) / 100.0 AS _med
  FROM t1 GROUP BY {key}),
t2 AS (SELECT r.{key}, m.n_rows, m._med,
        ABS(CAST(CAST(r.{value} AS BIGINT) AS DOUBLE) - m._med) AS d,
        ROW_NUMBER() OVER (PARTITION BY r.{key}
          ORDER BY ABS(CAST(CAST(r.{value} AS BIGINT) AS DOUBLE) - m._med) ASC)
          - 1 AS rk,
        COUNT(*) OVER (PARTITION BY r.{key}) AS n
  FROM rows_in r JOIN med m USING ({key}))
SELECT {key}, n_rows, _med AS median,
       MAX(CASE WHEN rk = (((n - 1) * 50) // 100) THEN d END)
       + (MAX(CASE WHEN rk = LEAST((((n - 1) * 50) // 100) + 1, n - 1)
              THEN d END)
          - MAX(CASE WHEN rk = (((n - 1) * 50) // 100) THEN d END))
         * CAST(MAX(((n - 1) * 50) % 100) AS DOUBLE) / 100.0 AS mad
FROM t2 GROUP BY {key}, n_rows, _med"""
