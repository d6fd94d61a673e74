"""Line-layer zonal operators — the `linearRoadOperations` analogue.

Reference: clip roads to each zone, then per-zone totals: clipped length,
linear density (length / zone area) and length per azimuth direction bin
(`/root/reference/geoindicators/.../RsuIndicators.groovy:979-1143`; road
attribute schema `osm/InputDataFormatting.groovy:290`).

Spark-first: segments are rows (x0, y0, x1, y1 integer µ°); clipping a
segment to a rect zone is Liang–Barsky in pure column arithmetic — the
parametric entry/exit times come from double divisions of exact integer
differences, evaluated in the same operation order in Spark and DuckDB, so
clipped lengths are bit-identical and the whole operator is oracle-checked
(no UDF, no shuffle beyond the final zonal aggregation; zones broadcast).

Degeneracy contract: the synthetic road generator guarantees dx != 0 and
dy != 0 (no axis-parallel segments) so no division by zero occurs — Spark
and DuckDB disagree on double x/0 (NULL vs inf), so the operator documents
this precondition instead of papering over it differently per engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.layers import _lcg
from .distribution import octant_bin_col, octant_bin_sql

N_DIR_BINS = 8


# ------------------------------------------------------------------ source
# attribute vocabularies for the traffic/zindex extensions (deterministic
# per road_id; includes the reference's excluded soft types so the traffic
# filter is exercised — `RoadIndicators.groovy:113` "type not in ('track',
# 'path', 'cycleway', 'steps')")
ROAD_TYPES = ("motorway", "primary", "secondary", "residential",
              "service", "track", "path")
ROAD_SURFACES = ("asphalt", "concrete", "paved", "gravel", "grass")


def synth_roads_rows() -> list[tuple]:
    """(road_id, x0, y0, x1, y1, type, surface, maxspeed, direction, zindex)
    deterministic LCG segments, dx>0 and dy!=0 guaranteed (see module
    docstring). maxspeed -1 means "unknown, take the class default"
    (`RoadIndicators.groovy:134-137`); zindex ∈ {-1, 0, 1} is the vertical
    level (tunnel / ground / bridge, `RsuIndicators.groovy:1010-1020`)."""
    rows = []
    s = 987_653
    for k in range(400):
        s = _lcg(s)
        x0 = s % 330_000_000 - 170_000_000
        s = _lcg(s)
        y0 = s % 130_000_000 - 70_000_000
        s = _lcg(s)
        dx = 500_000 + s % 12_000_000          # > 0 always
        s = _lcg(s)
        dy = (s % 9_000_000) - 4_500_000
        if dy == 0:
            dy = 1_000                          # never axis-parallel
        s = _lcg(s)
        rtype = ROAD_TYPES[s % len(ROAD_TYPES)]
        s = _lcg(s)
        surface = ROAD_SURFACES[s % len(ROAD_SURFACES)]
        s = _lcg(s)
        maxspeed = -1 if s % 3 == 0 else 30 + (s % 8) * 10
        s = _lcg(s)
        direction = 1 + s % 3
        s = _lcg(s)
        zindex = s % 3 - 1
        rows.append((k, x0, y0, x0 + dx, y0 + dy, rtype, surface,
                     maxspeed, direction, zindex))
    return rows


ROADS_SCHEMA = ("road_id long, x0 long, y0 long, x1 long, y1 long,"
                " type string, surface string, maxspeed long,"
                " direction long, zindex long")


def roads_df(spark) -> DataFrame:
    return spark.createDataFrame(synth_roads_rows(), ROADS_SCHEMA)


def roads_values_sql() -> str:
    vals = ",\n  ".join(
        f"({r}, {a}, {b}, {c}, {d}, '{t}', '{sf}', {ms}, {di}, {zi})"
        for r, a, b, c, d, t, sf, ms, di, zi in synth_roads_rows())
    return ("SELECT CAST(road_id AS BIGINT) AS road_id,"
            " CAST(x0 AS BIGINT) AS x0, CAST(y0 AS BIGINT) AS y0,"
            " CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,"
            " type, surface, CAST(maxspeed AS BIGINT) AS maxspeed,"
            " CAST(direction AS BIGINT) AS direction,"
            " CAST(zindex AS BIGINT) AS zindex"
            " FROM (VALUES\n  " + vals
            + "\n) AS t(road_id, x0, y0, x1, y1, type, surface, maxspeed,"
            " direction, zindex)")


# ---------------------------------------------------------------- operator
def _clip_frac_cols() -> tuple[Column, Column]:
    """(t_enter, t_exit) of the segment within the zone rect — Liang–Barsky
    with the min/max formulation. Column refs: x0..y1 (segment, bigint),
    zlon0..zlat1 (zone rect, bigint)."""
    fx0 = (F.col("zlon0") - F.col("x0")).cast("double") / (F.col("x1") - F.col("x0")).cast("double")
    fx1 = (F.col("zlon1") - F.col("x0")).cast("double") / (F.col("x1") - F.col("x0")).cast("double")
    fy0 = (F.col("zlat0") - F.col("y0")).cast("double") / (F.col("y1") - F.col("y0")).cast("double")
    fy1 = (F.col("zlat1") - F.col("y0")).cast("double") / (F.col("y1") - F.col("y0")).cast("double")
    t_enter = F.greatest(F.least(fx0, fx1), F.least(fy0, fy1), F.lit(0.0))
    t_exit = F.least(F.greatest(fx0, fx1), F.greatest(fy0, fy1), F.lit(1.0))
    return t_enter, t_exit


def _clip_frac_sql() -> tuple[str, str]:
    fx0 = "(CAST(zlon0 - x0 AS DOUBLE) / CAST(x1 - x0 AS DOUBLE))"
    fx1 = "(CAST(zlon1 - x0 AS DOUBLE) / CAST(x1 - x0 AS DOUBLE))"
    fy0 = "(CAST(zlat0 - y0 AS DOUBLE) / CAST(y1 - y0 AS DOUBLE))"
    fy1 = "(CAST(zlat1 - y0 AS DOUBLE) / CAST(y1 - y0 AS DOUBLE))"
    t_enter = f"GREATEST(LEAST({fx0}, {fx1}), LEAST({fy0}, {fy1}), 0.0)"
    t_exit = f"LEAST(GREATEST({fx0}, {fx1}), GREATEST({fy0}, {fy1}), 1.0)"
    return t_enter, t_exit


def _road_zone_candidates(roads: DataFrame, zones: DataFrame) -> DataFrame:
    """(road × zone) candidate pairs whose bboxes touch — the cell-keyed
    covering equi-join (operators/covering.py), never a cross join. The
    segment's y-bbox uses least/greatest because dy may be negative."""
    from .covering import bbox_cell_join

    r = roads.withColumn("_by0", F.least("y0", "y1")).withColumn(
        "_by1", F.greatest("y0", "y1"))
    return (bbox_cell_join(r, ("x0", "_by0", "x1", "_by1"),
                           zones, ("zlon0", "zlat0", "zlon1", "zlat1"),
                           broadcast_b=True)
            .drop("_by0", "_by1"))


def road_zone_stats(roads: DataFrame, zones: DataFrame) -> DataFrame:
    """Per-zone: clipped road length (µ° units), linear density, length per
    octant direction bin. Returns
    (zone_id, total_len, lin_density, dir0..dir7)."""
    j = _road_zone_candidates(roads, zones)
    t_enter, t_exit = _clip_frac_cols()
    seg_len = F.sqrt(((F.col("x1") - F.col("x0")) * (F.col("x1") - F.col("x0"))
                      + (F.col("y1") - F.col("y0")) * (F.col("y1") - F.col("y0"))
                      ).cast("double"))
    frac = t_exit - t_enter
    clip_len = F.when(frac > 0, frac * seg_len).otherwise(F.lit(0.0))
    binc = octant_bin_col(F.col("x1") - F.col("x0"), F.col("y1") - F.col("y0"))
    zarea = ((F.col("zlon1") - F.col("zlon0"))
             * (F.col("zlat1") - F.col("zlat0"))).cast("double")
    # per-ROW rounding to integer milli-µ° BEFORE aggregation: float sums
    # are order-dependent across engines/partitions, integer sums are exact
    len_mi = F.round(clip_len * 1000).cast("long")
    c = (j.withColumn("_len", len_mi).where(F.col("_len") > 0)
         .withColumn("_bin", binc)
         .withColumn("_za", zarea))
    aggs = [F.sum(F.when(F.col("_bin") == i, F.col("_len")).otherwise(F.lit(0)))
            .alias(f"_d{i}") for i in range(N_DIR_BINS)]
    g = c.groupBy("zone_id").agg(F.sum("_len").alias("_t"),
                                 F.max("_za").alias("_za"), *aggs)
    return g.select(
        "zone_id",
        (F.col("_t").cast("double") / 1000.0).alias("total_len"),
        (F.col("_t").cast("double") / 1000.0 / F.col("_za") * F.lit(1e6)
         ).alias("lin_density"),
        *[(F.col(f"_d{i}").cast("double") / 1000.0).alias(f"dir{i}")
          for i in range(N_DIR_BINS)])


def road_zone_stats_sql(roads_sql: str, zones_sql: str) -> str:
    t_enter, t_exit = _clip_frac_sql()
    seg_len = "SQRT(CAST((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0) AS DOUBLE))"
    binsql = octant_bin_sql("x1 - x0", "y1 - y0")
    dir_aggs = ",\n       ".join(
        f"CAST(SUM(CASE WHEN bin = {i} THEN len_mi ELSE 0 END) AS DOUBLE) / 1000.0 AS dir{i}"
        for i in range(N_DIR_BINS))
    return f"""WITH roads AS ({roads_sql}),
zones AS ({zones_sql}),
j AS (SELECT z.zone_id, r.*,
        z.zlon0, z.zlat0, z.zlon1, z.zlat1,
        CAST((z.zlon1 - z.zlon0) * (z.zlat1 - z.zlat0) AS DOUBLE) AS za
  FROM roads r, zones z),
c AS (SELECT zone_id, za, {binsql} AS bin,
        CAST(ROUND((CASE WHEN ({t_exit}) - ({t_enter}) > 0
             THEN (({t_exit}) - ({t_enter})) * {seg_len} ELSE 0.0 END) * 1000)
             AS BIGINT) AS len_mi
  FROM j)
SELECT zone_id,
       CAST(SUM(len_mi) AS DOUBLE) / 1000.0 AS total_len,
       CAST(SUM(len_mi) AS DOUBLE) / 1000.0 / MAX(za) * 1e6 AS lin_density,
       {dir_aggs}
FROM c WHERE len_mi > 0 GROUP BY zone_id"""

# ------------------------------------------------- zindex stratification
def road_zone_stats_by_level(roads: DataFrame, zones: DataFrame) -> DataFrame:
    """`linearRoadOperations` per-LEVEL stratification
    (`RsuIndicators.groovy:1010-1020, 1076-1105`: the ``levelConsiderated``
    loop splits every zonal road statistic by the road's ``zindex``):
    per (zone, zindex) clipped length + linear density. Same Liang–Barsky
    clip and per-row milli-rounding as :func:`road_zone_stats`; one extra
    grouping key, identical shuffle budget."""
    j = _road_zone_candidates(roads, zones)
    t_enter, t_exit = _clip_frac_cols()
    seg_len = F.sqrt(((F.col("x1") - F.col("x0")) * (F.col("x1") - F.col("x0"))
                      + (F.col("y1") - F.col("y0")) * (F.col("y1") - F.col("y0"))
                      ).cast("double"))
    frac = t_exit - t_enter
    clip_len = F.when(frac > 0, frac * seg_len).otherwise(F.lit(0.0))
    zarea = ((F.col("zlon1") - F.col("zlon0"))
             * (F.col("zlat1") - F.col("zlat0"))).cast("double")
    len_mi = F.round(clip_len * 1000).cast("long")
    c = (j.withColumn("_len", len_mi).where(F.col("_len") > 0)
         .withColumn("_za", zarea))
    g = c.groupBy("zone_id", "zindex").agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum("_len").alias("_t"), F.max("_za").alias("_za"))
    return g.select(
        "zone_id", "zindex", "n_segments",
        (F.col("_t").cast("double") / 1000.0).alias("total_len"),
        (F.col("_t").cast("double") / 1000.0 / F.col("_za") * F.lit(1e6)
         ).alias("lin_density"))


def road_zone_stats_by_level_sql(roads_sql: str, zones_sql: str) -> str:
    t_enter, t_exit = _clip_frac_sql()
    seg_len = "SQRT(CAST((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0) AS DOUBLE))"
    return f"""WITH roads AS ({roads_sql}),
zones AS ({zones_sql}),
j AS (SELECT z.zone_id, r.*,
        z.zlon0, z.zlat0, z.zlon1, z.zlat1,
        CAST((z.zlon1 - z.zlon0) * (z.zlat1 - z.zlat0) AS DOUBLE) AS za
  FROM roads r, zones z),
c AS (SELECT zone_id, zindex, za,
        CAST(ROUND((CASE WHEN ({t_exit}) - ({t_enter}) > 0
             THEN (({t_exit}) - ({t_enter})) * {seg_len} ELSE 0.0 END) * 1000)
             AS BIGINT) AS len_mi
  FROM j)
SELECT zone_id, zindex, CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(len_mi) AS DOUBLE) / 1000.0 AS total_len,
       CAST(SUM(len_mi) AS DOUBLE) / 1000.0 / MAX(za) * 1e6 AS lin_density
FROM c WHERE len_mi > 0 GROUP BY zone_id, zindex"""


# --------------------------------------------------- traffic enrichment
# Deterministic public-knowledge lookup tables (the reference ships these
# as roadTrafficParams.json resources, `RoadIndicators.groovy:68-99`; the
# graft defines its own values — the OPERATOR SHAPE is what is mirrored:
# broadcast dimension joins + class defaults).
TRAFFIC_EXCLUDED = ("track", "path", "cycleway", "steps")
TRAFFIC_CLASS = {  # source road type -> flow class
    "motorway": "major", "primary": "major",
    "secondary": "collector", "residential": "local", "service": "local",
}
MAXSPEED_DEFAULT = {"major": 110, "collector": 70, "local": 40}
# flow class -> (day_lv, day_hv, night_lv, night_hv, ev_lv, ev_hv) per hour
TRAFFIC_FLOW = {
    "major": (1200, 240, 180, 60, 600, 120),
    "collector": (500, 50, 60, 10, 250, 25),
    "local": (120, 6, 12, 1, 60, 3),
}
PAVEMENT = {"asphalt": "NL01", "concrete": "NL02", "paved": "NL03"}
PAVEMENT_DEFAULT = "NL05"
FLOW_PERIODS = ("day", "night", "ev")


def _traffic_dims(spark):
    cls = spark.createDataFrame(
        [(t, c) for t, c in TRAFFIC_CLASS.items()],
        "type string, road_class string")
    spd = spark.createDataFrame(
        [(c, v) for c, v in MAXSPEED_DEFAULT.items()],
        "road_class string, default_speed long")
    flow = spark.createDataFrame(
        [(c, *v) for c, v in TRAFFIC_FLOW.items()],
        "road_class string, day_lv long, day_hv long, night_lv long,"
        " night_hv long, ev_lv long, ev_hv long")
    pav = spark.createDataFrame(
        [(s, p) for s, p in PAVEMENT.items()],
        "surface string, pavement string")
    return cls, spd, flow, pav


def road_traffic(roads: DataFrame) -> DataFrame:
    """`RoadIndicators.build_road_traffic` analogue
    (`/root/reference/geoindicators/.../RoadIndicators.groovy:59-159`):
    per road, the CNOSSOS-style traffic enrichment — flow class from the
    source type (excluded soft types dropped), maxspeed defaulted per
    class when unknown (-1), pavement from the surface lookup, and
    light/heavy-vehicle hourly flows per period; one-way roads
    (direction != 3) carry half the two-way flow (floor).

    All four dimensions are tiny broadcast hash joins; the scan side never
    shuffles. Returns (road_id, road_type, source_road_type, pavement,
    direction, maxspeed, {period}_{lv,hv}_hour ...)."""
    spark = roads.sparkSession
    cls, spd, flow, pav = _traffic_dims(spark)
    r = (roads.where(~F.col("type").isin(*TRAFFIC_EXCLUDED))
         .join(F.broadcast(cls), "type")
         .join(F.broadcast(spd), "road_class")
         .join(F.broadcast(flow), "road_class")
         .join(F.broadcast(pav), "surface", "left"))
    half = lambda c: F.when(F.col("direction") == 3, c).otherwise(
        ((c - c % 2) / 2).cast("long"))
    out_flows = [
        half(F.col(f"{p}_{v}")).cast("long").alias(f"{p}_{v}_hour")
        for p in FLOW_PERIODS for v in ("lv", "hv")]
    return r.select(
        "road_id",
        F.col("road_class").alias("road_type"),
        F.col("type").alias("source_road_type"),
        F.coalesce(F.col("pavement"), F.lit(PAVEMENT_DEFAULT)).alias("pavement"),
        "direction",
        F.when(F.col("maxspeed") == -1, F.col("default_speed"))
        .otherwise(F.col("maxspeed")).cast("long").alias("maxspeed"),
        *out_flows)


def road_traffic_sql(roads_sql: str) -> str:
    """DuckDB mirror of :func:`road_traffic` (VALUES dims, same joins)."""
    cls = " UNION ALL ".join(
        f"SELECT '{t}' AS type, '{c}' AS road_class"
        for t, c in TRAFFIC_CLASS.items())
    spd = " UNION ALL ".join(
        f"SELECT '{c}' AS road_class, CAST({v} AS BIGINT) AS default_speed"
        for c, v in MAXSPEED_DEFAULT.items())
    flow = " UNION ALL ".join(
        f"SELECT '{c}' AS road_class, {v[0]} AS day_lv, {v[1]} AS day_hv,"
        f" {v[2]} AS night_lv, {v[3]} AS night_hv,"
        f" {v[4]} AS ev_lv, {v[5]} AS ev_hv"
        for c, v in TRAFFIC_FLOW.items())
    pav = " UNION ALL ".join(
        f"SELECT '{s}' AS surface, '{p}' AS pavement"
        for s, p in PAVEMENT.items())
    excl = ", ".join(f"'{t}'" for t in TRAFFIC_EXCLUDED)
    halves = ",\n       ".join(
        f"CAST(CASE WHEN r.direction = 3 THEN f.{p}_{v}"
        f" ELSE (f.{p}_{v} - f.{p}_{v} % 2) / 2 END AS BIGINT)"
        f" AS {p}_{v}_hour"
        for p in FLOW_PERIODS for v in ("lv", "hv"))
    return f"""WITH roads AS ({roads_sql}),
cls AS ({cls}), spd AS ({spd}), flow AS ({flow}), pav AS ({pav})
SELECT r.road_id, c.road_class AS road_type, r.type AS source_road_type,
       COALESCE(p.pavement, '{PAVEMENT_DEFAULT}') AS pavement,
       r.direction,
       CAST(CASE WHEN r.maxspeed = -1 THEN s.default_speed
            ELSE r.maxspeed END AS BIGINT) AS maxspeed,
       {halves}
FROM roads r
JOIN cls c ON c.type = r.type
JOIN spd s ON s.road_class = c.road_class
JOIN flow f ON f.road_class = c.road_class
LEFT JOIN pav p ON p.surface = r.surface
WHERE r.type NOT IN ({excl})"""
