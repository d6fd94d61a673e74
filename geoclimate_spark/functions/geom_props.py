"""Per-row scalar geometry properties over polygon vertex arrays.

Reference: `GenericIndicators.geometryProperties` (`/root/reference/
geoindicators/.../GenericIndicators.groovy:229-258`) — project ST_AREA /
ST_PERIMETER / ST_NPOINTS alongside pass-through ids. Here polygons travel
as ``array<struct<lon_e6:long, lat_e6:long>>`` columns (the engine's
geometry-on-the-wire form, SURVEY.md §1.4) and the measures are computed in
ONE Arrow-batched pandas UDF returning a struct — the vectorized stand-in
for the H2GIS scalar functions.

Determinism: the shoelace runs on integer microdegrees (exact bigint
products/sums, vertex order fixed), so ``area_deg2`` is bit-exact vs the
SQL oracle; the perimeter sums per-edge float sqrt in vertex order on the
engine side but in arbitrary SUM order in SQL → ROUND(…, 6) on both sides.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PROPS_TYPE = T.StructType([
    T.StructField("area_deg2", T.DoubleType()),
    T.StructField("perimeter_deg", T.DoubleType()),
    T.StructField("n_points", T.LongType()),
    T.StructField("form_factor", T.DoubleType()),
    T.StructField("rectangularity", T.DoubleType()),
])

PROP_COLS = ("area_deg2", "perimeter_deg", "n_points",
             "form_factor", "rectangularity")


@F.pandas_udf(PROPS_TYPE)
def geometry_props(vertices: pd.Series) -> pd.DataFrame:
    """vertices: Series of list[{lon_e6, lat_e6}] (implicitly closed ring).

    Size/form menu (`GenericIndicators.geometryProperties` + the form
    measures of `BuildingIndicators.sizeProperties`/`formProperties`):
    ``form_factor`` = area / perimeter² (the reference's compactness ratio)
    and ``rectangularity`` = area / bbox area (the axis-aligned stand-in for
    area/ST_MINIMUMRECTANGLE — exact for the engine's rect-band zones, and
    SQL-expressible for the oracle). Both derive from the already-
    deterministic area (exact shoelace) and perimeter (rounded 6), so the
    divisions are bit-identical across engines."""
    areas, perims, npts, ffs, rects = [], [], [], [], []
    for ring in vertices:
        x = np.array([v["lon_e6"] for v in ring], dtype=object)  # exact ints
        y = np.array([v["lat_e6"] for v in ring], dtype=object)
        n = len(x)
        x2, y2 = np.roll(x, -1), np.roll(y, -1)
        shoelace = int(np.sum(x * y2 - x2 * y))  # exact python-int arithmetic
        # float() FIRST (the int may exceed 2^53): mirrors SQL's
        # CAST(bigint AS DOUBLE) / 2 / 1e12 rounding exactly
        area = float(abs(shoelace)) / 2 / 1e12
        areas.append(area)
        dx = (x2 - x).astype(np.float64) / 1e6
        dy = (y2 - y).astype(np.float64) / 1e6
        perim = round(float(np.sum(np.sqrt(dx * dx + dy * dy))), 6)
        perims.append(perim)
        npts.append(n)
        ffs.append(area / (perim * perim) if perim > 0 else 0.0)
        bbox = (float(int(max(x)) - int(min(x)))
                * float(int(max(y)) - int(min(y)))) / 1e12
        rects.append(area / bbox if bbox > 0 else 0.0)
    return pd.DataFrame({"area_deg2": areas, "perimeter_deg": perims,
                         "n_points": npts, "form_factor": ffs,
                         "rectangularity": rects})


def with_geometry_props(df: DataFrame) -> DataFrame:
    p = geometry_props(F.col("vertices"))
    df = df.withColumn("_p", p)
    for c in PROP_COLS:
        df = df.withColumn(c, F.col(f"_p.{c}"))
    return df.drop("_p")


# ------------------------------------------------------------------ sources
def zone_vertices_df(spark) -> DataFrame:
    """Climate zones as explicit vertex-array geometry rows."""
    from ..sources.layers import climate_zones
    rows = []
    for z in climate_zones():
        ring = [(int(round(x * 1e6)), int(round(y * 1e6))) for x, y in z.poly]
        rows.append((z.zone_id, [{"lon_e6": a, "lat_e6": b} for a, b in ring]))
    return spark.createDataFrame(
        rows, "zone_id long, vertices array<struct<lon_e6:long,lat_e6:long>>")


def zone_vertices_values_sql() -> str:
    """(zone_id, idx, lon_e6, lat_e6) vertex rows for the SQL oracle."""
    from ..sources.layers import climate_zones
    vals = []
    for z in climate_zones():
        for i, (x, y) in enumerate(z.poly):
            vals.append(f"({z.zone_id}, {i}, {int(round(x * 1e6))}, {int(round(y * 1e6))})")
    # explicit BIGINT casts: DuckDB types VALUES literals as INT32 and the
    # shoelace cross-products overflow 32 bits
    return ("SELECT CAST(zone_id AS BIGINT) AS zone_id, idx,"
            " CAST(lon_e6 AS BIGINT) AS lon_e6, CAST(lat_e6 AS BIGINT) AS lat_e6"
            " FROM (VALUES\n  " + ",\n  ".join(vals)
            + "\n) AS t(zone_id, idx, lon_e6, lat_e6)")


def geometry_props_oracle_sql() -> str:
    """Exact shoelace on bigint µ° via the idx→idx+1 self-join; perimeter
    rounded to 6 (float SUM order differs from the engine's vertex order)."""
    return f"""WITH v AS ({zone_vertices_values_sql()}),
n AS (SELECT zone_id, COUNT(*) AS np FROM v GROUP BY zone_id),
e AS (SELECT a.zone_id,
        a.lon_e6 * b.lat_e6 - b.lon_e6 * a.lat_e6 AS cross_term,
        SQRT(CAST((b.lon_e6 - a.lon_e6) * (b.lon_e6 - a.lon_e6)
                + (b.lat_e6 - a.lat_e6) * (b.lat_e6 - a.lat_e6) AS DOUBLE)) / 1000000.0 AS elen
  FROM v a JOIN n USING (zone_id)
  JOIN v b ON b.zone_id = a.zone_id AND b.idx = (a.idx + 1) % n.np),
g AS (SELECT zone_id,
       CAST(ABS(SUM(cross_term)) AS DOUBLE) / 2 / 1e12 AS area_deg2,
       ROUND(SUM(elen), 6) AS perimeter_deg,
       CAST(MAX(np2) AS BIGINT) AS n_points
  FROM (SELECT e.*, n.np AS np2 FROM e JOIN n USING (zone_id)) AS s
  GROUP BY zone_id),
bb AS (SELECT zone_id,
       CAST(CAST(MAX(lon_e6) - MIN(lon_e6) AS BIGINT) AS DOUBLE)
       * CAST(CAST(MAX(lat_e6) - MIN(lat_e6) AS BIGINT) AS DOUBLE) / 1e12 AS bbox
  FROM v GROUP BY zone_id)
SELECT g.zone_id, g.area_deg2, g.perimeter_deg, g.n_points,
       CASE WHEN g.perimeter_deg > 0
            THEN g.area_deg2 / (g.perimeter_deg * g.perimeter_deg)
            ELSE 0.0 END AS form_factor,
       CASE WHEN bb.bbox > 0 THEN g.area_deg2 / bb.bbox ELSE 0.0 END AS rectangularity
FROM g JOIN bb USING (zone_id)"""
