"""Raster↔vector zonal statistics with area-weighted apportioning.

Reference: the population-grid joins — raster cells stored as polygons with a
value, intersected with zones and apportioned by
``value * area_intersection / area_total`` (`/root/reference/geoindicators/
.../BuildingIndicators.groovy:502-569` buildingPopulation weighted-sum
pattern `:528, 539-556`, `GridIndicators.groovy:45-108`,
`PopulationIndicators.groovy:82-160`; raster import
`worldpoptools/.../WorldPopExtract.groovy:87-125` ASC grid → cell table).

Here a raster IS a DataFrame of grid cells (cell_id, bounds, value) at a
resolution whose cell edges are exact integer microdegrees (requires
``360e6 % 2^(res+1) == 0`` → res <= 8), generated deterministically from the
cell id by an LCG — no external data. Rect zone × rect cell intersection
areas are then exact bigint products, so every weighted statistic is
bit-identical to the DuckDB oracle with zero rounding.

Scale: raster×zone candidates come from the cell-keyed covering equi-join
(operators/covering.py) — the zone dim is broadcast at fixture size, but
the join stays a hash join on the covering cell when both sides grow
planetary (no nested-loop shape anywhere in the plan, asserted by
tests/test_plans_guard.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.layers import BAND_EDGES, BAND_NAMES, N_SECTORS, SECTOR_W

RASTER_RES = 7  # 256×128 cells, 1_406_250 µ° square — exact integer bounds

_M = 2_147_483_647
_A = 48_271


def _check_res(res: int) -> tuple[int, int, int]:
    nx, ny = 1 << (res + 1), 1 << res
    if 360_000_000 % nx or 180_000_000 % ny:
        raise ValueError(f"res {res} has non-integer microdegree cell bounds")
    return nx, ny, 360_000_000 // nx


def grid_cells_df(spark: SparkSession, res: int = RASTER_RES) -> DataFrame:
    """One row per grid cell with row-major id, (x, y) and exact integer µ°
    bounds — shared by the raster source and the polygon→tile assignment."""
    nx, ny, w = _check_res(res)
    ids = spark.range(nx * ny).select(F.col("id").alias("cell_id"))
    x = (F.col("cell_id") % nx).alias("x")
    y = ((F.col("cell_id") - F.col("cell_id") % nx) / nx).cast("long").alias("y")
    c = ids.select("cell_id", x, y)
    return c.select(
        "cell_id", "x", "y",
        (F.col("x") * w - 180_000_000).alias("lon0_e6"),
        (F.col("y") * w - 90_000_000).alias("lat0_e6"),
        ((F.col("x") + 1) * w - 180_000_000).alias("lon1_e6"),
        ((F.col("y") + 1) * w - 90_000_000).alias("lat1_e6"))


def raster_df(spark: SparkSession) -> DataFrame:
    """Deterministic synthetic raster: one row per cell with integer µ°
    bounds and an LCG value in [0, 1000)."""
    return (grid_cells_df(spark).drop("x", "y")
            .withColumn("value", (F.col("cell_id") * _A + 11) % _M % 1000))


def raster_sql() -> str:
    nx, ny, w = _check_res(RASTER_RES)
    return f"""SELECT i AS cell_id,
       (i % {nx}) * {w} - 180000000 AS lon0_e6,
       CAST((i - i % {nx}) / {nx} AS BIGINT) * {w} - 90000000 AS lat0_e6,
       (i % {nx} + 1) * {w} - 180000000 AS lon1_e6,
       (CAST((i - i % {nx}) / {nx} AS BIGINT) + 1) * {w} - 90000000 AS lat1_e6,
       (i * {_A} + 11) % {_M} % 1000 AS value
FROM generate_series(0, {nx * ny - 1}) g(i)"""


def zone_bounds_rows() -> list[tuple[int, int, int, int, int]]:
    """(zone_id, lon0_e6, lat0_e6, lon1_e6, lat1_e6) integer µ° rect bounds."""
    e6 = lambda d: int(round(d * 1_000_000))
    rows = []
    for b in range(len(BAND_NAMES)):
        for s in range(N_SECTORS):
            rows.append((b * N_SECTORS + s,
                         e6(-180.0 + s * SECTOR_W), e6(BAND_EDGES[b]),
                         e6(-180.0 + (s + 1) * SECTOR_W), e6(BAND_EDGES[b + 1])))
    return rows


def zone_bounds_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        zone_bounds_rows(),
        "zone_id long, zlon0 long, zlat0 long, zlon1 long, zlat1 long")


def zone_bounds_values_sql() -> str:
    vals = ",\n  ".join(f"({z}, {a}, {b}, {c}, {d})"
                        for z, a, b, c, d in zone_bounds_rows())
    # BIGINT casts: DuckDB types VALUES literals as INT32 and µ°×µ°
    # products overflow 32 bits
    return (f"SELECT CAST(zone_id AS BIGINT) AS zone_id,"
            f" CAST(zlon0 AS BIGINT) AS zlon0, CAST(zlat0 AS BIGINT) AS zlat0,"
            f" CAST(zlon1 AS BIGINT) AS zlon1, CAST(zlat1 AS BIGINT) AS zlat1"
            f" FROM (VALUES\n  {vals}\n)"
            f" AS t(zone_id, zlon0, zlat0, zlon1, zlat1)")


def raster_zonal_stats(raster: DataFrame, zones: DataFrame) -> DataFrame:
    """Area-weighted zonal apportioning of raster values onto rect zones:
    (zone_id, wmean_value, total_weighted, overlap_e6sq, n_cells).
    Overlap areas are exact bigint µ°² products. Candidates come from the
    cell-keyed covering equi-join (operators/covering.py) — scales to
    planetary rasters × planetary zone sets without a nested-loop join."""
    from .covering import bbox_cell_join

    ox = F.least(F.col("lon1_e6"), F.col("zlon1")) - F.greatest(F.col("lon0_e6"), F.col("zlon0"))
    oy = F.least(F.col("lat1_e6"), F.col("zlat1")) - F.greatest(F.col("lat0_e6"), F.col("zlat0"))
    j = (bbox_cell_join(raster, ("lon0_e6", "lat0_e6", "lon1_e6", "lat1_e6"),
                        zones, ("zlon0", "zlat0", "zlon1", "zlat1"),
                        broadcast_b=True)
         .withColumn("_w", F.when((ox > 0) & (oy > 0), ox * oy).otherwise(F.lit(0)))
         .where(F.col("_w") > 0))
    agg = j.groupBy("zone_id").agg(
        F.sum(F.col("value") * F.col("_w")).alias("_svw"),
        F.sum("_w").alias("_sw"),
        F.count("*").alias("n_cells"))
    return agg.select(
        "zone_id",
        (F.col("_svw").cast("double") / F.col("_sw").cast("double")).alias("wmean_value"),
        F.col("_svw").alias("total_weighted"),
        F.col("_sw").alias("overlap_e6sq"),
        F.col("n_cells").cast("long").alias("n_cells"))


def raster_zonal_stats_sql() -> str:
    return f"""WITH raster AS ({raster_sql()}),
zones AS ({zone_bounds_values_sql()}),
j AS (SELECT z.zone_id, r.value,
        (LEAST(r.lon1_e6, z.zlon1) - GREATEST(r.lon0_e6, z.zlon0))
      * (LEAST(r.lat1_e6, z.zlat1) - GREATEST(r.lat0_e6, z.zlat0)) AS w
  FROM raster r, zones z
  WHERE LEAST(r.lon1_e6, z.zlon1) > GREATEST(r.lon0_e6, z.zlon0)
    AND LEAST(r.lat1_e6, z.zlat1) > GREATEST(r.lat0_e6, z.zlat0))
SELECT zone_id,
       CAST(SUM(value * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS wmean_value,
       CAST(SUM(value * w) AS BIGINT) AS total_weighted,
       CAST(SUM(w) AS BIGINT) AS overlap_e6sq,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM j GROUP BY zone_id"""


def intersect_pair_areas(zones: DataFrame, rects: DataFrame) -> DataFrame:
    """spatialJoin mode C (`SpatialUnits.groovy:531-538`): every intersecting
    (zone, rect) pair with its shared area — the all-relations join that
    feeds area-weighted rollups. Exact bigint µ°² overlaps; candidates via
    the cell-keyed covering equi-join (operators/covering.py).
    ``rects``: (rect_id, lon0, lat0, lon1, lat1)."""
    from .covering import bbox_cell_join

    ox = F.least(F.col("lon1"), F.col("zlon1")) - F.greatest(F.col("lon0"), F.col("zlon0"))
    oy = F.least(F.col("lat1"), F.col("zlat1")) - F.greatest(F.col("lat0"), F.col("zlat0"))
    return (bbox_cell_join(rects, ("lon0", "lat0", "lon1", "lat1"),
                           zones, ("zlon0", "zlat0", "zlon1", "zlat1"),
                           broadcast_b=True)
            .withColumn("area_e6sq",
                        F.when((ox > 0) & (oy > 0), ox * oy).otherwise(F.lit(0)))
            .where(F.col("area_e6sq") > 0)
            .select("zone_id", "rect_id", "area_e6sq"))


def intersect_pair_areas_sql(zones_sql: str, rects_sql: str) -> str:
    return f"""WITH zones AS ({zones_sql}),
rects AS ({rects_sql})
SELECT z.zone_id, r.rect_id,
       (LEAST(r.lon1, z.zlon1) - GREATEST(r.lon0, z.zlon0))
     * (LEAST(r.lat1, z.zlat1) - GREATEST(r.lat0, z.zlat0)) AS area_e6sq
FROM rects r, zones z
WHERE LEAST(r.lon1, z.zlon1) > GREATEST(r.lon0, z.zlon0)
  AND LEAST(r.lat1, z.zlat1) > GREATEST(r.lat0, z.zlat0)"""


def page_raster_enrich(pages_cells: DataFrame, raster: DataFrame) -> DataFrame:
    """Point-side raster lookup: pages keyed by their raster cell id join the
    cell value (broadcast raster / co-partitioned join at scale)."""
    return pages_cells.join(
        F.broadcast(raster.select(F.col("cell_id").alias("rcell_id"),
                                  "value")),
        "rcell_id", "left")
