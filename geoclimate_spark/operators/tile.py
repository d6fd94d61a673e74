"""Tile assignment + multiscale LOD rollups.

Reference analogues: rect grid creation + (id_row, id_col) ids
(`/root/reference/geoindicators/.../SpatialUnits.groovy:561-625`), the
largest-overlap top-1 assignment rule (`SpatialUnits.groovy:517-529` —
``ORDER BY ST_AREA(ST_INTERSECTION(..)) DESC LIMIT 1``) and LOD
re-aggregation `ID_ROW_LOD_i = (ABS(ID_ROW-1)/3^i)+1`
(`GridIndicators.groovy:142-165`).

Here a tile IS a grid cell at TILE_RES, so point→tile assignment is pure
integer column arithmetic (codegen'd, zero UDF, zero shuffle) and LOD rollup
is a bit-shift parent + re-aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import grid

TILE_RES = 7  # ~1.4° tiles globally; override per pipeline


def tile_col(lon_e6: Column, lat_e6: Column, res: int = TILE_RES) -> Column:
    return grid.cell_col(lon_e6, lat_e6, res)


def tile_sql(lon_e6_sql: str, lat_e6_sql: str, res: int = TILE_RES) -> str:
    return grid.cell_sql(lon_e6_sql, lat_e6_sql, res)


def with_tile(df: DataFrame, res: int = TILE_RES) -> DataFrame:
    return df.withColumn("tile_id",
                         tile_col(F.col("lon_e6"), F.col("lat_e6"), res))


def lod_rollup(df: DataFrame, cell_col_name: str, child_res: int, levels: int,
               aggs: list[Column]) -> dict[int, DataFrame]:
    """Re-aggregate a cell-keyed table at successively coarser resolutions.

    Returns {res: DataFrame(cell, *aggs)}. Parent derivation is a bit shift —
    exact containment, so rollups are loss-free re-aggregations (unlike H3's
    approximate child nesting). Aggs must be algebraic (sum/count/min/max) for
    map-side partial aggregation.

    Each level re-aggregates the PREVIOUS level (res r-1 from res r), not
    the base — sums of sums are exact, every level's input is 2-4× smaller
    than the last, and a multi-level union does not re-scan the base once
    per level (the r2 tile_lod_rollup regression). Aggs must therefore be
    IDEMPOTENT under re-application to their own output (sum/min/max with
    matching in/out column names).
    """
    out = {}
    prev, prev_res, prev_key = df, child_res, cell_col_name
    for i in range(1, levels + 1):
        pres = child_res - i
        parent = grid.parent_col(F.col(prev_key), pres, prev_res).alias("cell")
        out[pres] = prev.groupBy(parent).agg(*aggs)
        prev, prev_res, prev_key = out[pres], pres, "cell"
    return out


def neighbor_smoothing(tiles: DataFrame, res: int = TILE_RES,
                       warm: tuple[str, ...] = ()) -> DataFrame:
    """Grid 8-neighbor smoothing — the `multiscaleLCZGrid` neighborhood
    stage (`/root/reference/geoindicators/.../GridIndicators.groovy:
    154-165, 173-182`): each cell reads its 8 adjacent cells' primary
    class, counts how many of the 3×3 block (self included) are in the
    "warm" class set, and takes the weight-ordered neighborhood mode
    (`:236-254` ORDER BY count DESC + deterministic weight tie-break —
    here Σweight DESC, category ASC, the repo's mode convention).

    Physical shape: each tile explodes to its kring-9 cells (pure integer
    column arithmetic, lon wrap / lat clamp) and equi-joins the tile table
    on the neighbor's own cell id — the same candidate pattern as knn.py,
    never a theta join. Missing neighbors (no pages) simply don't join,
    matching the reference's NULL neighbor subqueries counting 0.

    Returns (tile_id, mode_lang, n_nbrs, n_warm9, smooth_mode_lang,
    smooth_weight)."""
    from pyspark.sql import Window

    from .knn import _kring9

    centers = tiles.select(
        F.col("tile_id"),
        F.explode(_kring9(F.col("tile_id"), res)).alias("_cell"))
    nb = tiles.select(F.col("tile_id").alias("_cell"),
                      F.col("mode_lang").alias("_ncat"),
                      F.col("mode_weight").cast("long").alias("_nw"))
    j = centers.join(nb, "_cell")
    per = (j.groupBy("tile_id", "_ncat")
           .agg(F.sum("_nw").alias("_w"), F.count("*").alias("_n"),
                F.sum(F.when(F.col("_cell") != F.col("tile_id"), 1)
                      .otherwise(0)).alias("_nonself")))
    tot = per.groupBy("tile_id").agg(
        F.sum("_nonself").cast("long").alias("n_nbrs"),
        F.sum(F.when(F.col("_ncat").isin(*warm) if warm else F.lit(False),
                     F.col("_n")).otherwise(0)).cast("long").alias("n_warm9"))
    win = Window.partitionBy("tile_id").orderBy(F.col("_w").desc(),
                                                F.col("_ncat").asc())
    top = (per.withColumn("_rn", F.row_number().over(win))
           .where(F.col("_rn") == 1)
           .select("tile_id", F.col("_ncat").alias("smooth_mode_lang"),
                   F.col("_w").cast("long").alias("smooth_weight")))
    return (tiles.select("tile_id", "mode_lang")
            .join(tot, "tile_id").join(top, "tile_id"))


def kring9_sql(cell_sql: str, res: int) -> str:
    """SQL relation of (cell, nb) pairs — the 3×3 neighborhood of every
    cell in ``cell_sql`` (one column named cell), lon wraps, lat clamps.
    Mirrors knn._kring9 (packed-id arithmetic). The engine applies
    array_distinct to the 9 cells, so at degenerate resolutions (nx <= 2,
    where the -1/+1 lon wrap aliases to the same cell) duplicates collapse —
    the DISTINCT below keeps this SQL dual aligned there too; at any real
    resolution (nx >= 4) the 9 neighbors are distinct and DISTINCT is free."""
    nx, ny = grid.nx(res), grid.ny(res)
    mask = (1 << 29) - 1
    x = f"((cell >> 29) & {mask})"
    y = f"(cell & {mask})"
    return f"""SELECT DISTINCT c.cell,
       CAST({res} AS BIGINT) * {1 << 58}
         + (({x} + d.dx + {nx}) % {nx}) * {1 << 29} + ({y} + d.dy) AS nb
FROM ({cell_sql}) c
CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                   (1,-1),(1,0),(1,1)) AS d(dx, dy)
WHERE {y} + d.dy >= 0 AND {y} + d.dy < {ny}"""


def neighbor_smoothing_sql(tiles_sql: str, warm: tuple[str, ...] = ()) -> str:
    """DuckDB mirror of :func:`neighbor_smoothing`. ``tiles_sql`` selects
    (tile_id, mode_lang, mode_weight)."""
    warm_in = ", ".join(f"'{w}'" for w in warm)
    warm_case = (f"CASE WHEN _ncat IN ({warm_in}) THEN _n ELSE 0 END"
                 if warm else "0")
    kr = kring9_sql("SELECT tile_id AS cell FROM tiles", TILE_RES)
    return f"""WITH tiles AS ({tiles_sql}),
kr AS ({kr}),
j AS (SELECT k.cell AS tile_id, k.nb AS _cell, t.mode_lang AS _ncat,
             CAST(t.mode_weight AS BIGINT) AS _nw
  FROM kr k JOIN tiles t ON t.tile_id = k.nb),
per AS (SELECT tile_id, _ncat, SUM(_nw) AS _w, COUNT(*) AS _n,
       SUM(CASE WHEN _cell != tile_id THEN 1 ELSE 0 END) AS _nonself
  FROM j GROUP BY tile_id, _ncat),
tot AS (SELECT tile_id, CAST(SUM(_nonself) AS BIGINT) AS n_nbrs,
       CAST(SUM({warm_case}) AS BIGINT) AS n_warm9
  FROM per GROUP BY tile_id),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY tile_id
           ORDER BY _w DESC, _ncat ASC) AS _rn FROM per),
top AS (SELECT tile_id, _ncat AS smooth_mode_lang, CAST(_w AS BIGINT)
        AS smooth_weight FROM ranked WHERE _rn = 1)
SELECT t.tile_id, t.mode_lang, tot.n_nbrs, tot.n_warm9,
       top.smooth_mode_lang, top.smooth_weight
FROM tiles t JOIN tot USING (tile_id) JOIN top USING (tile_id)"""


def largest_overlap_tile(spark, zones_df: DataFrame, res: int = TILE_RES) -> DataFrame:
    """DISTRIBUTED spatialJoin mode B (largest-overlap top-1,
    `SpatialUnits.groovy:517-529` ``ORDER BY ST_AREA(ST_INTERSECTION(..))
    DESC LIMIT 1``): each zone rect is assigned the grid tile it overlaps
    most, tie-break lowest packed tile id. Exact bigint µ°² overlaps →
    bit-identical to the SQL oracle.

    ``zones_df``: (zone_id, zlon0, zlat0, zlon1, zlat1) integer µ° bounds
    (operators/raster.py::zone_bounds_df). Each zone EXPLODES directly
    into the tiles its bbox overlaps (exact integer range arithmetic) —
    no grid table, no cross join; candidate count = the zone's true tile
    cover, so the operator scales with Σ cover sizes, not zones × tiles.
    Returns (zone_id, tile_id, overlap_e6sq).
    """
    from pyspark.sql import Window

    from .raster import _check_res
    nx, ny, w = _check_res(res)

    # positive-overlap tile range per axis: x in [floor(A0/w), floor((A1-1)/w)]
    def rng(lo: str, hi: str, off: int):
        a0 = F.col(lo) + F.lit(off)
        a1 = F.col(hi) + F.lit(off) - 1
        idiv = lambda a: ((a - a % w) / w).cast("long")
        return F.sequence(idiv(a0), idiv(a1))

    z = zones_df
    j = (z.withColumn("_x", F.explode(rng("zlon0", "zlon1", 180_000_000)))
         .withColumn("_y", F.explode(rng("zlat0", "zlat1", 90_000_000))))
    ox = (F.least((F.col("_x") + 1) * w - 180_000_000, F.col("zlon1"))
          - F.greatest(F.col("_x") * w - 180_000_000, F.col("zlon0")))
    oy = (F.least((F.col("_y") + 1) * w - 90_000_000, F.col("zlat1"))
          - F.greatest(F.col("_y") * w - 90_000_000, F.col("zlat0")))
    packed = (F.lit(res).cast("long") * F.lit(1 << 58)
              + F.col("_x") * F.lit(1 << 29) + F.col("_y")).cast("long")
    j = (j.withColumn("_w", F.when((ox > 0) & (oy > 0), ox * oy).otherwise(F.lit(0)))
         .where(F.col("_w") > 0)
         .select("zone_id", packed.alias("tile_id"), F.col("_w").alias("overlap_e6sq")))
    win = Window.partitionBy("zone_id").orderBy(F.col("overlap_e6sq").desc(),
                                                F.col("tile_id").asc())
    return (j.withColumn("_rn", F.row_number().over(win))
            .where(F.col("_rn") == 1).drop("_rn"))


def largest_overlap_tile_sql(zones_values_sql: str, res: int = TILE_RES) -> str:
    """DuckDB mirror of :func:`largest_overlap_tile`."""
    from .raster import _check_res
    nx, ny, w = _check_res(res)
    return f"""WITH cells AS (
  SELECT i AS cell_id, i % {nx} AS x, CAST((i - i % {nx}) / {nx} AS BIGINT) AS y
  FROM generate_series(0, {nx * ny - 1}) g(i)),
cb AS (SELECT cell_id, x, y,
       x * {w} - 180000000 AS lon0_e6, y * {w} - 90000000 AS lat0_e6,
       (x + 1) * {w} - 180000000 AS lon1_e6, (y + 1) * {w} - 90000000 AS lat1_e6
  FROM cells),
zones AS ({zones_values_sql}),
j AS (SELECT z.zone_id,
        CAST({res} AS BIGINT) * {1 << 58} + c.x * {1 << 29} + c.y AS tile_id,
        (LEAST(c.lon1_e6, z.zlon1) - GREATEST(c.lon0_e6, z.zlon0))
      * (LEAST(c.lat1_e6, z.zlat1) - GREATEST(c.lat0_e6, z.zlat0)) AS overlap_e6sq
  FROM cb c, zones z
  WHERE LEAST(c.lon1_e6, z.zlon1) > GREATEST(c.lon0_e6, z.zlon0)
    AND LEAST(c.lat1_e6, z.zlat1) > GREATEST(c.lat0_e6, z.zlat0)),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY zone_id
           ORDER BY overlap_e6sq DESC, tile_id ASC) AS rn FROM j)
SELECT zone_id, tile_id, overlap_e6sq FROM ranked WHERE rn = 1"""
