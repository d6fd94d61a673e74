"""Multi-level population apportioning: raster → buildings → zones → tiles.

Reference: `PopulationIndicators.groovy:85-160` — population arrives on a
coarse grid, is distributed to buildings proportionally to each building's
share of the populated cell, then CASCADES upward (building→rsu→grid) with
re-normalization at every level: each upper unit receives
``pop(lower) × area(lower ∩ upper) / area(lower)``, so a building split
across two zones splits its people exactly and totals are conserved at
every level (`:113-131` building fractions, `:139-156` grid re-sum).

Graft levels (all axis-aligned integer-µ° rects, so every intersection
area is an EXACT bigint product):

  raster cells (res 7, LCG ``value`` as population)
    → buildings   = the 'builtup' rect layer
    → zones       = the 84 climate-zone rects
    → tiles       = the res-5 grid cells

Exactness: the only doubles are the per-edge apportioning ratios
``pop · a_overlap / a_total`` (one fixed IEEE expression) and their
per-unit sums, which follow the repo convention — idx-ORDERED cumulative
window + ``max_by(cs, idx)``, never a bare double SUM — so the DuckDB dual
replays bit-identically through all three levels.

Scale: each level is a bbox-cell equi-join (operators/covering.py) plus one
windowed aggregation partitioned by the receiving unit — three shuffles
total, each on the natural key, no nested loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .covering import bbox_cell_join

TILE_RES_POP = 5


def _overlap(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1):
    ox = F.least(F.col(ax1), F.col(bx1)) - F.greatest(F.col(ax0), F.col(bx0))
    oy = F.least(F.col(ay1), F.col(by1)) - F.greatest(F.col(ay0), F.col(by0))
    return F.when((ox > 0) & (oy > 0), ox * oy).otherwise(F.lit(0))


def _ordered_sum(df: DataFrame, group: str, order: str, term,
                 out: str) -> DataFrame:
    """Σ term per ``group`` as an ``order``-ed cumulative window +
    max_by — the repo's deterministic double-sum idiom."""
    wc = (Window.partitionBy(group).orderBy(order)
          .rowsBetween(Window.unboundedPreceding, 0))
    return (df.withColumn("_t", term)
            .withColumn("_cs", F.sum("_t").over(wc))
            .groupBy(group)
            .agg(F.max_by("_cs", order).alias(out)))


def apportion_down(src: DataFrame, src_key: str, src_pop: str,
                   src_total_area: str,
                   dst: DataFrame, dst_key: str,
                   src_bounds: tuple[str, str, str, str],
                   dst_bounds: tuple[str, str, str, str]) -> DataFrame:
    """One cascade level: every dst unit receives
    Σ_src pop(src) · area(src ∩ dst) / area_total(src), the sum ordered by
    src_key. ``src`` carries (src_key, src_pop, src_total_area, bounds);
    ``dst`` carries (dst_key, bounds). Returns (dst_key, pop)."""
    j = (bbox_cell_join(src, src_bounds, dst, dst_bounds, broadcast_b=True)
         .withColumn("_a", _overlap(*src_bounds, *dst_bounds))
         .where(F.col("_a") > 0))
    term = (F.col(src_pop) * F.col("_a").cast("double")
            / F.col(src_total_area).cast("double"))
    return _ordered_sum(j, dst_key, src_key, term, "pop")


def building_population(raster: DataFrame, buildings: DataFrame) -> DataFrame:
    """Level 1 — raster cell population onto buildings, normalized by the
    SUM OF BUILDING OVERLAPS within each cell (`:113-131`: people live in
    buildings, so a cell's population is split over its built area only;
    cells with no building contribute nobody).

    ``raster``: (cell_id, lon0_e6, lat0_e6, lon1_e6, lat1_e6, value);
    ``buildings``: (bld_id, lon0, lat0, lon1, lat1).
    Returns (bld_id, pop, bld_area) — bld_area the exact total rect area."""
    rb = ("lon0_e6", "lat0_e6", "lon1_e6", "lat1_e6")
    bb = ("lon0", "lat0", "lon1", "lat1")
    j = (bbox_cell_join(raster, rb, buildings, bb, broadcast_b=True)
         .withColumn("_a", _overlap(*rb, *bb))
         .where(F.col("_a") > 0))
    # per-cell built-area normalizer: exact bigint sum
    sa = j.groupBy("cell_id").agg(F.sum("_a").alias("_sa"))
    term = (F.col("value").cast("double") * F.col("_a").cast("double")
            / F.col("_sa").cast("double"))
    pop = _ordered_sum(j.join(sa, "cell_id"), "bld_id", "cell_id",
                       term, "pop")
    area = buildings.select(
        "bld_id",
        ((F.col("lon1") - F.col("lon0"))
         * (F.col("lat1") - F.col("lat0"))).alias("bld_area"))
    return pop.join(area, "bld_id")


def population_chain(raster: DataFrame, buildings: DataFrame,
                     zones: DataFrame, tiles: DataFrame) -> DataFrame:
    """The full 3-level cascade; returns the tile level
    (tile_id, pop) for tiles receiving anyone. ``zones``:
    (zone_id, zlon0, zlat0, zlon1, zlat1); ``tiles``: grid_cells_df shape."""
    bld = building_population(raster, buildings)
    bsrc = buildings.join(bld, "bld_id")
    zpop = apportion_down(
        bsrc, "bld_id", "pop", "bld_area", zones, "zone_id",
        ("lon0", "lat0", "lon1", "lat1"),
        ("zlon0", "zlat0", "zlon1", "zlat1"))
    zsrc = zones.join(zpop, "zone_id").select(
        "zone_id", "pop", "zlon0", "zlat0", "zlon1", "zlat1",
        ((F.col("zlon1") - F.col("zlon0"))
         * (F.col("zlat1") - F.col("zlat0"))).alias("zone_area"))
    tiles = tiles.select(F.col("cell_id").alias("tile_id"),
                         F.col("lon0_e6").alias("tlon0"),
                         F.col("lat0_e6").alias("tlat0"),
                         F.col("lon1_e6").alias("tlon1"),
                         F.col("lat1_e6").alias("tlat1"))
    return apportion_down(
        zsrc, "zone_id", "pop", "zone_area", tiles, "tile_id",
        ("zlon0", "zlat0", "zlon1", "zlat1"),
        ("tlon0", "tlat0", "tlon1", "tlat1"))


def tiles_sql() -> str:
    """(tile_id, tlon0, tlat0, tlon1, tlat1) — the res-N grid cells as SQL,
    mirroring raster.grid_cells_df's exact integer bounds."""
    from .raster import _check_res

    nx, ny, w = _check_res(TILE_RES_POP)
    return f"""SELECT i AS tile_id,
       (i % {nx}) * {w} - 180000000 AS tlon0,
       CAST((i - i % {nx}) / {nx} AS BIGINT) * {w} - 90000000 AS tlat0,
       (i % {nx} + 1) * {w} - 180000000 AS tlon1,
       (CAST((i - i % {nx}) / {nx} AS BIGINT) + 1) * {w} - 90000000 AS tlat1
FROM generate_series(0, {nx * ny - 1}) g(i)"""


# ------------------------------------------------------------------ oracle
def _ordered_sum_sql(rel: str, group: str, order: str, term: str,
                     out: str) -> str:
    return f"""SELECT {group}, MAX_BY(_cs, {order}) AS {out} FROM (
  SELECT {group}, {order},
         SUM({term}) OVER (PARTITION BY {group} ORDER BY {order}
             ROWS UNBOUNDED PRECEDING) AS _cs
  FROM {rel}) GROUP BY {group}"""


def population_chain_sql(raster_sql: str, buildings_sql: str,
                         zones_sql: str, tiles_sql: str) -> str:
    """DuckDB dual of :func:`population_chain` — identical expression trees
    and the same ordered cumulative sums at every level. ``tiles_sql``
    selects (tile_id, tlon0, tlat0, tlon1, tlat1)."""
    return f"""WITH raster AS ({raster_sql}),
blds AS ({buildings_sql}),
zones AS ({zones_sql}),
tiles AS ({tiles_sql}),
j1 AS (SELECT r.cell_id, b.bld_id, r.value,
       (LEAST(r.lon1_e6, b.lon1) - GREATEST(r.lon0_e6, b.lon0))
     * (LEAST(r.lat1_e6, b.lat1) - GREATEST(r.lat0_e6, b.lat0)) AS _a
  FROM raster r, blds b
  WHERE LEAST(r.lon1_e6, b.lon1) > GREATEST(r.lon0_e6, b.lon0)
    AND LEAST(r.lat1_e6, b.lat1) > GREATEST(r.lat0_e6, b.lat0)),
sa AS (SELECT cell_id, SUM(_a) AS _sa FROM j1 GROUP BY cell_id),
j1n AS (SELECT j1.bld_id, j1.cell_id,
       CAST(j1.value AS DOUBLE) * CAST(j1._a AS DOUBLE)
         / CAST(sa._sa AS DOUBLE) AS _t
  FROM j1 JOIN sa USING (cell_id)),
bpop AS ({_ordered_sum_sql('j1n', 'bld_id', 'cell_id', '_t', 'pop')}),
bsrc AS (SELECT b.bld_id, p.pop, b.lon0, b.lat0, b.lon1, b.lat1,
       (b.lon1 - b.lon0) * (b.lat1 - b.lat0) AS bld_area
  FROM blds b JOIN bpop p USING (bld_id)),
j2 AS (SELECT z.zone_id, s.bld_id,
       s.pop * CAST((LEAST(s.lon1, z.zlon1) - GREATEST(s.lon0, z.zlon0))
                  * (LEAST(s.lat1, z.zlat1) - GREATEST(s.lat0, z.zlat0))
               AS DOUBLE) / CAST(s.bld_area AS DOUBLE) AS _t
  FROM bsrc s, zones z
  WHERE LEAST(s.lon1, z.zlon1) > GREATEST(s.lon0, z.zlon0)
    AND LEAST(s.lat1, z.zlat1) > GREATEST(s.lat0, z.zlat0)),
zpop AS ({_ordered_sum_sql('j2', 'zone_id', 'bld_id', '_t', 'pop')}),
zsrc AS (SELECT z.zone_id, p.pop, z.zlon0, z.zlat0, z.zlon1, z.zlat1,
       (z.zlon1 - z.zlon0) * (z.zlat1 - z.zlat0) AS zone_area
  FROM zones z JOIN zpop p USING (zone_id)),
j3 AS (SELECT t.tile_id, s.zone_id,
       s.pop * CAST((LEAST(s.zlon1, t.tlon1) - GREATEST(s.zlon0, t.tlon0))
                  * (LEAST(s.zlat1, t.tlat1) - GREATEST(s.zlat0, t.tlat0))
               AS DOUBLE) / CAST(s.zone_area AS DOUBLE) AS _t
  FROM zsrc s, tiles t
  WHERE LEAST(s.zlon1, t.tlon1) > GREATEST(s.zlon0, t.tlon0)
    AND LEAST(s.zlat1, t.tlat1) > GREATEST(s.zlat0, t.tlat0))
{_ordered_sum_sql('j3', 'tile_id', 'zone_id', '_t', 'pop')}"""
