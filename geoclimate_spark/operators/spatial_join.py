"""Point-in-polygon spatial join: pages × zone polygons.

THE core operator (north rule). Reference semantics: `spatialJoin` mode A —
each source row gets the id of the zone containing its point
(`/root/reference/geoindicators/.../SpatialUnits.groovy:510-515`,
``ST_POINTONSURFACE(a) && b AND ST_INTERSECTS``), boundary-inclusive, with
deterministic lowest-id tie-break at shared boundaries (convention of
`RsuIndicators.groovy:955-957`).

Spark-first physical strategy, picked per zone geometry:

* **rectangles on the µ° grid** (the climate-band dim): an exact
  interval-class lookup. The distinct rectangle edges cut each axis into
  classes (below, on, or between edges); the driver tabulates the lowest
  covering zone id per (lon class, lat class) pair — a few hundred rows —
  and the page side computes its class key with two codegen'd ``CASE``
  expressions and **broadcast hash joins** the table 1:1. No shuffle, no
  Python, one map pass over the pages.
* **general polygons** (filter-and-refine, SURVEY.md §4):

  1. zones (small dim, driver-side) are covered by grid cells at an
     auto-picked resolution — the ST_SUBDIVIDE + spatial-index analogue —
     and the covering becomes one row per cell holding the cell's candidate
     zones sorted by id; a candidate is ``full`` (the zone holds every
     point of the cell) or carries the zone edges a point of the cell can
     touch;
  2. the page side derives its cell key with pure column arithmetic
     (codegen'd, no UDF) and **broadcast hash joins** the candidate table
     1:1 — no shuffle of the big side, filters/pruning push into the
     parquet scan;
  3. the first candidate that is full, or whose edges hold the point by the
     exact ray-cast of :func:`spatial_join_points_np`, is the zone: JVM
     higher-order functions over the same doubles, no Python. Sorted
     candidates make the first hit the lowest id, so no aggregation or
     exchange follows.

At 100 TB: the broadcast side is sized by the zones, not the pages (class
pairs for rectangles, a few MB of per-cell candidate lists for 10^5
polygons); skew from dense urban cells is irrelevant to the join itself
(broadcast, no key shuffle) and handled at aggregation time by AQE + salted
two-phase aggs (see operators/zonal.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import geometry, grid
from ..sources.layers import Zone, zone_candidates


def pick_cover_res(zones: list[Zone], max_cells: int = 20_000) -> int:
    """Finest resolution whose total bbox covering stays under max_cells."""
    best = 0
    for res in range(0, grid.MAX_RES + 1):
        w = grid.cell_width_deg(res)
        total = 0
        for z in zones:
            lo0, la0, lo1, la1 = z.bbox
            total += (int((lo1 - lo0) / w) + 2) * (int((la1 - la0) / (w / 2) / 2) + 2)
        if total > max_cells:
            return best
        best = res
    return best


def _rect_bounds_e6(zones: list[Zone]) -> dict[int, tuple[int, int, int, int]] | None:
    """If EVERY zone is an axis-aligned rectangle whose edges sit exactly on
    the integer-µ° grid, return {zone_id: (lon0,lat0,lon1,lat1) int µ°};
    else None. Both conditions are required for the codegen fast path to be
    bit-equivalent to the ray-cast refine: rectangles make PIP four
    comparisons, and exact-µ° edges make the integer comparison identical to
    the float boundary-inclusive test (points only ever live on the µ° grid,
    so a non-grid edge could disagree within the snap gap)."""
    out: dict[int, tuple[int, int, int, int]] = {}
    for z in zones:
        p = np.asarray(z.poly, np.float64)
        if p.shape != (4, 2):
            return None
        lo0, la0, lo1, la1 = z.bbox
        corners = {(lo0, la0), (lo1, la0), (lo1, la1), (lo0, la1)}
        if {(float(x), float(y)) for x, y in p} != corners:
            return None
        e6 = [v * grid.LON_SCALE for v in (lo0, la0, lo1, la1)]
        snapped = [float(np.floor(v + 0.5)) for v in e6]
        if any(abs(v - s) > 1e-3 for v, s in zip(e6, snapped)):
            return None
        out[z.zone_id] = tuple(int(s) for s in snapped)
    return out


def _rect_class_table(bounds: dict[int, tuple[int, int, int, int]],
                      max_cells: int):
    """Exact interval-class lookup for rectangle zones, or None if too big.

    Each axis is cut at the distinct sorted µ° edges e_0 < … < e_{n-1} into
    2n+1 classes: 2k is strictly between e_{k-1} and e_k (below e_0 for
    k=0), 2k+1 is exactly e_k, 2n is above e_{n-1}. Every point of a class
    lies in the same set of boundary-inclusive rectangles (a rectangle
    [e_i, e_j] covers classes 2i+1 … 2j+1), so the minimum zone id per
    (lon class, lat class) pair is the exact join answer. Returns the lon
    and lat edges plus the covered pairs as flat keys
    ``lon_class * n_lat_classes + lat_class`` and their zone ids; pairs that
    no zone covers are dropped. None when the dense class grid exceeds
    ``max_cells`` (the caller then takes the generic covering path)."""
    b = np.array(list(bounds.values()), np.int64)   # lon0, lat0, lon1, lat1
    lon_e, lat_e = np.unique(b[:, [0, 2]]), np.unique(b[:, [1, 3]])
    n_lon, n_lat = 2 * len(lon_e) + 1, 2 * len(lat_e) + 1
    if n_lon * n_lat > max_cells:
        return None
    lon_cls = 2 * np.searchsorted(lon_e, b[:, [0, 2]]) + 1
    lat_cls = 2 * np.searchsorted(lat_e, b[:, [1, 3]]) + 1
    big = np.iinfo(np.int64).max
    best = np.full((n_lon, n_lat), big)
    for zid, (x0, x1), (y0, y1) in zip(bounds, lon_cls, lat_cls):
        cell = best[x0:x1 + 1, y0:y1 + 1]
        np.minimum(cell, zid, out=cell)
    keys = np.flatnonzero(best != big)
    return lon_e, lat_e, keys, best.ravel()[keys]


# The lowest candidate zone whose ray-cast holds the point (_px, _py), or
# NULL: a full candidate holds every point of its cell; the others decide by
# the crossing parity and the on-edge test of geometry.points_in_polygon,
# over the same doubles. The CASE keeps horizontal edges (dy = 0, never a
# crossing) from dividing by zero under ANSI.
_FIRST_ZONE = f"""aggregate(z_cands, CAST(NULL AS BIGINT), (z, c) -> CASE
  WHEN z IS NULL AND (c.full
    OR aggregate(c.edges, false, (odd, e) -> odd != CASE
         WHEN (e.ay > _py) != (e.by > _py)
         THEN _px < e.dx * (_py - e.ay) / e.dy + e.ax ELSE false END)
    OR exists(c.edges, e -> abs(e.dx * (_py - e.ay) - e.dy * (_px - e.ax)) < {geometry.PIP_TOL!r}D
              AND e.x0 <= _px AND _px <= e.x1 AND e.y0 <= _py AND _py <= e.y1))
  THEN c.zone_id ELSE z END)"""


def _class_col(c: Column, edges: np.ndarray) -> Column:
    """The interval class of column ``c`` over ``edges`` (see
    :func:`_rect_class_table`) as one CASE of ``<`` / ``=`` tests."""
    cls = F  # F.when opens the CASE, Column.when extends it
    for k, e in enumerate(edges.tolist()):
        cls = cls.when(c < e, 2 * k).when(c == e, 2 * k + 1)
    return cls.otherwise(2 * len(edges))


def spatial_join_points(df: DataFrame, zones: list[Zone], key: str = "page_id",
                        max_cells: int = 20_000,
                        passthrough: list[str] | None = None) -> DataFrame:
    """Assign each row's point to its containing zone.

    Returns ``(key, zone_id, lon_e6, lat_e6, *passthrough)`` — one row per
    input row whose point lies in at least one zone; lowest zone_id wins on
    boundaries/overlaps. ``passthrough`` columns ride along unchanged.

    Physical strategy is picked per zone geometry:

    * **all-rectangle zones on the µ° grid** (the climate-band dim and any
      gridded zoning): ZERO-shuffle, ZERO-Python interval lookup. The
      distinct rectangle edges cut each axis into interval classes; the
      driver precomputes the lowest covering zone id per (lon class, lat
      class) pair (375 rows for the 72 climate zones), and the page side
      computes its two classes with codegen'd ``CASE`` comparisons and
      broadcast hash joins that table 1:1. Pages in uncovered classes find
      no row and drop out. The lookup is keyed by a join, not inlined as a
      projection plus ``zone_id IS NOT NULL`` filter: Catalyst would push
      that filter below the extraction projection and copy the extraction
      into every comparison. When the class grid exceeds ``max_cells``
      the generic path runs instead.
    * **general simple polygons** (convex or not): filter-and-refine,
      also with no shuffle and no Python. The covering at the finest
      resolution whose bbox covering stays under ``max_cells`` cells
      (:func:`pick_cover_res`) is broadcast as one row per cell with its
      candidate zones sorted by id (:func:`~..sources.layers.zone_candidates`);
      the page side joins it 1:1 on its cell and keeps the first candidate
      that is full or whose edges hold the point by the ray-cast, once
      per row through a ``Generate`` over a 0/1-element array.

    ``max_cells`` is the one tuning knob: it picks the path and the
    covering resolution. Both paths are bit-equivalent (asserted in
    tests/test_spatial_join.py).
    """
    spark = df.sparkSession
    passthrough = passthrough or []
    pts = (df.where(F.col("lon_e6").isNotNull())
           .select(key, "lon_e6", "lat_e6", *passthrough))
    rect_bounds = _rect_bounds_e6(zones)
    table = _rect_class_table(rect_bounds, max_cells) if rect_bounds else None
    if table is not None:
        lon_e, lat_e, keys, zids = table
        n_lat = 2 * len(lat_e) + 1
        dim = spark.createDataFrame(pd.DataFrame(
            {"z_cls": keys.astype(np.int32), "zone_id": zids}))
        pts = pts.withColumn("_zcls",
                             _class_col(F.col("lon_e6"), lon_e) * n_lat
                             + _class_col(F.col("lat_e6"), lat_e))
        j = pts.join(F.broadcast(dim), pts["_zcls"] == dim["z_cls"], "inner")
        return j.select(key, "zone_id", "lon_e6", "lat_e6", *passthrough)
    res = pick_cover_res(zones, max_cells)
    cov = spark.createDataFrame(zone_candidates(zones, res))
    pts = pts.select(
        "*", grid.cell_col(F.col("lon_e6"), F.col("lat_e6"), res).alias("_jcell"),
        (F.col("lon_e6").cast("double") / F.lit(float(grid.LON_SCALE))).alias("_px"),
        (F.col("lat_e6").cast("double") / F.lit(float(grid.LON_SCALE))).alias("_py"))
    j = pts.join(F.broadcast(cov), pts["_jcell"] == cov["z_cell"], "inner")
    # explode of a 0/1-element array: rows with no zone drop out and the
    # first-hit expression runs once per row (a filter on it would be
    # copied into the join condition and run twice)
    zone = F.explode(F.array_compact(F.array(F.expr(_FIRST_ZONE))))
    return j.select(key, zone.alias("zone_id"), "lon_e6", "lat_e6", *passthrough)


def spatial_join_points_np(lon_e6: np.ndarray, lat_e6: np.ndarray,
                           zones: list[Zone]) -> np.ndarray:
    """Driver-side numpy oracle (test use): containing zone id or -1."""
    px = np.asarray(lon_e6, np.float64) / grid.LON_SCALE
    py = np.asarray(lat_e6, np.float64) / grid.LON_SCALE
    out = np.full(len(px), -1, dtype=np.int64)
    for z in sorted(zones, key=lambda z: -z.zone_id):
        m = geometry.points_in_polygon(px, py, z.poly)
        out[m] = z.zone_id
    return out
