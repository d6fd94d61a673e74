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

  1. zones (small dim, driver-side) are exploded into a covering of grid
     cells at an auto-picked resolution: every (cell, zone) pair whose cell
     rect intersects the zone polygon — the ST_SUBDIVIDE + spatial-index
     analogue;
  2. the page side derives its cell key with pure column arithmetic
     (codegen'd, no UDF) and **broadcast hash joins** the covering — no
     shuffle of the big side, filters/pruning push into the parquet scan;
  3. every candidate (page, zone) row runs the exact vectorized ray-cast
     refine (Arrow-batched pandas UDF over the broadcast zone dim) — the
     same rule as :func:`spatial_join_points_np`, for any simple polygon;
  4. the winning zone per page is ``min(zone_id)`` — a partial-aggregable
     (map-side combine) commutative agg, so the only shuffle in the operator
     is (key, zone_id) pairs, never the wide page rows.

At 100 TB: the broadcast side is sized by the zones, not the pages (class
pairs for rectangles, a few MB of (cell → zone) pairs for 10^5 polygons);
skew from dense urban cells is irrelevant to the join itself (broadcast,
no key shuffle) and handled at aggregation time by AQE + salted two-phase
aggs (see operators/zonal.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geometry, grid
from ..sources.layers import Zone, zone_covering


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


def _pip_refine_udf(zones: list[Zone]):
    """(lon_e6, lat_e6, zone_id) -> bool, vectorized per zone within a batch.

    The zones list rides the UDF closure → serialized once per task via the
    broadcast-like closure mechanism (small dim).
    """
    polys = {z.zone_id: z.poly for z in zones}

    @F.pandas_udf(T.BooleanType())
    def pip(lon_e6: pd.Series, lat_e6: pd.Series, zone_id: pd.Series) -> pd.Series:
        px = lon_e6.to_numpy(np.float64) / grid.LON_SCALE
        py = lat_e6.to_numpy(np.float64) / grid.LON_SCALE
        zid = zone_id.to_numpy(np.int64)
        out = np.zeros(len(px), dtype=bool)
        for z in np.unique(zid):
            m = zid == z
            out[m] = geometry.points_in_polygon(px[m], py[m], polys[int(z)])
        return pd.Series(out)

    return pip


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
    * **general simple polygons** (convex or not): filter-and-refine —
      explode candidates against a covering at the finest resolution whose
      bbox covering stays under ``max_cells`` cells (:func:`pick_cover_res`),
      Arrow-batched ray-cast on every candidate row, then a narrow
      min(zone_id) aggregation.

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
    cell, zid = zone_covering(zones, res)
    cov = spark.createDataFrame(pd.DataFrame({"z_cell": cell, "zone_id": zid}))
    pip = _pip_refine_udf(zones)

    pts = pts.withColumn("_jcell",
                         grid.cell_col(F.col("lon_e6"), F.col("lat_e6"), res))
    cand = pts.join(F.broadcast(cov), pts["_jcell"] == cov["z_cell"], "inner")
    hit = cand.where(pip(F.col("lon_e6"), F.col("lat_e6"), F.col("zone_id")))
    # Passthrough + coords go in the GROUPING KEY, not first() buffers:
    # string agg buffers would force SortAggregate; as keys the plan stays a
    # HashAggregate with map-side combine (values identical per page, so the
    # grouping is still one group per page).
    out = (hit.groupBy(key, "lon_e6", "lat_e6", *passthrough)
           .agg(F.min("zone_id").alias("zone_id")))
    return out.select(key, "zone_id", "lon_e6", "lat_e6", *passthrough)


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
