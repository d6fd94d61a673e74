from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from geoclimate_spark import geometry, grid
from geoclimate_spark.functions.extract import geo_extraction
from geoclimate_spark.operators.spatial_join import (
    pick_cover_res, spatial_join_points, spatial_join_points_np)
from geoclimate_spark.sources import layers
from geoclimate_spark.sources.pages import pages_from_documents

from conftest import SF_SMOKE


def _geo_pages(spark):
    pages = pages_from_documents(spark, SF_SMOKE)
    return geo_extraction(pages).select("page_id", "lon_e6", "lat_e6")


def test_climate_zone_join_matches_numpy_oracle(spark):
    g = _geo_pages(spark)
    zones = layers.climate_zones()
    got = spatial_join_points(g, zones).orderBy("page_id").toPandas()
    src = g.orderBy("page_id").toPandas()
    want = spatial_join_points_np(src.lon_e6.values, src.lat_e6.values, zones)
    # climate zones tile the globe: every geo page matches
    assert len(got) == len(src)
    assert (got.zone_id.values == want[want >= 0]).all()


def test_voronoi_zone_join_matches_numpy_oracle(spark):
    """The generic convex-polygon path (non-SQL-expressible); overlaps and
    gaps exercise tie-break + unmatched-row semantics."""
    g = _geo_pages(spark)
    zones = layers.voronoi_zones(n=40, seed=42)
    got = spatial_join_points(g, zones).orderBy("page_id").toPandas()
    src = g.orderBy("page_id").toPandas()
    want = spatial_join_points_np(src.lon_e6.values, src.lat_e6.values, zones)
    matched = src[want >= 0]
    assert len(got) == len(matched)
    assert (got.page_id.values == matched.page_id.values).all()
    assert (got.zone_id.values == want[want >= 0]).all()
    # gaps exist (not every page matched) at this zone density
    assert len(got) < len(src)


def _rect_join_vs_oracle(spark, zones, pts_deg):
    """Rect-path join of ``pts_deg`` (lon, lat degrees) checked against the
    numpy ray-cast oracle: matched points in order, gap points dropped.
    Returns the zone ids of every point (-1 = dropped)."""
    from geoclimate_spark.operators.spatial_join import (
        _rect_bounds_e6, _rect_class_table)
    assert _rect_class_table(_rect_bounds_e6(zones), 20_000) is not None
    lon = np.array([round(x * 1e6) for x, _ in pts_deg], np.int64)
    lat = np.array([round(y * 1e6) for _, y in pts_deg], np.int64)
    pdf = pd.DataFrame({"page_id": np.arange(len(lon)), "lon_e6": lon, "lat_e6": lat})
    got = spatial_join_points(spark.createDataFrame(pdf), zones) \
        .orderBy("page_id").toPandas()
    want = spatial_join_points_np(lon, lat, zones)
    assert got.page_id.tolist() == np.flatnonzero(want >= 0).tolist()
    assert got.zone_id.tolist() == want[want >= 0].tolist()
    return want.tolist()


def test_boundary_point_lowest_zone_id_tiebreak(spark):
    """Point exactly on a shared boundary → lowest zone id (reference
    convention, RsuIndicators.groovy:955-957)."""
    zones = [
        layers.Zone(7, "b", geometry.rect_poly(0.0, 0.0, 1.0, 1.0)),
        layers.Zone(3, "a", geometry.rect_poly(1.0, 0.0, 2.0, 1.0)),
        # four rectangles meeting at the corner (10, 10)
        layers.Zone(12, "c", geometry.rect_poly(9.0, 9.0, 10.0, 10.0)),
        layers.Zone(11, "c", geometry.rect_poly(10.0, 9.0, 11.0, 10.0)),
        layers.Zone(14, "c", geometry.rect_poly(9.0, 10.0, 10.0, 11.0)),
        layers.Zone(13, "c", geometry.rect_poly(10.0, 10.0, 11.0, 11.0)),
        # an isolated rectangle
        layers.Zone(20, "d", geometry.rect_poly(20.0, 20.0, 21.0, 21.0)),
    ]
    pts = [(1.0, 0.5), (0.5, 0.5), (1.5, 0.5),       # on boundary, in z7, in z3
           (10.0, 10.0), (9.5, 10.0), (10.0, 10.5),  # shared corner, shared edges
           (5.0, 5.0), (10.0, 11.000001),            # gaps: dropped
           (21.0, 20.5), (20.5, 21.0), (20.0, 20.0),  # isolated rect's outer edges
           (21.000001, 20.5)]                        # just outside it
    assert _rect_join_vs_oracle(spark, zones, pts) == \
        [3, 7, 3, 11, 12, 13, -1, -1, 20, 20, 20, -1]


def test_overlapping_zones_lowest_id_wins(spark):
    zones = [
        layers.Zone(5, "big", geometry.rect_poly(0.0, 0.0, 2.0, 2.0)),
        layers.Zone(2, "inner", geometry.rect_poly(0.5, 0.5, 1.5, 1.5)),
        # nested in z5 and sharing its left and top edges
        layers.Zone(1, "nested", geometry.rect_poly(0.0, 1.5, 0.5, 2.0)),
    ]
    pts = [(1.0, 1.0), (0.1, 0.1),
           (0.0, 1.75), (0.25, 2.0), (0.5, 1.75),  # z1 edges shared with z5 / own
           (0.500001, 1.75), (0.5, 1.5),           # z5 only / z1 ∩ z2 corner
           (0.0, 1.499999)]                        # z5's left edge below z1
    assert _rect_join_vs_oracle(spark, zones, pts) == [2, 5, 1, 1, 1, 5, 1, 5]


def test_full_cell_fast_path_consistency(spark):
    """Coarse vs fine covering resolutions must agree: the covering only
    picks candidates, the ray-cast decides."""
    g = _geo_pages(spark).limit(200)
    zones = layers.voronoi_zones(n=10, seed=1)
    assert (pick_cover_res(zones, 50), pick_cover_res(zones, 2000)) == (4, 8)
    a = spatial_join_points(g, zones, max_cells=50).orderBy("page_id").toPandas()
    b = spatial_join_points(g, zones, max_cells=2000).orderBy("page_id").toPandas()
    assert a.page_id.tolist() == b.page_id.tolist()
    assert a.zone_id.tolist() == b.zone_id.tolist()


def test_non_convex_zone_matches_numpy_oracle(spark):
    """A square with a 0.04°-wide notch cut down to its middle: covering
    cells whose four corners are all inside still straddle the notch, so
    only the ray-cast may decide. 61 points cross the notch; the 22 on or
    outside its walls match, the 39 strictly inside it do not."""
    notch = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [5.02, 10.0],
                      [5.02, 5.0], [4.98, 5.0], [4.98, 10.0], [0.0, 10.0]])
    zones = [layers.Zone(0, "notched", notch)]
    lon = np.arange(4_970_000, 5_030_001, 1_000, dtype=np.int64)
    lat = np.full(len(lon), 7_500_000, np.int64)
    pdf = pd.DataFrame({"page_id": np.arange(len(lon)), "lon_e6": lon, "lat_e6": lat})
    want = spatial_join_points_np(lon, lat, zones)
    assert (len(lon), int((want >= 0).sum())) == (61, 22)
    for max_cells, res in ((50, 6), (500, 8)):
        assert pick_cover_res(zones, max_cells) == res
        got = spatial_join_points(spark.createDataFrame(pdf), zones,
                                  max_cells=max_cells).orderBy("page_id").toPandas()
        assert got.page_id.tolist() == np.flatnonzero(want >= 0).tolist()
        assert got.zone_id.tolist() == want[want >= 0].tolist()


def test_rect_fast_path_equals_generic_refine(spark):
    """The rect path and the generic candidate-list path must be
    bit-equivalent on rect zones — including boundary ties and overlaps."""
    g = _geo_pages(spark)
    zones = layers.climate_zones()
    fast = spatial_join_points(g, zones).orderBy("page_id").toPandas()
    # and the fast plan really is UDF-free + shuffle-free
    plan = spatial_join_points(g, zones)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan
    # the 27 x 17 class grid exceeds max_cells=400: the generic path runs,
    # also with no Python, no exchange and no aggregation, and resolves the
    # first hit once per row (not again in the join condition)
    slow = spatial_join_points(g, zones, max_cells=400)
    plan = slow._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "HashAggregate" not in plan
    assert plan.count("aggregate(z_cands") == 1
    slow = slow.orderBy("page_id").toPandas()
    assert fast.page_id.tolist() == slow.page_id.tolist()
    assert fast.zone_id.tolist() == slow.zone_id.tolist()


def test_rect_class_table_climate_zones():
    """13 lon × 8 lat edges → 27 × 17 classes; the 25 × 15 covered pairs are
    the whole broadcast side, and each carries its lowest covering zone."""
    from geoclimate_spark.operators.spatial_join import (
        _rect_bounds_e6, _rect_class_table)
    zones = layers.climate_zones()
    lon_e, lat_e, keys, zids = _rect_class_table(_rect_bounds_e6(zones), 20_000)
    assert (len(lon_e), len(lat_e), len(keys)) == (13, 8, 375)
    lon_cls, lat_cls = np.divmod(keys, 2 * len(lat_e) + 1)
    # a representative point per class: the edge itself (odd) or the
    # midpoint of the open interval below it (even)
    rep = lambda e, c: np.where(c % 2 == 1, e[np.minimum(c // 2, len(e) - 1)],
                                (e[c // 2 - 1] + e[np.minimum(c // 2, len(e) - 1)]) // 2)
    want = spatial_join_points_np(rep(lon_e, lon_cls), rep(lat_e, lat_cls), zones)
    assert (zids == want).all()


def test_rect_fast_path_requires_grid_aligned_edges(spark):
    """A rectangle whose edge is NOT on the µ° grid must fall back to the
    generic path (the integer comparison would disagree inside the snap
    gap)."""
    from geoclimate_spark.operators.spatial_join import _rect_bounds_e6
    ok = layers.Zone(1, "a", geometry.rect_poly(0.0, 0.0, 1.0, 1.0))
    off = layers.Zone(2, "b", geometry.rect_poly(0.00000042, 0.0, 1.0, 1.0))
    assert _rect_bounds_e6([ok]) == {1: (0, 0, 1_000_000, 1_000_000)}
    assert _rect_bounds_e6([ok, off]) is None
    tri = layers.Zone(3, "c", np.array([[0.0, 0.0], [1.0, 0.0], [0.5, 1.0]]))
    assert _rect_bounds_e6([tri]) is None


def test_pick_cover_res_budget():
    zones = layers.climate_zones()
    res = pick_cover_res(zones, max_cells=20_000)
    cells, _ = layers.zone_covering(zones, res)
    assert len(cells) <= 20_000
    assert res >= 2


def test_zone_covering_cache_keys_on_vertices():
    """A triangle with the same zone id and bbox as a square must not get
    the square's cached covering: it keeps only the cells it intersects."""
    sq = layers.Zone(0, "t", geometry.rect_poly(40.0, 40.0, 44.0, 44.0))
    tri = layers.Zone(0, "t", np.array([[40.0, 40.0], [44.0, 40.0], [40.0, 44.0]]))
    sq_cells, _ = layers.zone_covering([sq], 8)
    cells, _ = layers.zone_covering([tri], 8)
    assert 0 < len(cells) < len(sq_cells)
    assert set(cells.tolist()) < set(sq_cells.tolist())
    # every cell dropped from the square's covering lies beyond the hypotenuse
    lo0, la0, _, _ = grid.cell_bounds_np(np.setdiff1d(sq_cells, cells))
    assert ((lo0 - 40.0) + (la0 - 40.0) >= 4.0).all()


NOTCH = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [5.02, 10.0],
                  [5.02, 5.0], [4.98, 5.0], [4.98, 10.0], [0.0, 10.0]])


def _full_cells(zones, res):
    """(cell, zone_id) of every candidate flagged full at ``res``."""
    t = layers.zone_candidates(zones, res).to_pylist()
    return [(r["z_cell"], c["zone_id"]) for r in t for c in r["z_cands"] if c["full"]]


@pytest.mark.parametrize("zones, res, k", [
    (layers.voronoi_zones(), 9, 9),
    ([layers.Zone(0, "notched", NOTCH)], 6, 201),
    ([layers.Zone(0, "notched", NOTCH)], 8, 101)])
def test_full_cells_hold_every_point(zones, res, k):
    """A full candidate skips the ray-cast, so every µ° point of its closed
    cell must pass it: a k x k lattice of each full cell, fine enough to
    land in the notched square's 0.04°-wide notch (a four-corner test
    would flag the cells across the notch full)."""
    polys = {z.zone_id: z.poly for z in zones}
    full = _full_cells(zones, res)
    assert full
    for cell, zid in full:
        lo0, la0, lo1, la1 = (float(v[0]) for v in grid.cell_bounds_np(np.array([cell])))
        xs = np.unique(np.clip(np.rint(np.linspace(lo0, lo1, k) * 1e6),
                               np.ceil(lo0 * 1e6), np.floor(lo1 * 1e6)))
        ys = np.unique(np.clip(np.rint(np.linspace(la0, la1, k) * 1e6),
                               np.ceil(la0 * 1e6), np.floor(la1 * 1e6)))
        px, py = (a.ravel() / 1e6 for a in np.meshgrid(xs, ys))
        assert geometry.points_in_polygon(px, py, polys[zid]).all(), (cell, zid)


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_generic_join_same_rows_under_ansi(spark, ansi):
    """Voronoi zones, and the climate zones forced off the rect path: their
    horizontal edges reach the crossing term's guarded division."""
    g = _geo_pages(spark)
    src = g.orderBy("page_id").toPandas()
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        for zones, max_cells in ((layers.voronoi_zones(), 20_000),
                                 (layers.climate_zones(), 400)):
            got = spatial_join_points(g, zones, max_cells=max_cells) \
                .orderBy("page_id").toPandas()
            want = spatial_join_points_np(src.lon_e6.values, src.lat_e6.values, zones)
            assert got.page_id.tolist() == src.page_id[want >= 0].tolist()
            assert got.zone_id.tolist() == want[want >= 0].tolist()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_generic_join_degenerate_inputs(spark):
    """Empty input, one row, and one hot cell whose every point lies on the
    diagonal two triangles share: the lower zone id takes them all."""
    zones = [layers.Zone(3, "lower_right", np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0]])),
             layers.Zone(1, "upper_left", np.array([[0.0, 0.0], [1.0, 1.0], [0.0, 1.0]]))]
    res = pick_cover_res(zones)
    schema = "page_id long, lon_e6 long, lat_e6 long"
    assert spatial_join_points(spark.createDataFrame([], schema), zones).count() == 0
    one = spatial_join_points(spark.createDataFrame([(7, 250_000, 750_000)], schema), zones)
    assert [tuple(r) for r in one.collect()] == [(7, 1, 250_000, 750_000)]
    d = np.arange(500_000, 501_000, dtype=np.int64)
    assert len(np.unique(grid.cell_np(d, d, res))) == 1
    hot = spark.createDataFrame(pd.DataFrame({"page_id": np.arange(len(d)),
                                              "lon_e6": d, "lat_e6": d}))
    got = spatial_join_points(hot, zones).orderBy("page_id").toPandas()
    assert got.page_id.tolist() == list(range(len(d)))
    assert set(got.zone_id) == {1}
    assert (spatial_join_points_np(d, d, zones) == 1).all()


def test_covering_cache_is_bounded():
    """The covering cache keeps at most 8 zone sets, the latest ones."""
    info = layers._covering.cache_info()
    assert info.maxsize == 8
    for i in range(12):
        layers.zone_covering([layers.Zone(i, "t", geometry.rect_poly(i, 0.0, i + 1.5, 1.5))], 6)
        assert layers._covering.cache_info().currsize <= 8
    hits = layers._covering.cache_info().hits
    layers.zone_covering([layers.Zone(11, "t", geometry.rect_poly(11, 0.0, 12.5, 1.5))], 6)
    assert layers._covering.cache_info().hits == hits + 1
