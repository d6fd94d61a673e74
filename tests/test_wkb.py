"""WKB front door: codec roundtrip, snapping, Spark decode path."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from geoclimate_spark.sources import layers
from geoclimate_spark.sources import wkb as W


def test_polygon_roundtrip_with_hole():
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    hole = np.array([[2, 2], [2, 4], [4, 4], [4, 2]], float)
    rings = W.parse_wkb(W.polygon_wkb([outer, hole]))
    assert [(p, r) for p, r, _ in rings] == [(0, 0), (0, 1)]
    assert np.array_equal(rings[0][2], outer)
    assert np.array_equal(rings[1][2], hole)


def test_multipolygon_roundtrip():
    a = np.array([[0, 0], [5, 0], [5, 5]], float)
    b = np.array([[20, 20], [30, 20], [30, 30], [20, 30]], float)
    rings = W.parse_wkb(W.multipolygon_wkb([[a], [b]]))
    assert [(p, r) for p, r, _ in rings] == [(0, 0), (1, 0)]
    assert np.array_equal(rings[0][2], a)
    assert np.array_equal(rings[1][2], b)


def test_big_endian_and_ewkb_srid():
    """Parser must handle the other byte order and skip an EWKB SRID."""
    ring = np.array([[1.5, -2.5], [3.0, 4.0], [-5.0, 6.0]], float)
    closed = np.vstack([ring, ring[:1]])
    be = (struct.pack(">BII", 0, 3, 1)
          + struct.pack(">I", len(closed))
          + closed.astype(">f8").tobytes())
    got = W.parse_wkb(be)
    assert np.array_equal(got[0][2], ring)
    ewkb = (struct.pack("<BI", 1, 3 | 0x20000000) + struct.pack("<I", 4326)
            + struct.pack("<I", 1) + struct.pack("<I", len(closed))
            + closed.astype("<f8").tobytes())
    got = W.parse_wkb(ewkb)
    assert np.array_equal(got[0][2], ring)


def test_z_coordinates_rejected():
    buf = struct.pack("<BI", 1, 3 | 0x80000000)
    with pytest.raises(ValueError, match="Z/M"):
        W.parse_wkb(buf)


def test_snap_half_up():
    c = np.array([[0.49, 0.5], [-0.49, -0.5], [7.2, -7.2]], float)
    assert W.snap_coords(c, 1.0).tolist() == [[0, 1], [0, 0], [7, -7]]
    assert W.snap_coords(np.array([[1.04, 0.0]]), 10.0).tolist() == [[10, 0]]


def test_fixture_decode_recovers_exact_vertex_layer(spark):
    """decode ∘ snap over the jittered WKB fixture == the integer vertex
    fixture, row for row — the front door provably feeds the overlay
    operators the oracle's layer."""
    vtx = W.decode_wkb_vertices(
        W.wkb_feature_layer_df(spark), keep=("layer",))
    got = sorted(
        (int(r.feat_id), r.layer, int(r.seq), int(r.x), int(r.y))
        for r in vtx.where((F.col("part") == 0) & (F.col("ring") == 0))
        .collect())
    exp = sorted(layers.synth_poly_feature_rows())
    exp = sorted((f, l, s, x, y) for f, l, s, x, y in exp)
    assert got == exp


def test_multipoly_fixture_decode_recovers_parts_and_holes(spark):
    vtx = W.decode_wkb_vertices(W.wkb_multipoly_layer_df(spark))
    got = sorted((int(r.feat_id), int(r.part), int(r.ring), int(r.seq),
                  int(r.x), int(r.y)) for r in vtx.collect())
    assert got == sorted(W.synth_multipoly_rows())
    # fixture is non-trivial: some feature has 2 parts, some ring is a hole
    assert any(p == 1 for _, p, _, _, _, _ in got)
    assert any(r == 1 for _, _, r, _, _, _ in got)


def test_ring_net_areas_rect_with_hole(spark):
    """40×10 outer with a 4×2 hole: net 2·area = 2·(400−8) = 784."""
    rows = ([(7, 0, 0, k, x, y) for k, (x, y) in
             enumerate([(0, 0), (40, 0), (40, 10), (0, 10)])]
            + [(7, 0, 1, k, x, y) for k, (x, y) in
               enumerate([(1, 1), (1, 3), (5, 3), (5, 1)])])  # CW hole
    vtx = spark.createDataFrame(
        rows, "feat_id long, part long, ring long, seq long, x long, y long")
    out = W.ring_net_areas(vtx).collect()[0]
    assert (out.n_parts, out.n_holes, out.net_area2) == (1, 1, 784)


def test_decode_is_mapinpandas_not_python_udf(spark):
    """The decode must ride the scan as an Arrow batch op — no
    row-at-a-time BatchEvalPython in the plan."""
    import contextlib
    import io

    vtx = W.decode_wkb_vertices(W.wkb_feature_layer_df(spark),
                                keep=("layer",))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        vtx.explain(True)
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()


def test_reproject_decode_recovers_metric_layer(spark):
    """CRS front door: lon/lat WKB about a Nantes origin, reprojected to
    equirectangular meters inside the decode pass, must recover the SAME
    planted integer metric vertices as the metric fixture (jitter ±0.2 m
    dominates the ~1e-10 m float round-trip error)."""
    lon0, lat0 = -1.5534, 47.2173
    vtx = W.decode_wkb_vertices(
        W.lonlat_multipoly_layer_df(spark, lon0, lat0),
        origin=(lon0, lat0))
    got = {(r.feat_id, r.part, r.ring, r.seq): (r.x, r.y)
           for r in vtx.collect()}
    want = {(f, p, rg, sq): (x, y)
            for f, p, rg, sq, x, y in W.synth_multipoly_rows()}
    assert got == want


def test_degree_space_without_origin_is_wrong_scale(spark):
    """Sanity: decoding the lon/lat layer WITHOUT the origin transform
    yields degree-magnitude coordinates — the failure mode the CRS front
    door exists to close (metric ops on degrees)."""
    lon0, lat0 = -1.5534, 47.2173
    vtx = W.decode_wkb_vertices(
        W.lonlat_multipoly_layer_df(spark, lon0, lat0))
    mx = vtx.agg({"x": "max"}).collect()[0][0]
    assert abs(mx) < 1000  # degrees snap to tiny ints, not ±500k meters


def test_ring_perimeters_rect(spark):
    """4x3 rect + 1x1 hole: perimeter = (14 + 4) m in mm, exact ints."""
    rows = ([(7, 0, 0, i, x, y) for i, (x, y) in
             enumerate([(0, 0), (4, 0), (4, 3), (0, 3)])]
            + [(7, 0, 1, i, x, y) for i, (x, y) in
               enumerate([(1, 1), (1, 2), (2, 2), (2, 1)])])
    vtx = spark.createDataFrame(
        rows, "feat_id long, part long, ring long, seq long, x long, y long")
    out = W.ring_perimeters(vtx).collect()[0]
    assert out.perim_mm == 18_000
