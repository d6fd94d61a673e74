from __future__ import annotations

import numpy as np
import pytest

from geoclimate_spark import geometry


UNIT_SQ = np.asarray([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])
TRIANGLE = np.asarray([[0.0, 0.0], [4.0, 0.0], [0.0, 3.0]])
# concave "L" polygon
ELL = np.asarray([[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2]], dtype=float)


def test_poly_area():
    assert geometry.poly_area(UNIT_SQ) == pytest.approx(1.0)
    assert geometry.poly_area(TRIANGLE) == pytest.approx(6.0)
    assert geometry.poly_area(ELL) == pytest.approx(3.0)
    # orientation-free
    assert geometry.poly_area(UNIT_SQ[::-1]) == pytest.approx(1.0)


def test_points_in_polygon_interior_exterior():
    px = np.asarray([0.5, 1.5, -0.5, 0.999999])
    py = np.asarray([0.5, 0.5, 0.5, 0.000001])
    assert geometry.points_in_polygon(px, py, UNIT_SQ).tolist() == [True, False, False, True]


def test_points_in_polygon_boundary_inclusive():
    # vertices, edge midpoints count IN (reference ST_INTERSECTS semantics)
    px = np.asarray([0.0, 1.0, 0.5, 0.0, 1.0])
    py = np.asarray([0.0, 1.0, 0.0, 0.5, 0.0])
    assert geometry.points_in_polygon(px, py, UNIT_SQ).all()


def test_points_in_concave_polygon():
    px = np.asarray([0.5, 1.5, 1.5, 0.5])
    py = np.asarray([0.5, 0.5, 1.5, 1.5])
    assert geometry.points_in_polygon(px, py, ELL).tolist() == [True, True, False, True]


def test_clip_convex_identity_and_half():
    clipped = geometry.clip_convex(UNIT_SQ, geometry.rect_poly(-1, -1, 2, 2))
    assert geometry.poly_area(clipped) == pytest.approx(1.0)
    half = geometry.clip_convex(UNIT_SQ, geometry.rect_poly(0.5, -1, 2, 2))
    assert geometry.poly_area(half) == pytest.approx(0.5)
    none = geometry.clip_convex(UNIT_SQ, geometry.rect_poly(5, 5, 6, 6))
    assert len(none) == 0 or geometry.poly_area(none) == pytest.approx(0.0)


def test_segments_meet_boxes_all_cases():
    def f(lon0, lat0, lon1, lat1, poly):
        """The covering's rect-meets-polygon rule: an edge meets the rect
        or the rect's centre lies in the polygon."""
        ax, ay = poly[:, 0], poly[:, 1]
        edges = geometry.segments_meet_boxes(ax, ay, np.roll(ax, -1), np.roll(ay, -1),
                                             lon0, lat0, lon1, lat1)
        centre = geometry.points_in_polygon(np.array([(lon0 + lon1) / 2]),
                                            np.array([(lat0 + lat1) / 2]), poly)
        return bool(edges.any() or centre[0])
    assert f(0.25, 0.25, 0.75, 0.75, UNIT_SQ)     # rect inside poly
    assert f(-1, -1, 2, 2, UNIT_SQ)               # poly inside rect
    assert f(0.5, 0.5, 2, 2, UNIT_SQ)             # overlap
    assert f(1.0, 0.0, 2.0, 1.0, UNIT_SQ)         # edge touch
    assert not f(1.5, 1.5, 2.0, 2.0, UNIT_SQ)     # disjoint
    # crossing but no vertex containment (plus-sign case)
    thin = np.asarray([[-5, 0.4], [5, 0.4], [5, 0.6], [-5, 0.6]], dtype=float)
    assert f(0.0, -5.0, 1.0, 5.0, thin)
    # a diagonal edge passing the box's corner: only the normal axis separates
    tri = np.asarray([[0.0, 0.0], [2.0, 0.0], [0.0, 2.0]])
    assert not f(1.01, 1.01, 2.0, 2.0, tri)
    assert f(0.99, 0.99, 2.0, 2.0, tri)


def test_convex_hull():
    pts = np.asarray([[0, 0], [1, 0], [1, 1], [0, 1], [0.5, 0.5], [0.2, 0.8]])
    hull = geometry.convex_hull(pts)
    assert geometry.poly_area(hull) == pytest.approx(1.0)
    assert len(hull) == 4

