"""Pure-numpy planar geometry kernels (no shapely in this environment).

These implement the geometric predicates/measures the reference gets from
H2GIS spatial SQL — ST_AREA/ST_INTERSECTS/ST_INTERSECTION(area)/ST_DISTANCE —
with textbook algorithms (shoelace, even-odd ray casting, Sutherland–Hodgman
clipping). They run vectorized inside Arrow/pandas UDFs (never per-row Python,
per BASELINE.json input_hint) and double as driver-side test oracles.

Reference analogues:
- ST_AREA           -> :func:`poly_area`          (`GenericIndicators.groovy:241`)
- ST_INTERSECTS pt  -> :func:`points_in_polygon`  (`SpatialUnits.groovy:510-515`)
- ST_INTERSECTION
  area vs convex    -> :func:`clip_convex`
  (top-1 largest-overlap rule, `SpatialUnits.groovy:517-529`)

Polygons are (N,2) float64 arrays of vertices, implicitly closed (first vertex
not repeated). Rings are assumed non-self-intersecting; orientation-free
(areas use abs of signed shoelace).
"""

from __future__ import annotations

import numpy as np


def poly_area(poly: np.ndarray) -> float:
    """Unsigned shoelace area of a simple polygon."""
    x, y = poly[:, 0], poly[:, 1]
    return abs(float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))) / 2.0


# Boundary tolerance of the ray-cast: a point this close to an edge's line
# and bbox counts as on the edge.
PIP_TOL = 1e-12


def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Even-odd ray-cast test, vectorized over points; boundary points count IN.

    Standard crossing-number algorithm; the half-open edge treatment makes
    interior classification exact, and an explicit on-edge check makes boundary
    points deterministically inside (the reference's ST_INTERSECTS is
    boundary-inclusive, `SpatialUnits.groovy:513`).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = len(poly)
    inside = np.zeros(px.shape, dtype=bool)
    on_edge = np.zeros(px.shape, dtype=bool)
    x1, y1 = poly[:, 0], poly[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    for i in range(n):
        ax, ay, bx, by = x1[i], y1[i], x2[i], y2[i]
        # crossing test (half-open in y); horizontal edges (dy == 0) can
        # never satisfy cond, so skip them instead of dividing by zero.
        # A denormal dy can still overflow the quotient to ±inf — px < ±inf
        # stays a well-defined crossing decision, so only silence `over`.
        dy = by - ay
        if dy != 0.0:
            cond = (ay > py) != (by > py)
            with np.errstate(over="ignore"):
                xint = (bx - ax) * (py - ay) / dy + ax
            inside ^= cond & (px < xint)
        # on-edge: collinear and within segment bbox
        cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        within = (np.minimum(ax, bx) - PIP_TOL <= px) & (px <= np.maximum(ax, bx) + PIP_TOL) & \
                 (np.minimum(ay, by) - PIP_TOL <= py) & (py <= np.maximum(ay, by) + PIP_TOL)
        on_edge |= (np.abs(cross) < PIP_TOL) & within
    return inside | on_edge


def clip_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip arbitrary simple polygon by a CONVEX polygon.

    Returns the clipped polygon vertices ((M,2), possibly empty). The clip
    polygon must be convex and counter-clockwise.
    """
    out = subject
    n = len(clip)
    for i in range(n):
        if len(out) == 0:
            return out
        ax, ay = clip[i]
        bx, by = clip[(i + 1) % n]
        # signed side of each subject vertex vs clip edge (ccw => inside >= 0)
        sx, sy = out[:, 0], out[:, 1]
        side = (bx - ax) * (sy - ay) - (by - ay) * (sx - ax)
        keep = side >= -1e-12
        nxt = np.roll(np.arange(len(out)), -1)
        new_pts = []
        for j in range(len(out)):
            k = nxt[j]
            if keep[j]:
                new_pts.append(out[j])
            if keep[j] != keep[k]:
                # edge crosses clip line: interpolate
                denom = side[j] - side[k]
                t = side[j] / denom if denom != 0 else 0.0
                new_pts.append(out[j] + t * (out[k] - out[j]))
        out = np.asarray(new_pts, dtype=np.float64).reshape(-1, 2)
    return out


def rect_poly(lon0: float, lat0: float, lon1: float, lat1: float) -> np.ndarray:
    """CCW rectangle polygon."""
    return np.asarray([[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1]], dtype=np.float64)


def segments_meet_boxes(ax, ay, bx, by, x0, y0, x1, y1) -> np.ndarray:
    """Does segment (a, b) meet the closed box [x0, x1] × [y0, y1]?

    Separating-axis test, vectorized by broadcasting: the two meet unless
    their x ranges, their y ranges, or their projections on the segment's
    normal are disjoint. A rectangle meets a polygon iff some edge meets it
    or the rectangle's centre lies in the polygon.
    """
    dx, dy = bx - ax, by - ay
    hw, hh = (x1 - x0) / 2, (y1 - y0) / 2
    return ((np.minimum(ax, bx) <= x1) & (np.maximum(ax, bx) >= x0)
            & (np.minimum(ay, by) <= y1) & (np.maximum(ay, by) >= y0)
            & (np.abs(dx * (y0 + hh - ay) - dy * (x0 + hw - ax))
               <= hw * np.abs(dy) + hh * np.abs(dx)))


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain; returns CCW hull (for zone generation/tests)."""
    pts = np.unique(points, axis=0)
    if len(pts) <= 2:
        return pts
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(seq):
        h = []
        for p in seq:
            while len(h) >= 2 and np.cross(h[-1] - h[-2], p - h[-2]) <= 0:
                h.pop()
            h.append(p)
        return h

    lower = half(pts)
    upper = half(pts[::-1])
    return np.asarray(lower[:-1] + upper[:-1], dtype=np.float64)
