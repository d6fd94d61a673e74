"""Spatial dimension layers: climate zones, tiles, raster cells.

Analogues of the reference's layer fixtures (FIXTURES.md §2; reference
`zone`/`rsu`/`grid` tables, `/root/reference/geoindicators/.../
SpatialUnits.groovy:111,583-591`). Everything is deterministic and generated
in-process — no external data.

Two zone flavors:

* :func:`climate_zones` — a global tiling of 6 latitude climate bands × 12
  longitude sectors (72 rectangular zones). Chosen because zone membership is
  *also* expressible as pure CASE arithmetic (:func:`zone_case_sql`), which is
  what lets the driver's DuckDB oracle independently verify the engine's
  generic covering + point-in-polygon machinery.
* :func:`voronoi_zones` — seeded convex polygon zones (convex hulls of LCG
  point clouds) exercising the real PIP path; verified by the numpy oracle in
  pytest (non-SQL-expressible).

Zones are plain Python objects on the driver (always a small broadcast-side
dimension; the reference's zone loop `osm/WorkflowOSM.groovy:389-646` becomes
a broadcast dimension here).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import TYPE_CHECKING

import numpy as np

from .. import geometry, grid

if TYPE_CHECKING:
    import pyarrow as pa

# Band boundaries (degrees, south → north) and names. Zone ids are
# band_idx * 12 + sector_idx; ties on shared boundaries resolve to the LOWEST
# zone id (reference tie-break convention, `RsuIndicators.groovy:955-957`).
BAND_EDGES = (-90.0, -66.56, -35.0, -23.44, 23.44, 35.0, 66.56, 90.0)
BAND_NAMES = ("s_polar", "s_temperate", "s_subtropic", "tropic",
              "n_subtropic", "n_temperate", "n_polar")
N_SECTORS = 12
SECTOR_W = 30.0


@dataclass(frozen=True)
class Zone:
    zone_id: int
    zone_type: str
    poly: np.ndarray  # (N,2) lon/lat degrees, implicitly closed

    @property
    def area(self) -> float:
        return geometry.poly_area(self.poly)

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        return (float(self.poly[:, 0].min()), float(self.poly[:, 1].min()),
                float(self.poly[:, 0].max()), float(self.poly[:, 1].max()))


def climate_zones() -> list[Zone]:
    zones = []
    for b in range(len(BAND_NAMES)):
        for s in range(N_SECTORS):
            lon0 = -180.0 + s * SECTOR_W
            poly = geometry.rect_poly(lon0, BAND_EDGES[b], lon0 + SECTOR_W, BAND_EDGES[b + 1])
            zones.append(Zone(b * N_SECTORS + s, BAND_NAMES[b], poly))
    return zones


def zone_case_sql(lon_e6_sql: str, lat_e6_sql: str) -> str:
    """ANSI-SQL zone id for a point — the DuckDB oracle for the PIP join.

    `<=` on ascending thresholds reproduces the lowest-zone-id tie-break of
    the inclusive-boundary PIP join.
    """
    e6 = lambda d: int(round(d * grid.LON_SCALE))
    band = "CASE " + " ".join(
        f"WHEN ({lat_e6_sql}) <= {e6(BAND_EDGES[b + 1])} THEN {b}"
        for b in range(len(BAND_NAMES) - 1)) + f" ELSE {len(BAND_NAMES) - 1} END"
    sector = "CASE " + " ".join(
        f"WHEN ({lon_e6_sql}) <= {e6(-180.0 + (s + 1) * SECTOR_W)} THEN {s}"
        for s in range(N_SECTORS - 1)) + f" ELSE {N_SECTORS - 1} END"
    return f"(({band}) * {N_SECTORS} + ({sector}))"


def zone_dim_rows() -> list[tuple[int, str, float]]:
    """(zone_id, zone_type, area_deg2) for every climate zone — the broadcast
    dimension used by zonal stats. Areas are computed once here in Python and
    inlined as identical double literals on both the Spark and SQL sides, so
    density statistics divide by bit-identical denominators."""
    rows = []
    for z in climate_zones():
        lo0, la0, lo1, la1 = z.bbox
        rows.append((z.zone_id, z.zone_type, (lo1 - lo0) * (la1 - la0)))
    return rows


def zone_dim_df(spark):
    return spark.createDataFrame(
        zone_dim_rows(), "zone_id long, zone_type string, area_deg2 double")


def zone_dim_values_sql() -> str:
    # CAST('…' AS DOUBLE) — string→double round-trips the Python float
    # exactly; a bare decimal literal would be parsed as DECIMAL and
    # re-rounded differently.
    vals = ",\n  ".join(
        f"({zid}, '{zt}', CAST('{area!r}' AS DOUBLE))"
        for zid, zt, area in zone_dim_rows())
    return (f"SELECT * FROM (VALUES\n  {vals}\n)"
            f" AS t(zone_id, zone_type, area_deg2)")


def zone_center_rows() -> list[tuple[int, int, int]]:
    """(zone_id, center_lon_e6, center_lat_e6) — integer microdegree zone
    centers (exact for the rect climate zones), used by direction binning."""
    rows = []
    for b in range(len(BAND_NAMES)):
        cy = int(round((BAND_EDGES[b] + BAND_EDGES[b + 1]) / 2 * grid.LON_SCALE))
        for s in range(N_SECTORS):
            cx = int(round((-180.0 + s * SECTOR_W + SECTOR_W / 2) * grid.LON_SCALE))
            rows.append((b * N_SECTORS + s, cx, cy))
    return rows


def zone_center_df(spark):
    return spark.createDataFrame(
        zone_center_rows(), "zone_id long, center_lon_e6 long, center_lat_e6 long")


def zone_center_values_sql() -> str:
    vals = ",\n  ".join(f"({z}, {x}, {y})" for z, x, y in zone_center_rows())
    return (f"SELECT * FROM (VALUES\n  {vals}\n)"
            f" AS t(zone_id, center_lon_e6, center_lat_e6)")


def _lcg(s: int) -> int:
    """One step of the repository's Lehmer LCG (a=48271, m=2^31-1, +11),
    shared by the Python fixture generators."""
    return (s * 48_271 + 11) % 2_147_483_647


RECT_LAYER_NAMES = ("builtup", "water", "veg")


def synth_rect_layer_rows() -> list[tuple[str, int, int, int, int]]:
    """Deterministic synthetic land-cover rects (LCG-placed, integer µ°) —
    the abstract-model layers (building/water/vegetation,
    `osm/InputDataFormatting.groovy:63-67,530,605`) reduced to rect
    footprints for the exact overlay operator."""
    rows = []
    s = 123_457
    for li, layer in enumerate(RECT_LAYER_NAMES):
        for k in range(25):
            s = _lcg(s)
            x0 = s % 340_000_000 - 175_000_000
            s = _lcg(s)
            y0 = s % 120_000_000 - 65_000_000
            s = _lcg(s)
            w = 1_000_000 + s % (8_000_000 * (li + 1))
            s = _lcg(s)
            h = 1_000_000 + s % 6_000_000
            rows.append((layer, x0, y0, min(x0 + w, 180_000_000),
                         min(y0 + h, 90_000_000)))
    return rows


def rect_layers_df(spark):
    return spark.createDataFrame(
        synth_rect_layer_rows(),
        "layer string, lon0 long, lat0 long, lon1 long, lat1 long")


def rect_layers_with_id_df(spark):
    rows = [(i, *r) for i, r in enumerate(synth_rect_layer_rows())]
    return spark.createDataFrame(
        rows, "rect_id long, layer string, lon0 long, lat0 long, lon1 long, lat1 long")


def rect_layers_values_sql() -> str:
    vals = ",\n  ".join(
        f"({i}, '{l}', {a}, {b}, {c}, {d})"
        for i, (l, a, b, c, d) in enumerate(synth_rect_layer_rows()))
    return ("SELECT CAST(rect_id AS BIGINT) AS rect_id, layer,"
            " CAST(lon0 AS BIGINT) AS lon0, CAST(lat0 AS BIGINT) AS lat0,"
            " CAST(lon1 AS BIGINT) AS lon1, CAST(lat1 AS BIGINT) AS lat1"
            " FROM (VALUES\n  " + vals
            + "\n) AS t(rect_id, layer, lon0, lat0, lon1, lat1)")


# ------------------------------------------------------ convex polygon layers
# Real-POLYGON overlay fixtures (`smallestCommunGeometry` with arbitrary
# geometry, `RsuIndicators.groovy:1484-1489`): strictly-convex integer
# polygons in a local ±500k patch. The coordinate bound is load-bearing —
# it keeps every cross product and segment-intersection numerator exactly
# representable in int64 on BOTH engines (|coord| ≤ 5e5 → edge cross ≤ 4e11,
# intersection numerators ≤ ~5e18 < 2^63), so the polygon clipping in
# operators/polygon_overlay.py is bit-deterministic vs the DuckDB oracle.
POLY_LAYER_NAMES = ("canopy", "urban", "flood")


def _synth_convex(n: int, seed: int, rmin: int, rmax: int) -> list[np.ndarray]:
    """n deterministic strictly-convex CCW integer polygons.

    Cloud of 10 LCG points → float hull → round to int → hull again (exact
    for these magnitudes: products < 2^53, so the float cross test is exact
    and the result is strictly convex with collinear triples removed)."""
    from .. import geometry
    s = seed
    out = []
    while len(out) < n:
        s = _lcg(s); cx = s % 800_001 - 400_000
        s = _lcg(s); cy = s % 800_001 - 400_000
        s = _lcg(s); r = rmin + s % (rmax - rmin)
        pts = []
        for _ in range(10):
            s = _lcg(s); dx = s % (2 * r + 1) - r
            s = _lcg(s); dy = s % (2 * r + 1) - r
            pts.append((cx + dx, cy + dy))
        hull = geometry.convex_hull(np.asarray(pts, np.float64))
        hull = np.rint(hull).astype(np.int64)
        hull = geometry.convex_hull(hull.astype(np.float64)).astype(np.int64)
        if len(hull) >= 3:
            out.append(hull)
    return out


def synth_poly_zone_rows() -> list[tuple[int, int, int, int]]:
    """(zone_id, seq, x, y) CCW vertex rows of convex polygon zones."""
    rows = []
    for zid, hull in enumerate(_synth_convex(40, seed=931, rmin=30_000,
                                             rmax=100_000)):
        rows += [(zid, k, int(x), int(y)) for k, (x, y) in enumerate(hull)]
    return rows


def synth_poly_feature_rows() -> list[tuple[int, str, int, int, int]]:
    """(feat_id, layer, seq, x, y) CCW vertex rows of convex layer features."""
    rows = []
    fid = 0
    for li, layer in enumerate(POLY_LAYER_NAMES):
        for hull in _synth_convex(40, seed=1_117 + 7 * li,
                                  rmin=10_000, rmax=60_000):
            rows += [(fid, layer, k, int(x), int(y))
                     for k, (x, y) in enumerate(hull)]
            fid += 1
    return rows


def poly_zone_vertices_df(spark):
    return spark.createDataFrame(
        synth_poly_zone_rows(), "zone_id long, seq long, x long, y long")


def poly_feature_vertices_df(spark):
    return spark.createDataFrame(
        synth_poly_feature_rows(),
        "feat_id long, layer string, seq long, x long, y long")


def poly_zone_vertices_values_sql() -> str:
    vals = ",\n  ".join(f"({z}, {s}, {x}, {y})"
                        for z, s, x, y in synth_poly_zone_rows())
    return ("SELECT CAST(zone_id AS BIGINT) AS zone_id,"
            " CAST(seq AS BIGINT) AS seq,"
            " CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y"
            " FROM (VALUES\n  " + vals + "\n) AS t(zone_id, seq, x, y)")


def poly_feature_vertices_values_sql() -> str:
    vals = ",\n  ".join(f"({f}, '{l}', {s}, {x}, {y})"
                        for f, l, s, x, y in synth_poly_feature_rows())
    return ("SELECT CAST(feat_id AS BIGINT) AS feat_id, layer,"
            " CAST(seq AS BIGINT) AS seq,"
            " CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y"
            " FROM (VALUES\n  " + vals + "\n) AS t(feat_id, layer, seq, x, y)")


# --------------------------------------------- concave (non-convex) zones
def _synth_nc_zone_data() -> tuple[list, list]:
    """Concave simple-polygon zones WITH a known convex decomposition.

    Each zone = a convex base hull plus a convex "wing" glued onto the
    base's closing edge (wing points strictly outward of that edge, so the
    hull of {edge endpoints, wing points} keeps the shared edge as a hull
    edge and the union ring base-vertices + wing-outer-chain is simple).
    The decomposition {base, wing} is what makes the DuckDB oracle
    expressible: Σ convex-part ∩ feature = simple-zone ∩ feature.

    Coordinate budget: base centers ±300k, base radius ≤ 90k, wing extends
    ≤ one edge length further → |coords| ≤ ~660k, keeping the int64 bounds
    of operators/polygon_overlay.py intact.

    Returns (ring_rows, part_rows):
      ring_rows: (zone_id, seq, x, y) — the simple CCW ring (engine input);
      part_rows: (zone_id, part_id, seq, x, y) — convex CCW parts (oracle).
    """
    from .. import geometry
    s = 777_001
    ring_rows, part_rows = [], []
    zid = 0
    while zid < 30:
        s = _lcg(s); cx = s % 600_001 - 300_000
        s = _lcg(s); cy = s % 600_001 - 300_000
        s = _lcg(s); r = 30_000 + s % 60_000
        pts = []
        for _ in range(8):
            s = _lcg(s); dx = s % (2 * r + 1) - r
            s = _lcg(s); dy = s % (2 * r + 1) - r
            pts.append((cx + dx, cy + dy))
        base = np.rint(geometry.convex_hull(
            np.asarray(pts, np.float64))).astype(np.int64)
        base = geometry.convex_hull(base.astype(np.float64)).astype(np.int64)
        if len(base) < 4:
            continue
        e0, e1 = base[-1], base[0]          # closing edge e0 → e1
        d = e1 - e0
        perp = np.array([d[1], -d[0]], np.int64)  # outward (right of d)
        wing_pts = [tuple(e0), tuple(e1)]
        for _ in range(3):
            s = _lcg(s); a = 2 + s % 5      # along-edge 2/8 .. 6/8
            s = _lcg(s); b = 2 + s % 7      # outward     2/8 .. 8/8
            p = e0 + (a * d) // 8 + (b * perp) // 8
            wing_pts.append((int(p[0]), int(p[1])))
        wing = geometry.convex_hull(
            np.asarray(sorted(set(wing_pts)), np.float64)).astype(np.int64)
        if len(wing) < 3:
            continue
        # locate the shared edge e1 → e0 in the wing's CCW ring
        i1 = next((i for i, w in enumerate(wing)
                   if w[0] == e1[0] and w[1] == e1[1]), None)
        if i1 is None or not np.array_equal(wing[(i1 + 1) % len(wing)], e0):
            continue  # defensive: wing must keep the glue edge
        outer = [wing[(i1 + 1 + k) % len(wing)]
                 for k in range(1, len(wing) - 1)]  # after e0, before e1
        ring = list(base) + [np.asarray(w, np.int64) for w in outer]
        ring_rows += [(zid, k, int(p[0]), int(p[1]))
                      for k, p in enumerate(ring)]
        part_rows += [(zid, 0, k, int(p[0]), int(p[1]))
                      for k, p in enumerate(base)]
        part_rows += [(zid, 1, k, int(p[0]), int(p[1]))
                      for k, p in enumerate(wing)]
        zid += 1
    return ring_rows, part_rows


def nc_zone_ring_df(spark):
    return spark.createDataFrame(
        _synth_nc_zone_data()[0], "zone_id long, seq long, x long, y long")


def nc_zone_parts_values_sql() -> str:
    vals = ",\n  ".join(f"({z}, {p}, {s}, {x}, {y})"
                        for z, p, s, x, y in _synth_nc_zone_data()[1])
    return ("SELECT CAST(zone_id AS BIGINT) AS zone_id,"
            " CAST(part_id AS BIGINT) AS part_id,"
            " CAST(seq AS BIGINT) AS seq,"
            " CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y"
            " FROM (VALUES\n  " + vals
            + "\n) AS t(zone_id, part_id, seq, x, y)")


def voronoi_zones(n: int = 40, seed: int = 42) -> list[Zone]:
    """Seeded convex zones ("Europe patch"): convex hulls of jittered point
    clouds around LCG-placed seeds. May overlap → exercises the min-id
    tie-break; leaves gaps → exercises unmatched pages."""
    rng = np.random.default_rng(seed)
    lon0, lat0, lon1, lat1 = -20.0, 30.0, 30.0, 60.0
    zones = []
    for i in range(n):
        cx = rng.uniform(lon0, lon1)
        cy = rng.uniform(lat0, lat1)
        r = rng.uniform(0.8, 3.0)
        pts = np.column_stack([cx + rng.normal(0, r, 12), cy + rng.normal(0, r, 12)])
        hull = geometry.convex_hull(pts)
        if len(hull) >= 3:
            zones.append(Zone(i, f"vz{i % 5}", hull))
    return zones


# A covering cell is "partial" for a zone when some edge of the zone comes
# within COVER_EPS degrees of the closed cell rectangle. The margin dwarfs
# the ~1e-13° float error of cell bounds and the ray-cast's PIP_TOL, and
# stays far below the 1e-6° spacing of the points.
COVER_EPS = 1e-7
# Per edge, the doubles geometry.points_in_polygon computes: the start point,
# the end's y, the deltas and the bbox widened by PIP_TOL.
EDGE_FIELDS = ("ax", "ay", "by", "dx", "dy", "x0", "x1", "y0", "y1")


def _edges(poly: np.ndarray) -> np.ndarray:
    """(n, len(EDGE_FIELDS)) values of each edge of ``poly``."""
    tol = geometry.PIP_TOL
    ax, ay = poly[:, 0], poly[:, 1]
    bx, by = np.roll(ax, -1), np.roll(ay, -1)
    return np.column_stack([ax, ay, by, bx - ax, by - ay,
                            np.minimum(ax, bx) - tol, np.maximum(ax, bx) + tol,
                            np.minimum(ay, by) - tol, np.maximum(ay, by) + tol])


def _cover_zone(poly: np.ndarray, res: int):
    """One zone's covering at ``res``: the cells within COVER_EPS of the
    zone; whether each is full (no edge that close and the centre inside,
    so every point of the closed cell is inside); and, for each partial
    cell, the mask of edges whose y range (± PIP_TOL) meets the cell's
    latitude band (± COVER_EPS). No other edge can cross the horizontal ray
    of a point in the cell or hold the point, so the ray-cast over the
    masked edges gives the same answer as over all of them."""
    cells = grid.cover_bbox_np(*poly.min(axis=0), *poly.max(axis=0), res)
    lo0, la0, lo1, la1 = (b[:, None] for b in grid.cell_bounds_np(cells))
    e = _edges(poly)
    ax, ay, by, _, _, _, _, y0, y1 = e.T
    partial = geometry.segments_meet_boxes(
        ax, ay, np.roll(ax, -1), by, lo0 - COVER_EPS, la0 - COVER_EPS,
        lo1 + COVER_EPS, la1 + COVER_EPS).any(axis=1)
    centre = geometry.points_in_polygon((lo0[:, 0] + lo1[:, 0]) / 2,
                                        (la0[:, 0] + la1[:, 0]) / 2, poly)
    keep = partial | centre
    band = (y0 <= la1 + COVER_EPS) & (y1 >= la0 - COVER_EPS) & partial[:, None]
    return cells[keep], ~partial[keep], band[keep], e


@dataclass(frozen=True)
class Covering:
    cell: np.ndarray       # (cell, zone_id) pairs, zone by zone
    zone_id: np.ndarray
    candidates: pa.Table   # see zone_candidates


@functools.lru_cache(maxsize=8)
def _covering(res: int, key: tuple) -> Covering:
    """The covering at ``res`` of the zones in ``key``, ``(zone_id, vertex
    bytes)`` pairs. Building it is driver-side numpy work paid once per zone
    set: the cache holds the last 8 sets, and keys on every vertex since two
    polygons can share an id and a bbox but not a covering."""
    import pyarrow as pa

    cells, zids, fulls, counts, edges = [], [], [], [], []
    for zid, b in key:
        c, full, band, e = _cover_zone(np.frombuffer(b).reshape(-1, 2), res)
        cells.append(c)
        zids.append(np.full(len(c), zid, np.int64))
        fulls.append(full)
        counts.append(band.sum(axis=1))
        edges.append(e[np.nonzero(band)[1]])   # pair by pair, in ring order
    cell, zid, full, n_edges, edge = map(np.concatenate,
                                         (cells, zids, fulls, counts, edges))
    # candidates sorted by (cell, zone_id), each followed by its edge run
    order = np.lexsort((zid, cell))
    first = np.cumsum(n_edges) - n_edges
    edge_off = np.concatenate([[0], np.cumsum(n_edges[order])])
    edge = edge[np.repeat(first[order] - edge_off[:-1], n_edges[order])
                + np.arange(edge_off[-1])]
    z_cell, cand_off = np.unique(cell[order], return_index=True)
    edges = pa.ListArray.from_arrays(
        pa.array(edge_off, pa.int32()),
        pa.StructArray.from_arrays(list(edge.T), names=list(EDGE_FIELDS)))
    cands = pa.StructArray.from_arrays([zid[order], full[order], edges],
                                       names=["zone_id", "full", "edges"])
    table = pa.table({"z_cell": z_cell, "z_cands": pa.ListArray.from_arrays(
        pa.array(np.append(cand_off, len(cell)), pa.int32()), cands)})
    return Covering(cell, zid, table)


def _zones_key(zones: list[Zone]) -> tuple:
    return tuple((z.zone_id, np.ascontiguousarray(z.poly, np.float64).tobytes())
                 for z in zones)


def zone_covering(zones: list[Zone], res: int) -> tuple[np.ndarray, np.ndarray]:
    """Filter-and-refine covering: for each zone, every res-cell that comes
    within COVER_EPS of the zone polygon. Returns (cell, zone_id) arrays.

    Analogue of the reference's manual spatial indexing + ST_SUBDIVIDE
    (`SpatialUnits.groovy:128-129`, `InputDataFormatting.groovy:204-208`):
    the small polygon side is pre-exploded to index cells so the big side
    joins by cell key only. Exact for any simple polygon, convex or not.
    """
    c = _covering(res, _zones_key(zones))
    return c.cell, c.zone_id


def zone_candidates(zones: list[Zone], res: int) -> pa.Table:
    """The covering as one row per cell: a pyarrow Table of ``z_cell`` and
    ``z_cands array<struct<zone_id, full, edges array<struct<EDGE_FIELDS>>>>``
    sorted by zone id. A ``full`` candidate holds every point of the cell
    and carries no edges; the others carry the edges that decide, by the
    ray-cast of geometry.points_in_polygon, which points of the cell they
    hold."""
    return _covering(res, _zones_key(zones)).candidates
