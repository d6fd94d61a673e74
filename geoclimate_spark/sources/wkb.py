"""WKB real-geometry front door: binary OGC geometry → snapped integer grid.

A real user's first act is pointing the engine at actual polygons. The
reference loads real city GeoJSON and snaps it onto a fixed precision grid
before any indicator runs (`/root/reference/geoindicators/src/test/...
WorkflowGeoIndicatorsTest.groovy:67-73` load; `SpatialUnits.groovy:534-535`
ST_PRECISIONREDUCER analogue). This module is the PySpark equivalent:

* a parquet/DataFrame layer of ``(id, geom_wkb: binary, srid: int)`` is
  decoded with a pure-numpy OGC WKB parser (no native geometry dependency —
  ``struct`` header walk + ``np.frombuffer`` coordinate slabs, both byte
  orders, Polygon / MultiPolygon, EWKB SRID flag tolerated) inside
  ``mapInPandas`` — Arrow-batched, executor-side, never a per-row Python UDF
  in the sense that matters (the decode IS the batch's vector payload);
* every coordinate snaps to the engine's integer grid with the explicit
  half-up rule ``FLOOR(x·scale + 0.5)`` (never engine ROUND — the repo-wide
  exactness convention), emitting the ``(id, part, ring, seq, x, y)``
  vertex rows the relational geometry operators consume
  (operators/polygon_overlay.py, operators/overlay.py);
* the inverse (``polygon_wkb`` / ``multipolygon_wkb``) serializes vertex
  rings back to spec-conformant WKB — used by the deterministic fixtures
  and the file sink round-trip.

Scale shape: decode rides the scan (one Arrow pass, no shuffle); the output
is a plain columnar vertex table, so everything downstream keeps its
bbox-cell equi-join physicality. Ring/part indices preserve holes and
multi-parts; convex single-ring consumers simply filter part=0, ring=0.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .layers import _lcg

_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6
_EWKB_SRID_FLAG = 0x2000_0000
_EWKB_Z_FLAG = 0x8000_0000

# --------------------------------------------------------- CRS reprojection
# The reference reprojects every input layer to a local metric CRS before
# any indicator runs (`osm/InputDataLoading.groovy:74-78`
# GeographyUtilities.getSRID + ST_Transform; grids re-projected at
# `WorkflowGeoIndicators.groovy:2007-2011`). The engine analogue is a
# deterministic equirectangular projection about a caller-chosen origin:
#   x_m = (lon − lon0) · M_PER_DEG · cos(lat0)     y_m = (lat − lat0) · M_PER_DEG
# Pure IEEE sub/mul with constants computed ONCE in Python and embedded as
# literals on both engines, so the transform replays bit-for-bit in the
# DuckDB oracle (the repo-wide exactness convention). Snap runs AFTER the
# transform — the grid is metric, never degree-space.
M_PER_DEG = 111_320.0


def equirect_scales(lat0: float) -> tuple[float, float]:
    """(cx, cy): meters per degree of longitude/latitude at ``lat0``."""
    import math

    return (M_PER_DEG * math.cos(math.radians(lat0)), M_PER_DEG)


# ------------------------------------------------------------------ writer
def _ring_bytes(ring: np.ndarray) -> bytes:
    """One closed linear ring (closing vertex appended — the engine's vertex
    rows are implicitly closed, the wire format is explicitly closed)."""
    r = np.asarray(ring, np.float64)
    closed = np.vstack([r, r[:1]])
    return struct.pack("<I", len(closed)) + closed.astype("<f8").tobytes()


def polygon_wkb(rings: list[np.ndarray]) -> bytes:
    """Little-endian WKB Polygon. ``rings[0]`` = outer (CCW), rest = holes;
    rings are open (no repeated closing vertex)."""
    out = struct.pack("<BII", 1, _WKB_POLYGON, len(rings))
    return out + b"".join(_ring_bytes(r) for r in rings)


def multipolygon_wkb(polys: list[list[np.ndarray]]) -> bytes:
    """Little-endian WKB MultiPolygon of Polygon parts."""
    out = struct.pack("<BII", 1, _WKB_MULTIPOLYGON, len(polys))
    return out + b"".join(polygon_wkb(p) for p in polys)


# ------------------------------------------------------------------ parser
def _parse_polygon(buf: bytes, off: int, bo: str) -> tuple[list[np.ndarray], int]:
    (n_rings,) = struct.unpack_from(bo + "I", buf, off)
    off += 4
    rings = []
    for _ in range(n_rings):
        (n_pts,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        dt = "<f8" if bo == "<" else ">f8"
        coords = np.frombuffer(buf, dtype=dt, count=2 * n_pts, offset=off)
        off += 16 * n_pts
        r = coords.reshape(-1, 2)
        # wire rings are explicitly closed; vertex rows are implicitly closed
        if n_pts >= 2 and (r[0] == r[-1]).all():
            r = r[:-1]
        rings.append(np.ascontiguousarray(r, np.float64))
    return rings, off


def parse_wkb(buf: bytes) -> list[tuple[int, int, np.ndarray]]:
    """All rings of one WKB geometry: [(part, ring, coords (n,2) float64)].
    Supports Polygon and MultiPolygon, both byte orders, EWKB SRID header
    (skipped — srid rides as its own column in this engine's layer schema).
    """
    (flag,) = struct.unpack_from("B", buf, 0)
    bo = "<" if flag == 1 else ">"
    (gtype,) = struct.unpack_from(bo + "I", buf, 1)
    off = 5
    if gtype & _EWKB_Z_FLAG:
        raise ValueError("Z/M coordinates not supported (2D engine)")
    if gtype & _EWKB_SRID_FLAG:
        off += 4  # embedded srid — authoritative srid is the layer column
        gtype &= ~_EWKB_SRID_FLAG
    gtype &= 0xFF
    if gtype == _WKB_POLYGON:
        rings, _ = _parse_polygon(buf, off, bo)
        return [(0, ri, r) for ri, r in enumerate(rings)]
    if gtype == _WKB_MULTIPOLYGON:
        (n_parts,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        out = []
        for part in range(n_parts):
            (pflag,) = struct.unpack_from("B", buf, off)
            pbo = "<" if pflag == 1 else ">"
            (ptype,) = struct.unpack_from(pbo + "I", buf, off + 1)
            if (ptype & 0xFF) != _WKB_POLYGON:
                raise ValueError(f"MultiPolygon part has type {ptype}")
            rings, off = _parse_polygon(buf, off + 5, pbo)
            out += [(part, ri, r) for ri, r in enumerate(rings)]
        return out
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def snap_coords(coords: np.ndarray, scale: float) -> np.ndarray:
    """``FLOOR(x·scale + 0.5)`` → int64 — the ST_PRECISIONREDUCER /
    shapely.set_precision analogue, with the repo's explicit half-up rule
    (bit-deterministic; engine ROUND semantics never enter)."""
    return np.floor(coords * scale + 0.5).astype(np.int64)


# ------------------------------------------------------------ spark operator
def decode_wkb_vertices(geoms: DataFrame, keep: tuple[str, ...] = (),
                        origin: tuple[float, float] | None = None) -> DataFrame:
    """WKB layer → snapped integer vertex rows.

    ``geoms``: (feat_id, geom_wkb binary, *keep). Returns
    (feat_id, *keep, part, ring, seq, x, y) with x/y rounded to int64 —
    ready for the relational geometry operators. One
    Arrow pass, no shuffle; decode cost rides the scan.

    ``origin=(lon0, lat0)``: the layer's coordinates are EPSG:4326 lon/lat
    DEGREES; reproject to local equirectangular meters about the origin
    BEFORE snapping (the `InputDataLoading.groovy:74-78` ST_Transform-to-
    local-UTM analogue) — metric operators (kNN radii, facade lengths,
    areas) then run on true meters instead of degree-space arithmetic.
    """
    keep = tuple(keep)
    if origin is not None:
        lon0, lat0 = float(origin[0]), float(origin[1])
        cx, cy = equirect_scales(lat0)
        _shift = np.array([lon0, lat0], np.float64)
        _mul = np.array([cx, cy], np.float64)
    schema = ("feat_id long, "
              + "".join(f"{k} string, " for k in keep)
              + "part long, ring long, seq long, x long, y long")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, keeps, parts, rings, seqs, xs, ys = ([], [], [], [], [], [], [])
            for row in pdf.itertuples(index=False):
                gid = row.feat_id
                kv = tuple(getattr(row, k) for k in keep)
                for part, ring, coords in parse_wkb(row.geom_wkb):
                    if origin is not None:
                        coords = (coords - _shift) * _mul
                    snapped = snap_coords(coords, 1.0)
                    n = len(snapped)
                    ids.append(np.full(n, gid, np.int64))
                    keeps.append(kv)
                    parts.append(np.full(n, part, np.int64))
                    rings.append(np.full(n, ring, np.int64))
                    seqs.append(np.arange(n, dtype=np.int64))
                    xs.append(snapped[:, 0])
                    ys.append(snapped[:, 1])
            if not ids:
                yield pd.DataFrame({c.split()[0]: [] for c in schema.split(", ")})
                continue
            counts = [len(a) for a in ids]
            out = {"feat_id": np.concatenate(ids)}
            for ki, k in enumerate(keep):
                out[k] = np.repeat([kv[ki] for kv in keeps], counts)
            out.update(part=np.concatenate(parts), ring=np.concatenate(rings),
                       seq=np.concatenate(seqs), x=np.concatenate(xs),
                       y=np.concatenate(ys))
            yield pd.DataFrame(out)

    return geoms.mapInPandas(run, schema)


# ------------------------------------------------------------- ring areas
def ring_net_areas(vtx: DataFrame) -> DataFrame:
    """Net polygon area from decoded (id, part, ring, seq, x, y) vertex
    rows: Σ_parts (|outer ring| − Σ |holes|), twice-area in exact int64
    (integer shoelace — order-independent, no double Σ anywhere). The
    ST_AREA-on-polygons-with-holes parity op
    (`GenericIndicators.groovy:241`); holes may be wound either way.

    Returns (id, n_parts, n_holes, net_area2) with net_area2 = 2·area in
    grid units²."""
    from pyspark.sql import Window

    w = Window.partitionBy("feat_id", "part", "ring").orderBy("seq")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    e = vtx.select(
        "feat_id", "part", "ring",
        F.col("x").alias("ex"), F.col("y").alias("ey"),
        F.coalesce(F.lead("x").over(w), F.first("x").over(wf)).alias("exn"),
        F.coalesce(F.lead("y").over(w), F.first("y").over(wf)).alias("eyn"))
    per_ring = (e.groupBy("feat_id", "part", "ring")
                .agg(F.sum(F.col("ex") * F.col("eyn")
                           - F.col("exn") * F.col("ey")).alias("a2")))
    signed = F.when(F.col("ring") == 0, F.abs(F.col("a2"))) \
        .otherwise(-F.abs(F.col("a2")))
    return (per_ring.groupBy("feat_id")
            .agg(F.countDistinct("part").cast("long").alias("n_parts"),
                 F.sum(F.when(F.col("ring") > 0, 1).otherwise(0))
                 .cast("long").alias("n_holes"),
                 F.sum(signed).cast("long").alias("net_area2")))


def ring_net_areas_sql(vtx_sql: str) -> str:
    return f"""WITH vtx AS ({vtx_sql}),
e AS (SELECT feat_id, part, ring, x AS ex, y AS ey,
       COALESCE(LEAD(x) OVER (PARTITION BY feat_id, part, ring ORDER BY seq),
         FIRST_VALUE(x) OVER (PARTITION BY feat_id, part, ring ORDER BY seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS exn,
       COALESCE(LEAD(y) OVER (PARTITION BY feat_id, part, ring ORDER BY seq),
         FIRST_VALUE(y) OVER (PARTITION BY feat_id, part, ring ORDER BY seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS eyn
  FROM vtx),
per_ring AS (SELECT feat_id, part, ring, SUM(ex * eyn - exn * ey) AS a2
  FROM e GROUP BY 1, 2, 3)
SELECT feat_id, CAST(COUNT(DISTINCT part) AS BIGINT) AS n_parts,
       CAST(SUM(CASE WHEN ring > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_holes,
       CAST(SUM(CASE WHEN ring = 0 THEN ABS(a2) ELSE -ABS(a2) END) AS BIGINT)
         AS net_area2
FROM per_ring GROUP BY feat_id"""


# ------------------------------------------------------------- perimeters
def ring_perimeters(vtx: DataFrame) -> DataFrame:
    """Metric perimeter from decoded vertex rows — the facade-length
    consumer of the CRS front door (`GenericIndicators.groovy:241`
    ST_PERIMETER analogue, holes included: interior facades count). Each
    closed-ring edge contributes ``FLOOR(1000·|edge| + 0.5)`` integer
    millimeters (per-EDGE rounding, so the int64 sum is order-independent
    — never a float Σ whose value depends on partitioning). Returns
    (id, perim_mm)."""
    from pyspark.sql import Window

    w = Window.partitionBy("feat_id", "part", "ring").orderBy("seq")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    e = vtx.select(
        "feat_id", "part", "ring",
        F.col("x").alias("ex"), F.col("y").alias("ey"),
        F.coalesce(F.lead("x").over(w), F.first("x").over(wf)).alias("exn"),
        F.coalesce(F.lead("y").over(w), F.first("y").over(wf)).alias("eyn"))
    elen = F.expr(
        "CAST(FLOOR(SQRT(CAST((ex - exn) * (ex - exn)"
        " + (ey - eyn) * (ey - eyn) AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)")
    return (e.groupBy("feat_id")
            .agg(F.sum(elen).cast("long").alias("perim_mm")))


def ring_perimeters_sql(vtx_sql: str) -> str:
    return f"""WITH vtx AS ({vtx_sql}),
e AS (SELECT feat_id, part, ring, x AS ex, y AS ey,
       COALESCE(LEAD(x) OVER (PARTITION BY feat_id, part, ring ORDER BY seq),
         FIRST_VALUE(x) OVER (PARTITION BY feat_id, part, ring ORDER BY seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS exn,
       COALESCE(LEAD(y) OVER (PARTITION BY feat_id, part, ring ORDER BY seq),
         FIRST_VALUE(y) OVER (PARTITION BY feat_id, part, ring ORDER BY seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS eyn
  FROM vtx)
SELECT feat_id,
       CAST(SUM(CAST(FLOOR(SQRT(CAST((ex - exn) * (ex - exn)
           + (ey - eyn) * (ey - eyn) AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT))
         AS BIGINT) AS perim_mm
FROM e GROUP BY feat_id"""


# ---------------------------------------------------------------- fixtures
N_MULTIPOLY = 48


def synth_multipoly_rows() -> list[tuple[int, int, int, int, int, int]]:
    """(feat_id, part, ring, seq, x, y) — deterministic MULTI-part features
    with holes: each feature has 1–2 rect parts; each part carries 0–1
    strictly-interior rect hole (CW — the decoder must not care about hole
    winding). Integer coords in a ±500k patch."""
    rows = []
    s = 77_177
    for fid in range(N_MULTIPOLY):
        s = _lcg(s)
        n_parts = 1 + s % 2
        for part in range(n_parts):
            s = _lcg(s); x0 = s % 900_001 - 450_000
            s = _lcg(s); y0 = s % 900_001 - 450_000
            s = _lcg(s); w = 20_000 + s % 60_000
            s = _lcg(s); h = 20_000 + s % 60_000
            outer = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
            rows += [(fid, part, 0, k, x, y)
                     for k, (x, y) in enumerate(outer)]
            s = _lcg(s)
            if s % 3:  # hole in 2/3 of parts, quarter-size, centered-ish
                hx0, hy0 = x0 + w // 4, y0 + h // 4
                hw, hh = w // 4, h // 4
                hole = [(hx0, hy0), (hx0, hy0 + hh),       # CW winding
                        (hx0 + hw, hy0 + hh), (hx0 + hw, hy0)]
                rows += [(fid, part, 1, k, x, y)
                         for k, (x, y) in enumerate(hole)]
    return rows


SRID = 4326


def wkb_multipoly_layer_df(spark) -> DataFrame:
    """The multi-part fixture serialized as WKB MultiPolygon bytes with the
    same deterministic sub-snap jitter as the convex layer."""
    feats: dict[int, dict[int, dict[int, list]]] = {}
    for fid, part, ring, seq, x, y in synth_multipoly_rows():
        feats.setdefault(fid, {}).setdefault(part, {}).setdefault(
            ring, []).append((x, y))
    rows = []
    s = 99_991
    for fid in sorted(feats):
        polys = []
        for part in sorted(feats[fid]):
            rings = []
            for ring in sorted(feats[fid][part]):
                arr = np.empty((len(feats[fid][part][ring]), 2), np.float64)
                for i, (x, y) in enumerate(feats[fid][part][ring]):
                    s = _lcg(s)
                    jx = (s % 401 - 200) / 1000.0
                    s = _lcg(s)
                    jy = (s % 401 - 200) / 1000.0
                    arr[i] = (x + jx, y + jy)
                rings.append(arr)
            polys.append(rings)
        rows.append((fid, SRID, bytearray(multipolygon_wkb(polys))))
    return spark.createDataFrame(
        rows, "feat_id long, srid int, geom_wkb binary")


def lonlat_multipoly_layer_df(spark, lon0: float, lat0: float) -> DataFrame:
    """The SAME planted multi-part/hole fixture as
    :func:`wkb_multipoly_layer_df` (identical jitter chain), but serialized
    in EPSG:4326 lon/lat DEGREES about ``(lon0, lat0)`` via the inverse
    equirectangular map — the input a real user hands the CRS front door.
    ``decode_wkb_vertices(..., origin=(lon0, lat0))`` must recover the
    planted integer metric layer exactly (jitter ±0.2 m ≫ the ~1e-10 m
    float round-trip error), so the oracle replays from the integer VALUES
    and never sees a degree."""
    cx, cy = equirect_scales(lat0)
    feats: dict[int, dict[int, dict[int, list]]] = {}
    for fid, part, ring, seq, x, y in synth_multipoly_rows():
        feats.setdefault(fid, {}).setdefault(part, {}).setdefault(
            ring, []).append((x, y))
    rows = []
    s = 99_991
    for fid in sorted(feats):
        polys = []
        for part in sorted(feats[fid]):
            rings = []
            for ring in sorted(feats[fid][part]):
                arr = np.empty((len(feats[fid][part][ring]), 2), np.float64)
                for i, (x, y) in enumerate(feats[fid][part][ring]):
                    s = _lcg(s)
                    jx = (s % 401 - 200) / 1000.0
                    s = _lcg(s)
                    jy = (s % 401 - 200) / 1000.0
                    arr[i] = (lon0 + (x + jx) / cx, lat0 + (y + jy) / cy)
                rings.append(arr)
            polys.append(rings)
        rows.append((fid, 4326, bytearray(multipolygon_wkb(polys))))
    return spark.createDataFrame(
        rows, "feat_id long, srid int, geom_wkb binary")


def multipoly_vertices_values_sql() -> str:
    vals = ",\n  ".join(f"({f}, {p}, {r}, {s}, {x}, {y})"
                        for f, p, r, s, x, y in synth_multipoly_rows())
    return ("SELECT CAST(feat_id AS BIGINT) AS feat_id,"
            " CAST(part AS BIGINT) AS part, CAST(ring AS BIGINT) AS ring,"
            " CAST(seq AS BIGINT) AS seq,"
            " CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y"
            " FROM (VALUES\n  " + vals
            + "\n) AS t(feat_id, part, ring, seq, x, y)")


def wkb_feature_layer_df(spark) -> DataFrame:
    """The convex poly-feature fixture re-serialized as a REAL WKB layer:
    (feat_id, layer, srid, geom_wkb). Coordinates carry a deterministic
    sub-snap jitter in (−0.2, 0.2) around the exact integer vertices, so
    the decode + half-up snap provably recovers the oracle's integer layer
    (the jitter magnitude is the test that snapping actually runs)."""
    from . import layers

    by_feat: dict[int, tuple[str, list[tuple[int, int]]]] = {}
    for fid, layer, seq, x, y in layers.synth_poly_feature_rows():
        by_feat.setdefault(fid, (layer, []))[1].append((x, y))
    rows = []
    s = 20_260_818
    for fid in sorted(by_feat):
        layer, vts = by_feat[fid]
        ring = np.empty((len(vts), 2), np.float64)
        for i, (x, y) in enumerate(vts):
            s = _lcg(s)
            jx = (s % 401 - 200) / 1000.0
            s = _lcg(s)
            jy = (s % 401 - 200) / 1000.0
            ring[i] = (x + jx, y + jy)
        rows.append((fid, layer, SRID, bytearray(polygon_wkb([ring]))))
    return spark.createDataFrame(
        rows, "feat_id long, layer string, srid int, geom_wkb binary")
