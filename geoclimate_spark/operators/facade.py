"""Projected facade / roof / frontal distribution family — GeoClimate's
signature multi-stage operators, grafted onto buffered-square page footprints.

Reference (`/root/reference/geoindicators/src/main/groovy/org/orbisgis/
geoclimate/geoindicators/RsuIndicators.groovy`):

* ``projectedFacadeAreaDistribution`` (`:422-610`) — party walls from
  pairwise building intersection (`:466-480`, GREATEST/LEAST height band),
  free facades = boundary minus the UNION of party geometry (`:490-501`),
  explode to segments, per-layer height clipping (`:505-521` — the
  ``(hi-lo) - GREATEST(hi-z_max,0) - GREATEST(z_min-lo,0)`` formula),
  per-direction weighting, per-zone pivoted sums with empty zones kept
  (`:592-598`).
* ``roofAreaDistribution`` / ``roofFractionDistributionExact``
  (`:659-858, 1816-1938`) — roof area per vertical layer, the "exact"
  variant polygonizing so overlapping buildings are not double-counted.
* ``frontalAreaIndexDistribution`` (`:1967-2178`) — facade sums divided by
  zone area.

Graft: buildings = axis-aligned squares of half-side ``buffer_e6`` around
page points, wall height = the page's ``chars``. Axis alignment makes every
stage exact integer arithmetic (µ° lengths × chars heights), hence
bit-identical DuckDB oracles for the *whole* multi-stage pipeline — the
explode→interval-union→2-D-pivot shape is what is being demonstrated, with
two documented simplifications: 4 wall normals fold into 2 direction classes
(``we`` = east/west-facing vertical walls, ``ns`` = north/south — the
reference's N directions collapse to 2 for axis-aligned segments, projected
weight 1), and facades are attributed to the owner page's zone rather than
clipped to zone geometry (buffer ≪ zone size).

Party-wall adaptation: the reference's ``ST_INTERSECTION`` yields line
segments only for *touching* buildings; our synthetic squares genuinely
overlap, so a "party portion" here is the interval of a wall covered by a
neighbor's closed footprint. Free length subtracts the UNION of covering
intervals (the reference's ``ST_DIFFERENCE(boundary,
ST_UNION(ST_ACCUM(...)))`` — merged, never double-subtracted) via the
classic running-max window island merge; the party band [least(h),
greatest(h)] is emitted once per unordered pair (``id_a < id_b``),
mirroring `:466-480`.

Scale: candidate pairs come from the 3×3 kring cell equi-join (never a
cross join); the interval merge is one window over (page, wall); everything
downstream is map-side-combinable conditional sums. No Python anywhere —
the whole family is JVM column expressions.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .knn import _kring9, pick_res_for_radius
from .. import grid

LAYER_BOUNDS = (0, 200, 400)   # chars layers: [0,200), [200,400), [400,inf)
DIR_CLASSES = ("we", "ns")


# ------------------------------------------------------------------ footprints
def square_footprints(pages: DataFrame, buffer_e6: int) -> DataFrame:
    """(zone_id, page_id, h, x0, y0, x1, y1) buffered squares."""
    return pages.select(
        F.col("zone_id").alias("zone_id"), F.col("page_id").alias("page_id"),
        F.col("chars").cast("long").alias("h"),
        (F.col("lon_e6") - buffer_e6).alias("x0"),
        (F.col("lat_e6") - buffer_e6).alias("y0"),
        (F.col("lon_e6") + buffer_e6).alias("x1"),
        (F.col("lat_e6") + buffer_e6).alias("y1"),
        F.col("lon_e6").alias("_lon"), F.col("lat_e6").alias("_lat"))


def overlap_pairs(sq: DataFrame, buffer_e6: int) -> DataFrame:
    """Directed pairs (a, b) of intersecting-or-touching squares, a != b.
    Kring-9 candidate generation on the center grid (cell width >= the 2r
    Chebyshev reach), exact closed-interval refine."""
    res = pick_res_for_radius(2 * buffer_e6)
    a = sq.select(
        F.col("zone_id"), F.col("page_id").alias("id_a"), F.col("h").alias("ha"),
        F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
        F.explode(_kring9(grid.cell_col(F.col("_lon"), F.col("_lat"), res), res))
        .alias("_cell"))
    b = sq.select(
        F.col("page_id").alias("id_b"), F.col("h").alias("hb"),
        F.col("x0").alias("bx0"), F.col("y0").alias("by0"),
        F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
        grid.cell_col(F.col("_lon"), F.col("_lat"), res).alias("_cell"))
    return (a.join(b, "_cell")
            .where((F.col("id_a") != F.col("id_b"))
                   & (F.col("bx0") <= F.col("ax1")) & (F.col("bx1") >= F.col("ax0"))
                   & (F.col("by0") <= F.col("ay1")) & (F.col("by1") >= F.col("ay0")))
            .drop("_cell"))
    # no distinct needed: the b side is keyed by its single own cell and the
    # a side's kring cells are array_distinct, so each (a, b) matches once


# ----------------------------------------------------------- wall primitives
_WALL_SPECS = (
    # (dir, dir_class, fixed coord, span lo, span hi, neighbor contains-fixed
    #  lo/hi, neighbor span lo/hi)
    ("e", "we", "ax1", "ay0", "ay1", "bx0", "bx1", "by0", "by1"),
    ("w", "we", "ax0", "ay0", "ay1", "bx0", "bx1", "by0", "by1"),
    ("n", "ns", "ay1", "ax0", "ax1", "by0", "by1", "bx0", "bx1"),
    ("s", "ns", "ay0", "ax0", "ax1", "by0", "by1", "bx0", "bx1"),
)


def _wall_overlaps(pairs: DataFrame) -> DataFrame:
    """Explode each directed pair into its per-wall covered intervals:
    (zone_id, id_a, id_b, ha, hb, dir, dir_class, s, e) with e > s."""
    structs = []
    for d, dc, fx, lo, hi, cf0, cf1, cs0, cs1 in _WALL_SPECS:
        s = F.greatest(F.col(lo), F.col(cs0))
        e = F.least(F.col(hi), F.col(cs1))
        contains = (F.col(cf0) <= F.col(fx)) & (F.col(fx) <= F.col(cf1))
        structs.append(F.struct(
            F.lit(d).alias("dir"), F.lit(dc).alias("dir_class"),
            F.when(contains, s).otherwise(F.lit(None)).alias("s"),
            e.alias("e")))
    ex = pairs.select("zone_id", "id_a", "id_b", "ha", "hb",
                      F.explode(F.array(*structs)).alias("w"))
    return (ex.select("zone_id", "id_a", "id_b", "ha", "hb",
                      F.col("w.dir").alias("dir"),
                      F.col("w.dir_class").alias("dir_class"),
                      F.col("w.s").alias("s"), F.col("w.e").alias("e"))
            .where(F.col("s").isNotNull() & (F.col("e") > F.col("s"))))


def _merged_covered_len(ov: DataFrame) -> DataFrame:
    """Union length of covered intervals per (id_a, dir) — running-max
    island merge: one window + one groupBy, exact integers."""
    w = (Window.partitionBy("id_a", "dir").orderBy(F.col("s").asc(), F.col("e").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    prev = F.max("e").over(w)
    contrib = F.greatest(
        F.col("e") - F.greatest(F.col("s"), F.coalesce(prev, F.col("s"))),
        F.lit(0))
    return (ov.withColumn("_c", contrib)
            .groupBy("id_a", "dir").agg(F.sum("_c").alias("covered_len")))


def _layer_cols(z_min: Column, z_max: Column) -> list[Column]:
    """The reference's layer clipping (`RsuIndicators.groovy:505-521`):
    height of the [z_min, z_max] band inside each layer; top layer open."""
    out = []
    for i in range(1, len(LAYER_BOUNDS)):
        lo, hi = LAYER_BOUNDS[i - 1], LAYER_BOUNDS[i]
        out.append(
            F.when(z_max <= lo, F.lit(0))
            .when(z_min >= hi, F.lit(0))
            .otherwise(F.lit(hi - lo) - F.greatest(F.lit(hi) - z_max, F.lit(0))
                       - F.greatest(z_min - F.lit(lo), F.lit(0)))
            .cast("long").alias(f"h{i - 1}"))
    top = LAYER_BOUNDS[-1]
    out.append(F.when(z_max >= top, z_max - F.greatest(z_min, F.lit(top)))
               .otherwise(F.lit(0)).cast("long").alias(f"h{len(LAYER_BOUNDS) - 1}"))
    return out


def _layer_sql(z_min: str, z_max: str, i: int) -> str:
    if i < len(LAYER_BOUNDS) - 1:
        lo, hi = LAYER_BOUNDS[i], LAYER_BOUNDS[i + 1]
        return (f"CASE WHEN {z_max} <= {lo} THEN 0 WHEN {z_min} >= {hi} THEN 0 "
                f"ELSE {hi - lo} - GREATEST({hi} - {z_max}, 0)"
                f" - GREATEST({z_min} - {lo}, 0) END")
    top = LAYER_BOUNDS[-1]
    return (f"CASE WHEN {z_max} >= {top} THEN {z_max} - GREATEST({z_min}, {top})"
            f" ELSE 0 END")


def facade_col_names() -> list[str]:
    return [f"f_{dc}_h{i}" for dc in DIR_CLASSES
            for i in range(len(LAYER_BOUNDS))]


# ------------------------------------------------------------- main operator
def facade_area_distribution(pages: DataFrame, zones: DataFrame,
                             buffer_e6: int) -> DataFrame:
    """Per-zone projected facade area by (direction class × height layer).

    ``pages``: (page_id, zone_id, lon_e6, lat_e6, chars);
    ``zones``: (zone_id, ...) dim — LEFT JOIN keeps empty zones at 0.
    Output: (zone_id, f_we_h0..f_ns_h{L}) exact bigint µ°·chars sums.
    """
    sq = square_footprints(pages, buffer_e6)
    pairs = overlap_pairs(sq, buffer_e6)
    ov = _wall_overlaps(pairs).persist()

    covered = _merged_covered_len(ov)
    # _WALL_SPECS names are pair-prefixed (ax0...); sq columns are bare
    wall_structs = [
        F.struct(F.lit(d).alias("dir"), F.lit(dc).alias("dir_class"),
                 (F.col(hi[1:]) - F.col(lo[1:])).alias("len"))
        for d, dc, fx, lo, hi, *_ in _WALL_SPECS]
    walls = (sq.select("zone_id", F.col("page_id").alias("id_a"),
                       F.col("h").alias("ha"),
                       F.explode(F.array(*wall_structs)).alias("w"))
             .select("zone_id", "id_a", "ha", F.col("w.dir").alias("dir"),
                     F.col("w.dir_class").alias("dir_class"),
                     F.col("w.len").alias("len")))
    free = (walls.join(covered, ["id_a", "dir"], "left")
            .select("zone_id", "dir_class",
                    (F.col("len") - F.coalesce(F.col("covered_len"), F.lit(0)))
                    .alias("len"),
                    F.lit(0).cast("long").alias("z_min"),
                    F.col("ha").alias("z_max")))
    party = (ov.where(F.col("id_a") < F.col("id_b"))
             .select("zone_id", "dir_class", (F.col("e") - F.col("s")).alias("len"),
                     F.least("ha", "hb").alias("z_min"),
                     F.greatest("ha", "hb").alias("z_max")))
    rows = free.unionByName(party)
    rows = rows.select("zone_id", "dir_class", "len",
                       *_layer_cols(F.col("z_min"), F.col("z_max")))
    aggs = [F.coalesce(F.sum(F.when(F.col("dir_class") == dc,
                                    F.col("len") * F.col(f"h{i}"))
                             .otherwise(F.lit(0))), F.lit(0))
            .cast("long").alias(f"f_{dc}_h{i}")
            for dc in DIR_CLASSES for i in range(len(LAYER_BOUNDS))]
    agg = rows.groupBy("zone_id").agg(*aggs)
    zd = zones.select("zone_id")
    out = zd.join(agg, "zone_id", "left")
    return out.select("zone_id",
                      *[F.coalesce(F.col(c), F.lit(0)).alias(c)
                        for c in facade_col_names()])


def facade_area_distribution_sql(pages_sql: str, zones_sql: str,
                                 buffer_e6: int) -> str:
    """DuckDB mirror — brute-force pair join, same interval-union window,
    same layer clipping, same conditional-sum pivot.
    ``pages_sql`` selects (page_id, zone_id, lon_e6, lat_e6, chars) BIGINT;
    ``zones_sql`` selects (zone_id, ...)."""
    r = buffer_e6
    wall_ovs = []
    for d, dc, fx, lo, hi, cf0, cf1, cs0, cs1 in _WALL_SPECS:
        wall_ovs.append(
            f"SELECT zone_id, id_a, id_b, ha, hb, '{d}' AS dir,"
            f" '{dc}' AS dir_class,"
            f" GREATEST({lo}, {cs0}) AS s, LEAST({hi}, {cs1}) AS e"
            f" FROM pairs WHERE {cf0} <= {fx} AND {fx} <= {cf1}"
            f" AND LEAST({hi}, {cs1}) > GREATEST({lo}, {cs0})")
    walls = []
    for d, dc, fx, lo, hi, *_ in _WALL_SPECS:
        walls.append(f"SELECT zone_id, page_id AS id_a, h AS ha, '{d}' AS dir,"
                     f" '{dc}' AS dir_class, {hi[1:]} - {lo[1:]} AS len FROM sq")
    layer_free = ", ".join(
        f"({_layer_sql('0', 'z_max', i)}) AS h{i}"
        for i in range(len(LAYER_BOUNDS)))
    layer_any = ", ".join(
        f"({_layer_sql('z_min', 'z_max', i)}) AS h{i}"
        for i in range(len(LAYER_BOUNDS)))
    sums = ",\n       ".join(
        f"CAST(COALESCE(SUM(CASE WHEN dir_class = '{dc}' THEN len * h{i}"
        f" ELSE 0 END), 0) AS BIGINT) AS f_{dc}_h{i}"
        for dc in DIR_CLASSES for i in range(len(LAYER_BOUNDS)))
    fcols = ",\n       ".join(
        f"COALESCE({c}, 0) AS {c}" for c in facade_col_names())
    return f"""WITH pg AS ({pages_sql}),
sq AS (SELECT zone_id, page_id, chars AS h,
       lon_e6 - {r} AS x0, lat_e6 - {r} AS y0,
       lon_e6 + {r} AS x1, lat_e6 + {r} AS y1 FROM pg),
pairs AS (SELECT a.zone_id, a.page_id AS id_a, b.page_id AS id_b,
       a.h AS ha, b.h AS hb,
       a.x0 AS ax0, a.y0 AS ay0, a.x1 AS ax1, a.y1 AS ay1,
       b.x0 AS bx0, b.y0 AS by0, b.x1 AS bx1, b.y1 AS by1
  FROM sq a JOIN sq b ON a.page_id != b.page_id
   AND b.x0 <= a.x1 AND b.x1 >= a.x0 AND b.y0 <= a.y1 AND b.y1 >= a.y0),
ov AS ({" UNION ALL ".join(wall_ovs)}),
contrib AS (SELECT id_a, dir,
       GREATEST(e - GREATEST(s, COALESCE(MAX(e) OVER (
           PARTITION BY id_a, dir ORDER BY s ASC, e ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), s)), 0) AS c
  FROM ov),
merged AS (SELECT id_a, dir, SUM(c) AS covered_len FROM contrib GROUP BY id_a, dir),
walls AS ({" UNION ALL ".join(walls)}),
free_rows AS (SELECT w.zone_id, w.dir_class,
       w.len - COALESCE(m.covered_len, 0) AS len, CAST(0 AS BIGINT) AS z_min,
       w.ha AS z_max
  FROM walls w LEFT JOIN merged m ON m.id_a = w.id_a AND m.dir = w.dir),
party_rows AS (SELECT zone_id, dir_class, e - s AS len,
       LEAST(ha, hb) AS z_min, GREATEST(ha, hb) AS z_max
  FROM ov WHERE id_a < id_b),
rows_all AS (SELECT zone_id, dir_class, len, z_min, z_max FROM free_rows
  UNION ALL SELECT zone_id, dir_class, len, z_min, z_max FROM party_rows),
layered AS (SELECT zone_id, dir_class, len, {layer_any} FROM rows_all),
agg AS (SELECT zone_id, {sums} FROM layered GROUP BY zone_id),
zones AS ({zones_sql})
SELECT z.zone_id, {fcols}
FROM zones z LEFT JOIN agg USING (zone_id)"""


# ------------------------------------------------------- frontal area index
def frontal_area_index(facade: DataFrame, zones: DataFrame) -> DataFrame:
    """`frontalAreaIndexDistribution` analogue (`:1967-2178`): facade sums
    normalized by zone rect area — (zone_id, fai_* doubles)."""
    za = ((F.col("zlon1") - F.col("zlon0"))
          * (F.col("zlat1") - F.col("zlat0"))).cast("double")
    j = facade.join(zones.select("zone_id", "zlon0", "zlat0", "zlon1", "zlat1"),
                    "zone_id")
    return j.select("zone_id",
                    *[(F.col(c).cast("double") / za).alias(c.replace("f_", "fai_"))
                      for c in facade_col_names()])


def frontal_area_index_sql(facade_sql: str, zones_sql: str) -> str:
    cols = ",\n       ".join(
        f"CAST({c} AS DOUBLE) / CAST((zlon1 - zlon0) * (zlat1 - zlat0) AS DOUBLE)"
        f" AS {c.replace('f_', 'fai_')}" for c in facade_col_names())
    return f"""WITH fac AS ({facade_sql}), zb AS ({zones_sql})
SELECT f.zone_id, {cols}
FROM fac f JOIN zb USING (zone_id)"""


# ------------------------------------------------- exact roof distribution
ROOF_SCHEMA = T.StructType([
    T.StructField("zone_id", T.LongType()),
    T.StructField("layer", T.LongType()),
    T.StructField("roof_area_e6sq", T.LongType()),
    T.StructField("volume_e6sq_chars", T.LongType()),
])


def roof_layer_distribution_exact(pages: DataFrame,
                                  buffer_e6: int) -> DataFrame:
    """`roofFractionDistributionExact` analogue (`:1816-1938`): per-zone
    EXACT roof area per chars-layer — overlapping footprints never double
    counted. Each atom of the per-zone square arrangement is attributed to
    its tallest covering page (ties → lowest page_id, the reference's
    deterministic winner convention), and the atom's exact area accrues to
    that page's layer. Grouped applyInPandas per zone; SQL oracle mirrors
    via the ROW_NUMBER winner over the same atom grid."""
    sq = square_footprints(pages, buffer_e6)
    nb = len(LAYER_BOUNDS)
    b_arr = np.asarray(LAYER_BOUNDS, dtype=np.int64)

    def run(groups: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for g in groups:
            zid = int(g["zone_id"].iloc[0])
            x0 = g["x0"].to_numpy(np.int64)
            y0 = g["y0"].to_numpy(np.int64)
            x1 = g["x1"].to_numpy(np.int64)
            y1 = g["y1"].to_numpy(np.int64)
            h = g["h"].to_numpy(np.int64)
            pid = g["page_id"].to_numpy(np.int64)
            xs = np.unique(np.concatenate([x0, x1]))
            ys = np.unique(np.concatenate([y0, y1]))
            cx = xs[:-1][:, None]
            cy = ys[:-1][None, :]
            area = np.diff(xs)[:, None] * np.diff(ys)[None, :]
            # winner key: taller wins, then lower page_id (negate id)
            best = np.full(area.shape, np.iinfo(np.int64).min, dtype=np.int64)
            best_h = np.zeros(area.shape, dtype=np.int64)
            covered = np.zeros(area.shape, dtype=bool)
            for k in range(len(pid)):
                inside = ((cx >= x0[k]) & (cx < x1[k])
                          & (cy >= y0[k]) & (cy < y1[k]))
                key = h[k] * (1 << 40) - pid[k]
                upd = inside & (key > best)
                best = np.where(upd, key, best)
                best_h = np.where(upd, h[k], best_h)
                covered |= inside
            layer = np.searchsorted(b_arr[1:], best_h, side="right")
            rows = pd.DataFrame({
                "layer": layer[covered].astype(np.int64),
                "roof_area_e6sq": area[covered],
                # exact built volume: overlap-free atom area x winner height
                # (the size-properties "volume" measure, double-count free)
                "volume_e6sq_chars": area[covered] * best_h[covered]})
            out = (rows.groupby("layer", as_index=False)
                   .agg(roof_area_e6sq=("roof_area_e6sq", "sum"),
                        volume_e6sq_chars=("volume_e6sq_chars", "sum")))
            out.insert(0, "zone_id", zid)
            yield out[out["layer"] < nb]

    return sq.groupBy("zone_id").applyInPandas(run, ROOF_SCHEMA)


def roof_layer_distribution_exact_sql(pages_sql: str, buffer_e6: int) -> str:
    r = buffer_e6
    layer_case = ("CASE "
                  + " ".join(f"WHEN h < {LAYER_BOUNDS[i]} THEN {i - 1}"
                             for i in range(1, len(LAYER_BOUNDS)))
                  + f" ELSE {len(LAYER_BOUNDS) - 1} END")
    return f"""WITH pg AS ({pages_sql}),
sq AS (SELECT zone_id, page_id, chars AS h,
       lon_e6 - {r} AS x0, lat_e6 - {r} AS y0,
       lon_e6 + {r} AS x1, lat_e6 + {r} AS y1 FROM pg),
xs AS (SELECT zone_id, x0 AS x FROM sq UNION SELECT zone_id, x1 FROM sq),
xs2 AS (SELECT zone_id, x, ROW_NUMBER() OVER (PARTITION BY zone_id ORDER BY x) AS i FROM xs),
xc AS (SELECT a.zone_id, a.x AS ax0, b.x AS ax1
  FROM xs2 a JOIN xs2 b ON a.zone_id = b.zone_id AND b.i = a.i + 1),
ys AS (SELECT zone_id, y0 AS y FROM sq UNION SELECT zone_id, y1 FROM sq),
ys2 AS (SELECT zone_id, y, ROW_NUMBER() OVER (PARTITION BY zone_id ORDER BY y) AS i FROM ys),
yc AS (SELECT a.zone_id, a.y AS ay0, b.y AS ay1
  FROM ys2 a JOIN ys2 b ON a.zone_id = b.zone_id AND b.i = a.i + 1),
atoms AS (SELECT xc.zone_id, ax0, ax1, ay0, ay1
  FROM xc JOIN yc ON xc.zone_id = yc.zone_id),
cov AS (SELECT a.zone_id, a.ax0, a.ax1, a.ay0, a.ay1, s.h, s.page_id,
       ROW_NUMBER() OVER (PARTITION BY a.zone_id, a.ax0, a.ay0
                          ORDER BY s.h DESC, s.page_id ASC) AS rn
  FROM atoms a JOIN sq s ON s.zone_id = a.zone_id
   AND a.ax0 >= s.x0 AND a.ax0 < s.x1 AND a.ay0 >= s.y0 AND a.ay0 < s.y1),
winner AS (SELECT zone_id, CAST({layer_case} AS BIGINT) AS layer,
       (ax1 - ax0) * (ay1 - ay0) AS area, h FROM cov WHERE rn = 1)
SELECT zone_id, layer, CAST(SUM(area) AS BIGINT) AS roof_area_e6sq,
       CAST(SUM(area * h) AS BIGINT) AS volume_e6sq_chars
FROM winner GROUP BY zone_id, layer"""


# ------------------------------------------------- gable roof distribution
def gable_col_names() -> list[str]:
    return ([f"nv_h{i}" for i in range(len(LAYER_BOUNDS))]
            + [f"v_h{i}" for i in range(len(LAYER_BOUNDS))])


def _gable_band_cols(z_min: Column, z_max: Column, dh: Column,
                     nvra: Column, vra: Column,
                     bounds: tuple[int, ...]) -> list[Column]:
    """The reference's per-band gable split (`RsuIndicators.groovy:798-825`):
    non-vertical roof area is LINEAR in height within [z_min, z_max]
    (uniform along the ridge), vertical (gable-triangle) area is QUADRATIC
    from the apex. Returns [nv_h0.., v_h0..] doubles, one per band, with
    the open top band linear for both (reference `:819-825`)."""
    d = lambda c: c.cast("double")
    sq = lambda c: c * c
    nv, v = [], []
    for i in range(1, len(bounds)):
        lo, hi = bounds[i - 1], bounds[i]
        up = d(z_max - F.greatest(F.lit(lo), z_min))
        nv.append(
            F.when(z_max <= lo, F.lit(0.0))
            .when(z_max <= hi,
                  F.when(dh == 0, nvra).otherwise(nvra * (up / d(dh))))
            .otherwise(F.when(
                z_min < hi,
                nvra * (d(F.lit(hi) - F.greatest(F.lit(lo), z_min)) / d(dh)))
                .otherwise(F.lit(0.0))))
        v.append(
            F.when(z_max <= lo, F.lit(0.0))
            .when(z_max <= hi,
                  F.when(dh == 0, F.lit(0.0))
                  .otherwise(vra * sq(up / d(dh))))
            .otherwise(F.when(
                z_min < hi,
                F.when(z_min > lo,
                       vra * (F.lit(1.0) - sq(d(z_max - F.lit(hi)) / d(dh))))
                .otherwise(vra * (sq(d(z_max - F.lit(lo)) / d(dh))
                                  - sq(d(z_max - F.lit(hi)) / d(dh)))))
                .otherwise(F.lit(0.0))))
    top = bounds[-1]
    top_frac = d(z_max - F.greatest(F.lit(top), z_min)) / d(dh)
    nv.append(F.when(z_max <= top, F.lit(0.0))
              .otherwise(F.when(dh == 0, nvra).otherwise(nvra * top_frac)))
    v.append(F.when(z_max <= top, F.lit(0.0))
             .otherwise(F.when(dh == 0, vra).otherwise(vra * top_frac)))
    return nv + v


def roof_area_distribution_gable(pages: DataFrame, zones: DataFrame,
                                 buffer_e6: int) -> DataFrame:
    """`roofAreaDistribution` gable model (`RsuIndicators.groovy:659-858`):
    per zone, vertical (gable-end triangles) and non-vertical (tilted
    panels) roof area per height band.

    Graft model: building = buffered square (area A = (2r)², exact), roof
    height z_max = chars, wall height z_min = chars // 2. Per reference:
    ``non_vertical = sqrt(A² + 4·A·Δh²)``, ``vertical = sqrt(A)·Δh``
    (`:697-699`); the party correction removes ``sqrt(min(A_a,A_b))·Δh_b/2``
    per intersecting neighbor whose WALL tops b's ROOF (``a.z_min >=
    b.z_max``, `:712-723`); zone-boundary clipping factors are 1 because
    footprints are attributed wholly to the owner zone (the facade-family
    simplification, module docstring). Neighbor candidates ride the same
    kring equi-join as every square-pair operator (never a cross join).

    Per-row band contributions are rounded to integer milli-units BEFORE
    the zonal sum (the roads.py convention) so partial-aggregation order
    cannot perturb the result. Returns (zone_id, nv_h0.., v_h0..) doubles,
    empty zones kept at 0."""
    sq_ = square_footprints(pages, buffer_e6)
    area = (2 * buffer_e6) ** 2
    zmin = ((F.col("h") - F.col("h") % 2) / 2).cast("long")
    bld = sq_.withColumn("z_min", zmin).withColumn(
        "dh", F.col("h") - F.col("z_min"))
    pairs = overlap_pairs(sq_, buffer_e6)
    a_zmin = ((F.col("ha") - F.col("ha") % 2) / 2).cast("long")
    b_dh = (F.col("hb") - ((F.col("hb") - F.col("hb") % 2) / 2).cast("long"))
    # all squares share area, so min(A_a, A_b) = A; kept in formula form
    term = F.sqrt(F.lit(float(area))) * b_dh.cast("double") / F.lit(2.0)
    rem = (pairs.where(a_zmin >= F.col("hb"))
           .groupBy(F.col("id_b").alias("page_id"))
           .agg(F.sum(term).alias("_rm")))
    nvra = F.sqrt((F.lit(area) * F.lit(area)
                   + F.lit(4 * area) * F.col("dh") * F.col("dh"))
                  .cast("double"))
    vra0 = F.sqrt(F.lit(float(area))) * F.col("dh").cast("double")
    rows = (bld.join(rem, "page_id", "left")
            .withColumn("_nvra", nvra)
            .withColumn("_vra", vra0 - F.coalesce(F.col("_rm"), F.lit(0.0))))
    band_cols = _gable_band_cols(F.col("z_min"), F.col("h"), F.col("dh"),
                                 F.col("_nvra"), F.col("_vra"), LAYER_BOUNDS)
    names = gable_col_names()
    rows = rows.select("zone_id", *[
        F.round(c * 1000).cast("long").alias(f"_mi_{n}")
        for n, c in zip(names, band_cols)])
    agg = rows.groupBy("zone_id").agg(
        *[F.sum(f"_mi_{n}").alias(f"_mi_{n}") for n in names])
    out = zones.select("zone_id").join(agg, "zone_id", "left")
    return out.select("zone_id", *[
        (F.coalesce(F.col(f"_mi_{n}"), F.lit(0)).cast("double") / 1000.0)
        .alias(n) for n in names])


def _gable_band_sqls(bounds: tuple[int, ...]) -> list[tuple[str, str]]:
    """(name, expr) SQL mirrors of :func:`_gable_band_cols` over columns
    z_min, z_max, dh, nvra, vra."""
    d = lambda s: f"CAST({s} AS DOUBLE)"
    out = []
    for i in range(1, len(bounds)):
        lo, hi = bounds[i - 1], bounds[i]
        up = d(f"z_max - GREATEST({lo}, z_min)")
        frac = f"({up} / {d('dh')})"
        nv = (f"CASE WHEN z_max <= {lo} THEN 0.0 "
              f"WHEN z_max <= {hi} THEN CASE WHEN dh = 0 THEN nvra"
              f" ELSE nvra * {frac} END "
              f"ELSE CASE WHEN z_min < {hi} THEN"
              f" nvra * ({d(f'{hi} - GREATEST({lo}, z_min)')} / {d('dh')})"
              f" ELSE 0.0 END END")
        ftop = f"({d(f'z_max - {hi}')} / {d('dh')})"
        flo = f"({d(f'z_max - {lo}')} / {d('dh')})"
        v = (f"CASE WHEN z_max <= {lo} THEN 0.0 "
             f"WHEN z_max <= {hi} THEN CASE WHEN dh = 0 THEN 0.0"
             f" ELSE vra * ({frac} * {frac}) END "
             f"ELSE CASE WHEN z_min < {hi} THEN"
             f" CASE WHEN z_min > {lo} THEN vra * (1.0 - ({ftop} * {ftop}))"
             f" ELSE vra * (({flo} * {flo}) - ({ftop} * {ftop})) END"
             f" ELSE 0.0 END END")
        out.append((f"nv_h{i - 1}", nv))
        out.append((f"v_h{i - 1}", v))
    top = bounds[-1]
    tfrac = f"({d(f'z_max - GREATEST({top}, z_min)')} / {d('dh')})"
    k = len(bounds) - 1
    out.append((f"nv_h{k}",
                f"CASE WHEN z_max <= {top} THEN 0.0 ELSE CASE WHEN dh = 0"
                f" THEN nvra ELSE nvra * {tfrac} END END"))
    out.append((f"v_h{k}",
                f"CASE WHEN z_max <= {top} THEN 0.0 ELSE CASE WHEN dh = 0"
                f" THEN vra ELSE vra * {tfrac} END END"))
    # reorder: all nv first, then all v (gable_col_names order)
    nvs = [p for p in out if p[0].startswith("nv_")]
    vs = [p for p in out if p[0].startswith("v_")]
    return nvs + vs


def roof_area_distribution_gable_sql(pages_sql: str, zones_sql: str,
                                     buffer_e6: int) -> str:
    r = buffer_e6
    area = (2 * r) ** 2
    bands = _gable_band_sqls(LAYER_BOUNDS)
    mi = ",\n       ".join(
        f"CAST(ROUND(({e}) * 1000) AS BIGINT) AS _mi_{n}" for n, e in bands)
    sums = ",\n       ".join(
        f"SUM(_mi_{n}) AS _mi_{n}" for n, _ in bands)
    outs = ",\n       ".join(
        f"CAST(COALESCE(_mi_{n}, 0) AS DOUBLE) / 1000.0 AS {n}"
        for n, _ in bands)
    return f"""WITH pg AS ({pages_sql}),
sq AS (SELECT zone_id, page_id, chars AS h,
       CAST((chars - chars % 2) / 2 AS BIGINT) AS z_min,
       chars - CAST((chars - chars % 2) / 2 AS BIGINT) AS dh,
       lon_e6 - {r} AS x0, lat_e6 - {r} AS y0,
       lon_e6 + {r} AS x1, lat_e6 + {r} AS y1 FROM pg),
rem AS (SELECT b.page_id,
       SUM(SQRT(CAST({area} AS DOUBLE)) * CAST(b.dh AS DOUBLE) / 2.0) AS rm
  FROM sq a JOIN sq b ON a.page_id != b.page_id
   AND b.x0 <= a.x1 AND b.x1 >= a.x0 AND b.y0 <= a.y1 AND b.y1 >= a.y0
  WHERE a.z_min >= b.h
  GROUP BY b.page_id),
bld AS (SELECT s.zone_id, s.z_min, s.h AS z_max, s.dh,
       SQRT(CAST({area} * {area} + 4 * {area} * s.dh * s.dh AS DOUBLE)) AS nvra,
       SQRT(CAST({area} AS DOUBLE)) * CAST(s.dh AS DOUBLE)
         - COALESCE(m.rm, 0.0) AS vra
  FROM sq s LEFT JOIN rem m USING (page_id)),
milli AS (SELECT zone_id, {mi} FROM bld),
agg AS (SELECT zone_id, {sums} FROM milli GROUP BY zone_id),
zones AS ({zones_sql})
SELECT z.zone_id, {outs}
FROM zones z LEFT JOIN agg USING (zone_id)"""
def theta_contact_pairs(pages: DataFrame, buffer_e6: int) -> DataFrame:
    """Theta self-join on attribute order (`RsuIndicators.groovy:710-722` —
    vertical-roof contact pairs: spatial candidates + ``a.attr >= b.attr``):
    overlapping footprints where a is at least as tall, a != b. Returns
    (id_a, id_b, h_gap, shared_area_e6sq) — kring candidates + exact closed
    rect intersection, the theta predicate applied after the equi-join."""
    sq = square_footprints(pages, buffer_e6)
    pairs = overlap_pairs(sq, buffer_e6)
    ix = F.least("ax1", "bx1") - F.greatest("ax0", "bx0")
    iy = F.least("ay1", "by1") - F.greatest("ay0", "by0")
    return (pairs.where(F.col("ha") >= F.col("hb"))
            .select("id_a", "id_b", (F.col("ha") - F.col("hb")).alias("h_gap"),
                    (ix * iy).alias("shared_area_e6sq")))


def theta_contact_pairs_sql(pages_sql: str, buffer_e6: int) -> str:
    r = buffer_e6
    return f"""WITH pg AS ({pages_sql}),
sq AS (SELECT page_id, chars AS h,
       lon_e6 - {r} AS x0, lat_e6 - {r} AS y0,
       lon_e6 + {r} AS x1, lat_e6 + {r} AS y1 FROM pg)
SELECT a.page_id AS id_a, b.page_id AS id_b, a.h - b.h AS h_gap,
       (LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0))
     * (LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0)) AS shared_area_e6sq
FROM sq a JOIN sq b ON a.page_id != b.page_id
 AND b.x0 <= a.x1 AND b.x1 >= a.x0 AND b.y0 <= a.y1 AND b.y1 >= a.y0
WHERE a.h >= b.h"""
