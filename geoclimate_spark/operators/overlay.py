"""Per-zone overlay + surface fractions + dissolve — the grouped-geometry
operator family (`smallestCommunGeometry` analogue).

Reference: the hardest geometry ops in GeoClimate are per-zone overlays —
`smallestCommunGeometry` flattens N layers into atom polygons carrying 0/1
per-layer flags via ``ST_POLYGONIZE(ST_UNION(ST_NODE(ST_ACCUM(...))))``
(`/root/reference/geoindicators/.../RsuIndicators.groovy:1356-1593`),
`surfaceFractions` then turns flag combos into priority-resolved exclusive
area fractions (`:1622-1747`), and dissolves merge cluster geometry with
``ST_UNION(ST_ACCUM(...))`` (`SpatialUnits.groovy:436-451`).

Spark-first shape (SURVEY.md §2.4 "hardest geometry op"): ``applyInPandas``
grouped by zone — each group holds ONE zone's candidate layer geometries
(pre-joined, so the shuffle moves only the small layer dim), and the overlay
runs vectorized numpy inside the Arrow batch. Axis-aligned rect layers make
the arrangement exact: atoms are the cells of the sorted-coordinate grid of
all rect edges clipped to the zone, flags are interval-containment tests,
areas are exact bigint µ°² — deterministic regardless of partitioning.

For axis-aligned rect layers the atom grid IS SQL-expressible: the
``*_sql`` builders below reconstruct the sorted-edge atom grid in DuckDB
(per-zone distinct edge coordinates → consecutive-pair cells via
``ROW_NUMBER`` self-join → interval-containment flags) so the driver
hash-checks the overlay end-to-end. pytest additionally verifies the
invariants (Σ atom areas == zone area, Monte-Carlo containment).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

COMBO_SCHEMA = T.StructType([
    T.StructField("zone_id", T.LongType()),
    T.StructField("combo", T.LongType()),      # bitmask over layer order
    T.StructField("area_e6sq", T.LongType()),  # exact µ°² area
    T.StructField("n_atoms", T.LongType()),
])


def overlay_rect_layers(zones: DataFrame, rects: DataFrame,
                        layer_names: list[str]) -> DataFrame:
    """Per-zone exact overlay of axis-aligned rect layers.

    ``zones``: (zone_id, zlon0, zlat0, zlon1, zlat1) integer µ° bounds.
    ``rects``: (layer, lon0, lat0, lon1, lat1) integer µ° rects (any count).
    Returns (zone_id, combo, area_e6sq, n_atoms): for every flag combination
    (bit i of ``combo`` = covered by layer_names[i]), the exact area of the
    zone sub-region with exactly that coverage. combo 0 = covered by none.
    Σ area_e6sq per zone == zone area (invariant, tested).
    """
    from .covering import bbox_cell_join

    layer_idx = {n: i for i, n in enumerate(layer_names)}
    # candidate join: rect overlaps zone, via the cell-keyed covering
    # equi-join (closed-touch superset, strict refine below); zones with
    # no overlapping rect are added back with NULL layer columns so every
    # zone still emits its combo-0 atom (the former LEFT join contract)
    cols = ["zone_id", "zlon0", "zlat0", "zlon1", "zlat1",
            "layer", "lon0", "lat0", "lon1", "lat1"]
    inner = (bbox_cell_join(zones, ("zlon0", "zlat0", "zlon1", "zlat1"),
                            rects, ("lon0", "lat0", "lon1", "lat1"),
                            broadcast_b=True)
             .where((F.col("lon0") < F.col("zlon1"))
                    & (F.col("lon1") > F.col("zlon0"))
                    & (F.col("lat0") < F.col("zlat1"))
                    & (F.col("lat1") > F.col("zlat0")))
             .select(*cols))
    empty = (zones.join(inner.select("zone_id").distinct(), "zone_id",
                        "left_anti")
             .select("zone_id", "zlon0", "zlat0", "zlon1", "zlat1",
                     F.lit(None).cast("string").alias("layer"),
                     *[F.lit(None).cast("long").alias(c)
                       for c in ("lon0", "lat0", "lon1", "lat1")]))
    cand = inner.unionByName(empty)

    def run(groups: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for g in groups:
            zid = int(g["zone_id"].iloc[0])
            zx0, zy0 = int(g["zlon0"].iloc[0]), int(g["zlat0"].iloc[0])
            zx1, zy1 = int(g["zlon1"].iloc[0]), int(g["zlat1"].iloc[0])
            rr = g.dropna(subset=["layer"])
            if len(rr):
                rx0 = np.maximum(rr["lon0"].to_numpy(np.int64), zx0)
                ry0 = np.maximum(rr["lat0"].to_numpy(np.int64), zy0)
                rx1 = np.minimum(rr["lon1"].to_numpy(np.int64), zx1)
                ry1 = np.minimum(rr["lat1"].to_numpy(np.int64), zy1)
                bits = np.array([1 << layer_idx[l] for l in rr["layer"]],
                                dtype=np.int64)
            else:
                rx0 = ry0 = rx1 = ry1 = np.empty(0, np.int64)
                bits = np.empty(0, np.int64)
            xs = np.unique(np.concatenate([[zx0, zx1], rx0, rx1]))
            ys = np.unique(np.concatenate([[zy0, zy1], ry0, ry1]))
            xs = xs[(xs >= zx0) & (xs <= zx1)]
            ys = ys[(ys >= zy0) & (ys <= zy1)]
            # atom grid: cell (i,j) spans xs[i]..xs[i+1] × ys[j]..ys[j+1]
            w = np.diff(xs)[:, None]            # (nx-1, 1)
            h = np.diff(ys)[None, :]            # (1, ny-1)
            area = w * h                        # exact int64 products
            cx = xs[:-1][:, None]               # left edge as containment probe
            cy = ys[:-1][None, :]
            combo = np.zeros(area.shape, dtype=np.int64)
            for k in range(len(bits)):
                # atom ⊆ rect iff its lower-left corner is in [r0, r1)
                inside = ((cx >= rx0[k]) & (cx < rx1[k])
                          & (cy >= ry0[k]) & (cy < ry1[k]))
                combo |= np.where(inside, bits[k], 0)
            flat_c = combo.ravel()
            flat_a = area.ravel()
            keep = flat_a > 0
            df = pd.DataFrame({"combo": flat_c[keep], "area_e6sq": flat_a[keep]})
            out = (df.groupby("combo", as_index=False)
                   .agg(area_e6sq=("area_e6sq", "sum"),
                        n_atoms=("area_e6sq", "size")))
            out.insert(0, "zone_id", zid)
            yield out

    return cand.groupBy("zone_id").applyInPandas(run, COMBO_SCHEMA)


def _layer_bit_case(layer_col: str, layer_names: list[str]) -> str:
    whens = " ".join(f"WHEN '{n}' THEN {1 << i}"
                     for i, n in enumerate(layer_names))
    return f"CASE {layer_col} {whens} END"


def overlay_rect_layers_sql(zones_sql: str, rects_sql: str,
                            layer_names: list[str]) -> str:
    """DuckDB mirror of :func:`overlay_rect_layers` — the sorted-edge atom
    grid in SQL. ``zones_sql`` selects (zone_id, zlon0, zlat0, zlon1, zlat1)
    BIGINT; ``rects_sql`` selects (layer, lon0, lat0, lon1, lat1) BIGINT."""
    bit = _layer_bit_case("r.layer", layer_names)
    return f"""WITH zones AS ({zones_sql}),
rl AS ({rects_sql}),
cand AS (SELECT z.zone_id, r.layer,
       GREATEST(r.lon0, z.zlon0) AS rx0, GREATEST(r.lat0, z.zlat0) AS ry0,
       LEAST(r.lon1, z.zlon1) AS rx1, LEAST(r.lat1, z.zlat1) AS ry1
  FROM zones z JOIN rl r ON r.lon0 < z.zlon1 AND r.lon1 > z.zlon0
   AND r.lat0 < z.zlat1 AND r.lat1 > z.zlat0),
xs AS (SELECT zone_id, zlon0 AS x FROM zones UNION SELECT zone_id, zlon1 FROM zones
  UNION SELECT zone_id, rx0 FROM cand UNION SELECT zone_id, rx1 FROM cand),
xs2 AS (SELECT zone_id, x, ROW_NUMBER() OVER (PARTITION BY zone_id ORDER BY x) AS i FROM xs),
xc AS (SELECT a.zone_id, a.x AS ax0, b.x AS ax1
  FROM xs2 a JOIN xs2 b ON a.zone_id = b.zone_id AND b.i = a.i + 1),
ys AS (SELECT zone_id, zlat0 AS y FROM zones UNION SELECT zone_id, zlat1 FROM zones
  UNION SELECT zone_id, ry0 FROM cand UNION SELECT zone_id, ry1 FROM cand),
ys2 AS (SELECT zone_id, y, ROW_NUMBER() OVER (PARTITION BY zone_id ORDER BY y) AS i FROM ys),
yc AS (SELECT a.zone_id, a.y AS ay0, b.y AS ay1
  FROM ys2 a JOIN ys2 b ON a.zone_id = b.zone_id AND b.i = a.i + 1),
atoms AS (SELECT xc.zone_id, ax0, ax1, ay0, ay1
  FROM xc JOIN yc ON xc.zone_id = yc.zone_id),
flagged AS (SELECT a.zone_id, a.ax0, a.ax1, a.ay0, a.ay1,
       CAST(COALESCE(SUM(DISTINCT {bit}), 0) AS BIGINT) AS combo
  FROM atoms a LEFT JOIN cand r ON r.zone_id = a.zone_id
   AND a.ax0 >= r.rx0 AND a.ax0 < r.rx1 AND a.ay0 >= r.ry0 AND a.ay0 < r.ry1
  GROUP BY 1, 2, 3, 4, 5)
SELECT zone_id, combo, CAST(SUM((ax1 - ax0) * (ay1 - ay0)) AS BIGINT) AS area_e6sq,
       COUNT(*) AS n_atoms
FROM flagged GROUP BY zone_id, combo"""


def surface_fractions_sql(combos_sql: str, zones_sql: str,
                          layer_names: list[str], priority: list[str]) -> str:
    """DuckDB mirror of :func:`surface_fractions` over an overlay combos
    relation (zone_id, combo, area_e6sq)."""
    whens = " ".join(
        f"WHEN (combo & {1 << layer_names.index(n)}) != 0 THEN '{n}'"
        for n in priority)
    attr = f"CASE {whens} ELSE 'undefined' END"
    names = priority + ["undefined"]
    sums = ",\n       ".join(
        f"SUM(CASE WHEN attr = '{n}' THEN area_e6sq ELSE 0 END) AS a_{n}"
        for n in names)
    fracs = ",\n       ".join(
        f"COALESCE(CAST(a_{n} AS DOUBLE), 0.0)"
        f" / CAST((zlon1 - zlon0) * (zlat1 - zlat0) AS DOUBLE) AS frac_{n}"
        for n in names)
    return f"""WITH combos AS ({combos_sql}),
zones AS ({zones_sql}),
attrd AS (SELECT zone_id, {attr} AS attr, area_e6sq FROM combos),
per AS (SELECT zone_id, {sums} FROM attrd GROUP BY zone_id)
SELECT z.zone_id, {fracs}
FROM zones z LEFT JOIN per USING (zone_id)"""


def surface_fractions(combos: DataFrame, zones: DataFrame,
                      layer_names: list[str],
                      priority: list[str]) -> DataFrame:
    """Priority-resolved exclusive fractions per zone
    (`RsuIndicators.surfaceFractions`, `:1622-1747`): each combo's area is
    attributed to its highest-priority layer; uncovered area is
    ``undefined_fraction`` (the reference's ``1 - Σ`` rule)."""
    attr = F.lit(None).cast("string")
    for name in reversed(priority):
        bit = 1 << layer_names.index(name)
        attr = F.when(F.col("combo").bitwiseAND(F.lit(bit)) != 0,
                      F.lit(name)).otherwise(attr)
    per = (combos.withColumn("_attr", F.coalesce(attr, F.lit("undefined")))
           .groupBy("zone_id").pivot("_attr", priority + ["undefined"])
           .agg(F.sum("area_e6sq")))
    zarea = ((F.col("zlon1") - F.col("zlon0"))
             * (F.col("zlat1") - F.col("zlat0"))).alias("_za")
    j = zones.select("zone_id", zarea).join(per, "zone_id", "left")
    return j.select(
        "zone_id",
        *[(F.coalesce(F.col(f"`{n}`"), F.lit(0)).cast("double")
           / F.col("_za").cast("double")).alias(f"frac_{n}")
          for n in priority + ["undefined"]])


# ------------------------------------------------------------- ground layer
def ground_layer(zones: DataFrame, rects: DataFrame, layer_names: list[str],
                 priority: list[str]) -> DataFrame:
    """Per-zone ground layer: every overlay atom is attributed to its
    highest-priority covering layer with an explicit per-atom window
    (`RsuIndicators.groovy:2261-2402` groundLayer: atoms take the winning
    layer via a priority-ordered ``first_value`` over each smallest-common
    geometry), then rolled up per (zone, layer).

    Unlike :func:`overlay_rect_layers` (grouped Arrow UDF), this builds the
    sorted-edge atom grid with PURE DataFrame ops: per-zone distinct edge
    coordinates → ``lead()`` window pairs → x-cells × y-cells join →
    containment left-join → ``row_number`` top-1 per atom. Every shuffle
    partitions by zone_id; the layer side is broadcast.

    Returns (zone_id, layer, area_e6sq, n_atoms); uncovered area appears as
    layer 'none'. Σ area per zone == zone area.
    """
    from pyspark.sql import Window

    from .covering import bbox_cell_join

    z = zones.select("zone_id", "zlon0", "zlat0", "zlon1", "zlat1")
    cand = (bbox_cell_join(z, ("zlon0", "zlat0", "zlon1", "zlat1"),
                           rects, ("lon0", "lat0", "lon1", "lat1"),
                           broadcast_b=True)
            .where((F.col("lon0") < F.col("zlon1"))
                   & (F.col("lon1") > F.col("zlon0"))
                   & (F.col("lat0") < F.col("zlat1"))
                   & (F.col("lat1") > F.col("zlat0")))
            .select("zone_id", "layer",
                    F.greatest("lon0", "zlon0").alias("rx0"),
                    F.greatest("lat0", "zlat0").alias("ry0"),
                    F.least("lon1", "zlon1").alias("rx1"),
                    F.least("lat1", "zlat1").alias("ry1")))

    def cells(edge_union: DataFrame, lo: str, hi: str) -> DataFrame:
        w = Window.partitionBy("zone_id").orderBy("v")
        return (edge_union.distinct()
                .withColumn("_nxt", F.lead("v").over(w))
                .where(F.col("_nxt").isNotNull())
                .select("zone_id", F.col("v").alias(lo),
                        F.col("_nxt").alias(hi)))

    ex = (z.select("zone_id", F.col("zlon0").alias("v"))
          .unionByName(z.select("zone_id", F.col("zlon1").alias("v")))
          .unionByName(cand.select("zone_id", F.col("rx0").alias("v")))
          .unionByName(cand.select("zone_id", F.col("rx1").alias("v"))))
    ey = (z.select("zone_id", F.col("zlat0").alias("v"))
          .unionByName(z.select("zone_id", F.col("zlat1").alias("v")))
          .unionByName(cand.select("zone_id", F.col("ry0").alias("v")))
          .unionByName(cand.select("zone_id", F.col("ry1").alias("v"))))
    atoms = cells(ex, "ax0", "ax1").join(cells(ey, "ay0", "ay1"), "zone_id")

    rank = F.lit(None).cast("long")
    for i, name in enumerate(reversed(priority)):
        rank = F.when(F.col("layer") == name,
                      F.lit(len(priority) - 1 - i)).otherwise(rank)
    hits = (atoms.alias("a").join(
        F.broadcast(cand).alias("c"),
        (F.col("a.zone_id") == F.col("c.zone_id"))
        & (F.col("a.ax0") >= F.col("c.rx0")) & (F.col("a.ax0") < F.col("c.rx1"))
        & (F.col("a.ay0") >= F.col("c.ry0")) & (F.col("a.ay0") < F.col("c.ry1")),
        "left")
        .select("a.zone_id", "a.ax0", "a.ax1", "a.ay0", "a.ay1",
                rank.alias("_rank")))
    # the per-atom first_value: lowest priority rank wins, NULL (uncovered)
    # sorts last; one row per atom survives
    aw = (Window.partitionBy("zone_id", "ax0", "ay0")
          .orderBy(F.col("_rank").asc_nulls_last()))
    winners = (hits.withColumn("_rn", F.row_number().over(aw))
               .where(F.col("_rn") == 1))
    name_case = F.lit("none")
    for i, name in enumerate(priority):
        name_case = F.when(F.col("_rank") == i, F.lit(name)).otherwise(name_case)
    return (winners
            .select("zone_id", name_case.alias("layer"),
                    ((F.col("ax1") - F.col("ax0"))
                     * (F.col("ay1") - F.col("ay0"))).alias("_area"))
            .groupBy("zone_id", "layer")
            .agg(F.sum("_area").cast("long").alias("area_e6sq"),
                 F.count("*").cast("long").alias("n_atoms")))


def ground_layer_sql(zones_sql: str, rects_sql: str,
                     priority: list[str]) -> str:
    """DuckDB mirror of :func:`ground_layer` (same LEAD-pair atom grid,
    same per-atom priority window)."""
    rank_case = ("CASE c.layer " + " ".join(
        f"WHEN '{n}' THEN {i}" for i, n in enumerate(priority)) + " END")
    name_case = ("CASE _rank " + " ".join(
        f"WHEN {i} THEN '{n}'" for i, n in enumerate(priority))
        + " ELSE 'none' END")
    return f"""WITH zones AS ({zones_sql}),
rl AS ({rects_sql}),
cand AS (SELECT z.zone_id, r.layer,
       GREATEST(r.lon0, z.zlon0) AS rx0, GREATEST(r.lat0, z.zlat0) AS ry0,
       LEAST(r.lon1, z.zlon1) AS rx1, LEAST(r.lat1, z.zlat1) AS ry1
  FROM zones z JOIN rl r ON r.lon0 < z.zlon1 AND r.lon1 > z.zlon0
   AND r.lat0 < z.zlat1 AND r.lat1 > z.zlat0),
ex AS (SELECT DISTINCT zone_id, v FROM (
    SELECT zone_id, zlon0 AS v FROM zones UNION ALL SELECT zone_id, zlon1 FROM zones
    UNION ALL SELECT zone_id, rx0 FROM cand UNION ALL SELECT zone_id, rx1 FROM cand)),
xc AS (SELECT zone_id, v AS ax0,
       LEAD(v) OVER (PARTITION BY zone_id ORDER BY v) AS ax1 FROM ex),
ey AS (SELECT DISTINCT zone_id, v FROM (
    SELECT zone_id, zlat0 AS v FROM zones UNION ALL SELECT zone_id, zlat1 FROM zones
    UNION ALL SELECT zone_id, ry0 FROM cand UNION ALL SELECT zone_id, ry1 FROM cand)),
yc AS (SELECT zone_id, v AS ay0,
       LEAD(v) OVER (PARTITION BY zone_id ORDER BY v) AS ay1 FROM ey),
atoms AS (SELECT xc.zone_id, ax0, ax1, ay0, ay1
  FROM xc JOIN yc ON xc.zone_id = yc.zone_id
  WHERE ax1 IS NOT NULL AND ay1 IS NOT NULL),
hits AS (SELECT a.zone_id, a.ax0, a.ax1, a.ay0, a.ay1, {rank_case} AS _rank
  FROM atoms a LEFT JOIN cand c ON c.zone_id = a.zone_id
   AND a.ax0 >= c.rx0 AND a.ax0 < c.rx1 AND a.ay0 >= c.ry0 AND a.ay0 < c.ry1),
winners AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY zone_id, ax0, ay0
       ORDER BY _rank ASC NULLS LAST) AS _rn FROM hits)
SELECT zone_id, {name_case} AS layer,
       CAST(SUM((ax1 - ax0) * (ay1 - ay0)) AS BIGINT) AS area_e6sq,
       COUNT(*) AS n_atoms
FROM winners WHERE _rn = 1 GROUP BY 1, 2"""


# ------------------------------------------------------- geometric difference
def layer_difference(combos: DataFrame, layer_names: list[str],
                     minuend: str, subtrahend: str) -> DataFrame:
    """Per-zone exact area of ``minuend`` MINUS ``subtrahend`` (the §2.8
    geometric-difference shape, e.g. vegetation minus water in
    `RsuIndicators.groovy:1424-1445`): sum of overlay atoms covered by the
    minuend layer and NOT by the subtrahend. Pure combo-bitmask arithmetic
    over the :func:`overlay_rect_layers` output — the overlay is computed
    once and every boolean layer algebra question is a filter over it."""
    a_bit = 1 << layer_names.index(minuend)
    b_bit = 1 << layer_names.index(subtrahend)
    return (combos
            .where((F.col("combo").bitwiseAND(F.lit(a_bit)) != 0)
                   & (F.col("combo").bitwiseAND(F.lit(b_bit)) == 0))
            .groupBy("zone_id")
            .agg(F.sum("area_e6sq").cast("long").alias("diff_area_e6sq"),
                 F.sum("n_atoms").cast("long").alias("n_atoms")))


def inverse_cover(combos: DataFrame, zones: DataFrame,
                  layer_names: list[str]) -> DataFrame:
    """Per-zone geometric COMPLEMENT of the union of all layers inside the
    zone — the `inversePolygons` / sprawl "cool area" shape
    (`/root/reference/geoindicators/.../SpatialUnits.groovy:695-732`
    ST_DIFFERENCE(zone envelope, ST_UNION(accumulated polygons));
    consumed by `WorkflowGeoIndicators.groovy:2174-2235`).

    Pure combo-bitmask algebra over the :func:`overlay_rect_layers` atoms:
    the complement is exactly the atoms covered by NONE of the layers.
    Zones with no overlay row at all are fully uncovered (LEFT JOIN keeps
    them at inverse == zone area). Returns
    (zone_id, inverse_area_e6sq, inverse_frac, n_atoms)."""
    mask = (1 << len(layer_names)) - 1
    inv = (combos.where(F.col("combo").bitwiseAND(F.lit(mask)) == 0)
           .groupBy("zone_id")
           .agg(F.sum("area_e6sq").alias("_a"), F.sum("n_atoms").alias("_n")))
    zarea = ((F.col("zlon1") - F.col("zlon0"))
             * (F.col("zlat1") - F.col("zlat0")))
    j = zones.select("zone_id", zarea.alias("_za")).join(inv, "zone_id", "left")
    return j.select(
        "zone_id",
        F.coalesce(F.col("_a"), F.col("_za")).cast("long")
        .alias("inverse_area_e6sq"),
        (F.coalesce(F.col("_a"), F.col("_za")).cast("double")
         / F.col("_za").cast("double")).alias("inverse_frac"),
        F.coalesce(F.col("_n"), F.lit(1)).cast("long").alias("n_atoms"))


def inverse_cover_sql(combos_sql: str, zones_sql: str,
                      layer_names: list[str]) -> str:
    mask = (1 << len(layer_names)) - 1
    return f"""WITH combos AS ({combos_sql}),
zones AS ({zones_sql}),
inv AS (SELECT zone_id, SUM(area_e6sq) AS a, SUM(n_atoms) AS n
  FROM combos WHERE (combo & {mask}) = 0 GROUP BY zone_id)
SELECT z.zone_id,
       CAST(COALESCE(i.a, (z.zlon1 - z.zlon0) * (z.zlat1 - z.zlat0)) AS BIGINT)
         AS inverse_area_e6sq,
       CAST(COALESCE(i.a, (z.zlon1 - z.zlon0) * (z.zlat1 - z.zlat0)) AS DOUBLE)
         / CAST((z.zlon1 - z.zlon0) * (z.zlat1 - z.zlat0) AS DOUBLE)
         AS inverse_frac,
       CAST(COALESCE(i.n, 1) AS BIGINT) AS n_atoms
FROM zones z LEFT JOIN inv i USING (zone_id)"""


def layer_difference_sql(combos_sql: str, layer_names: list[str],
                         minuend: str, subtrahend: str) -> str:
    a_bit = 1 << layer_names.index(minuend)
    b_bit = 1 << layer_names.index(subtrahend)
    return f"""WITH combos AS ({combos_sql})
SELECT zone_id, CAST(SUM(area_e6sq) AS BIGINT) AS diff_area_e6sq,
       CAST(SUM(n_atoms) AS BIGINT) AS n_atoms
FROM combos
WHERE (combo & {a_bit}) != 0 AND (combo & {b_bit}) = 0
GROUP BY zone_id"""


HULL_SCHEMA = T.StructType([
    T.StructField("component", T.LongType()),
    T.StructField("n_points", T.LongType()),
    T.StructField("hull_area", T.DoubleType()),
    T.StructField("union_area_e6sq", T.LongType()),
    T.StructField("lon_min", T.LongType()),
    T.StructField("lat_min", T.LongType()),
    T.StructField("lon_max", T.LongType()),
    T.StructField("lat_max", T.LongType()),
])


def _union_rect_area(x0: np.ndarray, y0: np.ndarray,
                     x1: np.ndarray, y1: np.ndarray) -> int:
    """Exact int64 area of a union of axis-aligned rects — the classic
    x-sweep: for each slab between consecutive distinct x edges, merge the
    y intervals of the rects spanning it. O(slabs · n log n)."""
    xs = np.unique(np.concatenate([x0, x1]))
    total = 0
    for i in range(len(xs) - 1):
        w = int(xs[i + 1] - xs[i])
        act = (x0 <= xs[i]) & (x1 > xs[i])
        if not act.any():
            continue
        ys0, ys1 = y0[act], y1[act]
        order = np.argsort(ys0, kind="stable")
        ys0, ys1 = ys0[order], ys1[order]
        covered = 0
        cur0, cur1 = int(ys0[0]), int(ys1[0])
        for a, b in zip(ys0[1:], ys1[1:]):
            if a > cur1:
                covered += cur1 - cur0
                cur0, cur1 = int(a), int(b)
            elif b > cur1:
                cur1 = int(b)
        covered += cur1 - cur0
        total += w * covered
    return total


def dissolve_components(labeled_points: DataFrame,
                        buffer_e6: int = 25_000,
                        with_hull: bool = True) -> DataFrame:
    """Per-component TRUE dissolve (`ST_UNION(ST_ACCUM(...))` analogue,
    `SpatialUnits.groovy:436-451`): each point is buffered to an axis-aligned
    square of half-side ``buffer_e6`` and the component's squares are merged
    into their exact union area (integer µ°² sweep — no hull overstatement
    for concave clusters), plus bbox and optional convex hull area. Grouped
    applyInPandas — per-group work is bounded by the component's own points.
    The union area is SQL-expressible (sorted-edge atom grid), so the driver
    oracle checks the dissolve end-to-end including the CC labels feeding it.
    """
    from .. import geometry

    def run(groups: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for g in groups:
            lon = g["lon_e6"].to_numpy(np.int64)
            lat = g["lat_e6"].to_numpy(np.int64)
            if with_hull:
                pts = np.column_stack([lon / 1e6, lat / 1e6])
                hull = geometry.convex_hull(pts) if len(pts) >= 3 else pts
                area = geometry.poly_area(hull) if len(hull) >= 3 else 0.0
            else:
                area = 0.0
            ua = _union_rect_area(lon - buffer_e6, lat - buffer_e6,
                                  lon + buffer_e6, lat + buffer_e6)
            yield pd.DataFrame([{
                "component": int(g["component"].iloc[0]),
                "n_points": len(g),
                "hull_area": float(area),
                "union_area_e6sq": int(ua),
                "lon_min": int(lon.min()), "lat_min": int(lat.min()),
                "lon_max": int(lon.max()), "lat_max": int(lat.max()),
            }])

    return labeled_points.groupBy("component").applyInPandas(run, HULL_SCHEMA)


def dissolve_components_sql(comp_sql: str, points_sql: str,
                            buffer_e6: int = 25_000) -> str:
    """DuckDB mirror of the SQL-expressible dissolve columns: per component
    n_points, exact union-of-squares area (atom grid per component), bbox.
    ``comp_sql`` selects (page_id, component); ``points_sql`` (page_id, lon_e6,
    lat_e6) — both BIGINT."""
    return f"""WITH comp AS ({comp_sql}),
pts AS ({points_sql}),
sq AS (SELECT c.component, p.page_id,
       p.lon_e6 - {buffer_e6} AS x0, p.lat_e6 - {buffer_e6} AS y0,
       p.lon_e6 + {buffer_e6} AS x1, p.lat_e6 + {buffer_e6} AS y1,
       p.lon_e6, p.lat_e6
  FROM pts p JOIN comp c ON c.page_id = p.page_id),
xs AS (SELECT component, x0 AS x FROM sq UNION SELECT component, x1 FROM sq),
xs2 AS (SELECT component, x, ROW_NUMBER() OVER (PARTITION BY component ORDER BY x) AS i FROM xs),
xc AS (SELECT a.component, a.x AS ax0, b.x AS ax1
  FROM xs2 a JOIN xs2 b ON a.component = b.component AND b.i = a.i + 1),
ys AS (SELECT component, y0 AS y FROM sq UNION SELECT component, y1 FROM sq),
ys2 AS (SELECT component, y, ROW_NUMBER() OVER (PARTITION BY component ORDER BY y) AS i FROM ys),
yc AS (SELECT a.component, a.y AS ay0, b.y AS ay1
  FROM ys2 a JOIN ys2 b ON a.component = b.component AND b.i = a.i + 1),
atoms AS (SELECT xc.component, ax0, ax1, ay0, ay1
  FROM xc JOIN yc ON xc.component = yc.component),
cov AS (SELECT a.* FROM atoms a WHERE EXISTS (
    SELECT 1 FROM sq s WHERE s.component = a.component
     AND a.ax0 >= s.x0 AND a.ax0 < s.x1 AND a.ay0 >= s.y0 AND a.ay0 < s.y1)),
ua AS (SELECT component, CAST(SUM((ax1 - ax0) * (ay1 - ay0)) AS BIGINT) AS union_area_e6sq
  FROM cov GROUP BY component),
stats AS (SELECT component, COUNT(*) AS n_points,
       MIN(lon_e6) AS lon_min, MIN(lat_e6) AS lat_min,
       MAX(lon_e6) AS lon_max, MAX(lat_e6) AS lat_max
  FROM sq GROUP BY component)
SELECT s.component, s.n_points, u.union_area_e6sq,
       s.lon_min, s.lat_min, s.lon_max, s.lat_max
FROM stats s JOIN ua u USING (component)"""
