"""Real-POLYGON overlay: exact convex polygon × polygon intersection areas
as a pure relational program (no UDF, no collect).

Reference: `smallestCommunGeometry` handles arbitrary polygon layers via
``ST_POLYGONIZE(ST_UNION(ST_NODE(ST_ACCUM(...))))``
(`/root/reference/geoindicators/.../RsuIndicators.groovy:1484-1489`) and the
per-pair intersection areas feed surfaceFractions / upperScaleAreaStatistics
(`:1622-1747`, `GenericIndicators.groovy:443-519`). The round-1 overlay
(operators/overlay.py) covers axis-aligned rect layers; this module closes
the gap for REAL convex polygons — zone polygons × layer-feature polygons —
with the classic computational-geometry fact that the intersection of two
convex polygons is the convex polygon whose vertices are exactly

  (A) vertices of P strictly inside Q,
  (B) vertices of Q strictly inside P,
  (C) proper crossings of a P-edge with a Q-edge,

so the area falls out of: candidate points → polar sort → shoelace. Every
step is a join/window/aggregate — the whole operator runs JVM-side inside
whole-stage codegen, and the DuckDB oracle (*_sql builders) evaluates the
IDENTICAL expression tree, which makes the result bit-deterministic:

* containment tests (A, B) and the proper-crossing test (C) are pure int64
  sign comparisons — exact (fixture coordinates are bounded so no product
  overflows, see sources/layers.py);
* the only doubles are the crossing coordinates ``p + (tn/d)·r``, the
  pseudo-angle sort key, and the shoelace terms — each computed with the
  same IEEE-754 expression order on both engines (no libm: the polar sort
  uses a rational PSEUDO-angle, not atan2, because Java's and C's atan2 may
  differ in the last ulp);
* double SUMs are order-sensitive, so the shoelace total is a CUMULATIVE
  window sum in explicit idx order (both engines evaluate running sums
  sequentially) with ``max_by(cs, idx)`` taking the final value — never a
  bare SUM over doubles.

Scale shape (100 TB story): candidate pairs come from a bbox/cell equi-join
with the feature side broadcast (at real scale: both sides exploded to grid
cells, equi-join on cell — same covering machinery as spatial_join.py); all
per-pair work is O((n+m)^2) rows with tiny constants and partitions by the
pair key, so it shuffles candidate PAIRS only, never full geometry tables.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _edges(vtx: DataFrame, key: str) -> DataFrame:
    """Closed-ring edge list: (key, ex, ey, exn, eyn) with wraparound via
    lead() + first_value() — the ways→rings closure idiom (assembly.py)."""
    w = Window.partitionBy(key).orderBy("seq")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return vtx.select(
        key,
        F.col("x").alias("ex"), F.col("y").alias("ey"),
        F.coalesce(F.lead("x").over(w), F.first("x").over(wf)).alias("exn"),
        F.coalesce(F.lead("y").over(w), F.first("y").over(wf)).alias("eyn"))


# coarse candidate-generation cell (2^18 local units): bboxes explode into
# the cells they span so the pair search is a hash EQUI-join on (cx, cy) —
# never an inequality-only BroadcastNestedLoopJoin. A non-overlapping pair
# that shares a cell is a harmless superset row: it yields < 3 candidate
# points downstream and is filtered with the degenerate pairs.
_CAND_CELL = 262_144


def _bbox_cells(bb: DataFrame, key: str, x0: str, y0: str,
                x1: str, y1: str) -> DataFrame:
    c = F.lit(float(_CAND_CELL))
    return (bb.withColumn("_cx", F.explode(F.sequence(
        F.floor(F.col(x0) / c), F.floor(F.col(x1) / c))))
        .withColumn("_cy", F.explode(F.sequence(
            F.floor(F.col(y0) / c), F.floor(F.col(y1) / c)))))


def _candidate_pairs(zvtx: DataFrame, fvtx: DataFrame) -> DataFrame:
    """(zone_id, feat_id) pairs with overlapping bboxes, via the cell-keyed
    equi-join (the covering-index shape of spatial_join.py)."""
    zb = zvtx.groupBy("zone_id").agg(
        F.min("x").alias("zx0"), F.min("y").alias("zy0"),
        F.max("x").alias("zx1"), F.max("y").alias("zy1"))
    fb = fvtx.groupBy("feat_id").agg(
        F.min("x").alias("fx0"), F.min("y").alias("fy0"),
        F.max("x").alias("fx1"), F.max("y").alias("fy1"))
    zc = _bbox_cells(zb, "zone_id", "zx0", "zy0", "zx1", "zy1")
    fc = _bbox_cells(fb, "feat_id", "fx0", "fy0", "fx1", "fy1")
    return (zc.join(F.broadcast(fc), ["_cx", "_cy"])
            .where((F.col("fx0") < F.col("zx1")) & (F.col("fx1") > F.col("zx0"))
                   & (F.col("fy0") < F.col("zy1")) & (F.col("fy1") > F.col("zy0")))
            .select("zone_id", "feat_id").distinct())


def _vertices_inside(cand: DataFrame, vtx: DataFrame, edges: DataFrame,
                     vtx_key: str, edge_key: str) -> DataFrame:
    """Vertices of one polygon inside the other: join vertex × edges of the
    counterpart, keep vertices with cross ≥ 0 vs EVERY CCW edge (convex
    boundary-inclusive PIP, `SpatialUnits.groovy:510-515` analogue)."""
    cr = ((F.col("exn") - F.col("ex")) * (F.col("vy") - F.col("ey"))
          - (F.col("eyn") - F.col("ey")) * (F.col("vx") - F.col("ex")))
    return (cand.join(vtx, vtx_key).join(edges, edge_key)
            .groupBy("zone_id", "feat_id", "vseq", "vx", "vy")
            .agg(F.bool_and(cr >= 0).alias("_in"))
            .where(F.col("_in"))
            .select("zone_id", "feat_id",
                    F.col("vx").cast("double").alias("px"),
                    F.col("vy").cast("double").alias("py")))


def convex_pair_areas(zvtx: DataFrame, fvtx: DataFrame) -> DataFrame:
    """Exact intersection area of every overlapping (zone, feature) pair.

    ``zvtx``: (zone_id, seq, x, y) CCW integer vertices;
    ``fvtx``: (feat_id, layer, seq, x, y) CCW integer vertices.
    Returns (zone_id, feat_id, layer, n_vertices, inter_area) — one row per
    pair with positive-area intersection; ``inter_area`` in the fixture's
    local units² (double, bit-deterministic vs the SQL oracle).
    """
    zv = zvtx.select("zone_id", F.col("seq").alias("vseq"),
                     F.col("x").alias("vx"), F.col("y").alias("vy"))
    fv = fvtx.select("feat_id", F.col("seq").alias("vseq"),
                     F.col("x").alias("vx"), F.col("y").alias("vy"))
    ze = _edges(zvtx.select("zone_id", "seq", "x", "y"), "zone_id")
    fe = _edges(fvtx.select("feat_id", "seq", "x", "y"), "feat_id")

    cand = _candidate_pairs(zvtx, fvtx)

    # (A) zone vertices in feature, (B) feature vertices in zone
    a_in = _vertices_inside(cand, zv, fe, "zone_id", "feat_id")
    b_in = _vertices_inside(cand, fv, ze, "feat_id", "zone_id")

    # (C) proper edge crossings — integer predicate, double point
    qe = fe.select("feat_id", F.col("ex").alias("qx"), F.col("ey").alias("qy"),
                   F.col("exn").alias("qxn"), F.col("eyn").alias("qyn"))
    rx, ry = F.col("exn") - F.col("ex"), F.col("eyn") - F.col("ey")
    sx, sy = F.col("qxn") - F.col("qx"), F.col("qyn") - F.col("qy")
    d = rx * sy - ry * sx
    tn = (F.col("qx") - F.col("ex")) * sy - (F.col("qy") - F.col("ey")) * sx
    un = (F.col("qx") - F.col("ex")) * ry - (F.col("qy") - F.col("ey")) * rx
    xraw = (cand.join(ze, "zone_id").join(F.broadcast(qe), "feat_id")
            .select("zone_id", "feat_id", "ex", "ey",
                    rx.alias("rx"), ry.alias("ry"),
                    d.alias("d"), tn.alias("tn"), un.alias("un")))
    proper = (((F.col("d") > 0) & (F.col("tn") > 0) & (F.col("tn") < F.col("d"))
               & (F.col("un") > 0) & (F.col("un") < F.col("d")))
              | ((F.col("d") < 0) & (F.col("tn") < 0) & (F.col("tn") > F.col("d"))
                 & (F.col("un") < 0) & (F.col("un") > F.col("d"))))
    t = F.col("tn").cast("double") / F.col("d").cast("double")
    x_pt = (xraw.where(proper)
            .select("zone_id", "feat_id",
                    (F.col("ex").cast("double")
                     + t * F.col("rx").cast("double")).alias("px"),
                    (F.col("ey").cast("double")
                     + t * F.col("ry").cast("double")).alias("py")))

    pts = a_in.unionByName(b_in).unionByName(x_pt).distinct()

    # polar sort around the bottom-most candidate (rational pseudo-angle)
    wp = Window.partitionBy("zone_id", "feat_id").orderBy("py", "px")
    pvt = (pts.withColumn("_pr", F.row_number().over(wp))
           .where(F.col("_pr") == 1)
           .select("zone_id", "feat_id",
                   F.col("px").alias("cx"), F.col("py").alias("cy")))
    dx, dy = F.col("px") - F.col("cx"), F.col("py") - F.col("cy")
    akey = (F.when((dx == 0) & (dy == 0), F.lit(-1.0))
            .when(dx > 0, dy / (dx + dy))
            .otherwise(F.lit(1.0) + (-dx) / ((-dx) + dy)))
    keyed = (pts.join(pvt, ["zone_id", "feat_id"])
             .select("zone_id", "feat_id", "px", "py",
                     akey.alias("akey"), (dx * dx + dy * dy).alias("d2")))
    wo = Window.partitionBy("zone_id", "feat_id").orderBy(
        "akey", "d2", "px", "py")
    wm = Window.partitionBy("zone_id", "feat_id")
    ordd = (keyed.withColumn("idx", F.row_number().over(wo) - 1)
            .withColumn("m", F.count("*").over(wm)))

    # shoelace with wraparound; running sum in idx order for determinism
    wi = Window.partitionBy("zone_id", "feat_id").orderBy("idx")
    wif = wi.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    nx = F.coalesce(F.lead("px").over(wi), F.first("px").over(wif))
    ny = F.coalesce(F.lead("py").over(wi), F.first("py").over(wif))
    term = ordd.select("zone_id", "feat_id", "idx", "m",
                       (F.col("px") * ny - nx * F.col("py")).alias("t"))
    wc = wi.rowsBetween(Window.unboundedPreceding, 0)
    cum = term.withColumn("cs", F.sum("t").over(wc))
    res = (cum.groupBy("zone_id", "feat_id")
           .agg(F.max("m").alias("n_vertices"), F.max_by("cs", "idx").alias("a2")))
    layer_dim = fvtx.select("feat_id", "layer").distinct()
    return (res.join(F.broadcast(layer_dim), "feat_id")
            .where((F.col("n_vertices") >= 3) & (F.abs(F.col("a2")) > 0))
            .select("zone_id", "feat_id", "layer",
                    F.col("n_vertices").cast("long").alias("n_vertices"),
                    (F.abs(F.col("a2")) / F.lit(2.0)).alias("inter_area")))


def _edges_sql(rel: str, key: str) -> str:
    lead = f"LEAD({{c}}) OVER (PARTITION BY {key} ORDER BY seq)"
    first = (f"FIRST_VALUE({{c}}) OVER (PARTITION BY {key} ORDER BY seq "
             f"ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)")
    wrap = lambda c: f"COALESCE({lead.format(c=c)}, {first.format(c=c)})"
    return (f"SELECT {key}, x AS ex, y AS ey, {wrap('x')} AS exn, "
            f"{wrap('y')} AS eyn FROM {rel}")


def convex_pair_areas_sql(zvtx_sql: str, fvtx_sql: str) -> str:
    """DuckDB mirror of :func:`convex_pair_areas` — the identical expression
    tree (int64 predicates, double crossing points, pseudo-angle sort,
    cumulative shoelace)."""
    inside = (lambda vrel, erel, ekey:
              f"""SELECT c.zone_id, c.feat_id,
       CAST(v.vx AS DOUBLE) AS px, CAST(v.vy AS DOUBLE) AS py
  FROM cand c JOIN {vrel} v USING ({'zone_id' if vrel == 'zv' else 'feat_id'})
       JOIN {erel} e USING ({ekey})
 GROUP BY c.zone_id, c.feat_id, v.vseq, v.vx, v.vy
HAVING BOOL_AND((e.exn - e.ex) * (v.vy - e.ey)
              - (e.eyn - e.ey) * (v.vx - e.ex) >= 0)""")
    return f"""WITH zvtx AS ({zvtx_sql}),
fvtx AS ({fvtx_sql}),
zv AS (SELECT zone_id, seq AS vseq, x AS vx, y AS vy FROM zvtx),
fv AS (SELECT feat_id, seq AS vseq, x AS vx, y AS vy FROM fvtx),
ze AS ({_edges_sql('zvtx', 'zone_id')}),
fe AS ({_edges_sql('fvtx', 'feat_id')}),
zb AS (SELECT zone_id, MIN(x) AS zx0, MIN(y) AS zy0,
              MAX(x) AS zx1, MAX(y) AS zy1 FROM zvtx GROUP BY 1),
fb AS (SELECT feat_id, MIN(x) AS fx0, MIN(y) AS fy0,
              MAX(x) AS fx1, MAX(y) AS fy1 FROM fvtx GROUP BY 1),
cand AS (SELECT z.zone_id, f.feat_id FROM zb z JOIN fb f
          ON f.fx0 < z.zx1 AND f.fx1 > z.zx0
         AND f.fy0 < z.zy1 AND f.fy1 > z.zy0),
a_in AS ({inside('zv', 'fe', 'feat_id')}),
b_in AS ({inside('fv', 'ze', 'zone_id')}),
xraw AS (SELECT c.zone_id, c.feat_id, a.ex, a.ey,
       a.exn - a.ex AS rx, a.eyn - a.ey AS ry,
       (a.exn - a.ex) * (b.eyn - b.ey) - (a.eyn - a.ey) * (b.exn - b.ex) AS d,
       (b.ex - a.ex) * (b.eyn - b.ey) - (b.ey - a.ey) * (b.exn - b.ex) AS tn,
       (b.ex - a.ex) * (a.eyn - a.ey) - (b.ey - a.ey) * (a.exn - a.ex) AS un
  FROM cand c JOIN ze a USING (zone_id) JOIN fe b USING (feat_id)),
x_pt AS (SELECT zone_id, feat_id,
       CAST(ex AS DOUBLE)
         + (CAST(tn AS DOUBLE) / CAST(d AS DOUBLE)) * CAST(rx AS DOUBLE) AS px,
       CAST(ey AS DOUBLE)
         + (CAST(tn AS DOUBLE) / CAST(d AS DOUBLE)) * CAST(ry AS DOUBLE) AS py
  FROM xraw
 WHERE (d > 0 AND tn > 0 AND tn < d AND un > 0 AND un < d)
    OR (d < 0 AND tn < 0 AND tn > d AND un < 0 AND un > d)),
pts AS (SELECT DISTINCT zone_id, feat_id, px, py FROM (
    SELECT * FROM a_in UNION ALL SELECT * FROM b_in
    UNION ALL SELECT * FROM x_pt)),
pvt AS (SELECT zone_id, feat_id, px AS cx, py AS cy FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY zone_id, feat_id
        ORDER BY py, px) AS _pr FROM pts) WHERE _pr = 1),
keyed AS (SELECT p.zone_id, p.feat_id, p.px, p.py,
       CASE WHEN p.px - v.cx = 0 AND p.py - v.cy = 0 THEN -1.0
            WHEN p.px - v.cx > 0
              THEN (p.py - v.cy) / ((p.px - v.cx) + (p.py - v.cy))
            ELSE 1.0 + (-(p.px - v.cx))
                 / ((-(p.px - v.cx)) + (p.py - v.cy)) END AS akey,
       (p.px - v.cx) * (p.px - v.cx) + (p.py - v.cy) * (p.py - v.cy) AS d2
  FROM pts p JOIN pvt v USING (zone_id, feat_id)),
ordd AS (SELECT zone_id, feat_id, px, py,
       ROW_NUMBER() OVER (PARTITION BY zone_id, feat_id
           ORDER BY akey, d2, px, py) - 1 AS idx,
       COUNT(*) OVER (PARTITION BY zone_id, feat_id) AS m
  FROM keyed),
term AS (SELECT zone_id, feat_id, idx, m,
       px * COALESCE(LEAD(py) OVER (PARTITION BY zone_id, feat_id ORDER BY idx),
            FIRST_VALUE(py) OVER (PARTITION BY zone_id, feat_id ORDER BY idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
     - COALESCE(LEAD(px) OVER (PARTITION BY zone_id, feat_id ORDER BY idx),
            FIRST_VALUE(px) OVER (PARTITION BY zone_id, feat_id ORDER BY idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) * py AS t
  FROM ordd),
cum AS (SELECT zone_id, feat_id, idx, m,
       SUM(t) OVER (PARTITION BY zone_id, feat_id ORDER BY idx
           ROWS UNBOUNDED PRECEDING) AS cs
  FROM term),
res AS (SELECT zone_id, feat_id, MAX(m) AS n_vertices, MAX_BY(cs, idx) AS a2
  FROM cum GROUP BY 1, 2)
SELECT r.zone_id, r.feat_id, f.layer,
       CAST(n_vertices AS BIGINT) AS n_vertices, ABS(a2) / 2.0 AS inter_area
FROM res r JOIN (SELECT DISTINCT feat_id, layer FROM fvtx) f USING (feat_id)
WHERE n_vertices >= 3 AND ABS(a2) > 0"""


# ---------------------------------------------------- non-convex zone path
# clip areas are rounded to this grid with an explicit half-up floor (no
# engine-specific ROUND semantics); the two float paths (Sutherland–Hodgman
# vs decomposition sum) agree to ~1e-3 units², 5 orders below the grid
AREA_GRID = 1000.0


def simple_poly_pair_areas(zvtx: DataFrame, fvtx: DataFrame) -> DataFrame:
    """Intersection areas of arbitrary SIMPLE (possibly concave) zone
    polygons with convex layer features.

    Engine path: bbox candidate pairs → both rings shipped to a grouped
    Arrow batch → vectorized Sutherland–Hodgman clip
    (:func:`geoclimate_spark.geometry.clip_convex` — convex clip polygon,
    arbitrary simple subject; disconnected intersections appear as zero-area
    bridges so the area is still exact). The DuckDB oracle cannot run SH, so
    the FIXTURE carries a known convex decomposition of each zone
    (sources/layers.py::_synth_nc_zone_data) and the oracle sums the
    relational convex-pair areas over the parts — mathematically the same
    region. Areas are snapped to the ``AREA_GRID`` with FLOOR(x/g + 0.5) on
    both sides.

    Returns (zone_id, feat_id, layer, inter_area); pairs whose snapped area
    is zero are dropped on both sides identically.
    """
    import pandas as pd

    from .. import geometry

    cand = _candidate_pairs(zvtx, fvtx)
    zt = (cand.join(zvtx, "zone_id")
          .select("zone_id", "feat_id", F.lit(0).alias("side"), "seq", "x", "y"))
    ft = (cand.join(F.broadcast(fvtx.select("feat_id", "seq", "x", "y")), "feat_id")
          .select("zone_id", "feat_id", F.lit(1).alias("side"), "seq", "x", "y"))
    u = zt.unionByName(ft)
    schema = "zone_id long, feat_id long, inter_area double"

    def run(g: pd.DataFrame) -> pd.DataFrame:
        z = (g[g["side"] == 0].sort_values("seq")[["x", "y"]]
             .to_numpy(np.float64))
        f = (g[g["side"] == 1].sort_values("seq")[["x", "y"]]
             .to_numpy(np.float64))
        clipped = geometry.clip_convex(z, f)
        area = geometry.poly_area(clipped) if len(clipped) >= 3 else 0.0
        snapped = math.floor(area / AREA_GRID + 0.5) * AREA_GRID
        if snapped <= 0:
            return pd.DataFrame(
                {"zone_id": [], "feat_id": [], "inter_area": []})
        return pd.DataFrame([{
            "zone_id": int(g["zone_id"].iloc[0]),
            "feat_id": int(g["feat_id"].iloc[0]),
            "inter_area": snapped}])

    out = u.groupBy("zone_id", "feat_id").applyInPandas(run, schema)
    layer_dim = fvtx.select("feat_id", "layer").distinct()
    return (out.join(F.broadcast(layer_dim), "feat_id")
            .select("zone_id", "feat_id", "layer", "inter_area"))


def simple_poly_pair_areas_sql(parts_sql: str, fvtx_sql: str) -> str:
    """DuckDB oracle for :func:`simple_poly_pair_areas` via the fixture's
    convex decomposition: each (zone, part) becomes a synthetic convex
    "zone" keyed ``zone_id·stride + part_id`` through
    :func:`convex_pair_areas_sql`, part areas are summed per real zone in
    pkey order (ordered cumulative window — never a bare double SUM), and
    the total is snapped to the same grid."""
    inner = convex_pair_areas_sql(
        "SELECT zone_id * 16 + part_id AS zone_id, seq, x, y"
        f" FROM ({parts_sql})", fvtx_sql)
    g = AREA_GRID
    return f"""WITH pairs AS ({inner}),
cum AS (SELECT zone_id // 16 AS rid, zone_id AS pkey, feat_id,
       layer,
       SUM(inter_area) OVER (PARTITION BY zone_id // 16, feat_id
           ORDER BY zone_id ROWS UNBOUNDED PRECEDING) AS cs
  FROM pairs),
agg AS (SELECT CAST(rid AS BIGINT) AS zone_id, feat_id, MAX(layer) AS layer,
       MAX_BY(cs, pkey) AS s
  FROM cum GROUP BY rid, feat_id)
SELECT zone_id, feat_id, layer,
       FLOOR(s / {g} + 0.5) * {g} AS inter_area
FROM agg WHERE FLOOR(s / {g} + 0.5) > 0"""


def layer_cover(pairs: DataFrame, zvtx: DataFrame) -> DataFrame:
    """Per-(zone, layer) rollup of pair intersection areas + cover index.

    ``cover_index`` divides by the EXACT integer-shoelace zone area (the
    §2.2 size-property, `GenericIndicators.groovy:241` ST_AREA analogue).
    Same-layer features may overlap, so the sum is an area-weighted cover
    index (can exceed 1); the exclusive-union path is the rect overlay
    family. The double sum is a feat_id-ordered cumulative window (never a
    bare SUM over doubles)."""
    ze = _edges(zvtx.select("zone_id", "seq", "x", "y"), "zone_id")
    za = ze.groupBy("zone_id").agg(
        F.abs(F.sum(F.col("ex") * F.col("eyn")
                    - F.col("exn") * F.col("ey"))).alias("a2"))
    wc = (Window.partitionBy("zone_id", "layer").orderBy("feat_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    per = (pairs.withColumn("_cs", F.sum("inter_area").over(wc))
           .groupBy("zone_id", "layer")
           .agg(F.count("*").cast("long").alias("n_feats"),
                F.max_by("_cs", "feat_id").alias("sum_inter_area")))
    return (per.join(F.broadcast(za), "zone_id")
            .select("zone_id", "layer", "n_feats", "sum_inter_area",
                    (F.col("sum_inter_area")
                     / (F.col("a2").cast("double") / F.lit(2.0)))
                    .alias("cover_index")))


def layer_cover_sql(pairs_sql: str, zvtx_sql: str) -> str:
    return f"""WITH pairs AS ({pairs_sql}),
zvtx AS ({zvtx_sql}),
ze AS ({_edges_sql('zvtx', 'zone_id')}),
za AS (SELECT zone_id, ABS(SUM(ex * eyn - exn * ey)) AS a2
  FROM ze GROUP BY 1),
cum AS (SELECT zone_id, layer, feat_id,
       SUM(inter_area) OVER (PARTITION BY zone_id, layer ORDER BY feat_id
           ROWS UNBOUNDED PRECEDING) AS _cs
  FROM pairs),
per AS (SELECT zone_id, layer, COUNT(*) AS n_feats,
       MAX_BY(_cs, feat_id) AS sum_inter_area
  FROM cum GROUP BY 1, 2)
SELECT p.zone_id, p.layer, CAST(p.n_feats AS BIGINT) AS n_feats,
       p.sum_inter_area,
       p.sum_inter_area / (CAST(z.a2 AS DOUBLE) / 2.0) AS cover_index
FROM per p JOIN za z USING (zone_id)"""
