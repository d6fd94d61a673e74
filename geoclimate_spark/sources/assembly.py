"""Geometry assembly from ordered parts — the ways→polygons source operator.

Reference: OSM ways arrive as ordered node lists that must be assembled
into linestrings/polygons — `/root/reference/osmtools/src/main/groovy/org/
orbisgis/geoclimate/osmtools/utils/Transform.groovy:225` (ways→lines) and
`:301-318` (ring closing + polygon validity filter before use).

Spark-first shape: ``groupBy(way).agg(sort_array(collect_list(struct(seq,
x, y))))`` — the shuffle moves each way's parts to one row, the sort keys
on the part order (collect_list order is non-deterministic; the struct sort
restores it), the ring closes by appending the first point when the last
differs, and the metrics are higher-order array folds (JVM codegen, no
Python):

* ``area2_e6sq`` — |shoelace| doubled: exact int64 cross-product sum;
* ``perim_floor_e6`` — Σ FLOOR(√(dx²+dy²)) per edge: integer summands so
  partial-aggregation order cannot perturb the result (√ is correctly
  rounded per IEEE, FLOOR avoids engine cast/round divergence);
* validity = ≥3 distinct vertices (degenerate ways are dropped, the
  reference's ST_ISVALID-style filter).

The DuckDB oracle reconstructs the same rings with LEAD/FIRST_VALUE windows
(a different decomposition, same integer math) — assembly is hash-checked
end-to-end.

Scale: one shuffle keyed by way id; ways are bounded-size (OSM caps ways at
2000 nodes) so per-row arrays stay small; skewed mega-ways do not exist by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_rings(parts: DataFrame, way: str = "way_id",
                   extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """(way_id, *extra_keys, n_parts, n_ring_points, n_distinct,
    area2_e6sq, perim_floor_e6) for every ring with >= 3 distinct vertices.
    ``extra_keys`` subdivide a way into multiple rings (relation members)."""
    pt = F.struct(F.col("seq").cast("long").alias("seq"),
                  F.col("x").cast("long").alias("x"),
                  F.col("y").cast("long").alias("y"))
    g = (parts.groupBy(F.col(way).alias("way_id"),
                       *[F.col(k) for k in extra_keys])
         .agg(F.sort_array(F.collect_list(pt)).alias("pts")))
    first = F.col("pts")[0]
    last = F.element_at(F.col("pts"), -1)
    closed = (last["x"] == first["x"]) & (last["y"] == first["y"])
    ring = F.when(closed, F.col("pts")).otherwise(
        F.concat(F.col("pts"), F.array(first)))
    g = (g.withColumn("n_parts", F.size("pts").cast("long"))
         .withColumn("ring", ring)
         .withColumn("n_ring_points", F.size("ring").cast("long"))
         .withColumn("n_distinct", F.size(F.array_distinct(F.transform(
             F.col("pts"), lambda p: F.struct(p["x"], p["y"])))).cast("long")))
    idx = F.sequence(F.lit(0), F.size("ring") - 2)

    def _edge(i):
        a = F.element_at(F.col("ring"), i + 1)
        b = F.element_at(F.col("ring"), i + 2)
        return a, b

    def _cross(i):
        a, b = _edge(i)
        return a["x"] * b["y"] - b["x"] * a["y"]

    def _elen(i):
        a, b = _edge(i)
        d2 = ((b["x"] - a["x"]) * (b["x"] - a["x"])
              + (b["y"] - a["y"]) * (b["y"] - a["y"]))
        return F.floor(F.sqrt(d2.cast("double"))).cast("long")

    area2 = F.abs(F.aggregate(F.transform(idx, _cross),
                              F.lit(0).cast("long"), lambda acc, v: acc + v))
    perim = F.aggregate(F.transform(idx, _elen),
                        F.lit(0).cast("long"), lambda acc, v: acc + v)
    return (g.where(F.col("n_distinct") >= 3)
            .select("way_id", *extra_keys,
                    "n_parts", "n_ring_points", "n_distinct",
                    area2.alias("area2_e6sq"), perim.alias("perim_floor_e6")))


def assemble_relations(parts: DataFrame) -> DataFrame:
    """Relations→multipolygons WITH HOLES.

    Reference: `/root/reference/osmtools/src/main/groovy/org/orbisgis/
    geoclimate/osmtools/utils/Transform.groovy:383-789` — OSM relation
    members carry 'outer'/'inner' roles; inner rings are subtracted as
    holes (ST_MAKEPOLYGON(outer, holes)), and the perimeter of a holed
    polygon counts BOTH the shell and the hole boundaries
    (`RsuIndicators.groovy:696`: ST_PERIMETER + ST_PERIMETER(ST_HOLES)).

    Each (relation, ring, role) assembles independently through the same
    ring fold as :func:`assemble_rings`; the per-relation rollup nets the
    signed shoelace areas (|outer| − Σ|inner|, exact int64) and sums all
    ring perimeters. Degenerate rings (< 3 distinct vertices) drop at the
    ring stage; relations without a surviving outer ring drop entirely
    (the reference's ST_ISVALID gate). One shuffle keyed by relation.

    Returns (relation_id, n_rings, n_holes, area2_e6sq, hole_area2_e6sq,
    perim_floor_e6)."""
    rings = assemble_rings(parts, way="relation_id",
                           extra_keys=("ring_id", "role"))
    is_outer = F.col("role") == "outer"
    agg = (rings.groupBy("way_id")
           .agg(F.count("*").cast("long").alias("n_rings"),
                F.sum(F.when(~is_outer, 1).otherwise(0)).cast("long")
                .alias("n_holes"),
                F.sum(F.when(is_outer, F.col("area2_e6sq"))
                      .otherwise(-F.col("area2_e6sq"))).cast("long")
                .alias("area2_e6sq"),
                F.sum(F.when(~is_outer, F.col("area2_e6sq")).otherwise(0))
                .cast("long").alias("hole_area2_e6sq"),
                F.sum("perim_floor_e6").cast("long").alias("perim_floor_e6"),
                F.max(F.when(is_outer, 1).otherwise(0)).alias("_has_outer")))
    return (agg.where(F.col("_has_outer") == 1)
            .select(F.col("way_id").alias("relation_id"), "n_rings",
                    "n_holes", "area2_e6sq", "hole_area2_e6sq",
                    "perim_floor_e6"))


def assemble_relations_sql(parts_sql: str) -> str:
    """DuckDB mirror of :func:`assemble_relations` (same LEAD/FIRST_VALUE
    ring fold per (relation, ring, role), same signed rollup)."""
    rings = assemble_rings_sql(parts_sql, way="relation_id",
                               extra_keys=("ring_id", "role"))
    return f"""WITH rings AS ({rings}),
agg AS (SELECT way_id AS relation_id,
       CAST(COUNT(*) AS BIGINT) AS n_rings,
       CAST(SUM(CASE WHEN role != 'outer' THEN 1 ELSE 0 END) AS BIGINT) AS n_holes,
       CAST(SUM(CASE WHEN role = 'outer' THEN area2_e6sq
                ELSE -area2_e6sq END) AS BIGINT) AS area2_e6sq,
       CAST(SUM(CASE WHEN role != 'outer' THEN area2_e6sq ELSE 0 END)
            AS BIGINT) AS hole_area2_e6sq,
       CAST(SUM(perim_floor_e6) AS BIGINT) AS perim_floor_e6,
       MAX(CASE WHEN role = 'outer' THEN 1 ELSE 0 END) AS has_outer
  FROM rings GROUP BY way_id)
SELECT relation_id, n_rings, n_holes, area2_e6sq, hole_area2_e6sq,
       perim_floor_e6
FROM agg WHERE has_outer = 1"""


def size_properties(parts: DataFrame) -> DataFrame:
    """Per-way size/form properties incl. CONCAVITY — ring area divided by
    convex-hull area (`/root/reference/geoindicators/.../
    BuildingIndicators.groovy:210,254`: ``ST_AREA(g)/ST_AREA(ST_CONVEXHULL
    (g))``).

    The hull area is computed RELATIONALLY (no sequential hull walk): a
    directed point pair (p, q) is a CCW hull edge iff every other vertex r
    is strictly left of it (cross(q−p, r−p) > 0, or collinear AND strictly
    between p and q — keeps only the maximal edge of collinear chains), and
    because the surviving edges form the hull cycle, Σ (px·qy − qx·py) over
    the SET of hull edges equals 2·hull-area with no ordering step. All
    predicates and sums are exact int64 on both engines. O(n³) per way with
    n ≤ way size (bounded, OSM-style); everything is an equi-join on the
    way id.

    Returns (way_id, area2_e6sq, hull_area2_e6sq, concavity); fully
    collinear ways yield NULL concavity.
    """
    dpts = (parts.select(F.col("way_id"),
                         F.col("x").cast("long").alias("x"),
                         F.col("y").cast("long").alias("y"))
            .distinct())
    p = dpts.select("way_id", F.col("x").alias("px"), F.col("y").alias("py"))
    q = dpts.select("way_id", F.col("x").alias("qx"), F.col("y").alias("qy"))
    r = dpts.select("way_id", F.col("x").alias("rx"), F.col("y").alias("ry"))
    pq = (p.join(q, "way_id")
          .where((F.col("px") != F.col("qx")) | (F.col("py") != F.col("qy"))))
    cr = ((F.col("qx") - F.col("px")) * (F.col("ry") - F.col("py"))
          - (F.col("qy") - F.col("py")) * (F.col("rx") - F.col("px")))
    dot = ((F.col("rx") - F.col("px")) * (F.col("qx") - F.col("px"))
           + (F.col("ry") - F.col("py")) * (F.col("qy") - F.col("py")))
    len2 = ((F.col("qx") - F.col("px")) * (F.col("qx") - F.col("px"))
            + (F.col("qy") - F.col("py")) * (F.col("qy") - F.col("py")))
    is_end = (((F.col("rx") == F.col("px")) & (F.col("ry") == F.col("py")))
              | ((F.col("rx") == F.col("qx")) & (F.col("ry") == F.col("qy"))))
    ok = is_end | (cr > 0) | ((cr == 0) & (dot > 0) & (dot < len2))
    hull = (pq.join(r, "way_id")
            .groupBy("way_id", "px", "py", "qx", "qy")
            .agg(F.bool_and(ok).alias("_edge"))
            .where(F.col("_edge"))
            .groupBy("way_id")
            .agg(F.sum(F.col("px") * F.col("qy")
                       - F.col("qx") * F.col("py")).alias("hull_area2_e6sq")))
    rings = assemble_rings(parts)
    return (rings.select("way_id", "area2_e6sq")
            .join(hull, "way_id")
            .select("way_id", "area2_e6sq",
                    F.col("hull_area2_e6sq").cast("long").alias("hull_area2_e6sq"),
                    F.when(F.col("hull_area2_e6sq") > 0,
                           F.col("area2_e6sq").cast("double")
                           / F.col("hull_area2_e6sq").cast("double"))
                    .alias("concavity")))


def size_properties_sql(parts_sql: str) -> str:
    """DuckDB mirror of :func:`size_properties` (identical hull-edge
    predicate and integer sums)."""
    rings = assemble_rings_sql(parts_sql)
    return f"""WITH parts0 AS ({parts_sql}),
dpts AS (SELECT DISTINCT way_id AS way_id, CAST(x AS BIGINT) AS x,
                CAST(y AS BIGINT) AS y FROM parts0),
pq AS (SELECT p.way_id, p.x AS px, p.y AS py, q.x AS qx, q.y AS qy
  FROM dpts p JOIN dpts q USING (way_id)
  WHERE p.x != q.x OR p.y != q.y),
hull_edges AS (SELECT way_id, px, py, qx, qy
  FROM pq JOIN dpts r USING (way_id)
  GROUP BY way_id, px, py, qx, qy
  HAVING BOOL_AND(
       ((r.x = px AND r.y = py) OR (r.x = qx AND r.y = qy))
    OR (qx - px) * (r.y - py) - (qy - py) * (r.x - px) > 0
    OR ((qx - px) * (r.y - py) - (qy - py) * (r.x - px) = 0
        AND (r.x - px) * (qx - px) + (r.y - py) * (qy - py) > 0
        AND (r.x - px) * (qx - px) + (r.y - py) * (qy - py)
            < (qx - px) * (qx - px) + (qy - py) * (qy - py)))),
hull AS (SELECT way_id, CAST(SUM(px * qy - qx * py) AS BIGINT)
         AS hull_area2_e6sq FROM hull_edges GROUP BY way_id),
rings AS ({rings})
SELECT r.way_id, r.area2_e6sq, h.hull_area2_e6sq,
       CASE WHEN h.hull_area2_e6sq > 0
            THEN CAST(r.area2_e6sq AS DOUBLE)
                 / CAST(h.hull_area2_e6sq AS DOUBLE) END AS concavity
FROM rings r JOIN hull h USING (way_id)"""


def assemble_rings_sql(parts_sql: str, way: str = "way_id",
                       extra_keys: tuple[str, ...] = ()) -> str:
    """DuckDB mirror via LEAD/FIRST_VALUE windows: consecutive part edges
    plus the closing edge when the way is open. ``extra_keys`` subdivide a
    way into multiple rings, mirroring :func:`assemble_rings`."""
    ek = "".join(f", {k}" for k in extra_keys)
    keys = ", ".join(["way_id", *extra_keys])
    ekf = ek
    return f"""WITH parts AS ({parts_sql}),
o AS (SELECT {way} AS way_id{ekf}, seq AS seq, x AS x, y AS y,
       LEAD(x) OVER w AS nx, LEAD(y) OVER w AS ny,
       FIRST_VALUE(x) OVER w AS fx, FIRST_VALUE(y) OVER w AS fy,
       ROW_NUMBER() OVER w AS rn,
       COUNT(*) OVER (PARTITION BY {way}{ek}) AS n
  FROM parts WINDOW w AS (PARTITION BY {way}{ek} ORDER BY seq ASC)),
closedness AS (SELECT {keys}, MAX(CASE WHEN rn = n AND x = fx AND y = fy
       THEN 1 ELSE 0 END) AS is_closed FROM o GROUP BY {keys}),
edges AS (
  SELECT {keys}, x, y, nx, ny FROM o WHERE rn < n
  UNION ALL
  SELECT {", ".join(f"o.{k}" for k in ["way_id", *extra_keys])},
         o.x, o.y, o.fx AS nx, o.fy AS ny
  FROM o JOIN closedness c USING ({keys})
  WHERE o.rn = o.n AND c.is_closed = 0),
met AS (SELECT {keys},
       ABS(CAST(SUM(x * ny - nx * y) AS BIGINT)) AS area2_e6sq,
       CAST(SUM(CAST(FLOOR(SQRT(CAST((nx - x) * (nx - x)
            + (ny - y) * (ny - y) AS DOUBLE))) AS BIGINT)) AS BIGINT) AS perim_floor_e6
  FROM edges GROUP BY {keys}),
stats AS (SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT (x, y)) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) + 1 - MAX(CASE WHEN rn = n AND x = fx AND y = fy
            THEN 1 ELSE 0 END) AS BIGINT) AS n_ring_points
  FROM o GROUP BY {keys})
SELECT {", ".join(f"s.{k}" for k in ["way_id", *extra_keys])},
       s.n_parts, s.n_ring_points, s.n_distinct,
       m.area2_e6sq, m.perim_floor_e6
FROM stats s JOIN met m USING ({keys})
WHERE s.n_distinct >= 3"""
