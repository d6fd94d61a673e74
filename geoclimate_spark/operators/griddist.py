"""gridDistances analogue — per grid cell, distance from the cell CENTER to
the nearest boundary edge of the polygon containing it.

Reference: `gridDistances` (`/root/reference/geoindicators/src/main/groovy/
org/orbisgis/geoclimate/geoindicators/GridIndicators.groovy:292-356`): for
every input polygon, every grid cell whose bbox intersects it AND whose
centroid lies inside it gets ``IndexedFacetDistance.distance(centroid)`` —
the distance to the nearest polygon FACET (edge). Feeds the sprawl/cool-area
workflow (`WorkflowGeoIndicators.groovy:2174-2235`).

Spark-first shape (no JTS, no UDF — pure relational):

1. per polygon: bbox from its vertex rows (one groupBy);
2. covering cells: explode the bbox x/y ranges at a power-of-two cell size
   ``G`` — centers ``g*G + G/2`` are EXACT integers, so the PIP test below
   is exact int64 (the spatial analogue of the interval bucket explode);
3. centroid-in-polygon: join cells × the polygon's CCW edges on the polygon
   id, keep cells with ``cross((B-A),(P-A)) >= 0`` for EVERY edge
   (boundary-inclusive convex PIP — `SpatialUnits.groovy:510-515` shape,
   matching the reference's PreparedGeometry.intersects(centroid));
4. exact point-to-segment squared distance per edge — integer dot/cross
   with one double division (identical IEEE expression tree on both
   engines), MIN over edges, final sqrt.

Everything is an equi-join on the polygon id + one groupBy(poly, cell):
candidate rows = covering-cells × edges, bounded by (bbox/G)² × ring size.
At 10^12 scale polygons partition-parallel and nothing is cartesian; for
continent-sized polygons drop ``G`` one level per 4× bbox area (the same
res-for-radius rule as knn.pick_res_for_radius).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# power-of-two cell size in the fixture's local integer units: centers
# g*G + G/2 stay integers and ~13x13 cells cover the largest fixture zone
GRID_CELL = 1 << 14


def _seg_d2_col(px: Column, py: Column) -> Column:
    """Squared distance (double) from integer point (px, py) to integer
    segment (ex,ey)-(exn,eyn). Endpoint branches are exact int64; the
    interior branch is cross²/len2 in double (cross² can exceed int64) —
    one fixed expression tree, mirrored in :func:`_seg_d2_sql`."""
    rx, ry = F.col("exn") - F.col("ex"), F.col("eyn") - F.col("ey")
    dxa, dya = px - F.col("ex"), py - F.col("ey")
    dxb, dyb = px - F.col("exn"), py - F.col("eyn")
    dot = dxa * rx + dya * ry
    len2 = rx * rx + ry * ry
    cross = rx * dya - ry * dxa
    return (F.when(dot <= 0, (dxa * dxa + dya * dya).cast("double"))
            .when(dot >= len2, (dxb * dxb + dyb * dyb).cast("double"))
            .otherwise(cross.cast("double") * cross.cast("double")
                       / len2.cast("double")))


def _seg_d2_sql(px: str, py: str) -> str:
    rx, ry = "(exn - ex)", "(eyn - ey)"
    dxa, dya = f"({px} - ex)", f"({py} - ey)"
    dxb, dyb = f"({px} - exn)", f"({py} - eyn)"
    dot = f"({dxa} * {rx} + {dya} * {ry})"
    len2 = f"({rx} * {rx} + {ry} * {ry})"
    cross = f"({rx} * {dya} - {ry} * {dxa})"
    return (f"CASE WHEN {dot} <= 0 THEN CAST({dxa} * {dxa} + {dya} * {dya} AS DOUBLE) "
            f"WHEN {dot} >= {len2} THEN CAST({dxb} * {dxb} + {dyb} * {dyb} AS DOUBLE) "
            f"ELSE CAST({cross} AS DOUBLE) * CAST({cross} AS DOUBLE)"
            f" / CAST({len2} AS DOUBLE) END")


def grid_distances(poly_vtx: DataFrame) -> DataFrame:
    """(zone_id, gx, gy, distance) — one row per (polygon, grid cell whose
    center lies inside it); ``distance`` = exact min distance from the cell
    center to the polygon boundary. ``poly_vtx``: (zone_id, seq, x, y) CCW
    convex integer vertices."""
    from .polygon_overlay import _edges

    half = GRID_CELL // 2
    bb = poly_vtx.groupBy("zone_id").agg(
        F.min("x").alias("x0"), F.min("y").alias("y0"),
        F.max("x").alias("x1"), F.max("y").alias("y1"))
    g = F.lit(GRID_CELL)
    cells = (bb.select(
        "zone_id",
        F.explode(F.sequence(F.floor(F.col("x0") / g),
                             F.floor(F.col("x1") / g))).alias("gx"),
        F.col("y0"), F.col("y1"))
        .select("zone_id", "gx", F.explode(F.sequence(
            F.floor(F.col("y0") / g), F.floor(F.col("y1") / g))).alias("gy"))
        .select("zone_id", "gx", "gy",
                (F.col("gx") * g + half).alias("px"),
                (F.col("gy") * g + half).alias("py")))
    edges = _edges(poly_vtx.select("zone_id", "seq", "x", "y"), "zone_id")
    px, py = F.col("px"), F.col("py")
    inside = ((F.col("exn") - F.col("ex")) * (py - F.col("ey"))
              - (F.col("eyn") - F.col("ey")) * (px - F.col("ex"))) >= 0
    j = cells.join(edges, "zone_id")
    return (j.groupBy("zone_id", "gx", "gy")
            .agg(F.bool_and(inside).alias("_in"),
                 F.min(_seg_d2_col(px, py)).alias("_d2"))
            .where(F.col("_in"))
            .select("zone_id", "gx", "gy",
                    F.sqrt(F.col("_d2")).alias("distance")))


def grid_distances_sql(poly_vtx_sql: str) -> str:
    """DuckDB mirror: same covering ranges, same edge windows, same exact
    PIP predicate and distance expression. ``poly_vtx_sql`` selects
    (zone_id, seq, x, y) BIGINT CCW."""
    half = GRID_CELL // 2
    d2 = _seg_d2_sql("px", "py")
    return f"""WITH vtx AS ({poly_vtx_sql}),
bb AS (SELECT zone_id, MIN(x) AS x0, MIN(y) AS y0, MAX(x) AS x1, MAX(y) AS y1
  FROM vtx GROUP BY zone_id),
cells AS (SELECT zone_id, gx, gy,
       gx * {GRID_CELL} + {half} AS px, gy * {GRID_CELL} + {half} AS py
  FROM bb,
       unnest(generate_series(CAST(FLOOR(CAST(x0 AS DOUBLE) / {GRID_CELL}) AS BIGINT),
                              CAST(FLOOR(CAST(x1 AS DOUBLE) / {GRID_CELL}) AS BIGINT))) AS tx(gx),
       unnest(generate_series(CAST(FLOOR(CAST(y0 AS DOUBLE) / {GRID_CELL}) AS BIGINT),
                              CAST(FLOOR(CAST(y1 AS DOUBLE) / {GRID_CELL}) AS BIGINT))) AS ty(gy)),
edges AS (SELECT zone_id, x AS ex, y AS ey,
       COALESCE(LEAD(x) OVER w, FIRST_VALUE(x) OVER w2) AS exn,
       COALESCE(LEAD(y) OVER w, FIRST_VALUE(y) OVER w2) AS eyn
  FROM vtx
  WINDOW w AS (PARTITION BY zone_id ORDER BY seq),
         w2 AS (PARTITION BY zone_id ORDER BY seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
scored AS (SELECT c.zone_id, c.gx, c.gy,
       BOOL_AND((exn - ex) * (py - ey) - (eyn - ey) * (px - ex) >= 0) AS _in,
       MIN({d2}) AS _d2
  FROM cells c JOIN edges USING (zone_id)
  GROUP BY 1, 2, 3)
SELECT zone_id, gx, gy, SQRT(_d2) AS distance
FROM scored WHERE _in"""
