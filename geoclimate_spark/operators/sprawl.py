"""Sprawl areas: connected components of contiguous DENSE grid tiles.

Reference analogue: GeoClimate's sprawl indicators
(`/root/reference/geoindicators/.../WorkflowGeoIndicators.groovy:2174-2235`
`sprawlIndicators`, invoked from `osm/WorkflowOSM.groovy:619-627`): grid
cells classified urban/dense are dissolved into contiguous "sprawl areas"
(ST_UNION of touching cells), whose complement is the "cool area" layer that
`gridDistances` (`GridIndicators.groovy:292-356`, our operators/griddist.py)
measures distances to. Here the dissolve is the relational half: dense tiles
(page count >= threshold) → rook-adjacency edges → connected components →
per-sprawl-area rollup. The geometric complement already exists as
`overlay.inverse_cover`; the distance leg as `griddist.tile_boundary_distance`
— this operator closes the chain's missing middle.

Scale design (10^12 pages):
* the tile table is ALREADY the aggregated form (one row per non-empty
  tile), so everything here runs on the reduced grid, not the corpus;
* adjacency is pure packed-int64 cell arithmetic (lon wraps, lat clamps —
  identical to knn._kring9) exploded to <= 4 rook neighbors and equi-joined
  against the dense set: never a theta join, never geometry;
* components use the pointer-doubling CC (O(log diameter) rounds) — urban
  blobs are shallow, so 2-3 rounds in practice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import grid
from .components import connected_components

P29 = 1 << 29
P58 = 1 << 58


def _rook_cells(key: str, res: int) -> Column:
    """<=4 rook-adjacent cell ids of packed cell column ``key`` at ``res``:
    lon wraps modulo nx, lat clamps at the poles (out-of-range y dropped).
    array_distinct guards the degenerate nx<=2 wrap aliasing, mirroring
    tile.kring9_sql's DISTINCT."""
    nx_, ny_ = grid.nx(res), grid.ny(res)
    mask = P29 - 1
    rt = res * P58
    x = f"(shiftright({key}, 29) & {mask})"
    y = f"({key} & {mask})"
    return F.expr(
        f"array_distinct(filter(array("
        f"CAST({rt} AS BIGINT) + (({x} + 1) % {nx_}) * {P29} + {y}, "
        f"CAST({rt} AS BIGINT) + (({x} + {nx_ - 1}) % {nx_}) * {P29} + {y}, "
        f"IF({y} + 1 < {ny_}, CAST({rt} AS BIGINT) + {x} * {P29} + {y} + 1, "
        f"CAST(-1 AS BIGINT)), "
        f"IF({y} >= 1, CAST({rt} AS BIGINT) + {x} * {P29} + {y} - 1, "
        f"CAST(-1 AS BIGINT))"
        f"), c -> c >= 0))")


def sprawl_components(tiles: DataFrame, res: int, dense_min: int) -> DataFrame:
    """(component, n_tiles, total_pages): one row per sprawl area — a
    maximal rook-connected set of tiles with ``n_pages`` >= dense_min. The
    component id is the minimum member tile id (deterministic, the CC
    convention shared with page_components / near_dup_clusters)."""
    dense = (tiles.where(F.col("n_pages") >= dense_min)
             .select("tile_id", "n_pages"))
    nbrs = dense.select(F.col("tile_id"),
                        F.explode(_rook_cells("tile_id", res)).alias("_nb"))
    edges = (nbrs.join(dense.select(F.col("tile_id").alias("_nb")), "_nb")
             .where(F.col("tile_id") < F.col("_nb"))
             .select(F.col("tile_id").alias("id_a"),
                     F.col("_nb").alias("id_b")))
    cc = connected_components(dense.select("tile_id"), edges, key="tile_id")
    return (cc.join(dense, "tile_id")
            .groupBy("component")
            .agg(F.count("*").cast("long").alias("n_tiles"),
                 F.sum("n_pages").cast("long").alias("total_pages")))


def sprawl_components_sql(tiles_sql: str, res: int, dense_min: int) -> str:
    """DuckDB dual: brute rook edges + recursive-CTE transitive closure.
    ``tiles_sql`` must select (tile_id, n_pages)."""
    nx_, ny_ = grid.nx(res), grid.ny(res)
    mask = P29 - 1
    rt = res * P58
    x = f"((d.tile_id >> 29) & {mask})"
    y = f"(d.tile_id & {mask})"
    return f"""WITH RECURSIVE tiles AS ({tiles_sql}),
dense AS (SELECT tile_id, n_pages FROM tiles WHERE n_pages >= {dense_min}),
nbrs AS (SELECT d.tile_id,
       CAST({rt} AS BIGINT) + (({x} + v.dx + {nx_}) % {nx_}) * {P29}
         + ({y} + v.dy) AS nb
  FROM dense d CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) v(dx, dy)
  WHERE {y} + v.dy >= 0 AND {y} + v.dy < {ny_}),
edges AS (SELECT DISTINCT n.tile_id AS id_a, n.nb AS id_b
  FROM nbrs n JOIN dense b ON b.tile_id = n.nb WHERE n.tile_id < n.nb),
sym AS (SELECT id_a AS src, id_b AS dst FROM edges
  UNION SELECT id_b, id_a FROM edges
  UNION SELECT tile_id, tile_id FROM dense),
reach(src, dst) AS (
  SELECT tile_id, tile_id FROM dense
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
comp AS (SELECT src AS tile_id, MIN(dst) AS component FROM reach GROUP BY src)
SELECT c.component, CAST(COUNT(*) AS BIGINT) AS n_tiles,
       CAST(SUM(d.n_pages) AS BIGINT) AS total_pages
FROM comp c JOIN dense d USING (tile_id)
GROUP BY c.component"""
