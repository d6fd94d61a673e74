"""Connected components over proximity edges — the `createBlocks` analogue.

Reference: buildings within a tolerance are edges, H2GIS
`ST_ConnectedComponents` labels clusters, cluster geometries merge into
blocks (`/root/reference/geoindicators/.../SpatialUnits.groovy:395-475`;
CC import `:35`, calls `:250, 307, 430`). Here: pages within a distance
threshold form edges; components are "page blocks" (e.g. one physical
venue crawled under many urls).

Spark-first: min-label propagation as a driver-coordinated loop of
DataFrame joins — each round one shuffle, converging in O(graph diameter)
rounds (urban proximity graphs have tiny diameters; the reference's block
graphs likewise). Labels are ``localCheckpoint``ed every round to truncate
lineage. For adversarial long-chain graphs swap in the large-star/small-star
algorithm (same join primitives, O(log n) rounds) — not needed for the
block-shaped graphs this engine targets.

The DuckDB oracle computes the same components via a recursive-CTE
transitive closure + MIN(reachable id) — feasible at oracle scale, and
bit-exact because component ids are integer minima.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .knn import _kring9, pick_res_for_radius
from .. import grid


def proximity_edges(points: DataFrame, radius_e6: int) -> DataFrame:
    """Undirected edge list (id_a < id_b) of point pairs within radius —
    same kring-9 candidate generation + exact integer d² refine as
    operators/knn.py."""
    res = pick_res_for_radius(radius_e6)
    a = points.select(
        F.col("page_id").alias("id_a"), F.col("lon_e6").alias("_alon"),
        F.col("lat_e6").alias("_alat"),
        F.explode(_kring9(grid.cell_col(F.col("lon_e6"), F.col("lat_e6"), res),
                          res)).alias("_cell"))
    b = points.select(
        F.col("page_id").alias("id_b"), F.col("lon_e6").alias("_blon"),
        F.col("lat_e6").alias("_blat"),
        grid.cell_col(F.col("lon_e6"), F.col("lat_e6"), res).alias("_cell"))
    dx = F.col("_alon") - F.col("_blon")
    dy = F.col("_alat") - F.col("_blat")
    return (a.join(b, "_cell")
            .where(F.col("id_a") < F.col("id_b"))
            .where(dx * dx + dy * dy <= F.lit(radius_e6 * radius_e6))
            .select("id_a", "id_b")
            .distinct())


def connected_components(vertices: DataFrame, edges: DataFrame,
                         key: str = "id") -> DataFrame:
    """(key, component, component_size); component = min reachable key.

    ``vertices``: one column ``key``; ``edges``: (id_a, id_b) undirected.

    Each round combines a neighbor-min step with a POINTER-DOUBLING step
    (label := label of my label — valid because a label is always itself a
    vertex id, and labels only decrease): the doubling halves the remaining
    distance to the component minimum, so convergence is O(log diameter)
    rounds instead of O(diameter). A path graph of 10^6 vertices converges
    in ~20 rounds where pure min-propagation would need 10^6. Raises if
    ``max_iter`` rounds do not converge — silently-wrong labels at scale
    are worse than a failed job.
    """
    # materialize the edge list FIRST: it is typically the output of an
    # expensive candidate+verify pipeline (LSH, kring refine) and is
    # consumed by several derivations below — without this each one would
    # recompute the whole upstream
    edges = edges.localCheckpoint()
    # isolated vertices never change label — keep them out of the loop
    # entirely (most docs are not near-dups; most points are not in dense
    # blocks) and union them back as their own singleton components. This
    # shrinks every round's join input from |V| to |V_with_edges|.
    # persist (lazy), not localCheckpoint (eager): these derive from the
    # already-materialized edge checkpoint by one cheap shuffle, and their
    # lineage is static across rounds — an eager checkpoint would pay a
    # whole extra job each just to save that shuffle once.
    edge_verts = (edges.select(F.col("id_a").alias("vid"))
                  .union(edges.select(F.col("id_b").alias("vid")))
                  .distinct()
                  .persist())
    iso = (vertices.select(F.col(key).alias("vid"))
           .join(edge_verts, "vid", "left_anti"))
    sym = (edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
           .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
           .union(edge_verts.select(F.col("vid").alias("src"),
                                    F.col("vid").alias("dst"))))
    sym = sym.persist()
    labels = edge_verts.select("vid", F.col("vid").alias("label"))
    changed = -1
    for it in range(30):
        # ONE join + ONE agg per neighbor-min round: sym carries a self-loop
        # (vid, vid) for every edge vertex, so the grouped rows for dst
        # include dst's own label — min(label) is already least(old, min of
        # neighbors), and the self-loop row (src = dst) is the one place the
        # OLD label can be read back out without a second join against the
        # labels frame.
        l1 = (sym.join(labels, sym["src"] == labels["vid"])
              .groupBy(F.col("dst").alias("vid"))
              .agg(F.min("label").alias("label"),
                   F.min(F.when(F.col("src") == F.col("dst"),
                                F.col("label"))).alias("_old")))
        if it >= 2:
            # pointer jump: relabel through the mapping itself. Skipped for
            # the first rounds — clique-shaped graphs (near-dup groups,
            # dense urban blocks) converge in 1-2 neighbor-min rounds and
            # the extra join is pure overhead there; long chains that are
            # still moving by round 3 get the O(log d) doubling.
            m = l1.select(F.col("vid").alias("_mv"), F.col("label").alias("_ml"))
            nxt = (l1.join(m, l1["label"] == m["_mv"])
                   .select("vid", F.least("label", "_ml").alias("label"),
                           (F.least("label", "_ml") < F.col("_old")).alias("_chg")))
        else:
            nxt = l1.select("vid", "label",
                            (F.col("label") < F.col("_old")).alias("_chg"))
        nxt = nxt.localCheckpoint()
        changed = nxt.where(F.col("_chg")).count()
        labels = nxt.drop("_chg")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            "connected_components did not converge in 30 rounds")
    labels = labels.unionByName(
        iso.select("vid", F.col("vid").alias("label")))
    sizes = labels.groupBy("label").agg(F.count("*").alias("component_size"))
    return (labels.join(sizes, "label")
            .select(F.col("vid").alias(key), F.col("label").alias("component"),
                    F.col("component_size").cast("long")))


def connected_components_sql(points_sql: str, radius_e6: int) -> str:
    """Oracle: brute-force proximity edges + recursive-CTE closure."""
    return f"""WITH RECURSIVE pts AS ({points_sql}),
edges AS (SELECT a.page_id AS id_a, b.page_id AS id_b
  FROM pts a JOIN pts b ON a.page_id < b.page_id
  WHERE (a.lon_e6 - b.lon_e6) * (a.lon_e6 - b.lon_e6)
      + (a.lat_e6 - b.lat_e6) * (a.lat_e6 - b.lat_e6)
      <= CAST({radius_e6} AS BIGINT) * {radius_e6}),
sym AS (SELECT id_a AS src, id_b AS dst FROM edges
  UNION SELECT id_b, id_a FROM edges
  UNION SELECT page_id, page_id FROM pts),
reach(src, dst) AS (
  SELECT page_id, page_id FROM pts
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
comp AS (SELECT src AS page_id, MIN(dst) AS component FROM reach GROUP BY src),
sizes AS (SELECT component, COUNT(*) AS component_size FROM comp GROUP BY component)
SELECT c.page_id, c.component, CAST(s.component_size AS BIGINT) AS component_size
FROM comp c JOIN sizes s USING (component)"""
