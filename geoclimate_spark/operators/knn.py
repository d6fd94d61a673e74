"""Radius-bounded nearest-neighbor lookup (the north rule's "kNN enrichment").

Reference semantics: `BuildingIndicators.minimumBuildingSpacing` /
`roadDistance` (`/root/reference/geoindicators/.../BuildingIndicators.groovy:
299-346, 364-427`): ``ST_EXPAND(geom, d) && neighbor AND MIN(ST_DISTANCE)``
per source row, with a default value when nothing lies within the buffer.

Spark-first physical strategy (ST_EXPAND→bbox-join analogue, SURVEY.md §4):

1. pick the coarsest grid resolution whose cell width >= the search radius,
   so the 3×3 kring of the point's cell is guaranteed to cover the disk;
2. the source side explodes each point to its 9 neighbor cells (pure integer
   column arithmetic with longitude wraparound — no UDF); the neighbor side
   keys by its own cell → shuffle-free **equi-join on cell id** carries the
   candidate generation (sort-merge or shuffled-hash; at page scale both
   sides are pre-partitioned by cell so AQE keeps it local);
3. exact refine: integer squared distance in microdegrees (bigint — exact),
   filter d² <= R², pick min with deterministic (d², neighbor_id) tie-break.

Dense urban cells make the candidate join skewed — AQE's skew-join splitting
handles the hot cells (see session.py config); for pathological megacities
pre-salt by splitting hot cells one resolution finer.

Everything is integer arithmetic until the final sqrt, so the DuckDB oracle
(a brute-force cross join with the same d² filter and tie-break) matches
bit-for-bit even though its candidate set is generated differently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import grid


def pick_res_for_radius(radius_e6: int) -> int:
    """Coarsest res whose cell WIDTH (lon span) is >= radius — the lat span
    is always >= the lon span/2; we need both >= R: width_e6(r) = 360e6 /
    2^(r+1), height_e6(r) = 180e6 / 2^r = width_e6(r) → equal. So one bound."""
    res = 0
    while res + 1 <= grid.MAX_RES and 360_000_000 // (1 << (res + 2)) >= radius_e6:
        res += 1
    return res


def _kring9(cell_col, res: int):
    """Array of the 3×3 neighborhood cell ids (lon wraps, lat clamps)."""
    nx, ny = grid.nx(res), grid.ny(res)
    x = grid.cell_x_col(cell_col)
    y = grid.cell_y_col(cell_col)
    cells = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            xx = (x + F.lit(dx) + F.lit(nx)) % F.lit(nx)
            yy = y + F.lit(dy)
            c = (F.lit(res).cast("long") * F.lit(1 << 58)
                 + xx * F.lit(1 << 29) + yy).cast("long")
            cells.append(F.when((yy >= 0) & (yy < ny), c))
    # distinct: at very coarse res the ±1 wraps can alias to the same cell,
    # which would double-count candidates
    return F.array_distinct(F.array_compact(F.array(*cells)))


def nearest_neighbor(points: DataFrame, neighbors: DataFrame,
                     radius_e6: int) -> DataFrame:
    """Per point: nearest neighbor within radius (planar microdegrees).

    Returns (page_id, nn_id, nn_dist, n_within) for EVERY point; points with no
    neighbor in range get (-1, -1.0, 0) — the reference's default-when-empty
    contract (`BuildingIndicators.groovy:341-344` COALESCE default).
    ``neighbors`` must carry (nb_id, lon_e6, lat_e6); self-pairs (same id)
    are excluded, so passing the same relation gives self-kNN.
    """
    res = pick_res_for_radius(radius_e6)
    pts = points.select(
        F.col("page_id"), F.col("lon_e6").alias("_alon"),
        F.col("lat_e6").alias("_alat"),
        F.explode(_kring9(grid.cell_col(F.col("lon_e6"), F.col("lat_e6"), res),
                          res)).alias("_cell"))
    nbs = neighbors.select(
        F.col("nb_id"), F.col("lon_e6").alias("_blon"),
        F.col("lat_e6").alias("_blat"),
        grid.cell_col(F.col("lon_e6"), F.col("lat_e6"), res).alias("_cell"))
    dx = F.col("_alon") - F.col("_blon")
    dy = F.col("_alat") - F.col("_blat")
    d2 = (dx * dx + dy * dy).alias("_d2")
    cand = (pts.join(nbs, "_cell")
            .where(F.col("page_id") != F.col("nb_id"))
            .select("page_id", "nb_id", d2)
            .where(F.col("_d2") <= F.lit(radius_e6 * radius_e6)))
    win = Window.partitionBy("page_id").orderBy(F.col("_d2").asc(),
                                                F.col("nb_id").asc())
    best = (cand.withColumn("_rn", F.row_number().over(win))
            .groupBy("page_id")
            .agg(F.max(F.when(F.col("_rn") == 1, F.col("nb_id")))
                 .alias("nn_id"),
                 F.max(F.when(F.col("_rn") == 1, F.col("_d2"))).alias("_d2min"),
                 F.count("*").alias("n_within")))
    out = points.select("page_id").join(best, "page_id", "left")
    return out.select(
        "page_id",
        F.coalesce(F.col("nn_id"), F.lit(-1)).cast("long").alias("nn_id"),
        F.coalesce(F.sqrt(F.col("_d2min").cast("double")), F.lit(-1.0)).alias("nn_dist"),
        F.coalesce(F.col("n_within"), F.lit(0)).cast("long").alias("n_within"))


def nearest_neighbors_topk(points: DataFrame, neighbors: DataFrame,
                           radius_e6: int, k: int) -> DataFrame:
    """Top-k neighbors within radius per point: (page_id, rank, nb_id, dist) —
    same candidate generation as :func:`nearest_neighbor`, ranked by
    (d², neighbor id). Points with fewer than k in-range neighbors return
    fewer rows; with none, no rows (the k=1 variant handles defaults)."""
    res = pick_res_for_radius(radius_e6)
    pts = points.select(
        F.col("page_id"), F.col("lon_e6").alias("_alon"),
        F.col("lat_e6").alias("_alat"),
        F.explode(_kring9(grid.cell_col(F.col("lon_e6"), F.col("lat_e6"), res),
                          res)).alias("_cell"))
    nbs = neighbors.select(
        F.col("nb_id"), F.col("lon_e6").alias("_blon"),
        F.col("lat_e6").alias("_blat"),
        grid.cell_col(F.col("lon_e6"), F.col("lat_e6"), res).alias("_cell"))
    dx = F.col("_alon") - F.col("_blon")
    dy = F.col("_alat") - F.col("_blat")
    cand = (pts.join(nbs, "_cell")
            .where(F.col("page_id") != F.col("nb_id"))
            .select("page_id", "nb_id", (dx * dx + dy * dy).alias("_d2"))
            .where(F.col("_d2") <= F.lit(radius_e6 * radius_e6)))
    win = Window.partitionBy("page_id").orderBy(F.col("_d2").asc(),
                                                F.col("nb_id").asc())
    return (cand.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= k)
            .select("page_id", F.col("rank").cast("long").alias("rank"), "nb_id",
                    F.sqrt(F.col("_d2").cast("double")).alias("dist")))


def nearest_neighbors_topk_sql(points_sql: str, neighbors_sql: str,
                               radius_e6: int, k: int) -> str:
    return f"""WITH pts AS ({points_sql}),
nbs AS ({neighbors_sql}),
cand AS (
  SELECT p.page_id, n.nb_id,
         (p.lon_e6 - n.lon_e6) * (p.lon_e6 - n.lon_e6)
       + (p.lat_e6 - n.lat_e6) * (p.lat_e6 - n.lat_e6) AS d2
  FROM pts p JOIN nbs n ON p.page_id != n.nb_id
  WHERE (p.lon_e6 - n.lon_e6) * (p.lon_e6 - n.lon_e6)
      + (p.lat_e6 - n.lat_e6) * (p.lat_e6 - n.lat_e6)
      <= CAST({radius_e6} AS BIGINT) * {radius_e6}),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY page_id
           ORDER BY d2 ASC, nb_id ASC) AS rank FROM cand)
SELECT page_id, CAST(rank AS BIGINT) AS rank, nb_id,
       SQRT(CAST(d2 AS DOUBLE)) AS dist
FROM ranked WHERE rank <= {k}"""


def nearest_neighbor_sql(points_sql: str, neighbors_sql: str,
                         radius_e6: int) -> str:
    """DuckDB oracle: brute-force cross join, same d² filter + tie-break.
    ``points_sql`` selects (page_id, lon_e6, lat_e6); ``neighbors_sql`` selects
    (nb_id, lon_e6, lat_e6)."""
    return f"""WITH pts AS ({points_sql}),
nbs AS ({neighbors_sql}),
cand AS (
  SELECT p.page_id, n.nb_id,
         (p.lon_e6 - n.lon_e6) * (p.lon_e6 - n.lon_e6)
       + (p.lat_e6 - n.lat_e6) * (p.lat_e6 - n.lat_e6) AS d2
  FROM pts p JOIN nbs n ON p.page_id != n.nb_id
  WHERE (p.lon_e6 - n.lon_e6) * (p.lon_e6 - n.lon_e6)
      + (p.lat_e6 - n.lat_e6) * (p.lat_e6 - n.lat_e6)
      <= CAST({radius_e6} AS BIGINT) * {radius_e6}),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY page_id
           ORDER BY d2 ASC, nb_id ASC) AS rn FROM cand),
best AS (SELECT page_id, MAX(CASE WHEN rn = 1 THEN nb_id END) AS nn_id,
         MAX(CASE WHEN rn = 1 THEN d2 END) AS d2min,
         COUNT(*) AS n_within FROM ranked GROUP BY page_id)
SELECT p.page_id,
       CAST(COALESCE(b.nn_id, -1) AS BIGINT) AS nn_id,
       COALESCE(SQRT(CAST(b.d2min AS DOUBLE)), -1.0) AS nn_dist,
       CAST(COALESCE(b.n_within, 0) AS BIGINT) AS n_within
FROM pts p LEFT JOIN best b USING (page_id)"""
