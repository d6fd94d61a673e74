"""Sky-view-factor-shaped zone openness: sampled points → radius-bounded
neighbor counts → per-zone average.

Reference: `ST_SVF` ground sky-view factor (`/root/reference/geoindicators/
.../RsuIndicators.groovy:280-344`): sample points on each RSU's free ground
(`ST_GENERATEPOINTS`/point grid, `:300-311`), measure per point how much of
the sky the surrounding obstacles block (ray casting), AVG per RSU
(`:325-336`). The graft keeps the exact computational SHAPE — deterministic
per-zone point sampling, a radius-bounded neighborhood query per sample
point, an obstruction score, and the per-zone mean — with the ray-cast
replaced by the engine's page-density obstruction proxy (pages are the
obstacle layer of this corpus-world; a true ray cast needs heights the
web-page fixture does not carry):

  svf(point) = 1 − min(n_pages_within_R, CAP) / CAP
  svf(zone)  = 1 − Σ_points min(n, CAP) / (CAP · n_points)

Exactness: sample points are integer lattice positions generated
driver-side (no cross-engine arithmetic); neighbor counts are integer d²
comparisons; the per-zone mean divides ONE exact integer sum by an integer
constant — a single IEEE division, bit-identical in DuckDB. Scale: the
candidate join is the kring equi-join of knn.py (sample side explodes to 9
cells, page side keys by its own cell); one shuffle on the cell key, one on
the zone key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import grid
from .knn import _kring9, pick_res_for_radius
from .raster import zone_bounds_rows

SVF_SAMPLES = 4          # S×S lattice per zone
# 8°: the geo-page fixture is spatially concentrated, and the obstruction
# ring must reach it from neighboring lattice points to produce a graded
# svf (at 2° only ~7/84 zones saw any obstacle at sf0.01)
SVF_RADIUS_E6 = 8_000_000
SVF_CAP = 8


def zone_sample_points() -> list[tuple[int, int, int, int]]:
    """(zone_id, pt_seq, lon_e6, lat_e6) — the S×S interior lattice of every
    rect climate zone, pure integer driver-side arithmetic (the
    deterministic ST_GENERATEPOINTS analogue)."""
    s = SVF_SAMPLES
    rows = []
    for zid, x0, y0, x1, y1 in zone_bounds_rows():
        k = 0
        for i in range(1, s + 1):
            for j in range(1, s + 1):
                rows.append((zid, k,
                             x0 + i * (x1 - x0) // (s + 1),
                             y0 + j * (y1 - y0) // (s + 1)))
                k += 1
    return rows


def sample_points_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        zone_sample_points(),
        "zone_id long, pt_seq long, lon_e6 long, lat_e6 long")


def sample_points_values_sql() -> str:
    vals = ",\n  ".join(f"({z}, {k}, {x}, {y})"
                        for z, k, x, y in zone_sample_points())
    return ("SELECT CAST(zone_id AS BIGINT) AS zone_id,"
            " CAST(pt_seq AS BIGINT) AS pt_seq,"
            " CAST(lon_e6 AS BIGINT) AS lon_e6,"
            " CAST(lat_e6 AS BIGINT) AS lat_e6"
            " FROM (VALUES\n  " + vals
            + "\n) AS t(zone_id, pt_seq, lon_e6, lat_e6)")


def zone_svf(points: DataFrame, pages: DataFrame) -> DataFrame:
    """Per-zone SVF from sample ``points`` (zone_id, pt_seq, lon_e6, lat_e6)
    against obstacle ``pages`` (page_id, lon_e6, lat_e6).
    Returns (zone_id, n_points, sum_blocked, mean_svf)."""
    res = pick_res_for_radius(SVF_RADIUS_E6)
    pts = points.select(
        "zone_id", "pt_seq",
        F.col("lon_e6").alias("_alon"), F.col("lat_e6").alias("_alat"),
        F.explode(_kring9(
            grid.cell_col(F.col("lon_e6"), F.col("lat_e6"), res), res))
        .alias("_cell"))
    nbs = pages.select(
        F.col("lon_e6").alias("_blon"), F.col("lat_e6").alias("_blat"),
        grid.cell_col(F.col("lon_e6"), F.col("lat_e6"), res).alias("_cell"))
    dx = F.col("_alon") - F.col("_blon")
    dy = F.col("_alat") - F.col("_blat")
    within = (pts.join(nbs, "_cell")
              .where(dx * dx + dy * dy <= F.lit(SVF_RADIUS_E6 * SVF_RADIUS_E6))
              .groupBy("zone_id", "pt_seq")
              .agg(F.count("*").alias("_n")))
    per_pt = (points.select("zone_id", "pt_seq")
              .join(within, ["zone_id", "pt_seq"], "left")
              .select("zone_id",
                      F.least(F.coalesce(F.col("_n"), F.lit(0)),
                              F.lit(SVF_CAP)).alias("_blocked")))
    n_pts = SVF_SAMPLES * SVF_SAMPLES
    return (per_pt.groupBy("zone_id")
            .agg(F.sum("_blocked").alias("sum_blocked"))
            .select("zone_id",
                    F.lit(n_pts).cast("long").alias("n_points"),
                    F.col("sum_blocked").cast("long").alias("sum_blocked"),
                    (F.lit(1.0) - F.col("sum_blocked").cast("double")
                     / F.lit(float(SVF_CAP * n_pts))).alias("mean_svf")))


def zone_svf_sql(pages_sql: str) -> str:
    """DuckDB dual: brute-force distance join (the kring equi-join is a
    candidate superset refined by the same integer d² predicate)."""
    n_pts = SVF_SAMPLES * SVF_SAMPLES
    return f"""WITH pts AS ({sample_points_values_sql()}),
pages AS ({pages_sql}),
within AS (SELECT p.zone_id, p.pt_seq, COUNT(*) AS _n
  FROM pts p JOIN pages g
    ON (p.lon_e6 - g.lon_e6) * (p.lon_e6 - g.lon_e6)
     + (p.lat_e6 - g.lat_e6) * (p.lat_e6 - g.lat_e6)
    <= CAST({SVF_RADIUS_E6} AS BIGINT) * {SVF_RADIUS_E6}
  GROUP BY 1, 2),
per_pt AS (SELECT p.zone_id,
       LEAST(COALESCE(w._n, 0), {SVF_CAP}) AS _blocked
  FROM pts p LEFT JOIN within w USING (zone_id, pt_seq))
SELECT zone_id, CAST({n_pts} AS BIGINT) AS n_points,
       CAST(SUM(_blocked) AS BIGINT) AS sum_blocked,
       1.0 - CAST(SUM(_blocked) AS DOUBLE)
           / CAST('{float(SVF_CAP * n_pts)!r}' AS DOUBLE) AS mean_svf
FROM per_pt GROUP BY zone_id"""
