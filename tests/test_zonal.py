"""Zonal stats + distribution characterization vs DuckDB oracles."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from geoclimate_spark.operators import distribution as D
from geoclimate_spark.operators import zonal as Z
from geoclimate_spark.sources import layers

SF = "/root/testdata/sf0.001"

# Deterministic synthetic rows: zone/value/weight/cat derived from doc_id so
# the oracle CTE is pure arithmetic over the same parquet.
_ROWS_SQL = """
SELECT doc_id AS id, (doc_id % 9) AS zone_id, n_chars AS v,
       (doc_id % 7 + 1) AS w, lang AS cat
FROM documents"""


def _rows(spark):
    return (spark.read.parquet(f"{SF}/documents.parquet")
            .select(F.col("doc_id").alias("id"),
                    (F.col("doc_id") % 9).alias("zone_id"),
                    F.col("n_chars").alias("v"),
                    (F.col("doc_id") % 7 + 1).alias("w"),
                    F.col("lang").alias("cat")))


def _dim_sql():
    return ("SELECT * FROM (VALUES " +
            ", ".join(f"({z}, {float(10 + z)!r})" for z in range(9)) +
            ") AS t(zone_id, area_deg2)")


def _dim(spark):
    return spark.createDataFrame(
        [(z, float(10 + z)) for z in range(9)], "zone_id long, area_deg2 double")


def _cmp(spark_df, duck, sql, sort_cols):
    got = spark_df.toPandas().sort_values(sort_cols).reset_index(drop=True)
    exp = duck.sql(sql).df().sort_values(sort_cols).reset_index(drop=True)
    got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    return got


def test_unweighted_stats(spark, duck):
    got = _cmp(Z.unweighted_stats(_rows(spark), _dim(spark), "zone_id", "v"),
               duck,
               Z.unweighted_stats_sql(_ROWS_SQL, _dim_sql(), "zone_id", "v"),
               ["zone_id"])
    assert len(got) == 9
    assert (got.std_v >= 0).all()


def test_unweighted_keeps_empty_zones(spark, duck):
    dim = spark.createDataFrame(
        [(z, float(10 + z)) for z in range(12)], "zone_id long, area_deg2 double")
    dim_sql = ("SELECT * FROM (VALUES " +
               ", ".join(f"({z}, {float(10 + z)!r})" for z in range(12)) +
               ") AS t(zone_id, area_deg2)")
    got = _cmp(Z.unweighted_stats(_rows(spark), dim, "zone_id", "v"), duck,
               Z.unweighted_stats_sql(_ROWS_SQL, dim_sql, "zone_id", "v"),
               ["zone_id"])
    empty = got[got.zone_id >= 9]
    assert len(empty) == 3 and (empty.sum_v == 0).all() and (empty.avg_v == 0).all()


# (Σ ln x, n) pairs on which ROUND(EXP(Σ ln x / n), 6) disagrees between
# the engines although EXP itself agrees: the mean sits next to a half-way
# point (1068.1670585, 65757.2496495, ...) and Spark rounds its shortest
# decimal form HALF_UP while DuckDB rounds x * 1e6.
_GEOM_HALF_WAY = [(41.84219657462402, 6), (44.37490081916252, 4),
                  (42.88091804807795, 4), (33.32511125815987, 4),
                  (22.70085425380325, 2), (30.67810793665729, 4)]


@st.composite
def _sln_n(draw):
    """(Σ ln x, n) of some zone: a mean ln x up to 12 (x up to ~160k)."""
    n = draw(st.integers(1, 5000))
    return draw(st.floats(0.0, 12.0 * n)), n


@given(st.lists(_sln_n(), min_size=1, max_size=60))
@example(_GEOM_HALF_WAY)
@settings(max_examples=25, deadline=None)
def test_geom_avg_rounding_parity(spark, pairs):
    """geom_avg = exp(Σ ln x / n) rounded to 6 decimals, equal on both
    engines."""
    rows = pd.DataFrame({"i": range(len(pairs)),
                         "sln": [sln for sln, _ in pairs],
                         "n": [n for _, n in pairs]})
    got = (spark.createDataFrame(rows, "i long, sln double, n long").orderBy("i")
           .select(Z._geom_avg_col(F.col("sln"), F.col("n").cast("double")))
           .collect())
    want = duckdb.sql(f"SELECT {Z._geom_avg_sql('sln', 'n')} FROM rows ORDER BY i").fetchall()
    assert [r[0] for r in got] == [r[0] for r in want]


def test_weighted_stats(spark, duck):
    _cmp(Z.weighted_stats(_rows(spark), "zone_id", "v", "w"), duck,
         Z.weighted_stats_sql(_ROWS_SQL, "zone_id", "v", "w"), ["zone_id"])


def test_type_proportion(spark, duck):
    buckets = {"latin": ("en", "fr", "es", "de"), "cjk": ("zh",)}
    got = _cmp(Z.type_proportion(_rows(spark), "zone_id", "cat", "v", buckets),
               duck,
               Z.type_proportion_sql(_ROWS_SQL, "zone_id", "cat", "v", buckets),
               ["zone_id"])
    assert np.allclose(got.frac_latin + got.frac_cjk, 1.0)


def test_pivot_fractions(spark, duck):
    langs = ["de", "en", "es", "fr", "zh"]
    got = _cmp(Z.pivot_fractions(_rows(spark), "zone_id", "cat", "v", langs),
               duck,
               Z.pivot_fractions_sql(_ROWS_SQL, "zone_id", "cat", "v", langs),
               ["zone_id"])
    assert np.allclose(got[[f"frac_{l}" for l in langs]].sum(axis=1), 1.0)


def test_mode_weighted(spark, duck):
    _cmp(Z.mode_weighted(_rows(spark), "zone_id", "cat", "v"), duck,
         Z.mode_weighted_sql(_ROWS_SQL, "zone_id", "cat", "v"), ["zone_id"])


def test_direction_distribution_and_characterize(spark, duck):
    # dx/dy synthesized from doc_id — covers all octants incl. axes/zeros
    rows = (spark.read.parquet(f"{SF}/documents.parquet")
            .select(F.col("doc_id").alias("id"),
                    (F.col("doc_id") % 5).alias("zone_id"),
                    (F.col("doc_id") % 21 - 10).alias("dx"),
                    (F.col("doc_id") % 17 - 8).alias("dy"),
                    F.col("n_chars").alias("w")))
    rows_sql = ("SELECT doc_id AS id, doc_id % 5 AS zone_id,"
                " doc_id % 21 - 10 AS dx, doc_id % 17 - 8 AS dy,"
                " n_chars AS w FROM documents")
    binc = D.octant_bin_col(F.col("dx"), F.col("dy"))
    dist = D.direction_distribution(rows, "zone_id", binc, "w")
    dist_sql = D.direction_distribution_sql(
        rows_sql, "zone_id", D.octant_bin_sql("dx", "dy"), "w")
    _cmp(dist, duck, dist_sql, ["zone_id"])

    bins = [f"b{i}" for i in range(8)]
    got = _cmp(D.characterize_distribution(dist, "zone_id", bins), duck,
               D.characterize_distribution_sql(dist_sql, "zone_id", bins),
               ["zone_id"])
    assert got.equality.between(0, 1).all()
    assert got.uniqueness.between(0, 1).all()
    # main_bin really is the argmax with lowest-index tie-break
    for _, r in got.iterrows():
        vals = [r[f"b{i}"] for i in range(8)]
        assert vals[int(r.main_bin)] == max(vals)
        assert int(r.main_bin) == vals.index(max(vals))
