"""Overlay/surface-fractions/dissolve + skew utilities tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geoclimate_spark.operators import overlay, raster, skew

SF = "/root/testdata/sf0.001"


def _zone(spark, zid, x0, y0, x1, y1):
    return spark.createDataFrame([(zid, x0, y0, x1, y1)],
                                 "zone_id long, zlon0 long, zlat0 long, zlon1 long, zlat1 long")


def _rects(spark, rows):
    return spark.createDataFrame(rows,
                                 "layer string, lon0 long, lat0 long, lon1 long, lat1 long")


def test_overlay_hand_case(spark):
    zones = _zone(spark, 7, 0, 0, 10, 10)
    rects = _rects(spark, [("a", 0, 0, 5, 10), ("b", 3, 0, 10, 4)])
    got = (overlay.overlay_rect_layers(zones, rects, ["a", "b"])
           .toPandas().set_index("combo").area_e6sq.to_dict())
    assert got == {0: 30, 1: 42, 2: 20, 3: 8}


def test_overlay_area_invariant_real_zones(spark):
    zones = raster.zone_bounds_df(spark)
    rects = _rects(spark, [
        ("builtup", 2_000_000, 48_000_000, 3_000_000, 49_500_000),
        ("builtup", -74_500_000, 40_000_000, -73_500_000, 41_000_000),
        ("water", -80_000_000, -10_000_000, 30_000_000, 10_000_000),
        ("veg", 100_000_000, 30_000_000, 145_000_000, 50_000_000),
        ("veg", 2_500_000, 48_500_000, 2_800_000, 49_000_000),
    ])
    combos = overlay.overlay_rect_layers(zones, rects,
                                         ["builtup", "water", "veg"])
    got = combos.groupBy("zone_id").agg(F.sum("area_e6sq").alias("a")).toPandas()
    zb = zones.toPandas()
    zb["expect"] = (zb.zlon1 - zb.zlon0) * (zb.zlat1 - zb.zlat0)
    m = got.merge(zb[["zone_id", "expect"]], on="zone_id")
    assert len(m) == len(zb)
    assert (m.a == m.expect).all()


def test_overlay_montecarlo(spark):
    """Independent containment oracle: deterministic pseudo-random points,
    exact combo computed per point, empirical area ratio ~ exact ratio."""
    zones = _zone(spark, 1, 0, 0, 1_000_000, 1_000_000)
    rlist = [("a", 100_000, 100_000, 700_000, 600_000),
             ("b", 400_000, 300_000, 900_000, 900_000),
             ("c", 0, 800_000, 1_000_000, 1_000_000)]
    combos = (overlay.overlay_rect_layers(zones, _rects(spark, rlist),
                                          ["a", "b", "c"])
              .toPandas().set_index("combo").area_e6sq)
    rng = np.random.default_rng(42)
    pts = rng.integers(0, 1_000_000, size=(200_000, 2))
    flags = np.zeros(len(pts), np.int64)
    for i, (_, x0, y0, x1, y1) in enumerate(rlist):
        inside = ((pts[:, 0] >= x0) & (pts[:, 0] < x1)
                  & (pts[:, 1] >= y0) & (pts[:, 1] < y1))
        flags |= np.where(inside, 1 << i, 0)
    total = combos.sum()
    for combo, area in combos.items():
        emp = (flags == combo).mean()
        assert abs(emp - area / total) < 0.01, combo


def test_surface_fractions_priority(spark):
    zones = _zone(spark, 3, 0, 0, 10, 10)
    rects = _rects(spark, [("a", 0, 0, 5, 10), ("b", 3, 0, 10, 4)])
    combos = overlay.overlay_rect_layers(zones, rects, ["a", "b"])
    fr = (overlay.surface_fractions(combos, zones, ["a", "b"], ["b", "a"])
          .toPandas().iloc[0])
    # priority b first: combo a&b (8) goes to b → b = 20+8, a = 42, none = 30
    assert fr.frac_b == 0.28 and fr.frac_a == 0.42 and fr.frac_undefined == 0.30


def test_dissolve_components(spark):
    pts = spark.createDataFrame(
        [(1, 0, 0), (1, 2_000_000, 0), (1, 0, 2_000_000), (1, 500_000, 500_000),
         (2, 10_000_000, 10_000_000)],
        "component long, lon_e6 long, lat_e6 long")
    got = overlay.dissolve_components(pts).toPandas().set_index("component")
    assert got.loc[1, "n_points"] == 3 + 1
    assert abs(got.loc[1, "hull_area"] - 2.0) < 1e-9  # right triangle 2x2 deg
    assert got.loc[2, "hull_area"] == 0.0
    assert got.loc[2, "lon_min"] == 10_000_000


def test_salted_agg_equals_plain(spark):
    df = (spark.read.parquet(f"{SF}/documents.parquet")
          .select("doc_id", (F.col("doc_id") % 5).alias("k"),
                  F.col("n_chars").alias("v")))
    plain = (df.groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("t"),
                                 F.max("v").alias("mx"))
             .toPandas().sort_values("k").reset_index(drop=True))
    salted = (skew.salted_agg(df, ["k"],
                              {"n": ("*", F.count, F.sum),
                               "t": ("v", F.sum, F.sum),
                               "mx": ("v", F.max, F.max)},
                              n_salts=8, id_col="doc_id")
              .toPandas().sort_values("k").reset_index(drop=True))
    pd.testing.assert_frame_equal(plain, salted, check_dtype=False)


def test_key_skew_stats(spark):
    df = (spark.read.parquet(f"{SF}/documents.parquet")
          .select((F.when(F.col("doc_id") < 400, 0).otherwise(F.col("doc_id")))
                  .alias("k")))
    top = skew.key_skew_stats(df, ["k"], top=3).toPandas()
    assert top.iloc[0].k == 0 and top.iloc[0].n == 400
    assert abs(top.iloc[0].share - 0.8) < 1e-12


def test_ground_layer_hand_case_and_invariants(spark):
    zones = _zone(spark, 7, 0, 0, 10, 10)
    # water wins over a where they overlap (priority order below)
    rects = _rects(spark, [("veg", 0, 0, 5, 10), ("water", 3, 0, 10, 4)])
    got = (overlay.ground_layer(zones, rects, ["veg", "water"],
                                ["water", "veg"])
           .toPandas().set_index("layer").area_e6sq.to_dict())
    # water rect area 7x4=28; veg-only = 5x10 - (2x4 overlap)=42; rest none
    assert got == {"water": 28, "veg": 42, "none": 30}
    assert sum(got.values()) == 100


def test_ground_layer_matches_surface_fraction_attribution(spark):
    from geoclimate_spark.sources import layers
    zones = raster.zone_bounds_df(spark)
    rects = layers.rect_layers_df(spark)
    names = list(layers.RECT_LAYER_NAMES)
    prio = ["water", "builtup", "veg"]
    gl = (overlay.ground_layer(zones, rects, names, prio)
          .groupBy("zone_id").agg(F.sum("area_e6sq").alias("a")).toPandas())
    za = zones.select("zone_id",
                      ((F.col("zlon1") - F.col("zlon0"))
                       * (F.col("zlat1") - F.col("zlat0"))).alias("za")).toPandas()
    m = gl.merge(za, on="zone_id", how="outer")
    assert (m.a == m.za).all()  # per-zone atom areas tile the zone exactly


def test_layer_difference_set_algebra(spark):
    zones = _zone(spark, 1, 0, 0, 10, 10)
    rects = _rects(spark, [("a", 0, 0, 6, 10), ("b", 4, 0, 10, 10)])
    combos = overlay.overlay_rect_layers(zones, rects, ["a", "b"])
    d = (overlay.layer_difference(combos, ["a", "b"], "a", "b")
         .collect())
    assert len(d) == 1 and d[0].diff_area_e6sq == 40  # 6x10 minus 2x10 overlap


def test_salted_join_equals_plain(spark):
    from pyspark.sql import functions as F
    from geoclimate_spark.operators import skew as SK
    fact = spark.createDataFrame(
        [(i, 0 if i % 2 == 0 else i % 5, i * 3) for i in range(400)],
        "page_id long, tile_id long, v long")  # key 0 is hot (half the rows)
    dim = spark.createDataFrame(
        [(k, f"r{k}") for k in range(4)], "tile_id long, region string")
    salted = SK.salted_join(fact, dim, "tile_id", n_salts=8,
                            id_col="page_id")
    plain = fact.join(dim, "tile_id")
    cols = ["tile_id", "page_id", "v", "region"]
    a = sorted(tuple(r) for r in salted.select(cols).collect())
    b = sorted(tuple(r) for r in plain.select(cols).collect())
    assert a == b and len(a) > 0
    # rows of the hot key actually spread across salts before the join
    spread = (SK.with_salt(fact.where(F.col("tile_id") == 0), 8, "page_id")
              .select("_salt").distinct().count())
    assert spread > 1
