"""CART/forest training, height-estimation loop, per-group quarantine."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from geoclimate_spark.operators import classify, train


def test_fit_tree_reproduces_exact_splits():
    """A planted 1-feature rule must be recovered exactly: the best Gini
    split of a clean two-class column is the class boundary."""
    rows = [{"x": i, "y": 0, "lbl": "lo" if i < 40 else "hi"}
            for i in range(80)]
    t = train.fit_tree(rows, ["x", "y"], "lbl", max_depth=2, min_leaf=2)
    assert t["feature"] == "x" and t["thr"] == 39.0
    assert t["lo"] == {"cls": "lo"} and t["hi"] == {"cls": "hi"}


def test_fit_is_input_order_independent():
    rows = [{"a": (i * 37) % 100, "b": (i * 13) % 50,
             "lbl": "x" if (i * 37) % 100 < 60 else "y"} for i in range(90)]
    t1 = train.fit_tree(rows, ["a", "b"], "lbl")
    t2 = train.fit_tree(list(reversed(rows)), ["a", "b"], "lbl")
    assert json.dumps(t1, sort_keys=True) == json.dumps(t2, sort_keys=True)


def test_forest_retrains_identically_from_spark_collect(spark):
    """The engine path (collect from Spark, fit) must produce the same
    trees as the oracle path (fit from the pure-python fixture) — the
    replayable-training contract of rf_trained_classification."""
    b = train.synth_buildings_df(spark)
    rows = train.collect_training(
        b.where(F.col("size_cls").isNotNull()),
        ["area", "perim", "elong"], "size_cls")
    engine = train.fit_forest(rows, ["area", "perim", "elong"], "size_cls",
                              mode="cls")
    assert json.dumps(engine) == json.dumps(train.trained_cls_forest())


def test_regression_patch_fills_only_missing(spark):
    b = train.synth_buildings_df(spark)
    trees = train.trained_reg_forest()
    pred = classify.regress_tree_ensemble(b, ["bld_id"], trees)
    j = b.join(pred, "bld_id")
    # rows with a height keep it bit-for-bit; missing rows get a prediction
    kept = j.where(F.col("height").isNotNull()).where(
        F.col("height") != F.coalesce(F.col("height"), F.col("pred")))
    assert kept.count() == 0
    missing = j.where(F.col("height").isNull())
    assert missing.count() > 0
    assert missing.where(F.col("pred").isNull()).count() == 0


def test_quarantined_apply_poison_group(spark, tmp_path):
    """The per-zone catch-and-continue loop: a poison group costs one error
    row, the stage completes, the error table + manifest record it."""
    from geoclimate_spark.plans.pipeline import (PipelineRunner, Stage,
                                                 quarantined_apply)

    df = spark.createDataFrame(
        [(z, i, float(i)) for z in range(5) for i in range(4)],
        "zone_id long, i long, v double")

    def per_zone(pdf):
        if int(pdf["zone_id"].iloc[0]) == 3:
            raise ValueError("poison zone")
        return pdf.groupby("zone_id", as_index=False)["v"].sum()

    def s_agg(spark_, up):
        return quarantined_apply(df, ["zone_id"], per_zone,
                                 "zone_id long, v double")

    runner = PipelineRunner(spark, tmp_path / "pipe",
                            [Stage("agg", s_agg, quarantine=True)])
    out = runner.run()["agg"]
    assert sorted(r.zone_id for r in out.collect()) == [0, 1, 2, 4]
    errs = runner.errors("agg").collect()
    assert len(errs) == 1
    assert errs[0]["zone_id"] == 3 and "poison zone" in errs[0]["_err"]
    recs = {m["stage"]: m for m in runner.metrics()}
    assert recs["agg"]["quarantined"] == 1
    assert recs["agg__errors"]["rows"] == 1


def test_quarantine_clean_stage_has_no_error_table(spark, tmp_path):
    from geoclimate_spark.plans.pipeline import (PipelineRunner, Stage,
                                                 quarantined_apply)

    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "zone_id long, v double")
    st = Stage("ok", lambda s, u: quarantined_apply(
        df, ["zone_id"], lambda p: p, "zone_id long, v double"),
        quarantine=True)
    runner = PipelineRunner(spark, tmp_path / "pipe", [st])
    out = runner.run()["ok"]
    assert out.count() == 2
    assert runner.errors("ok") is None
    assert runner.metrics()[0]["quarantined"] == 0


def test_svf_sample_points_deterministic_and_interior():
    from geoclimate_spark.operators import svf
    from geoclimate_spark.operators.raster import zone_bounds_rows

    pts = svf.zone_sample_points()
    assert pts == svf.zone_sample_points()
    bounds = {z: (a, b, c, d) for z, a, b, c, d in zone_bounds_rows()}
    assert len(pts) == len(bounds) * svf.SVF_SAMPLES ** 2
    for z, _, x, y in pts:
        x0, y0, x1, y1 = bounds[z]
        assert x0 < x < x1 and y0 < y < y1


def test_population_chain_conserves_people(spark):
    """Populations may only be LOST where a lower unit sticks out of every
    upper unit; with full-cover zones+tiles the building total must equal
    the zone and tile totals (the re-normalization invariant,
    `PopulationIndicators.groovy:139-156`)."""
    from geoclimate_spark.operators import population as pop
    from geoclimate_spark.operators import raster
    from geoclimate_spark.sources import layers

    blds = (layers.rect_layers_with_id_df(spark)
            .where(F.col("layer") == "builtup")
            .select(F.col("rect_id").alias("bld_id"),
                    "lon0", "lat0", "lon1", "lat1"))
    r = raster.raster_df(spark)
    bld = pop.building_population(r, blds)
    tile = pop.population_chain(r, blds, raster.zone_bounds_df(spark),
                                raster.grid_cells_df(spark,
                                                     pop.TILE_RES_POP))
    total_b = bld.agg(F.sum("pop")).collect()[0][0]
    total_t = tile.agg(F.sum("pop")).collect()[0][0]
    # zones and tiles tile the whole globe, so nothing leaks at any level
    assert total_b == pytest.approx(total_t, rel=1e-9)
    assert total_b > 0


def test_collect_training_cap_enforced(spark):
    """ADVICE r4: the small-fit-input contract is a hard guard now."""
    import pytest as _pt
    from geoclimate_spark.operators import train as T2
    df = spark.range(50).selectExpr("id AS a", "id % 3 AS y")
    assert len(T2.collect_training(df, ["a"], "y")) == 50
    with _pt.raises(ValueError, match="max_rows"):
        T2.collect_training(df, ["a"], "y", max_rows=10)
