"""Fast local version of the driver's correctness gate (sf0.001)."""

from __future__ import annotations

import subprocess
import sys

import numpy as np
import pytest

import __spark_entry__ as E

from conftest import REPO, SF_SMOKE

QUERIES = E.queries()
# built once for the whole module: some oracles retrain a forest
ORACLES = E.oracle_sql()


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"zone_id", "tile_id", "n_pages"} <= set(df.columns)


def test_queries_have_oracles():
    """Registry invariant: one oracle per query, both maps in the same
    order, and the 50 window queries lead it."""
    assert len(QUERIES) == 181
    assert list(ORACLES) == list(QUERIES)
    window = {name for name, (_, _, w) in E._REGISTRY.items() if w}
    assert len(window) == 50
    assert set(list(QUERIES)[:50]) == window
    with pytest.raises(ValueError, match="registered twice"):
        E.query("segment_dedup", oracle=str)(lambda spark, sf_dir: None)


def test_import_builds_no_oracle():
    """Oracles are built by oracle_sql(), not at import: importing the entry
    module with the forest trainers disabled must still succeed."""
    code = ("from geoclimate_spark.operators import train\n"
            "def fail(*a, **k): raise AssertionError('oracle built at import')\n"
            "train.trained_cls_forest = train.trained_reg_forest = fail\n"
            "import __spark_entry__\n")
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_duckdb_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_SMOKE).toPandas()
    odf = duck.execute(ORACLES[name]).fetchdf()
    cols = sorted(sdf.columns)
    assert cols == sorted(odf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b)
    for c in cols:
        if a[c].dtype == object:
            assert (a[c].values == b[c].values).all(), c
        else:
            av = a[c].to_numpy(dtype="float64", na_value=np.nan)
            bv = b[c].to_numpy(dtype="float64", na_value=np.nan)
            assert np.array_equal(av, bv, equal_nan=True), c
