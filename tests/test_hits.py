"""Integer HITS: engine/oracle parity + hub/authority semantics on a
hand-built graph where the fixture's hash-selected edges are overridden by
a planted star (one authority everyone links to, one hub linking to all)."""
from __future__ import annotations

import duckdb
import pytest

from geoclimate_spark.operators import linkrank as L


@pytest.fixture(scope="module")
def frames(spark):
    # hosts only matter through their distinct values; text is filler
    hosts = [f"h{i}.example" for i in range(12)]
    docs = [(i, "w", "en", hosts[i % len(hosts)], 1) for i in range(36)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    df = spark.createDataFrame(docs, schema)
    con = duckdb.connect()
    con.execute("create table docs (doc_id bigint, text varchar, "
                "lang varchar, source varchar, n_chars bigint)")
    con.executemany("insert into docs values (?, ?, ?, ?, ?)", docs)
    return df, con


def test_parity(frames):
    df, con = frames
    got = L.host_hits(df).toPandas()
    cols = sorted(got.columns)
    got = got[cols].sort_values(cols).reset_index(drop=True)
    want = con.execute(L.host_hits_sql("docs")).fetchdf()[cols]\
        .sort_values(cols).reset_index(drop=True).astype(got.dtypes.to_dict())
    assert got.equals(want), got.compare(want) if len(got) == len(want) \
        else (len(got), len(want))
    # normalization: max score is exactly SCALE each round's end
    assert got.auth_int.max() == L.SCALE
    assert got.hub_int.max() == L.SCALE
    assert (got.auth_int >= 0).all() and (got.hub_int <= L.SCALE).all()


def test_authority_follows_indegree_on_star(spark):
    """On a star graph (everyone → hub0's target), the planted authority
    maxes the authority score and the spokes max the hub score."""
    from pyspark.sql import functions as F
    hosts = spark.createDataFrame(
        [(f"s{i}",) for i in range(5)] + [("center",)], "host string")
    edges = hosts.where("host != 'center'")\
        .select(F.col("host").alias("src"), F.lit("center").alias("dst"))
    # run the same iteration algebra directly on a custom edge set by
    # monkey-patching the synthesizer
    import geoclimate_spark.operators.linkrank as lr
    orig = lr.synth_host_edges
    try:
        lr.synth_host_edges = lambda docs: edges
        docs = hosts.select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.lit("w").alias("text"), F.lit("en").alias("lang"),
            F.col("host").alias("source"), F.lit(1).alias("n_chars"))
        out = {r.host: r for r in lr.host_hits(docs).collect()}
    finally:
        lr.synth_host_edges = orig
    assert out["center"].auth_int == lr.SCALE
    assert all(out[f"s{i}"].auth_int == 0 for i in range(5))
    assert out["center"].hub_int == 0
    assert all(out[f"s{i}"].hub_int == lr.SCALE for i in range(5))
