"""Feature-hashing vectorizer: parity + hashing-trick properties."""
from __future__ import annotations

import duckdb
import pytest

from geoclimate_spark.operators import hashvec

DOCS = [
    (1, "alpha beta gamma alpha"),
    (2, "alpha alpha alpha"),
    (3, ""),            # no tokens -> no rows
    (4, None),          # NULL -> no rows
    (5, "beta"),
]


@pytest.fixture(scope="module")
def rows(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    return sorted(tuple(r) for r in
                  hashvec.feature_hash_sparse(df, dim=8).collect())


def test_matches_oracle(rows):
    con = duckdb.connect()
    con.execute("create table docs (doc_id bigint, text varchar)")
    con.executemany("insert into docs values (?, ?)", DOCS)
    want = sorted(map(tuple, con.execute(
        hashvec.feature_hash_sparse_sql(dim=8, doc_rel="docs")).fetchall()))
    assert rows == want


def test_hashing_trick_properties(rows):
    by_doc = {}
    for d, b, w in rows:
        by_doc.setdefault(d, {})[b] = w
        assert 0 <= b < 8
    assert 3 not in by_doc and 4 not in by_doc
    # same token -> same signed bucket everywhere: doc 2 is 3x 'alpha',
    # doc 1 contains 'alpha' 2x — the alpha bucket weights scale 3:2
    (a_bucket, a_w3), = by_doc[2].items()
    assert abs(a_w3) == 3
    assert by_doc[1].get(a_bucket, 0) % a_w3 // abs(a_w3) in (-1, 0, 1)
    # doc 5 'beta' weight is a single +-1
    (_, w5), = by_doc[5].items()
    assert abs(w5) == 1
    # L1 norm per doc <= token count (collisions cancel, never inflate)
    assert sum(abs(w) for w in by_doc[1].values()) <= 4


def test_text_cluster_composition(spark):
    """text -> hashed vectors -> k-means: engine == oracle on the fixture,
    and all k clusters are populated (non-degenerate seed)."""
    import duckdb
    import __spark_entry__ as E

    got = sorted(tuple(r) for r in
                 E.queries()["text_cluster_assignments"](
                     spark, "/root/testdata/sf0.001").collect())
    con = duckdb.connect()
    con.execute("create view documents as select * from "
                "read_parquet('/root/testdata/sf0.001/documents.parquet')")
    want = sorted(map(tuple, con.execute(
        E._text_clusters_sql()).fetchall()))
    assert got == want
    clusters = {c for _, c, _ in got}
    assert len(clusters) >= 2


def test_ann_recall_report(spark):
    """Recall report: engine == oracle, multitable LSH strictly dominates
    single-probe LSH (more independent tables can only add true hits)."""
    import duckdb
    import __spark_entry__ as E

    got = {r["variant"]: (r["n_hits"], r["recall"]) for r in
           E.queries()["ann_recall_report"](
               spark, "/root/testdata/sf0.01").collect()}
    con = duckdb.connect()
    con.execute("create view embeddings as select * from "
                "read_parquet('/root/testdata/sf0.01/embeddings.parquet')")
    want = {v: (h, r) for v, h, r in con.execute(
        E._ann_recall_report_sql()).fetchall()}
    assert got == want
    assert got["lsh_multitable"][1] >= got["lsh"][1]
    assert all(0.0 <= r <= 1.0 for _, r in got.values())
