"""Rocchio linear classifier + deterministic dataset split."""
from __future__ import annotations

import duckdb
import pytest

from conftest import SF_SMOKE
from geoclimate_spark.operators import curation, linear


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


# ------------------------------------------------------------- dataset split
def test_split_partitions_and_proportions(spark, docs):
    roll = curation.dataset_split(docs).collect()
    total = sum(r.n_docs for r in roll)
    assert total == docs.where("text is not null").count() \
        or total == docs.count()  # split has no text filter
    by_split = {}
    for r in roll:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    assert set(by_split) == {"train", "val", "test"}
    # hash-uniformity at 500 docs: train ~80% with generous slack
    assert 0.7 <= by_split["train"] / total <= 0.9
    assert by_split["val"] / total <= 0.2


def test_split_membership_is_stable_under_growth(spark, docs):
    """The split is a pure function of (seed, id): restricting the corpus
    must not move any document between splits (row-number splits fail
    this)."""
    half = docs.where("doc_id % 2 = 0")
    full = curation.dataset_split(docs).collect()
    part = curation.dataset_split(half).collect()
    # every (split, stratum) group of the half-corpus is a subset count of
    # the full corpus group
    fmap = {(r.split, r.stratum): r.n_docs for r in full}
    for r in part:
        assert r.n_docs <= fmap[(r.split, r.stratum)]


def test_split_oracle_parity(duck, docs):
    got = sorted(map(tuple, curation.dataset_split(docs).collect()))
    want = sorted(map(tuple, duck.execute(
        curation.dataset_split_sql("documents")).fetchall()))
    assert got == want


# ------------------------------------------------------------------- rocchio
def test_rocchio_learns_the_length_label(spark, docs):
    conf = {(r.label, r.pred): r.n_docs
            for r in linear.rocchio_confusion(docs).collect()}
    total = sum(conf.values())
    correct = conf.get((1, 1), 0) + conf.get((-1, -1), 0)
    majority = max(
        conf.get((1, 1), 0) + conf.get((1, -1), 0),
        conf.get((-1, 1), 0) + conf.get((-1, -1), 0))
    assert correct / total >= 0.9           # actually learns …
    assert correct > majority               # … beyond the majority class


def test_rocchio_model_parity(duck, docs):
    got = sorted(map(tuple, linear.rocchio_train(docs).collect()))
    want = sorted(map(tuple, duck.execute(
        linear.rocchio_train_sql()).fetchall()))
    assert got == want
    # model rows: every populated bucket plus the two scalar rows
    buckets = [b for b, _ in got]
    assert -1 in buckets and -2 in buckets
    assert all(0 <= b < linear.RC_DIM for b in buckets if b >= 0)


def test_rocchio_serving_matches_manual_rule(spark, docs):
    """Serve with the emitted model rows by hand — the confusion matrix the
    operator reports must equal scoring each doc with the published
    (weights, threshold, scale) triple."""
    model = {b: w for b, w in linear.rocchio_train(docs).collect()}
    rhs, scale = model.pop(-1), model.pop(-2)
    feats = {(r.doc_id, r.bucket): r.x
             for r in linear._features(docs, linear.RC_DIM, "doc_id",
                                       "text").collect()}
    labs = {r.doc_id: r.y
            for r in linear._labels(docs, linear.RC_THRESH, "doc_id",
                                    "n_chars", "text").collect()}
    conf = {}
    for d, y in labs.items():
        wx = sum(model.get(b, 0) * x
                 for (dd, b), x in feats.items() if dd == d)
        pred = 1 if scale * wx > rhs else -1
        conf[(y, pred)] = conf.get((y, pred), 0) + 1
    got = {(r.label, r.pred): r.n_docs
           for r in linear.rocchio_confusion(docs).collect()}
    assert got == conf


def test_rocchio_degenerate_single_class(spark):
    """All-one-class input: w = m+·0 − 0·n+ = 0 everywhere, every doc
    scores 0 → pred −1 (strict >); the operator must stay total."""
    df = spark.createDataFrame(
        [(1, "alpha beta", 500), (2, "beta gamma", 400)],
        "doc_id long, text string, n_chars long")
    conf = {(r.label, r.pred): r.n_docs
            for r in linear.rocchio_confusion(df).collect()}
    assert conf == {(1, -1): 2}
