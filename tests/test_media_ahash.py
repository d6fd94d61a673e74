"""Perceptual-hash image dedup: planted-variant recall, banding exactness
vs brute force, byte-decode/oracle parity."""
from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from geoclimate_spark.sources import media as M

N = 48  # 12 variant groups of 4
DOCS = [(i, "t", "en") for i in range(N)]


@pytest.fixture(scope="module")
def frames(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string, lang string")
    m = M.synth_media_variants(df).persist()
    hashes = M.image_ahash(m).persist()
    return df, m, hashes


def test_ahash_from_bytes_matches_oracle(spark, frames):
    df, _, hashes = frames
    con = duckdb.connect()
    con.execute("create table docs (doc_id bigint, text varchar, lang varchar)")
    con.executemany("insert into docs values (?, ?, ?)", DOCS)
    want = con.execute(
        f"WITH {M.ahash_cte_sql(doc_rel='docs')} SELECT * FROM ah").fetchdf()
    got = hashes.toPandas()
    g = got.sort_values("doc_id").reset_index(drop=True)
    w = want.sort_values("doc_id").reset_index(drop=True).astype(
        g.dtypes.to_dict())
    assert g.equals(w)


def test_banding_exact_vs_bruteforce(spark, frames):
    _, _, hashes = frames
    banded = {(r.id_a, r.id_b): r.hamming
              for r in M.ahash_dup_pairs(hashes).collect()}
    a, b = hashes.alias("a"), hashes.alias("b")
    brute = (a.crossJoin(b)
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"),
                     F.bit_count(F.col("a.ahash")
                                 .bitwiseXOR(F.col("b.ahash")))
                     .cast("long").alias("hamming"))
             .where(F.col("hamming") <= 3).collect())
    brute_d = {(r.id_a, r.id_b): r.hamming for r in brute}
    assert banded == brute_d  # pigeonhole: zero missed pairs


def test_planted_variants_found(frames):
    _, _, hashes = frames
    pairs = {(r.id_a, r.id_b)
             for r in M.ahash_dup_pairs(hashes).collect()}
    hits = sum(1 for g in range(N // 4)
               for x in range(4 * g, 4 * g + 4)
               for y in range(x + 1, 4 * g + 4) if (x, y) in pairs)
    # a 1-pixel perturbation moves at most a few bits of a 16-bit aHash —
    # the overwhelming majority of within-group pairs must be caught
    assert hits >= (N // 4) * 6 * 3 // 4, hits


def test_pairs_parity(spark, frames):
    df, _, hashes = frames
    con = duckdb.connect()
    con.execute("create table docs (doc_id bigint, text varchar, lang varchar)")
    con.executemany("insert into docs values (?, ?, ?)", DOCS)
    got = M.ahash_dup_pairs(hashes).toPandas()
    want = con.execute(M.ahash_dup_pairs_sql(doc_rel="docs")).fetchdf()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True).astype(
        g.dtypes.to_dict())
    assert g.equals(w)
