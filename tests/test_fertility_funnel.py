"""Round-5b: tokenizer fertility and dedup funnel hand cases + parity."""
from __future__ import annotations

import duckdb
import numpy as np
import pytest

from geoclimate_spark.operators import bpeencode as BE
from geoclimate_spark.operators import dedupfunnel as DF


def _parity(spark_df, con, sql):
    a = spark_df.toPandas()
    b = con.execute(sql).fetchdf()
    cols = sorted(a.columns)
    assert cols == sorted(b.columns)
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b)
    for c in cols:
        if a[c].dtype == object:
            assert (a[c].values == b[c].values).all(), c
        else:
            assert np.array_equal(
                a[c].to_numpy("float64", na_value=np.nan),
                b[c].to_numpy("float64", na_value=np.nan),
                equal_nan=True), c


def test_fertility_ratios_and_parity(spark):
    rows = [(0, "the cat sat on the mat", "en"),
            (1, "the dog sat", "en"),
            (2, "zzz qqq xxx yyy", "xx"),
            (3, "zzz qqq", "xx")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.lang: r for r in BE.tokenizer_fertility(df).collect()}
    assert got["en"].n_docs == 2 and got["xx"].n_docs == 2
    assert got["en"].total_words == 9 and got["xx"].total_words == 6
    for r in got.values():
        # exact integer ratio identities
        assert r.chars_per_token_milli == (r.total_chars * 1000) // r.total_tokens
        assert r.tokens_per_word_milli == (r.total_tokens * 1000) // r.total_words
        assert r.total_tokens <= r.total_chars  # merges only shrink
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR,"
                " lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    _parity(BE.tokenizer_fertility(df), con, BE.tokenizer_fertility_sql())
    con.close()


def test_dedup_funnel_hand_case(spark):
    shared = " ".join(f"s{i}" for i in range(12))
    rows = [
        (0, "unique one " + " ".join(f"a{i}" for i in range(10))),
        (1, "unique one " + " ".join(f"a{i}" for i in range(10))),  # exact dup of 0
        (2, shared + " tail x"),
        (3, shared + " tail y"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.stage: r for r in DF.dedup_funnel_report(df).collect()}
    raw_t = got["raw"].n_tokens_kept
    assert got["raw"].n_docs_kept == 5 and raw_t == 12 + 12 + 14 + 14
    # exact dedup removes doc 1 entirely (12 tokens), keeps empty doc
    assert got["exact"].n_docs_kept == 4
    assert got["exact"].n_tokens_kept == raw_t - 12
    assert got["exact"].tokens_removed_millis == (12 * 1000) // raw_t
    # every stage keeps at most raw
    for r in got.values():
        assert r.n_tokens_kept <= raw_t
    # span trim removes the shared 12-token prefix from BOTH docs 2,3 and
    # doc 1's exact copy windows; segment dedup removes aligned dups only
    assert got["span"].n_tokens_kept < got["exact"].n_tokens_kept
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    _parity(DF.dedup_funnel_report(df), con, DF.dedup_funnel_report_sql())
    con.close()


def test_dedup_funnel_null_text_without_ansi(spark):
    """A NULL text counts 0 tokens on both engines whatever the session's
    ANSI mode: with ANSI off Spark sizes split(NULL) as -1, which used to
    shrink the raw token total and push a stage's removal below zero."""
    rows = [(0, "alpha beta gamma delta epsilon"),
            (1, "alpha beta gamma delta epsilon"),
            (2, None),
            (3, "one two three four five six seven eight nine ten eleven")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = {r.stage: r for r in DF.dedup_funnel_report(df).collect()}
        assert got["raw"].n_docs_kept == 4
        assert got["raw"].n_tokens_kept == 5 + 5 + 11
        assert all(r.tokens_removed_millis >= 0 for r in got.values())
        _parity(DF.dedup_funnel_report(df), con, DF.dedup_funnel_report_sql())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        con.close()
