"""Text-analysis metrics vs DuckDB oracle (bit-exact)."""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from geoclimate_spark.functions import text as T

SF = "/root/testdata/sf0.001"


def test_text_metrics_parity(spark, duck):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cols = T.text_metrics_cols(F.col("text"))
    got = (docs.select(F.col("doc_id").alias("id"),
                       *[c.alias(n) for n, c in cols.items()])
           .toPandas().sort_values("id").reset_index(drop=True))
    frags = T.text_metrics_sql("text")
    sel = ",\n  ".join(f"{sql} AS {name}" for name, sql in frags.items())
    exp = duck.sql(f"SELECT doc_id AS id,\n  {sel}\nFROM documents"
                   ).df().sort_values("id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got[sorted(got.columns)],
                                  exp[sorted(exp.columns)], check_dtype=False)
    assert got.quality.between(0, 1).all()
    assert got.lang_guess.isin([l for l, _ in T.LANG_STOPWORDS]).all()


def test_fingerprint_is_stable_and_normalizing(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        ["id", "text"])
    fp = T.text_metrics_cols(F.col("text"))["fingerprint"]
    rows = {r.id: r.fp for r in df.select("id", fp.alias("fp")).collect()}
    assert rows[1] == rows[2] != rows[3]


@st.composite
def _counts(draw):
    """(n_tokens, n_chars, punct_chars, stopword_hits) of some document."""
    n_tokens = draw(st.integers(1, 300))
    n_chars = draw(st.integers(n_tokens, 3000))
    return (n_tokens, n_chars, draw(st.integers(0, n_chars // 4)),
            draw(st.integers(0, n_tokens)))


# Count tuples on which ROUND(q, 6) disagrees between the engines: the
# unrounded quality sits next to a half-way point (0.5010625, 0.28781249999999997,
# ...) and Spark rounds its shortest decimal form HALF_UP while DuckDB rounds
# q * 1e6. Random tuples hit such a case about once in 10^5.
_HALF_WAY = [(4, 128, 18, 2), (16, 60, 4, 11), (37, 768, 12, 20),
             (10, 192, 31, 0), (80, 128, 12, 9), (2, 1600, 219, 1)]


@given(st.lists(_counts(), min_size=1, max_size=60))
@example(_HALF_WAY)
@settings(max_examples=25, deadline=None)
def test_quality_rounding_parity(spark, rows):
    got = (spark.createDataFrame(rows, "t long, c long, p long, s long")
           .select(T.quality_col(F.col("t"), F.col("c"), F.col("p"), F.col("s")))
           .collect())
    vals = ", ".join(f"({i}, {t}, {c}, {p}, {s})" for i, (t, c, p, s) in enumerate(rows))
    want = duckdb.sql(f"SELECT {T.quality_sql('t', 'c', 'p', 's')} FROM (VALUES {vals})"
                      " AS v(i, t, c, p, s) ORDER BY i").fetchall()
    assert [r[0] for r in got] == [r[0] for r in want]
