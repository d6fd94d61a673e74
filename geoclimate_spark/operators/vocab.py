"""Corpus vocabulary builder with a SCALABLE global ordered cumulative sum.

The tokenizer-prep query every LLM pipeline runs: term → collection
frequency (cf) + document frequency (df), ranked by (cf DESC, term ASC),
with each term's cumulative share of all tokens — "the top N terms cover
X% of the corpus" is read straight off ``cum_share``.

The interesting part at 10^12 docs is the cumulative sum: the naive
``SUM(cf) OVER (ORDER BY cf DESC, term ASC)`` is a window with NO partition
key — Spark executes it in ONE task holding the whole vocabulary. This
operator decomposes it exactly:

* composite bucket ``(cf, first_char(term))`` — the global order
  (cf DESC, term ASC) equals (cf DESC, c1 ASC, term ASC) because a term
  starts with its first character, so bucket order is total and
  order-aligned with the row order;
* per-bucket totals (one tiny aggregate over distinct (cf, c1) pairs) get
  prefix offsets via a window over that SMALL table, broadcast back;
* the within-bucket cumsum runs partitioned by (cf, c1) — parallel, each
  partition bounded by one frequency stratum × one initial letter. For a
  heavier hapax stratum, widen the prefix (c2, c3, …) — same algebra.

All counts are integers; the single division producing ``cum_share``
happens once at the end, so the DuckDB oracle (the naive global window)
matches bit-for-bit.

Reference analogue: the `SELECT DISTINCT`-driven pivot of
`upperScaleAreaStatistics` (`/root/reference/geoindicators/.../
GenericIndicators.groovy:978-1102`) — a value-domain aggregate feeding a
derived per-value statistic; here the statistic is ordinal (rank/share).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql


def vocab_coverage(docs: DataFrame) -> DataFrame:
    """(term, cf, df, rank, cum_share): corpus vocabulary ordered by
    (cf DESC, term ASC) with exact cumulative token share."""
    t = normalize_col(F.col("text"))
    toks = (docs.select(F.col("doc_id").alias("id"),
                        F.explode(F.split(t, " ")).alias("term")))
    terms = (toks.groupBy("term")
             .agg(F.count("*").alias("cf"),
                  F.countDistinct("id").alias("df"))
             .withColumn("c1", F.substring("term", 1, 1)))
    # tiny distinct-(cf, c1) table: totals -> exclusive prefix offsets. The
    # window here runs over |distinct buckets| rows, not |vocab| rows.
    bw = Window.orderBy(F.col("cf").desc(), F.col("c1").asc())
    buckets = (terms.groupBy("cf", "c1")
               .agg(F.sum("cf").alias("_bt"), F.count("*").alias("_bn"))
               .withColumn("_off_cf", F.coalesce(
                   F.sum("_bt").over(bw.rowsBetween(
                       Window.unboundedPreceding, -1)), F.lit(0)))
               .withColumn("_off_n", F.coalesce(
                   F.sum("_bn").over(bw.rowsBetween(
                       Window.unboundedPreceding, -1)), F.lit(0)))
               # grand total rides the bucket table (window over the SAME
               # tiny frame) — a separate 1-row agg would need a crossJoin/
               # BNLJ against the term table, which the plan guard forbids
               .withColumn("_total", F.sum("_bt").over(
                   bw.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing))))
    # within-bucket cumsum: parallel across (cf, c1) partitions
    ww = Window.partitionBy("cf", "c1").orderBy(F.col("term").asc())
    out = (terms
           .join(F.broadcast(buckets.select(
               "cf", "c1", "_off_cf", "_off_n", "_total")), ["cf", "c1"])
           .withColumn("_wcum", F.sum("cf").over(ww))
           .withColumn("_wrn", F.row_number().over(ww)))
    return out.select(
        "term", F.col("cf").cast("long").alias("cf"),
        F.col("df").cast("long").alias("df"),
        (F.col("_off_n") + F.col("_wrn")).cast("long").alias("rank"),
        ((F.col("_off_cf") + F.col("_wcum")).cast("double")
         / F.col("_total").cast("double")).alias("cum_share"))


def vocab_coverage_sql() -> str:
    """DuckDB dual: the NAIVE single global window — the bucketed engine
    decomposition must reproduce it exactly (same integers, one division)."""
    norm = normalize_sql("text")
    return f"""
WITH toks AS (SELECT doc_id AS id, UNNEST(string_split({norm}, ' ')) AS term
              FROM documents),
terms AS (SELECT term, COUNT(*) AS cf, COUNT(DISTINCT id) AS df
          FROM toks GROUP BY term),
tot AS (SELECT SUM(cf) AS total FROM terms)
SELECT term, CAST(cf AS BIGINT) AS cf, CAST(df AS BIGINT) AS df,
       CAST(ROW_NUMBER() OVER (ORDER BY cf DESC, term ASC) AS BIGINT) AS rank,
       CAST(SUM(cf) OVER (ORDER BY cf DESC, term ASC) AS DOUBLE)
         / CAST((SELECT total FROM tot) AS DOUBLE) AS cum_share
FROM terms"""
