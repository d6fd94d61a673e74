"""CCNet-style per-language perplexity bucketing (head / middle / tail).

CCNet's signature curation stage: within each language, order documents by
LM perplexity (best first) and cut the corpus into three buckets of equal
CUMULATIVE SIZE — "head" (cleanest third by bytes), "middle", "tail" — so
downstream mixing can oversample the head. The ordering statistic here is
the repo's own char-bigram LM surprisal (:mod:`.lmquality`), kept exact:

* per-doc sort key ``ppl_key = (total_bits << 20) // n_bigrams`` — an int64
  mean-surprisal surrogate, so cross-doc comparisons are integer compares
  (a double mean would make the ORDER itself depend on float rounding);
  ties break on doc_id;
* the per-language cumulative char count runs over that total order, and
  the tercile rule is pure integer arithmetic: ``3*cum <= total`` → head,
  ``3*cum <= 2*total`` → middle, else tail (cum is INCLUSIVE of the row, so
  a bucket boundary lands on the last doc whose inclusion still fits).

Scale shape (the 10^12-doc story): the naive per-lang cumsum is ONE window
task per language — a few fat partitions at corpus scale. The engine reuses
:mod:`.vocab`'s exact decomposition: a coarse order-aligned bucket
``pb = ppl_key >> 14`` gives a tiny (lang, pb) offsets table (window over
buckets, broadcast back) and the within-bucket cumsum runs partitioned by
(lang, pb) — parallel, exact, same integers as the naive window, which is
exactly what the DuckDB oracle computes.

Reference analogue: the same order-then-cut-by-cumulative-weight shape as
the reference's distribution characterization on area-ordered histograms
(`/root/reference/geoindicators/src/main/groovy/org/orbisgis/geoclimate/
geoindicators/GenericIndicators.groovy:771-894`
``distributionCharacterization`` ranks value columns and derives ordinal
statistics); applied here to documents ordered by LM score with char mass
as the weight.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import lmquality

# mean-surprisal fixed-point scale; >> _PB_SHIFT coarsens it to the
# order-aligned offsets bucket (1/64-bit granularity of the mean)
_KEY_SHIFT = 20
_PB_SHIFT = 14


def ppl_tercile_assignments(docs: DataFrame) -> DataFrame:
    """Per-doc bucket assignment: (doc_id, lang, ppl_key, cum_chars,
    total_chars, bucket). Docs lm_quality drops (no bigram) are absent."""
    scored = lmquality.lm_quality_scores(docs)
    base = (scored
            .join(docs.select("doc_id", "lang",
                              F.length("text").cast("long")
                              .alias("_chars")), "doc_id")
            .withColumn("ppl_key",
                        # SQL `div` = exact int64 division (Spark `/` on
                        # longs is a double divide — truncation near a
                        # quotient boundary could disagree with the
                        # oracle's exact `//`)
                        F.expr(f"(total_bits * {1 << _KEY_SHIFT}) "
                               "div n_bigrams"))
            .withColumn("_pb", F.shiftright("ppl_key", _PB_SHIFT)))
    # tiny (lang, pb) offsets table: exclusive char prefix + per-lang total
    bw = Window.partitionBy("lang").orderBy(F.col("_pb").asc())
    buckets = (base.groupBy("lang", "_pb")
               .agg(F.sum("_chars").alias("_bt"))
               .withColumn("_off", F.coalesce(
                   F.sum("_bt").over(bw.rowsBetween(
                       Window.unboundedPreceding, -1)), F.lit(0)))
               .withColumn("_total", F.sum("_bt").over(
                   bw.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing))))
    # within-bucket cumsum: parallel across (lang, pb) partitions
    ww = (Window.partitionBy("lang", "_pb")
          .orderBy(F.col("ppl_key").asc(), F.col("doc_id").asc()))
    out = (base.join(F.broadcast(buckets.select(
               "lang", "_pb", "_off", "_total")), ["lang", "_pb"])
           .withColumn("cum_chars",
                       (F.col("_off") + F.sum("_chars").over(ww))
                       .cast("long")))
    cum3 = F.col("cum_chars") * 3
    return out.select(
        "doc_id", "lang", F.col("ppl_key").cast("long").alias("ppl_key"),
        "cum_chars", F.col("_total").cast("long").alias("total_chars"),
        F.when(cum3 <= F.col("_total"), F.lit("head"))
         .when(cum3 <= F.col("_total") * 2, F.lit("middle"))
         .otherwise(F.lit("tail")).alias("bucket"))


# --------------------------------------------------------------- DuckDB dual
def ppl_tercile_sql(doc_rel: str = "documents") -> str:
    """Oracle: the NAIVE per-lang global cumulative window — the engine's
    (lang, pb)-decomposed cumsum must reproduce it bit-for-bit."""
    lm = lmquality.lm_quality_sql(doc_rel)
    return f"""WITH scored AS ({lm}),
keyed AS (
  SELECT s.doc_id, d.lang,
         CAST((s.total_bits * {1 << _KEY_SHIFT}) // s.n_bigrams AS BIGINT)
           AS ppl_key,
         CAST(length(d.text) AS BIGINT) AS _chars
  FROM scored s JOIN {doc_rel} d USING (doc_id)),
cum AS (
  SELECT doc_id, lang, ppl_key,
         CAST(SUM(_chars) OVER (PARTITION BY lang
                ORDER BY ppl_key ASC, doc_id ASC) AS BIGINT) AS cum_chars,
         CAST(SUM(_chars) OVER (PARTITION BY lang) AS BIGINT)
           AS total_chars
  FROM keyed)
SELECT doc_id, lang, ppl_key, cum_chars, total_chars,
       CASE WHEN cum_chars * 3 <= total_chars THEN 'head'
            WHEN cum_chars * 3 <= total_chars * 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM cum"""
