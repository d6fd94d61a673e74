"""Gopher-style repetition metrics over the ``documents`` text column.

Training-data quality filters built on *within-document repetition*: a page
whose tokens or n-grams repeat heavily (boilerplate, keyword stuffing, SEO
spam) is a bad LLM training document even when its surface statistics
(length, punctuation) look fine. This is the repetition-signal family from
the Gopher/MassiveText filtering rules (Rae et al. 2021, table A1) —
duplicate-token fraction and top/duplicate n-gram fractions — recast as
Spark aggregations. Reference analogue: GeoClimate's per-feature rule
metrics (`/root/reference/osm/src/main/groovy/.../InputDataFormatting.groovy`)
are the same shape — deterministic per-row scores from fixed rules — but the
n-gram counts here genuinely need an aggregation, not just a projection.

Scale design (100 TB): the per-token explode is map-side only — the
``groupBy(doc_id, bigram)`` partial-aggregates inside the scan stage before
any shuffle (doc_id is in every group key, so combining is local and the
shuffle carries one row per *distinct* (doc, bigram), already bounded by the
document length). Everything is JVM whole-stage codegen; no Python, no
driver collection. The unigram-side metrics (distinct-token fraction) never
shuffle at all: ``array_distinct`` runs inside the projection.

Engine/oracle lock-step: fractions are ratios of exact BIGINT counts cast to
double — bit-identical in Spark and DuckDB, no rounding needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql


def _bigrams_col(toks: Column) -> Column:
    """Adjacent-token bigrams as strings (length = n_tokens - 1)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat(F.element_at(toks, i), F.lit(" "),
                           F.element_at(toks, i + 1)))


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Per-document repetition metrics; documents with < 2 tokens are
    excluded (no bigrams exist — same filter on the oracle side).

    Output columns:

    * ``n_tokens``            exact token count of the normalized text
    * ``dup_token_frac``      1 - distinct_tokens / n_tokens
    * ``dup_bigram_frac``     1 - distinct_bigrams / n_bigrams
    * ``top_bigram_frac``     occurrences of the most frequent bigram
                              divided by n_bigrams
    """
    toks = F.split(normalize_col(F.col("text")), " ")
    # repartition the RAW rows first so the tokenize/bigram projections run
    # post-shuffle on all workers instead of serializing on a one-file scan
    # (see dedup.shingle_array_df for the same pattern + rationale)
    spark = docs.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    base = (docs.repartition(n_parts, "doc_id")
        .select(
        F.col("doc_id").cast("long").alias("id"),
        toks.alias("toks"))
        .where(F.size(F.col("toks")) >= 2)
        .select(
            "id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
            _bigrams_col(F.col("toks")).alias("bigrams")))
    # (doc, bigram) counts: partial-aggregated map-side, then per-doc rollup.
    # explode_outer: plain explode would make the optimizer infer a
    # size(bigrams) > 0 filter and sink the whole bigram expression into the
    # scan stage (docs with >= 2 tokens always have >= 1 bigram, so outer
    # semantics are identical).
    bg = (base.select("id", F.explode_outer("bigrams").alias("bigram"))
          .groupBy("id", "bigram").agg(F.count("*").alias("cnt"))
          .groupBy("id").agg(
              F.sum("cnt").cast("long").alias("n_bigrams"),
              F.count("*").cast("long").alias("n_distinct_bigrams"),
              F.max("cnt").cast("long").alias("top_bigram_cnt")))
    d = F.col  # noqa: E731 - brevity below
    return (base.drop("bigrams").join(bg, "id")
            .select(
                F.col("id").alias("doc_id"), "n_tokens",
                (F.lit(1.0) - d("n_distinct").cast("double")
                 / d("n_tokens").cast("double")).alias("dup_token_frac"),
                (F.lit(1.0) - d("n_distinct_bigrams").cast("double")
                 / d("n_bigrams").cast("double")).alias("dup_bigram_frac"),
                (d("top_bigram_cnt").cast("double")
                 / d("n_bigrams").cast("double")).alias("top_bigram_frac")))


def repetition_metrics_sql() -> str:
    """DuckDB oracle for :func:`repetition_metrics` (same names/semantics)."""
    norm = normalize_sql("text")
    return f"""WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS id, string_split({norm}, ' ') AS toks
  FROM documents
  WHERE len(string_split({norm}, ' ')) >= 2),
scalars AS (
  SELECT id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
  FROM base),
exploded AS (
  SELECT id, unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM base),
bg_counts AS (
  SELECT id, bigram, COUNT(*) AS cnt FROM exploded GROUP BY id, bigram),
bg AS (
  SELECT id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
         CAST(MAX(cnt) AS BIGINT) AS top_bigram_cnt
  FROM bg_counts GROUP BY id)
SELECT s.id AS doc_id, s.n_tokens,
       1.0 - CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)
         AS dup_token_frac,
       1.0 - CAST(bg.n_distinct_bigrams AS DOUBLE) / CAST(bg.n_bigrams AS DOUBLE)
         AS dup_bigram_frac,
       CAST(bg.top_bigram_cnt AS DOUBLE) / CAST(bg.n_bigrams AS DOUBLE)
         AS top_bigram_frac
FROM scalars s JOIN bg USING (id)"""
