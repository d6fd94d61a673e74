"""Benchmark decontamination: flag documents sharing token n-grams with an
evaluation set.

The standard LLM training-data hygiene step (GPT-3 appendix C / PaLM /
Llama): build the set of token n-grams occurring in the benchmark (eval)
documents, then flag every training document containing at least one of
them. The benchmark side is tiny by construction, so the n-gram set is a
BROADCAST dimension and the scan side never shuffles its text — the same
broadcast filter-dimension shape as the reference's tag-filter front-end
(`/root/reference/osmtools/src/main/groovy/.../Transform.groovy` tag-key
filters: a small in-list pruning a huge scan).

Here the "benchmark" is carved deterministically out of the corpus itself
(the ``bench_quota`` lowest-``hash60(doc_id)`` documents — reproducible, no
RNG), which both keeps the fixture self-contained and guarantees hits exist.

Scale design (100 TB):
* benchmark n-grams: a few thousand rows → broadcast hash join; the
  training-side explode is map-local and immediately semi-joined, so the
  only shuffle is the final per-doc count (map-side combined).
* n-grams are joined on their md5-60 hash (8 bytes), not the string —
  smaller exchange rows AND identical hashing on the oracle side, so engine
  and oracle agree bit-for-bit even in the (negligible) collision case.
* explode_outer + repartition-first: see dedup.shingle_array_df for the
  inferred-filter/scan-serialization trap this avoids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash60_col, hash60_sql
from ..functions.text import normalize_col, normalize_sql

NGRAM_N = 5


def _token_ngrams_col(toks: Column, n: int) -> Column:
    """Distinct space-joined token n-grams (empty when < n tokens).

    The short-doc branch must be guarded BEFORE the sequence is built:
    Spark's ``sequence(1, 0)`` defaults to step -1 and yields the DESCENDING
    [1, 0], whose 0 index makes ``slice`` throw at runtime — while DuckDB's
    ``generate_series(1, 0)`` is empty. CASE branches evaluate lazily, so
    the guarded form is safe for any token count and matches the oracle."""
    ngs = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.array_distinct(
        F.when(F.size(toks) >= n, ngs)
        .otherwise(F.array().cast("array<string>")))


def contamination_hits(docs: DataFrame, bench_quota: int = 10) -> DataFrame:
    """(doc_id, n_hits): training documents (not in the benchmark) sharing
    >= 1 token n-gram with the benchmark set, with the count of distinct
    shared n-grams. Benchmark = the ``bench_quota`` lowest-hash doc ids."""
    spark = docs.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    did = F.col("doc_id").cast("long")
    base = (docs.repartition(n_parts, "doc_id")
            .select(did.alias("id"),
                    F.split(normalize_col(F.col("text")), " ").alias("toks"))
            .select("id",
                    _token_ngrams_col(F.col("toks"), NGRAM_N).alias("ngs")))
    rank_w = Window.orderBy(hash60_col(F.col("id").cast("string")), "id")
    ids = (docs.select(did.alias("id"))
           .withColumn("_r", F.row_number().over(rank_w)))
    bench_ids = ids.where(F.col("_r") <= bench_quota).select("id")
    ng = (base.select("id", F.explode_outer("ngs").alias("ng"))
          .select("id", hash60_col(F.col("ng")).alias("ngh")))
    bench_ngrams = (ng.join(F.broadcast(bench_ids), "id", "left_semi")
                    .select("ngh").distinct())
    train = ng.join(F.broadcast(bench_ids), "id", "left_anti")
    return (train.join(F.broadcast(bench_ngrams), "ngh", "left_semi")
            .groupBy(F.col("id").alias("doc_id"))
            .agg(F.count("*").cast("long").alias("n_hits")))


def contamination_hits_sql(doc_rel: str = "documents",
                           bench_quota: int = 10) -> str:
    """DuckDB mirror of :func:`contamination_hits`."""
    norm = normalize_sql("text")
    h_id = hash60_sql("CAST(id AS VARCHAR)")
    h_ng = hash60_sql("ng")
    return f"""WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS id, string_split({norm}, ' ') AS toks
  FROM {doc_rel}),
ranked AS (
  SELECT id, ROW_NUMBER() OVER (ORDER BY {h_id}, id) AS r
  FROM base),
bench_ids AS (SELECT id FROM ranked WHERE r <= {bench_quota}),
ngs AS (
  SELECT DISTINCT id, ng FROM (
    SELECT id, unnest(list_transform(
        generate_series(1, greatest(len(toks) - {NGRAM_N - 1}, 0)),
        i -> array_to_string(toks[i:i+{NGRAM_N - 1}], ' '))) AS ng
    FROM base)),
ngh AS (SELECT id, {h_ng} AS ngh FROM ngs),
bench_ngrams AS (SELECT DISTINCT ngh FROM ngh
  WHERE id IN (SELECT id FROM bench_ids)),
train AS (SELECT * FROM ngh WHERE id NOT IN (SELECT id FROM bench_ids))
SELECT t.id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM train t JOIN bench_ngrams b USING (ngh)
GROUP BY t.id"""
