"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

The standard targeted-data-selection stage of a pretraining pipeline: score
every raw-pool document by how much more likely its hashed n-gram bag is
under a TARGET distribution than under the RAW-pool distribution, then keep
the highest-importance documents. Both distributions are unigram models over
``NB`` hash buckets of word unigrams + word bigrams, trained in-query:

* the target slice is the deterministic ``doc_id % TARGET_MOD == 0`` subset
  (the repo's labeled-slice idiom, cf. :mod:`.langid` / :mod:`.lmquality` —
  a real deployment passes a curated target corpus instead);
* bucket = ``hash60(gram) % NB`` (:mod:`..functions.hashing` — md5-derived,
  bit-identical across engines);
* add-one-smoothed surprisal per bucket and distribution, kept RATIONAL and
  then floored to integer bits via the shared binary-string-length identity
  (cf. lmquality.py / bm25.py): ``bits_x(b) = length(bin(((total_x + NB) *
  2^10) div (count_x(b) + 1))) - 1`` — no libm anywhere;
* a document's importance is the exact int64 sum over its gram OCCURRENCES
  of ``bits_raw(b) - bits_target(b)`` (an integer-bits surrogate of
  ``log2 p_target(x) / p_raw(x)``: buckets the target likes more than the
  raw pool score positive). Order-independent integer addition means the
  score is reproducible across engines and partitionings;
* deterministic selection: ``selected = importance_bits >= 0`` (the paper
  resamples with Gumbel noise; a fixed threshold is its deterministic,
  engine-replayable counterpart — resampling would make the oracle diverge).

Int64 bounds: ``(total + NB) * 2^10`` overflows only past ~9e15 gram
occurrences (far beyond 10^12 docs × realistic doc length / NB smoothing is
on the TOTAL, which caps at ~2^53 tokens at 100 TB — still safe); per-doc
sums are ≤ doc grams × ~60 bits.

Scale shape (the 10^12-doc story): each distribution is a ≤``NB``-row table
built by ONE map-side-combinable groupBy over the exploded grams; the joint
weight table (``NB`` rows) broadcasts. Scoring is explode → broadcast hash
join → ONE groupBy(doc) with partial aggregation. No window over the corpus,
no collect, no Python.

Reference analogue: the same score-against-broadcast-model shape as the
LCZ min-distance classifier (`/root/reference/geoindicators/src/main/groovy/
org/orbisgis/geoclimate/geoindicators/TypologyClassification.groovy:131-210`
ranks rows against a constant reference table); the model here is learned
in-query from a designated slice instead of shipped as constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash60_sql
from ..functions.text import normalize_col, normalize_sql

NB = 4096            # hash buckets per distribution
SURP_SHIFT = 10      # 2^10 rational scale before the floor-log2
TARGET_MOD = 7       # doc_id % 7 == 0 → target slice


def _grams_expr(norm: str) -> str:
    """Spark SQL: word unigrams ++ word bigrams of column ``norm``."""
    t = f"split({norm}, ' ')"
    return (f"CASE WHEN {norm} = '' THEN array() "
            f"WHEN size({t}) < 2 THEN {t} "
            f"ELSE concat({t}, transform(sequence(1, size({t}) - 1), "
            f"i -> concat(element_at({t}, i), ' ', "
            f"element_at({t}, i + 1)))) END")


def _grams_sql(norm: str) -> str:
    """DuckDB dual of :func:`_grams_expr`."""
    t = f"str_split({norm}, ' ')"
    return (f"CASE WHEN {norm} = '' THEN [] "
            f"WHEN len({t}) < 2 THEN {t} "
            f"ELSE list_concat({t}, list_transform("
            f"generate_series(1, len({t}) - 1), "
            f"i -> {t}[i] || ' ' || {t}[i + 1])) END")


_BUCKET = f"pmod(conv(substring(md5(gram), 1, 15), 16, 10), {NB})"
# xxhash64 fast path: one JVM codegen hash per occurrence instead of md5's
# digest + hex-string conv — the hot-path option for production runs where
# the scorer need not replay in DuckDB (xxhash64 has no DuckDB dual; any
# uniform bucket hash yields a statistically equivalent DSIR model, and
# the fixture-equivalence pytest pins how close the selections land).
_BUCKET_XX = f"pmod(xxhash64(gram), {NB})"
_BITS = (f"CAST(length(bin((({{tot}} + {NB}) * {1 << SURP_SHIFT}) "
         f"div ({{cnt}} + 1))) - 1 AS BIGINT)")


def dsir_importance(docs: DataFrame, bucket_hash: str = "md5") -> DataFrame:
    """Per-doc DSIR importance: (doc_id, is_target, n_grams,
    importance_bits, selected). Docs with no grams are absent (their bag is
    empty — nothing to score, same as the oracle).

    ``bucket_hash``: "md5" (default — bit-replayable in the DuckDB oracle)
    or "xxhash64" (fast path, same plan shape; see _BUCKET_XX)."""
    if bucket_hash not in ("md5", "xxhash64"):
        raise ValueError("bucket_hash must be 'md5' or 'xxhash64'")
    bucket = _BUCKET if bucket_hash == "md5" else _BUCKET_XX
    grams = (docs
             .withColumn("_norm", normalize_col(F.col("text")))
             .select(F.col("doc_id"),
                     (F.col("doc_id") % TARGET_MOD == 0).alias("is_target"),
                     F.explode(F.expr(_grams_expr("_norm"))).alias("gram"))
             .withColumn("bucket", F.expr(bucket).cast("long")))
    # per-bucket occurrence counts for both distributions in one pass;
    # the NB-row dim then takes its totals from a window over itself
    # (<= NB rows — a constant-size single partition, not a corpus window)
    w = Window.partitionBy(F.lit(1))
    dim = (grams.groupBy("bucket")
           .agg(F.sum(F.when(F.col("is_target"), 1).otherwise(0))
                .alias("ct"),
                F.sum(F.when(F.col("is_target"), 0).otherwise(1))
                .alias("cr"))
           .withColumn("tt", F.sum("ct").over(w))
           .withColumn("tr", F.sum("cr").over(w))
           .selectExpr("bucket",
                       _BITS.format(tot="tt", cnt="ct") + " AS bits_t",
                       _BITS.format(tot="tr", cnt="cr") + " AS bits_r"))
    return (grams.join(F.broadcast(dim), "bucket")
            .groupBy("doc_id", "is_target")
            .agg(F.count("*").alias("n_grams"),
                 F.sum(F.col("bits_r") - F.col("bits_t"))
                 .alias("importance_bits"))
            .select("doc_id", F.col("is_target").cast("int").alias("is_target"),
                    "n_grams",
                    F.col("importance_bits").cast("long")
                    .alias("importance_bits"),
                    (F.col("importance_bits") >= 0).cast("int")
                    .alias("selected")))


def dsir_importance_sql(rel: str = "documents") -> str:
    """DuckDB dual of :func:`dsir_importance`."""
    bits_t = (f"CAST(length(bin(((tt + {NB}) * {1 << SURP_SHIFT}) "
              f"// (ct + 1))) - 1 AS BIGINT)")
    bits_r = (f"CAST(length(bin(((tr + {NB}) * {1 << SURP_SHIFT}) "
              f"// (cr + 1))) - 1 AS BIGINT)")
    return f"""WITH grams AS (
  SELECT doc_id, (doc_id % {TARGET_MOD} = 0) AS is_target,
         unnest({_grams_sql(f"normed.n")}) AS gram
  FROM (SELECT doc_id, {normalize_sql('text')} AS n FROM {rel}) normed),
bucketed AS (
  SELECT doc_id, is_target,
         {hash60_sql("gram")} % {NB} AS bucket
  FROM grams),
dim AS (
  SELECT bucket,
         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr,
         SUM(SUM(CASE WHEN is_target THEN 1 ELSE 0 END)) OVER () AS tt,
         SUM(SUM(CASE WHEN is_target THEN 0 ELSE 1 END)) OVER () AS tr
  FROM bucketed GROUP BY bucket),
weights AS (
  SELECT bucket, {bits_t} AS bits_t, {bits_r} AS bits_r FROM dim)
SELECT b.doc_id,
       CAST(b.is_target AS INT) AS is_target,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(w.bits_r - w.bits_t) AS BIGINT) AS importance_bits,
       CAST(SUM(w.bits_r - w.bits_t) >= 0 AS INT) AS selected
FROM bucketed b JOIN weights w USING (bucket)
GROUP BY b.doc_id, b.is_target"""
