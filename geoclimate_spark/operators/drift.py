"""Corpus drift monitoring: cross-entropy drift between crawl batches.

The corpus-health dashboard a continuously-ingesting pipeline needs: when a
new crawl batch lands, quantify how far its token distribution moved from
the previous batches BEFORE mixing it into training data (topic shifts,
spam floods, scraper breakage all show up here first). Drift between
batches a→b is the integer-bits cross-entropy-difference surrogate of
KL(p_a ‖ p_b):

    drift(a→b) = Σ_bucket c_a(bucket) · (bits_b(bucket) − bits_a(bucket))

over ``NB`` hashed unigram buckets, with the repo's shared floor-log2
identity ``bits_x = length(bin(((tot_x + NB)·2^10) div (c_x + 1))) − 1``
(add-one smoothing, no libm — cf. :mod:`dsir` / :mod:`lmquality`). Positive
drift = encoding batch a under batch b's model costs MORE bits than under
a's own model; near-zero = stationary corpus. Exact int64 end-to-end, so
the DuckDB dual replays bit-for-bit.

Batches here are the deterministic ``doc_id % N_BATCHES`` slices (the
repo's labeled-slice idiom — a deployment passes real crawl epochs, cf.
:mod:`snapshot`'s fetch_epoch carve).

Scale shape (10^12 docs): bucket hashing bounds the model state at ``NB``
rows regardless of corpus size — ONE map-side-combinable
groupBy(batch, bucket) over the exploded unigrams, then every pairwise
drift reduces the ≤NB-row dim in a single aggregate (the per-pair sums all
come out of one pass); no corpus-sized window, join, or Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql

NB = 4096
SURP_SHIFT = 10
N_BATCHES = 3

_BUCKET = f"pmod(conv(substring(md5(word), 1, 15), 16, 10), {NB})"
_BUCKET_SQL_T = "{h} % " + str(NB)


def _bits(tot: str, cnt: str) -> str:
    """floor-log2 surprisal in bits — identical text on both engines."""
    return (f"CAST(length(bin((({tot} + {NB}) * {1 << SURP_SHIFT}) "
            f"div ({cnt} + 1))) - 1 AS BIGINT)")


def _bits_sql(tot: str, cnt: str) -> str:
    return (f"CAST(length(bin((({tot} + {NB}) * {1 << SURP_SHIFT}) "
            f"// ({cnt} + 1))) - 1 AS BIGINT)")


def token_drift_report(docs: DataFrame,
                       n_batches: int = N_BATCHES) -> DataFrame:
    """All ordered batch pairs: (batch_a, batch_b, n_tokens_a, n_tokens_b,
    drift_bits, drift_millibits_per_token)."""
    if int(n_batches) < 2:
        raise ValueError("n_batches must be >= 2 (drift needs a pair)")
    words = (docs
             .withColumn("_norm", normalize_col(F.col("text")))
             .where(F.col("_norm") != "")
             .select((F.col("doc_id") % n_batches).cast("long").alias("batch"),
                     F.explode(F.split("_norm", " ")).alias("word"))
             .withColumn("bucket", F.expr(_BUCKET).cast("long")))
    dim = (words.groupBy("bucket")
           .agg(*[F.sum(F.when(F.col("batch") == b, 1).otherwise(0))
                  .cast("long").alias(f"c{b}")
                  for b in range(n_batches)]))
    w = Window.partitionBy(F.lit(1))
    for b in range(n_batches):
        dim = dim.withColumn(f"t{b}", F.sum(f"c{b}").over(w))
    for b in range(n_batches):
        dim = dim.withColumn(f"bits{b}", F.expr(_bits(f"t{b}", f"c{b}")))
    aggs = []
    pairs = [(a, b) for a in range(n_batches) for b in range(n_batches)
             if a != b]
    for a, b in pairs:
        aggs.append(F.sum(F.col(f"c{a}")
                          * (F.col(f"bits{b}") - F.col(f"bits{a}")))
                    .cast("long").alias(f"d{a}{b}"))
    for b in range(n_batches):
        aggs.append(F.max(f"t{b}").cast("long").alias(f"n{b}"))
    one = dim.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({a} AS BIGINT), CAST({b} AS BIGINT), n{a}, n{b}, d{a}{b}"
        for a, b in pairs)
    return (one.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS "
        "(batch_a, batch_b, n_tokens_a, n_tokens_b, drift_bits)")
        .selectExpr("batch_a", "batch_b", "n_tokens_a", "n_tokens_b",
                    "drift_bits",
                    "CASE WHEN n_tokens_a = 0 THEN 0 ELSE "
                    "(drift_bits * 1000) div n_tokens_a END"
                    " AS drift_millibits_per_token"))


def token_drift_report_sql(n_batches: int = N_BATCHES) -> str:
    """DuckDB dual of :func:`token_drift_report`."""
    from ..functions.hashing import hash60_sql

    if int(n_batches) < 2:
        raise ValueError("n_batches must be >= 2 (drift needs a pair)")

    norm = normalize_sql("text")
    bucket = _BUCKET_SQL_T.format(h=hash60_sql("u.word"))
    pairs = [(a, b) for a in range(n_batches) for b in range(n_batches)
             if a != b]
    csel = ",\n         ".join(
        f"CAST(SUM(CASE WHEN batch = {b} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c{b}" for b in range(n_batches))
    tsel = ", ".join(f"SUM(c{b}) OVER () AS t{b}"
                     for b in range(n_batches))
    bsel = ", ".join(f"{_bits_sql(f't{b}', f'c{b}')} AS bits{b}"
                     for b in range(n_batches))
    dsel = ",\n       ".join(
        f"CAST(SUM(c{a} * (bits{b} - bits{a})) AS BIGINT) AS d{a}{b}"
        for a, b in pairs)
    nsel = ", ".join(f"CAST(MAX(t{b}) AS BIGINT) AS n{b}"
                     for b in range(n_batches))
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({a} AS BIGINT) AS batch_a, CAST({b} AS BIGINT)"
        f" AS batch_b, n{a} AS n_tokens_a, n{b} AS n_tokens_b,"
        f" d{a}{b} AS drift_bits FROM agg" for a, b in pairs)
    return f"""
WITH base AS (SELECT doc_id AS id, {norm} AS t FROM documents),
words AS (SELECT CAST(id % {n_batches} AS BIGINT) AS batch,
                 {bucket} AS bucket
          FROM base, UNNEST(string_split(t, ' ')) AS u(word)
          WHERE t <> ''),
counts AS (SELECT bucket, {csel} FROM words GROUP BY bucket),
tot AS (SELECT *, {tsel} FROM counts),
dim AS (SELECT *, {bsel} FROM tot),
agg AS (SELECT {dsel},
       {nsel} FROM dim),
pairs AS ({rows})
SELECT batch_a, batch_b, n_tokens_a, n_tokens_b, drift_bits,
       CASE WHEN n_tokens_a = 0 THEN 0
            ELSE (drift_bits * 1000) // n_tokens_a END
         AS drift_millibits_per_token
FROM pairs"""
