"""Training-data mixture planner — token budgeting per corpus slice.

A training run fixes a TOTAL token budget and a target share per slice
(language here; domain/source in general — Gopher Table A1, LLaMA Table 1,
Dolma §4 all publish exactly this table). Planning the mixture from a
corpus is one aggregation: tokens available per slice (from the frozen
tokenizer of :mod:`.bpeencode`), target tokens per slice, and the epoch
count (how many times the slice must repeat to fill its share — >1 means
oversampling, the number those papers report as "epochs").

geoclimate analogue: ``typeProportion`` (GenericIndicators.groovy:339-398)
— shares of a whole per class — composed with the apply-a-frozen-artifact
serving stance of the RF path; the novelty is only WHAT is shared (tokens
under a tokenizer, not m² under a zone).

Exactness: everything is int64. Target tokens use basis points
(``share_bp * budget // 10000`` — floor division, both engines' integer
``/``-analogue is ``DIV``/``//`` so the SQL dual uses explicit
``CAST(... AS BIGINT)`` over ``//``); epochs are ceiling division
``(target + avail - 1) // avail``. No floats anywhere.

Scale shape: the per-doc encode is shuffle-free (bpeencode module doc);
the rollup is ONE partial-agg shuffle on ``lang`` (5 groups); the share
table is a literal broadcast. At 10^12 docs this is a single map-reduce
pass — the cheapest shape there is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bpeencode import bpe_encode_sql, bpe_encode_stats, corpus_token_budget

# Frozen mixture targets in basis points (sum = 10000) and the run's token
# budget. A real pipeline would load these from the training config.
TARGET_SHARES_BP: list[tuple[str, int]] = [
    ("en", 4000), ("zh", 2000), ("de", 2000), ("es", 1000), ("fr", 1000),
]
TOKEN_BUDGET = 1_000_000


def mixture_plan(spark: SparkSession, docs: DataFrame,
                 shares_bp: list[tuple[str, int]] | None = None,
                 budget: int = TOKEN_BUDGET) -> DataFrame:
    """(lang, n_docs, avail_tokens, share_bp, target_tokens, n_epochs,
    deficit_tokens): the mixture table a sampler consumes. ``n_epochs`` is
    ceil(target/avail); ``deficit_tokens = n_epochs*avail - target`` is the
    over-shoot the sampler trims by subsampling the final epoch."""
    shares = shares_bp or TARGET_SHARES_BP
    stats = bpe_encode_stats(docs)
    avail = (corpus_token_budget(stats, docs)
             .withColumnRenamed("total_tokens", "avail_tokens")
             .drop("total_chars"))
    share_df = spark.createDataFrame(
        [(lang, bp) for lang, bp in shares], "lang string, share_bp long")
    # floor division via integral DIV to match the SQL dual's `//` exactly
    target = F.expr(f"CAST(share_bp * {int(budget)} DIV 10000 AS LONG)")
    epochs = F.expr("CAST((target_tokens + avail_tokens - 1)"
                    " DIV avail_tokens AS LONG)")
    return (avail.join(F.broadcast(share_df), "lang")
            .withColumn("target_tokens", target)
            .withColumn("n_epochs", epochs)
            .withColumn("deficit_tokens",
                        (F.col("n_epochs") * F.col("avail_tokens")
                         - F.col("target_tokens")).cast("long"))
            .select("lang", "n_docs", "avail_tokens", "share_bp",
                    "target_tokens", "n_epochs", "deficit_tokens"))


# --------------------------------------------------------------- DuckDB dual
def mixture_plan_sql() -> str:
    values = ", ".join(f"('{lang}', CAST({bp} AS BIGINT))"
                       for lang, bp in TARGET_SHARES_BP)
    enc = bpe_encode_sql()
    return f"""
WITH enc AS ({enc}),
avail AS (
  SELECT d.lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(e.n_tokens) AS BIGINT) AS avail_tokens
  FROM enc e JOIN documents d USING (doc_id)
  GROUP BY d.lang
), shares(lang, share_bp) AS (VALUES {values}),
planned AS (
  SELECT a.lang, a.n_docs, a.avail_tokens, s.share_bp,
         CAST(s.share_bp * {TOKEN_BUDGET} // 10000 AS BIGINT) AS target_tokens
  FROM avail a JOIN shares s USING (lang)
)
SELECT lang, n_docs, avail_tokens, share_bp, target_tokens,
       CAST((target_tokens + avail_tokens - 1) // avail_tokens AS BIGINT)
         AS n_epochs,
       CAST((target_tokens + avail_tokens - 1) // avail_tokens * avail_tokens
            - target_tokens AS BIGINT) AS deficit_tokens
FROM planned"""


# ----------------------------------------- temperature-scaled sampling plan
# The mT5/XLM-R alternative to frozen target shares: sample slice l with
# probability ∝ (size_l)^alpha, alpha = 1/2 here — upweights tail languages
# without drowning the head. Exactness: n^(1/2) is isqrt, computed as
# floor(sqrt(double)) then CORRECTED by one step in each direction —
# for n < 2^52 the double sqrt is within 0.5 ulp so the true isqrt is
# within ±1 of the floored double, and the correction makes the result
# EXACT in both engines regardless of their libm rounding. The budget is
# then apportioned by the same largest-remainder rule as
# :func:`mixture_plan`'s tests (Σ target == budget, ties by slice name).
# All windows run over the ≤|slices|-row rollup — constant-size state.


def _isqrt_sql(x: str) -> str:
    s = f"CAST(FLOOR(SQRT(CAST({x} AS DOUBLE))) AS BIGINT)"
    return (f"({s} + (CASE WHEN ({s} + 1) * ({s} + 1) <= {x} THEN 1 ELSE 0 END)"
            f" - (CASE WHEN {s} * {s} > {x} THEN 1 ELSE 0 END))")


def temperature_mixture(docs: DataFrame) -> DataFrame:
    """(lang, n_docs, avail_chars, weight, target_tokens): per-slice budget
    ∝ isqrt(avail_chars), exact largest-remainder apportionment."""
    from pyspark.sql import Window
    rolled = (docs.groupBy("lang")
              .agg(F.count("*").cast("long").alias("n_docs"),
                   F.sum("n_chars").cast("long").alias("avail_chars"))
              .withColumn("weight",
                          F.expr(_isqrt_sql("avail_chars")).cast("long")))
    w_all = Window.partitionBy()          # ≤ |slices| rows — constant size
    b = TOKEN_BUDGET
    rolled = (rolled
              .withColumn("_tw", F.sum("weight").over(w_all))
              .withColumn("_base", F.expr(f"(weight * {b}) div _tw"))
              .withColumn("_rem", F.expr(f"(weight * {b}) % _tw"))
              .withColumn("_extra_n", F.expr(f"{b} - sum(_base) over ()"))
              .withColumn("_rk", F.row_number().over(
                  Window.partitionBy().orderBy(
                      F.col("_rem").desc(), F.col("lang").asc()))))
    return rolled.select(
        "lang", "n_docs", "avail_chars", "weight",
        (F.col("_base") + (F.col("_rk") <= F.col("_extra_n")).cast("long"))
        .cast("long").alias("target_tokens"))


def temperature_mixture_sql() -> str:
    """DuckDB dual of :func:`temperature_mixture`."""
    b = TOKEN_BUDGET
    return f"""WITH rolled AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS avail_chars
  FROM documents GROUP BY 1),
weighted AS (
  SELECT *, CAST({_isqrt_sql("avail_chars")} AS BIGINT) AS weight
  FROM rolled),
apportioned AS (
  SELECT *,
         SUM(weight) OVER () AS _tw,
         (weight * {b}) // SUM(weight) OVER () AS _base,
         (weight * {b}) % SUM(weight) OVER () AS _rem
  FROM weighted),
ranked AS (
  SELECT *,
         {b} - SUM(_base) OVER () AS _extra_n,
         ROW_NUMBER() OVER (ORDER BY _rem DESC, lang ASC) AS _rk
  FROM apportioned)
SELECT lang, n_docs, avail_chars, weight,
       CAST(_base + (CASE WHEN _rk <= _extra_n THEN 1 ELSE 0 END)
            AS BIGINT) AS target_tokens
FROM ranked"""
