"""Collocation extraction — PMI-ranked adjacent word pairs.

The corpus-analysis pass behind tokenizer sanity checks and phrase mining
("new york", "machine learning"): rank adjacent word pairs by pointwise
mutual information. PMI = log2( p(ab) / (p(a)·p(b)) ); since log2 is
monotone, the RANKING only needs the likelihood ratio, so this operator
never takes a log at all (the repo's no-libm discipline): the score is the
exact 2^10-scaled integer ratio

    lr_q10 = (n_ab · N_uni · N_uni · 2^10) div (n_a · n_b · N_bg)

with N_uni total unigram occurrences and N_bg total bigram occurrences —
one int64 expression, identical in both engines. Int64 bound: the product
``n_ab · N_uni² · 2^10`` requires ``N_uni ≲ 3·10^6 · sqrt(1/n_ab)``-ish
corpora; past that, factor the ratio into two floored divisions (same
expression in both engines keeps parity) or lift to DECIMAL(38,0) — the
bound is documented rather than silently truncated (cf. bm25.py).

Pairs below ``MIN_PAIR`` occurrences are cut (PMI is noise at singleton
counts — standard practice), then the top ``TOPK`` by (lr_q10 DESC, pair
ASC) are reported — a total order, hash-gate stable.

Scale shape: two map-side-combinable groupBys (unigrams, bigrams) + one
broadcast of the two scalar totals via the constant-key idiom + the final
top-k window over the ≥MIN_PAIR candidate set (for a skew-heavy candidate
set, :mod:`.skew`'s salted_topk is the drop-in scale path for this final
rank). No Python, no corpus-wide window.

Reference analogue: `/root/reference/geoindicators/src/main/groovy/org/
orbisgis/geoclimate/geoindicators/GenericIndicators.groovy:339-398`
``typeProportion`` — co-occurrence shares over a categorical domain; here
the domain is the token vocabulary and the statistic is a ratio of shares.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql

MIN_PAIR = 3
TOPK = 20
LR_SHIFT = 10


def pmi_collocations(docs: DataFrame) -> DataFrame:
    """Top-k collocations: (pair, n_ab, n_a, n_b, lr_q10)."""
    toks = docs.select(
        F.split(normalize_col(F.col("text")), " ").alias("_t"))
    uni = (toks.select(F.explode("_t").alias("w"))
           .groupBy("w").agg(F.count("*").cast("long").alias("n")))
    bg = (toks.selectExpr(
        "explode(CASE WHEN size(_t) < 2 THEN array() "
        "ELSE transform(sequence(1, size(_t) - 1), "
        "i -> struct(element_at(_t, i) AS a, element_at(_t, i + 1) AS b)) "
        "END) AS p")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= MIN_PAIR))
    # scalar totals via the constant-key broadcast idiom (kmeans.py)
    tot_u = (uni.groupBy().agg(F.sum("n").cast("long").alias("n_uni"))
             .withColumn("_one", F.pmod(F.col("n_uni"), F.lit(1))))
    tot_b = (bg.groupBy().agg(F.sum("n_ab").cast("long").alias("n_bg"))
             .withColumn("_one", F.pmod(F.col("n_bg"), F.lit(1))))
    cand = (bg
            .join(uni.select(F.col("w").alias("a"),
                             F.col("n").alias("n_a")), "a")
            .join(uni.select(F.col("w").alias("b"),
                             F.col("n").alias("n_b")), "b")
            .withColumn("_one", F.pmod(F.col("n_ab"), F.lit(1)))
            .join(F.broadcast(tot_u), "_one")
            .join(F.broadcast(tot_b), "_one")
            .withColumn("lr_q10", F.expr(
                f"(n_ab * n_uni * n_uni * {1 << LR_SHIFT})"
                " div (n_a * n_b * n_bg)").cast("long"))
            .withColumn("pair", F.concat("a", F.lit(" "), "b")))
    w = Window.orderBy(F.col("lr_q10").desc(), F.col("pair").asc())
    return (cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= TOPK)
            .select("pair", "n_ab", "n_a", "n_b", "lr_q10"))


def pmi_collocations_sql(rel: str = "documents") -> str:
    """DuckDB dual of :func:`pmi_collocations`."""
    norm = normalize_sql("text")
    return f"""WITH toks AS (
  SELECT str_split({norm}, ' ') AS _t FROM {rel}),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(_t) AS w FROM toks) GROUP BY 1),
bg AS (
  SELECT p['a'] AS a, p['b'] AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM (SELECT unnest(CASE WHEN len(_t) < 2 THEN []
                ELSE list_transform(generate_series(1, len(_t) - 1),
                     i -> {{'a': _t[i], 'b': _t[i + 1]}}) END) AS p
        FROM toks)
  GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_PAIR}),
tot AS (SELECT (SELECT SUM(n) FROM uni) AS n_uni,
               (SELECT SUM(n_ab) FROM bg) AS n_bg),
cand AS (
  SELECT bg.a || ' ' || bg.b AS pair, bg.n_ab, ua.n AS n_a, ub.n AS n_b,
         CAST((bg.n_ab * t.n_uni * t.n_uni * {1 << LR_SHIFT})
              // (ua.n * ub.n * t.n_bg) AS BIGINT) AS lr_q10
  FROM bg JOIN uni ua ON bg.a = ua.w
          JOIN uni ub ON bg.b = ub.w
          CROSS JOIN tot t)
SELECT pair, n_ab, n_a, n_b, lr_q10 FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY lr_q10 DESC, pair ASC) AS _rn
  FROM cand) WHERE _rn <= {TOPK}"""
