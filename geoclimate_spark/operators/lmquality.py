"""Char-bigram LM perplexity-proxy quality filter — the CCNet stage.

CCNet/Dolma-style corpora keep or drop documents by language-model
perplexity: a small LM is trained on a trusted slice, every candidate
document is scored by average per-token surprisal, and high-perplexity
(gibberish, boilerplate soup, OCR noise) documents are cut. This operator
grafts that stage with a character-bigram LM trained IN-QUERY on a
deterministic corpus slice — the same train-inside-the-query discipline as
:mod:`.langid` (profiles) and :mod:`.kmeans` (centroids).

Reference analogue: the rule-table-driven quality filters of
`/root/reference/osm/src/main/.../InputDataFormatting.groovy:48-193`
(regex + threshold tables deciding which rows survive) — here the "table"
is a learned bigram surprisal map and the threshold is on mean surprisal.

No libm anywhere: the classic score is Σ −log2 p(c_i | c_{i−1}), and
``log``/``ln`` differ across engines in the last ulp. Instead:

* add-one smoothed conditional surprisal per bigram, kept RATIONAL:
  ``surp_scaled = ((n_prefix + V) * 2^10) div (n_bigram + 1)`` — exact
  int64 (n_prefix ≤ corpus chars ≈ 10^12 at 100 TB; ·2^10 ≪ 2^63), and
  ≥ 2^10 because n_bigram ≤ n_prefix;
* integer floor-log2 via the binary-string length identity
  ``floor(log2(x)) = length(bin(x)) − 1`` — ``bin``/``length`` are
  string-exact in BOTH Spark and DuckDB (verified 1/5/1023/1024), so the
  per-bigram "bits" are integers that agree bit-for-bit;
* a document's score is the SUM of integer bits over its bigram
  occurrences; out-of-vocabulary bigrams get a penalty DERIVED from the
  trained LM (max seen bits + ``OOV_MARGIN_BITS``) so OOV always scores
  strictly worse than the rarest seen bigram at every corpus scale; the
  only double is the final mean-bits-per-bigram division.

``bits ≈ log2(surprisal) + 10``: a bigram seen as often as its prefix
scores ~10, a one-in-a-million bigram ~30. The keep-threshold is on the
mean, like CCNet's per-language perplexity cutoffs.

Scale shape: the LM is (distinct train bigrams) rows — alphabet², a
broadcast constant. Candidate documents explode to bigram occurrences
JVM-side (codegen ``sequence`` + ``substring``), one BROADCAST join tags
each occurrence with its bits, one groupBy(doc) sums — no shuffle wider
than one row per doc after the partial agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (bigrams_col as _bigrams_col,
                              bigrams_sql as _bigrams_sql,
                              normalize_col, normalize_sql)

TRAIN_MOD = 3          # doc_id % TRAIN_MOD == 0 -> training slice
SURP_SHIFT = 10        # surprisal scale 2^10
# OOV penalty margin: an unseen bigram scores MAX(seen bits) + this. The
# penalty is DERIVED from the trained LM, not a literal — a fixed literal
# would fall below the seen-bigram ceiling once prefix counts grow past
# 2^(literal - 10) (at 10^12 corpus chars seen bits reach ~50), silently
# scoring gibberish better than rare-but-real text.
OOV_MARGIN_BITS = 2
KEEP_MAX_MEAN_BITS = 11.95  # keep docs with mean bits <= this


def train_bigram_lm(docs: DataFrame) -> DataFrame:
    """(bigram, bits): integer surprisal bits of every bigram seen in the
    deterministic training slice. V (add-one vocabulary size) = distinct
    first-chars + 1, a deterministic integer derived from the slice."""
    train = (docs.where(F.col("text").isNotNull()
                        & (F.col("doc_id") % TRAIN_MOD == 0))
             .select(normalize_col(F.col("text")).alias("_norm")))
    from pyspark.sql import Window

    bg = (train.select(F.explode(_bigrams_col("_norm")).alias("bigram"))
          .groupBy("bigram").agg(F.count("*").alias("n_bg")))
    # V rides as a global window count over the alphabet-sized prefix frame
    # (≤ |alphabet| rows in ONE partition — not a scalar-subquery join,
    # which would plan as a 1-row BroadcastNestedLoopJoin)
    pre = (bg.groupBy(F.substring("bigram", 1, 1).alias("_pfx"))
           .agg(F.sum("n_bg").alias("n_pre"))
           .withColumn("_v", F.count("*").over(
               Window.partitionBy(F.lit(1))) + 1))
    surp = (bg.join(pre, F.substring(bg["bigram"], 1, 1) == pre["_pfx"])
            .select("bigram",
                    ((F.col("n_pre") + F.col("_v"))
                     * F.lit(1 << SURP_SHIFT).cast("long"))
                    .cast("long").alias("_num"),
                    (F.col("n_bg") + 1).alias("_den")))
    scaled = surp.select(
        "bigram", F.expr("_num div _den").alias("_surp"))
    return scaled.select(
        "bigram",
        (F.length(F.expr("bin(_surp)")) - 1).cast("long").alias("bits"))


def lm_quality_scores(docs: DataFrame) -> DataFrame:
    """Per-doc LM quality: (doc_id, n_bigrams, total_bits, mean_bits, keep).
    Docs whose normalized text has no bigram (len < 2) are dropped — their
    mean is undefined and real pipelines cut them on length first."""
    lm = train_bigram_lm(docs)
    # derived OOV penalty = MAX(seen bits) + margin: a 1-row aggregate of
    # the LM, attached to the occurrence stream through the column-derived
    # constant-key broadcast (kmeans idiom — a literal key would fold into
    # a BNLJ; a window over occ would be a one-partition scale-killer)
    oov = (lm.agg((F.max("bits") + F.lit(OOV_MARGIN_BITS)).cast("long")
                  .alias("_oov")))
    # the join key must stay non-NULL when the training slice is EMPTY
    # (max over zero rows is NULL): a NULL key would drop every document
    # on the Spark side while the DuckDB dual's CROSS JOIN keeps them with
    # NULL scores — coalesce keeps both engines at "NULL scores", parity
    occ = (docs.where(F.col("text").isNotNull())
           .select(F.col("doc_id"),
                   normalize_col(F.col("text")).alias("_norm"))
           .select("doc_id", F.explode(_bigrams_col("_norm")).alias("bigram"))
           .withColumn("_one", F.pmod(F.crc32(F.col("bigram")), F.lit(1)))
           .join(F.broadcast(oov.withColumn(
               "_one", F.pmod(F.coalesce(F.col("_oov"), F.lit(0)),
                              F.lit(1)))), "_one"))
    scored = (occ.join(F.broadcast(lm), "bigram", "left")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_bigrams"),
                   F.sum(F.coalesce(F.col("bits"), F.col("_oov")))
                   .alias("total_bits")))
    mean = F.col("total_bits").cast("double") / F.col("n_bigrams").cast("double")
    return scored.select(
        "doc_id", "n_bigrams", "total_bits", mean.alias("mean_bits"),
        (mean <= F.lit(KEEP_MAX_MEAN_BITS)).alias("keep"))


# --------------------------------------------------------------- DuckDB dual
def lm_quality_sql(doc_rel: str = "documents") -> str:
    norm = normalize_sql("text")
    return f"""WITH train AS (
  SELECT {norm} AS _norm FROM {doc_rel}
  WHERE text IS NOT NULL AND doc_id % {TRAIN_MOD} = 0),
bg AS (
  SELECT bigram, COUNT(*) AS n_bg FROM (
    SELECT unnest({_bigrams_sql("_norm")}) AS bigram FROM train)
  GROUP BY bigram),
pre AS (
  SELECT substr(bigram, 1, 1) AS _pfx, SUM(n_bg) AS n_pre
  FROM bg GROUP BY _pfx),
v AS (SELECT COUNT(*) + 1 AS _v FROM pre),
lm AS (
  SELECT bigram,
         CAST(length(bin(((n_pre + _v) * {1 << SURP_SHIFT}) // (n_bg + 1)))
              AS BIGINT) - 1 AS bits
  FROM bg JOIN pre ON substr(bg.bigram, 1, 1) = pre._pfx CROSS JOIN v),
oov AS (SELECT CAST(MAX(bits) + {OOV_MARGIN_BITS} AS BIGINT) AS _oov FROM lm),
occ AS (
  SELECT doc_id, unnest({_bigrams_sql(norm)}) AS bigram
  FROM {doc_rel} WHERE text IS NOT NULL),
scored AS (
  SELECT o.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(COALESCE(l.bits, v._oov)) AS BIGINT) AS total_bits
  FROM occ o CROSS JOIN oov v LEFT JOIN lm l ON l.bigram = o.bigram
  GROUP BY o.doc_id)
SELECT doc_id, n_bigrams, total_bits,
       CAST(total_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS mean_bits,
       (CAST(total_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
         <= {KEEP_MAX_MEAN_BITS} AS keep
FROM scored"""
