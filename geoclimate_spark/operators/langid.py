"""Language identification by character-n-gram profile matching.

The classic n-gram heuristic (Cavnar & Trenkle 1994, "N-Gram-Based Text
Categorization"): each language gets a profile of its most frequent
character bigrams; a document is classified to the profile its own bigrams
overlap most. The reference has no NLP layer (its classifier family is the
LCZ min-distance / random-forest pair this repo already grafts,
`TypologyClassification.groovy`); language-ID is the corpus-curation
counterpart a web-text pipeline runs before any per-language dedup or
sampling stage.

Determinism contract: profiles are TRAINED inside the query from a
deterministic slice of the labeled corpus (``doc_id % train_mod = 0`` — the
lang column is the supervision), ranked by (count DESC, bigram ASC) — a
total order — and truncated to the top ``n_top`` bigrams per language with
weight ``n_top + 1 − rank``. Scores are integer sums of weights over every
bigram OCCURRENCE; the winner is argmax with (score DESC, lang ASC)
tie-break. All integers end-to-end — the DuckDB dual replays bit-exactly.

Scale shape: the profile table is (n_langs × n_top) rows — a broadcast
constant. Document bigrams explode JVM-side (``sequence`` + ``substring``
inside codegen, no Python); the score is one broadcast hash join on the
bigram key + one groupBy on (doc, lang) + one argmax window on doc_id.
At 100 TB: no shuffle larger than the per-doc candidate-language fanout
(≤ n_langs rows per doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import bigrams_col as _bigrams_col
from ..functions.text import normalize_col, normalize_sql

N_TOP = 40
TRAIN_MOD = 3


def lang_profiles(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", lang_col: str = "lang",
                  n_top: int = N_TOP, train_mod: int = TRAIN_MOD) -> DataFrame:
    """Per-language top-``n_top`` bigram profile from the deterministic
    training slice. Returns (lang, bigram, weight) — weight n_top..1."""
    train = (docs.where(F.col(text_col).isNotNull()
                        & (F.col(id_col) % train_mod == 0))
             .select(F.col(lang_col).alias("lang"),
                     normalize_col(F.col(text_col)).alias("_norm")))
    grams = train.select("lang", F.explode(_bigrams_col("_norm")).alias("bigram"))
    counts = grams.groupBy("lang", "bigram").agg(F.count("*").alias("_n"))
    w = Window.partitionBy("lang").orderBy(F.col("_n").desc(),
                                           F.col("bigram").asc())
    return (counts.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= n_top)
            .select("lang", "bigram",
                    (F.lit(n_top + 1) - F.col("_rk")).cast("long")
                    .alias("weight")))


def classify_language(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", lang_col: str = "lang",
                      n_top: int = N_TOP,
                      train_mod: int = TRAIN_MOD) -> DataFrame:
    """Per-document predicted language. Returns
    (id_col, lang_true, lang_pred, score) — lang_pred = 'und' (score 0)
    when no profile bigram occurs in the document."""
    profiles = lang_profiles(docs, id_col, text_col, lang_col,
                             n_top, train_mod)
    base = (docs.where(F.col(text_col).isNotNull())
            .select(F.col(id_col), F.col(lang_col).alias("lang_true"),
                    normalize_col(F.col(text_col)).alias("_norm")))
    grams = base.select(id_col, "lang_true",
                        F.explode(_bigrams_col("_norm")).alias("bigram"))
    scores = (grams.join(F.broadcast(profiles), "bigram")
              .groupBy(id_col, "lang_true", "lang")
              .agg(F.sum("weight").cast("long").alias("score")))
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(),
                                           F.col("lang").asc())
    best = (scores.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select(id_col, F.col("lang").alias("_pred"),
                    F.col("score").alias("_score")))
    return (base.select(id_col, "lang_true")
            .join(best, id_col, "left")
            .select(id_col, "lang_true",
                    F.coalesce(F.col("_pred"), F.lit("und")).alias("lang_pred"),
                    F.coalesce(F.col("_score"), F.lit(0)).cast("long")
                    .alias("score")))


def lang_confusion(docs: DataFrame, **kw) -> DataFrame:
    """Confusion counts of the n-gram classifier against the labeled corpus:
    (lang_true, lang_pred, n_docs, total_score)."""
    return (classify_language(docs, **kw)
            .groupBy("lang_true", "lang_pred")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("score").cast("long").alias("total_score")))


# ------------------------------------------------------------------ oracle
def _bigrams_sql(norm: str) -> str:
    """DuckDB: one row per (1-based) bigram position via lateral range."""
    return (f"SELECT t.*, substring(t._norm, CAST(p.i AS INT), 2) AS bigram "
            f"FROM base t, LATERAL (SELECT unnest(range(1, "
            f"greatest(length(t._norm), 1))) AS i) p")


def lang_confusion_sql(doc_rel: str = "documents") -> str:
    norm = normalize_sql("text")
    return f"""WITH base AS (
  SELECT doc_id, lang AS lang_true, {norm} AS _norm
  FROM {doc_rel} WHERE text IS NOT NULL),
grams AS ({_bigrams_sql("_norm")}),
counts AS (
  SELECT lang_true AS lang, bigram, COUNT(*) AS _n
  FROM grams WHERE doc_id % {TRAIN_MOD} = 0
  GROUP BY 1, 2),
profiles AS (
  SELECT lang, bigram, CAST({N_TOP} + 1 - _rk AS BIGINT) AS weight
  FROM (SELECT lang, bigram, _n,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY _n DESC, bigram ASC) AS _rk
        FROM counts)
  WHERE _rk <= {N_TOP}),
scores AS (
  SELECT g.doc_id, g.lang_true, p.lang, SUM(p.weight) AS score
  FROM grams g JOIN profiles p ON g.bigram = p.bigram
  GROUP BY 1, 2, 3),
best AS (
  SELECT doc_id, lang AS _pred, score AS _score
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, lang ASC) AS _rk
        FROM scores)
  WHERE _rk = 1),
preds AS (
  SELECT b.doc_id, b.lang_true,
         COALESCE(p._pred, 'und') AS lang_pred,
         CAST(COALESCE(p._score, 0) AS BIGINT) AS score
  FROM base b LEFT JOIN best p ON b.doc_id = p.doc_id)
SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(score) AS BIGINT) AS total_score
FROM preds GROUP BY 1, 2"""
