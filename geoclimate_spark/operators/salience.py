"""Per-document term salience (tf·icf keyword extraction) — exact integers.

The corpus-curation sibling of text.py's quality metrics: for every
document, the k terms that most distinguish it from the corpus — term
frequency weighted by inverse collection frequency. The reference has no
NLP layer (closest shape: its per-unit type-proportion reporting,
`GenericIndicators.groovy:241` ff.); at web scale this op feeds tag/topic
routing and near-dup triage.

Exactness contract: the classic tf·idf = tf·ln(N/df) needs ``ln`` — a libm
call with no cross-engine bit guarantee. This operator ranks by the exact
INTEGER surrogate ``score = (tf · 2^30) div df`` instead: a monotone
transform of tf/df (all ratios distinct at fixture scale keep their order;
equal scores tie-break on the term string), so the winner set is a pure
integer computation DuckDB replays bit-for-bit. tf ≤ doc length and
df ≤ corpus size keep ``tf·2^30`` far inside int64.

Scale shape: token explode is codegen (`split` on the shared normalized
form); tf = one groupBy (doc, term); df = one groupBy (term) — a
term-keyed dim table joined back on the term key (shuffled hash join at
web scale, broadcastable when the vocabulary is small); top-k = one window
on doc_id. Three shuffles, each on a natural key; no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql

TOP_K = 3
_SCALE = 1 << 30


def doc_top_terms(docs: DataFrame) -> DataFrame:
    """Top-``TOP_K`` salient terms per document by (tf·2^30) div df, term-asc
    tie-break. Returns (doc_id, rank, term, tf, df, score)."""
    toks = (docs.where(F.col("text").isNotNull())
            .select(F.col("doc_id"),
                    F.explode(F.split(normalize_col(F.col("text")), " "))
                    .alias("term"))
            .where(F.col("term") != ""))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df"))
    scored = (tf.join(df_, "term")
              .withColumn("score",
                          F.expr(f"(tf * {_SCALE}L) div df").cast("long")))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                             F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOP_K)
            .select("doc_id", F.col("rank").cast("long").alias("rank"),
                    "term", F.col("tf").cast("long").alias("tf"), "df",
                    "score"))


def doc_top_terms_sql(doc_rel: str = "documents") -> str:
    norm = normalize_sql("text")
    return f"""WITH toks AS (
  SELECT doc_id, t.term
  FROM (SELECT doc_id, {norm} AS _norm FROM {doc_rel}
        WHERE text IS NOT NULL) d,
       LATERAL (SELECT unnest(string_split(d._norm, ' ')) AS term) t
  WHERE t.term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       FROM toks GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST((tf.tf * {_SCALE}) // df.df AS BIGINT) AS score
  FROM tf JOIN df ON tf.term = df.term)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
       CAST(tf AS BIGINT) AS tf, df, score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rank
      FROM scored)
WHERE rank <= {TOP_K}"""
