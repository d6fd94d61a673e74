"""Code-switching detection: chunk-level language mixing per document.

Document-level language ID (:mod:`langid`) assigns ONE label per page, but
real web documents mix languages — boilerplate in one language wrapping
content in another, bilingual pages, quoted passages. A per-language
curation pipeline (per-lang dedup, per-lang sampling quotas) mislabels the
minority tokens of every mixed page unless it measures mixing first. This
operator composes two existing primitives: the document is cut into
non-overlapping token windows (:mod:`chunker` machinery), each chunk is
classified with the SAME deterministic Cavnar–Trenkle profiles as
:mod:`langid` (trained once, document-level slice), and the per-doc rollup
reports how concentrated the chunk labels are:

    (doc_id, doc_lang, n_chunks, n_chunk_langs, majority_lang,
     majority_millis, switch_millis)

``majority_millis`` = 1000·(majority-label chunk count)/n_chunks (argmax
with (count DESC, lang ASC) tie-break); ``switch_millis`` = 1000 −
majority_millis — 0 for monolingual pages, large for heavy mixers.

Scale shape: profiles stay a broadcast constant (n_langs × n_top rows);
chunk bigrams explode JVM-side; scoring is a broadcast join + one
groupBy(doc, chunk, lang) with map-side combine + per-(doc, chunk) argmax
window (never a corpus-global window); the doc rollup is two more
combinable aggs. No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import bigrams_col, normalize_sql
from .chunker import chunk_documents
from .langid import N_TOP, TRAIN_MOD, lang_profiles

CS_WINDOW = 16  # non-overlapping chunks: stride == window


def code_switch_scores(docs: DataFrame) -> DataFrame:
    """Per-document chunk-level language mixing report (see module doc)."""
    profiles = lang_profiles(docs)
    # persist: the chunk subtree feeds both the bigram explode and the
    # per-chunk spine — without it the normalize/split/chunk-explode scan
    # (the most expensive projection) runs twice
    chunks = (chunk_documents(docs, window=CS_WINDOW, stride=CS_WINDOW)
              .select("doc_id", "chunk_id",
                      F.col("chunk_text").alias("_norm"))
              .persist())
    grams = chunks.select("doc_id", "chunk_id",
                          F.explode(bigrams_col("_norm")).alias("bigram"))
    scores = (grams.join(F.broadcast(profiles), "bigram")
              .groupBy("doc_id", "chunk_id", "lang")
              .agg(F.sum("weight").cast("long").alias("score")))
    wc = Window.partitionBy("doc_id", "chunk_id").orderBy(
        F.col("score").desc(), F.col("lang").asc())
    best = (scores.withColumn("_rk", F.row_number().over(wc))
            .where(F.col("_rk") == 1)
            .select("doc_id", "chunk_id", F.col("lang").alias("_pred")))
    per_chunk = (chunks.select("doc_id", "chunk_id")
                 .join(best, ["doc_id", "chunk_id"], "left")
                 .select("doc_id", "chunk_id",
                         F.coalesce(F.col("_pred"), F.lit("und"))
                         .alias("chunk_lang")))
    lang_counts = (per_chunk.groupBy("doc_id", "chunk_lang")
                   .agg(F.count("*").alias("_n")))
    wd = Window.partitionBy("doc_id").orderBy(
        F.col("_n").desc(), F.col("chunk_lang").asc())
    rolled = (lang_counts
              .withColumn("_rk", F.row_number().over(wd))
              .groupBy("doc_id")
              .agg(F.sum("_n").cast("long").alias("n_chunks"),
                   F.count("*").cast("long").alias("n_chunk_langs"),
                   F.min(F.when(F.col("_rk") == 1, F.col("chunk_lang")))
                   .alias("majority_lang"),
                   F.max(F.when(F.col("_rk") == 1, F.col("_n")))
                   .cast("long").alias("_maj")))
    doc_lang = docs.select(F.col("doc_id"),
                           F.col("lang").alias("doc_lang"))
    return (doc_lang.join(rolled, "doc_id")
            .select("doc_id", "doc_lang", "n_chunks", "n_chunk_langs",
                    "majority_lang",
                    F.expr("(_maj * 1000) div n_chunks")
                    .alias("majority_millis"))
            .withColumn("switch_millis",
                        (F.lit(1000) - F.col("majority_millis"))
                        .cast("long")))


def code_switch_scores_sql() -> str:
    """DuckDB dual of :func:`code_switch_scores` — profile CTEs mirror
    langid.lang_confusion_sql, chunk CTEs mirror chunker SQL with
    stride == window."""
    norm = normalize_sql("text")
    return f"""
WITH base AS (
  SELECT doc_id, lang AS lang_true, {norm} AS _norm
  FROM documents WHERE text IS NOT NULL),
tgrams AS (
  SELECT t.*, substring(t._norm, CAST(p.i AS INT), 2) AS bigram
  FROM base t, LATERAL (SELECT unnest(range(1,
       greatest(length(t._norm), 1))) AS i) p),
counts AS (
  SELECT lang_true AS lang, bigram, COUNT(*) AS _n
  FROM tgrams WHERE doc_id % {TRAIN_MOD} = 0
  GROUP BY 1, 2),
profiles AS (
  SELECT lang, bigram, CAST({N_TOP} + 1 - _rk AS BIGINT) AS weight
  FROM (SELECT lang, bigram, _n,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY _n DESC, bigram ASC) AS _rk
        FROM counts)
  WHERE _rk <= {N_TOP}),
tokenized AS (
  SELECT doc_id AS doc_id, string_split(_norm, ' ') AS toks,
         CASE WHEN _norm = '' THEN 0
              ELSE len(string_split(_norm, ' ')) END AS n
  FROM base),
counted AS (
  SELECT doc_id, toks, n,
         CASE WHEN n = 0 THEN 0 WHEN n <= {CS_WINDOW} THEN 1
              ELSE 1 + (n - {CS_WINDOW} + {CS_WINDOW} - 1) // {CS_WINDOW} END AS nc
  FROM tokenized),
chunks AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_id,
         array_to_string(list_slice(toks, u.i * {CS_WINDOW} + 1,
                         least(u.i * {CS_WINDOW} + {CS_WINDOW}, n)), ' ') AS ct
  FROM counted, LATERAL unnest(range(0, nc)) AS u(i)),
cgrams AS (
  SELECT c.doc_id, c.chunk_id, substring(c.ct, CAST(p.i AS INT), 2) AS bigram
  FROM chunks c, LATERAL (SELECT unnest(range(1,
       greatest(length(c.ct), 1))) AS i) p),
scores AS (
  SELECT g.doc_id, g.chunk_id, p.lang, SUM(p.weight) AS score
  FROM cgrams g JOIN profiles p ON g.bigram = p.bigram
  GROUP BY 1, 2, 3),
best AS (
  SELECT doc_id, chunk_id, lang AS _pred
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, chunk_id
                                     ORDER BY score DESC, lang ASC) AS _rk
        FROM scores)
  WHERE _rk = 1),
per_chunk AS (
  SELECT c.doc_id, c.chunk_id, COALESCE(b._pred, 'und') AS chunk_lang
  FROM chunks c LEFT JOIN best b
    ON c.doc_id = b.doc_id AND c.chunk_id = b.chunk_id),
lang_counts AS (
  SELECT doc_id, chunk_lang, COUNT(*) AS _n
  FROM per_chunk GROUP BY 1, 2),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY _n DESC, chunk_lang ASC) AS _rk
  FROM lang_counts),
rolled AS (
  SELECT doc_id, CAST(SUM(_n) AS BIGINT) AS n_chunks,
         CAST(COUNT(*) AS BIGINT) AS n_chunk_langs,
         MIN(CASE WHEN _rk = 1 THEN chunk_lang END) AS majority_lang,
         CAST(MAX(CASE WHEN _rk = 1 THEN _n END) AS BIGINT) AS _maj
  FROM ranked GROUP BY doc_id)
SELECT d.doc_id AS doc_id, d.lang AS doc_lang,
       r.n_chunks, r.n_chunk_langs, r.majority_lang,
       (r._maj * 1000) // r.n_chunks AS majority_millis,
       CAST(1000 - (r._maj * 1000) // r.n_chunks AS BIGINT)
         AS switch_millis
FROM documents d JOIN rolled r ON d.doc_id = r.doc_id"""
