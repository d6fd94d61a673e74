"""Exact-phrase search over a positional inverted index.

The retrieval counterpart of bm25.py's bag-of-words ranking: find every
document containing a multi-token phrase VERBATIM, via the classic
positional-postings algorithm — postings carry token positions, a phrase
of terms t₀..t_{n−1} matches at anchor position p iff term tᵢ occurs at
p+i for every i. The anchor trick makes this ONE aggregation: each
matching posting votes for anchor = pos − term_idx, and an anchor with
all n distinct term indexes present is a verbatim occurrence (duplicate
terms inside the phrase are handled by counting DISTINCT indexes).

Scale design (mirrors bm25.py, `bm25.py:35` shuffle contract): the query
phrase table (a few rows) BROADCASTS and restricts postings BEFORE any
shuffle, so the groupBy(query, doc, anchor) aggregation touches only
postings whose term appears in some phrase — |matching postings| rows,
never corpus tokens. Everything is JVM codegen; positions come from one
posexplode in the scan projection.

Output: (query_id, doc_id, n_occ, first_pos) — occurrence count and the
1-based position of the first match, both exact ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql

_ORACLE_MAX_POS = 5000  # loud-failure bound, same policy as dedup/cdc


def _qterm_rows(phrases: list[tuple[int, str]]) -> list[tuple[int, int, str, int]]:
    rows = []
    for qid, phrase in phrases:
        toks = phrase.split(" ")
        rows.extend((qid, i, t, len(toks)) for i, t in enumerate(toks))
    return rows


def phrase_search(docs: DataFrame,
                  phrases: list[tuple[int, str]]) -> DataFrame:
    """(query_id, doc_id, n_occ, first_pos) for every document containing
    each phrase verbatim (whitespace tokens of the normalized text)."""
    spark = docs.sparkSession
    qterms = spark.createDataFrame(
        _qterm_rows(phrases), "qid int, tidx int, term string, qlen int")
    post = (docs
            .select(F.col("doc_id").alias("id"),
                    normalize_col(F.col("text")).alias("_t"))
            .select("id", F.posexplode(F.split("_t", " "))
                    .alias("pos0", "term")))
    cand = (post.join(F.broadcast(qterms), "term")
            .select("qid", "id",
                    (F.col("pos0") + 1 - F.col("tidx")).alias("anchor"),
                    "tidx", "qlen")
            .where(F.col("anchor") >= 1))
    hits = (cand.groupBy("qid", "id", "anchor")
            .agg(F.countDistinct("tidx").alias("nt"),
                 F.first("qlen").alias("qlen"))
            .where(F.col("nt") == F.col("qlen")))
    return (hits.groupBy("qid", "id")
            .agg(F.count("*").cast("long").alias("n_occ"),
                 F.min("anchor").cast("long").alias("first_pos"))
            .select(F.col("qid").cast("long").alias("query_id"),
                    F.col("id").alias("doc_id"), "n_occ", "first_pos"))


def phrase_search_sql(phrases: list[tuple[int, str]],
                      rel: str = "documents") -> str:
    norm = normalize_sql("text")
    guard = (f"CASE WHEN length({norm}) > {_ORACLE_MAX_POS} THEN "
             f"error('oracle phrase bound {_ORACLE_MAX_POS} exceeded') "
             f"ELSE {norm} END")
    # SQL-escape query terms (double the single quotes) so phrases with
    # apostrophes produce valid VALUES rows instead of broken SQL.
    vals = ", ".join(f"({q}, {i}, '{t.replace(chr(39), chr(39) * 2)}', {n})"
                     for q, i, t, n in _qterm_rows(phrases))
    return f"""WITH norm AS (SELECT doc_id AS id, {guard} AS t FROM {rel}),
toks AS (SELECT id, string_split(t, ' ') AS l FROM norm),
series AS (SELECT i FROM generate_series(1, {_ORACLE_MAX_POS}) s(i)),
post AS (SELECT id, i AS pos, l[i] AS term
         FROM toks JOIN series ON i <= len(l)),
qterms(qid, tidx, term, qlen) AS (VALUES {vals}),
cand AS (SELECT q.qid, p.id, p.pos - q.tidx AS anchor, q.tidx, q.qlen
         FROM post p JOIN qterms q USING (term) WHERE p.pos - q.tidx >= 1),
hits AS (SELECT qid, id, anchor
         FROM cand GROUP BY qid, id, anchor, qlen
         HAVING COUNT(DISTINCT tidx) = qlen)
SELECT CAST(qid AS BIGINT) AS query_id, id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(MIN(anchor) AS BIGINT) AS first_pos
FROM hits GROUP BY qid, id"""
