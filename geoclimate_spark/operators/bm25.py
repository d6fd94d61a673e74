"""BM25 full-text retrieval over the documents table — the webtext search
baseline (Robertson-Spärck Jones probabilistic ranking, the default scorer
of Lucene/Elasticsearch and the sparse half of hybrid RAG retrieval).

Reference analogue: the min-distance classifier's argmin-over-broadcast-dim
shape (`/root/reference/geoindicators/.../TypologyClassification.groovy`
LCZ distance ranking) — here the "dim" is the query-term set and the
ranking key is a relevance score instead of a distance.

Exactness (the repo's fixed-double-expression discipline, cf. smbr.py):

* document frequency ``df`` and corpus stats N (docs), L (total corpus
  tokens) are exact integers;
* idf uses the integer floor-log2 surrogate of :mod:`.lmquality`:
  ``idf_bits = length(bin(((N - df) * 2^10) div df + 1)) - 1`` — a
  monotone staircase of the Robertson idf ``log((N-df+.5)/(df+.5))``,
  identical across engines because ``bin``/``length`` are string-exact
  (+1 keeps the argument >= 1 so bin() is defined even at df = N);
* the BM25 term weight with k1 = 6/5 and b = 3/4 multiplies out to the
  rational form ``(44 * tf * L) / (20*L*tf + 6*L + 18*dl*N)``, kept as a
  2^20-SCALED INTEGER division — the per-(query, doc) score is then an
  int64 SUM of ``idf_bits * w_scaled`` terms, immune to the
  addition-order nondeterminism a double sum would have across engines
  and partitionings; one double division (/2^20) per OUTPUT row converts
  the exact integer to the reported score;
* int64 bound: ``44 * tf * L * 2^20 < 2^63`` holds to ~2·10^11 corpus
  tokens at tf ≤ 100; past that, lower ``W_SHIFT`` (score resolution) —
  the bound is documented here rather than silently truncated;
* top-k by (score DESC, doc_id ASC) — a total order even under ties.

Scale shape: the query set is a literal broadcast dim (Q terms); the df
table for query terms is alphabet-bounded and broadcast back. The document
side explodes to DISTINCT (doc, term, tf) rows for query terms ONLY —
predicate pushdown via a broadcast semi-join keeps the inverted-index
shuffle at |matching postings|, not corpus tokens. Top-k is a per-query
window over ≤ |postings| candidate rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql, tokens_col

BM25_TOPK = 5
IDF_SHIFT = 10
W_SHIFT = 20           # term-weight scale 2^20 (see int64 bound above)


def _doc_terms(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, dl, term, tf): whitespace-token postings with per-doc term
    frequency and doc length (in tokens)."""
    norm = normalize_col(F.col(text_col))
    base = (docs.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    tokens_col(norm).alias("_tk")))
    return (base.select("id", F.size("_tk").cast("long").alias("dl"),
                        F.explode("_tk").alias("term"))
            .groupBy("id", "dl", "term")
            .agg(F.count("*").cast("long").alias("tf")))


def bm25_topk(docs: DataFrame, queries: list[tuple[int, list[str]]],
              k: int = BM25_TOPK) -> DataFrame:
    """(query_id, rank, doc_id, score): top-k docs per query by BM25.

    ``queries``: literal (query_id, [terms...]) pairs — terms are matched
    against whitespace tokens of the normalized text. Repeated query terms
    count once (standard bag-of-words query with binary query-side tf)."""
    if not queries:
        raise ValueError("bm25_topk: queries must be non-empty")
    spark = docs.sparkSession
    qdf = F.broadcast(spark.createDataFrame(
        [(qid, t) for qid, terms in queries for t in sorted(set(terms))],
        "query_id long, term string"))
    terms = _doc_terms(docs, "doc_id", "text")
    # corpus stats (exact ints) from the PRE-explode token frame — one scan
    # aggregate, not a groupBy over every posting
    norm = normalize_col(F.col("text"))
    stats = (docs.where(F.col("text").isNotNull())
             .select(F.size(tokens_col(norm)).cast("long").alias("_dl"))
             .agg(F.count("*").cast("long").alias("n_docs"),
                  F.sum("_dl").cast("long").alias("l_total")))
    # postings restricted to query terms FIRST (broadcast semi-join), so
    # the df agg and everything downstream touch only matching postings
    post = terms.join(F.broadcast(qdf.select("term").distinct()),
                      "term", "left_semi")
    df_ = post.groupBy("term").agg(
        F.countDistinct("id").cast("long").alias("df"))
    # attach the 1-row stats via a column-derived constant key (kmeans.py
    # idiom): a LITERAL key constant-folds out of the join condition and
    # Catalyst degrades to BroadcastNestedLoopJoin, which plan guards forbid
    dfs = (df_.withColumn("_one", F.pmod(F.col("df"), F.lit(1)))
           .join(F.broadcast(stats.withColumn(
               "_one", F.pmod(F.col("n_docs"), F.lit(1)))), "_one")
           .withColumn("idf_bits", (F.length(F.expr(
               f"bin(((n_docs - df) * {1 << IDF_SHIFT}) div df + 1)"))
               - 1).cast("long"))
           .drop("_one"))
    cand = (post.join(F.broadcast(qdf), "term")
            .join(F.broadcast(dfs), "term"))
    # exact int64 per-term weight: one integer division per posting, then
    # an ORDER-INDEPENDENT integer sum per (query, doc)
    w_num = (F.lit(44).cast("long") * F.col("tf") * F.col("l_total")
             * F.lit(1 << W_SHIFT).cast("long"))
    w_den = (F.lit(20).cast("long") * F.col("l_total") * F.col("tf")
             + F.lit(6).cast("long") * F.col("l_total")
             + F.lit(18).cast("long") * F.col("dl") * F.col("n_docs"))
    scored = (cand.withColumn("_wn", w_num).withColumn("_wd", w_den)
              .withColumn("_s", F.col("idf_bits") * F.expr("_wn div _wd"))
              .groupBy("query_id", "id")
              .agg(F.sum("_s").alias("score_scaled")))
    rk = Window.partitionBy("query_id").orderBy(
        F.col("score_scaled").desc(), F.col("id").asc())
    return (scored.withColumn("rank", F.row_number().over(rk))
            .where(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    F.col("id").alias("doc_id"),
                    (F.col("score_scaled").cast("double")
                     / F.lit(float(1 << W_SHIFT))).alias("score")))


# --------------------------------------------------------------- DuckDB dual
def bm25_topk_sql(queries: list[tuple[int, list[str]]], k: int = BM25_TOPK,
                  doc_rel: str = "documents") -> str:
    if not queries:
        raise ValueError("bm25_topk_sql: queries must be non-empty")
    norm = normalize_sql("text")
    # single quotes in terms are SQL-escaped (they cannot match a token of
    # the normalized text anyway, but a stray quote must not break the SQL)
    qvals = ", ".join(f"""({qid}, '{t.replace("'", "''")}')"""
                      for qid, terms in queries for t in sorted(set(terms)))
    return f"""WITH q(query_id, term) AS (VALUES {qvals}),
toks AS (
  SELECT doc_id AS id, string_split({norm}, ' ') AS _tk
  FROM {doc_rel} WHERE text IS NOT NULL),
terms AS (
  SELECT id, CAST(len(_tk) AS BIGINT) AS dl, unnest(_tk) AS term FROM toks),
tfs AS (
  SELECT id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM terms GROUP BY id, dl, term),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(_tk)) AS BIGINT) AS l_total
  FROM toks),
post AS (
  SELECT t.* FROM tfs t WHERE t.term IN (SELECT DISTINCT term FROM q)),
dfs AS (
  SELECT term,
         CAST(length(bin(((s.n_docs - x.df) * {1 << IDF_SHIFT}) // x.df + 1))
              AS BIGINT) - 1 AS idf_bits,
         s.n_docs, s.l_total
  FROM (SELECT term, CAST(COUNT(DISTINCT id) AS BIGINT) AS df
        FROM post GROUP BY term) x CROSS JOIN stats s),
scored AS (
  SELECT q.query_id, p.id,
         CAST(SUM(d.idf_bits
             * ((44 * p.tf * d.l_total * {1 << W_SHIFT})
                // (20 * d.l_total * p.tf + 6 * d.l_total
                    + 18 * p.dl * d.n_docs))) AS BIGINT) AS score_scaled
  FROM post p JOIN q ON q.term = p.term JOIN dfs d ON d.term = p.term
  GROUP BY q.query_id, p.id),
ranked AS (
  SELECT query_id, id, score_scaled,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_scaled DESC, id ASC) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS BIGINT) AS rank, id AS doc_id,
       CAST(score_scaled AS DOUBLE) / {float(1 << W_SHIFT)} AS score
FROM ranked WHERE rank <= {k}"""
