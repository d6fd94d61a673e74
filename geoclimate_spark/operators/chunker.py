"""Overlapping token-window document chunking with provenance.

No reference analogue (GeoClimate chunks space into tiles, not text into
windows — the TILE analogy is exact though: ``Tiling.groovy``'s fixed grid
over geometry == a fixed token grid over a document). This is the
context-window preparation step of an LLM data pipeline: long documents are
split into windows of ``window`` tokens advancing by ``stride`` (overlap =
window − stride, so no boundary context is lost), each chunk carrying
(doc_id, chunk_id, token offsets) provenance so training examples trace back
to their source page — the dual of curation.packed_sequences, which PACKS
short docs; this SPLITS long ones.

Scale design: a pure codegen projection + controlled explode — tokens are
split once in the scan projection, chunk index ``i`` is generated with
``sequence``/``transform`` and posexplode, each output row re-joins its
slice of the SAME token array (no shuffle anywhere; output rows ≈
n_tokens/stride per doc, the factor a chunking pass inherently produces).
The whole operator rides the scan like qualityrules/pii — at 100 TB it is
embarrassingly parallel and bounded by text I/O.

Chunk arithmetic (shared by engine and oracle, all int):
    n_chunks = 0                      if n_tokens = 0
             = 1                      if n_tokens <= window
             = 1 + ceil((n - window)/stride)   otherwise
    chunk i covers 1-based token positions [i*stride+1, min(i*stride+window, n)]
— every token is covered, the last chunk keeps >= window-stride+1 tokens,
and consecutive chunks overlap by exactly window-stride (except a shorter
final chunk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql

WINDOW = 32
STRIDE = 24


def chunk_documents(docs: DataFrame, window: int = WINDOW,
                    stride: int = STRIDE) -> DataFrame:
    """(doc_id, chunk_id, tok_start, tok_end, n_toks, n_chars, chunk_md5,
    chunk_text) — one row per window over the normalized token stream."""
    if not 0 < stride <= window:
        raise ValueError("need 0 < stride <= window")
    base = (docs
            .select(F.col("doc_id"),
                    normalize_col(F.col("text")).alias("_t"))
            .withColumn("_toks", F.split(F.col("_t"), " "))
            .withColumn("_n", F.when(F.col("_t") == "", F.lit(0))
                        .otherwise(F.size("_toks")).cast("long"))
            .withColumn("_nc", F.expr(
                f"CASE WHEN _n = 0 THEN 0 WHEN _n <= {window} THEN 1 "
                f"ELSE 1 + (_n - {window} + {stride} - 1) div {stride} END")))
    return (base
            .select("doc_id", "_toks", "_n",
                    F.posexplode(F.expr(
                        # sequence(0, -1) would DESCEND in Spark — guard the
                        # n_chunks = 0 (empty doc) case with an empty array
                        f"CASE WHEN _nc = 0 THEN array() ELSE "
                        f"transform(sequence(0, CAST(_nc AS INT) - 1), i -> "
                        f"array_join(slice(_toks, i * {stride} + 1, {window}),"
                        f" ' ')) END")).alias("chunk_id", "chunk_text"))
            .withColumn("tok_start",
                        (F.col("chunk_id") * stride + 1).cast("long"))
            .withColumn("tok_end", F.least(
                F.col("chunk_id") * stride + window, F.col("_n"))
                .cast("long"))
            .select("doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
                    "tok_start", "tok_end",
                    (F.col("tok_end") - F.col("tok_start") + 1)
                    .alias("n_toks"),
                    F.length("chunk_text").cast("long").alias("n_chars"),
                    F.md5("chunk_text").alias("chunk_md5"), "chunk_text"))


def chunk_documents_sql(window: int = WINDOW, stride: int = STRIDE,
                        rel: str = "documents") -> str:
    """DuckDB dual: string_split + lateral unnest(range) + list_slice."""
    norm = normalize_sql("text")
    return f"""
WITH tokenized AS (
  SELECT doc_id AS doc_id,
         string_split({norm}, ' ') AS toks,
         CASE WHEN {norm} = '' THEN 0
              ELSE len(string_split({norm}, ' ')) END AS n
  FROM {rel}
), counted AS (
  SELECT doc_id, toks, n,
         CASE WHEN n = 0 THEN 0 WHEN n <= {window} THEN 1
              ELSE 1 + (n - {window} + {stride} - 1) // {stride} END AS nc
  FROM tokenized
), exploded AS (
  SELECT doc_id, toks, n, CAST(u.i AS BIGINT) AS chunk_id
  FROM counted, LATERAL unnest(range(0, nc)) AS u(i)
), sliced AS (
  SELECT doc_id, chunk_id,
         CAST(chunk_id * {stride} + 1 AS BIGINT) AS tok_start,
         CAST(least(chunk_id * {stride} + {window}, n) AS BIGINT) AS tok_end,
         array_to_string(list_slice(toks, chunk_id * {stride} + 1,
                         least(chunk_id * {stride} + {window}, n)),
                         ' ') AS chunk_text
  FROM exploded
)
SELECT doc_id, chunk_id, tok_start, tok_end,
       tok_end - tok_start + 1 AS n_toks,
       CAST(length(chunk_text) AS BIGINT) AS n_chars,
       md5(chunk_text) AS chunk_md5, chunk_text
FROM sliced
"""
