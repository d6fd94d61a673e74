"""BPE tokenizer APPLY (encode) — the serving half of :mod:`.bpetrain`.

:mod:`.bpetrain` learns a merge table inside the engine; a real pipeline
then ships that table as a frozen artifact and runs the ENCODER over every
document to budget tokens (sequence packing, mixture weighting, cost
estimates all consume per-doc token counts). This operator is that encoder:
apply an ordered merge list to each document and count the resulting
symbols. Reference analogue: the tokenizer-apply stage of any web-text
training pipeline; geoclimate's own "apply a trained artifact" precedent is
the RF serving path (``TypologyClassification.groovy:393-470``), which
likewise consumes a frozen model inside the query.

Algorithm (textbook greedy BPE encode): each word becomes a sentinel-spaced
character-symbol string (``' d a t a '``); the merge list is applied IN
TRAINING ORDER, each merge rewriting ``' l r '`` → ``' lr '`` everywhere.

Cross-engine exactness (shared with bpetrain, verified there):
* both engines' ``replace`` is non-overlapping left-to-right, and
  ``REPLACE_PASSES`` repeated passes converge to the textbook
  greedy-left merge for words up to ``2 * REPLACE_PASSES`` symbols — the
  engine and the DuckDB dual share the SAME bound, so parity holds
  regardless of word length;
* the whole document is encoded as ONE string: per-word symbol strings each
  carry their own leading+trailing sentinel space, so concatenation leaves
  a DOUBLE space at word boundaries and no ``' l r '`` pattern (single
  spaces) can ever match across words — merges stay word-local without any
  per-word explode/shuffle;
* all counts are int64.

Scale shape: a single narrow projection — no join, no shuffle, no UDF; the
whole encode is whole-stage-codegen string work, embarrassingly parallel
over document partitions at any corpus size. (A production encoder would
hash-cache per distinct word; the fixture's vocabulary is tiny so the
straight per-doc form is both simpler and the same plan shape.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql

# Frozen merge table (training order). Chosen so chained merges fire on the
# fixture vocabulary: ('a','t')→('at','a') builds "data"; ('t','h')→('th','e')
# builds "the". A real pipeline would load bpe_train's output here.
MERGES: list[tuple[str, str]] = [
    ("a", "t"), ("e", "r"), ("i", "n"), ("o", "r"),
    ("t", "h"), ("th", "e"), ("at", "a"), ("q", "u"),
]
REPLACE_PASSES = 6  # words up to 2*6=12 symbols merge completely (fixture max
# word length is 8; the bound is shared by engine and oracle, so parity holds
# for longer words too). Kept lower than bpetrain's 12 because the encode
# chain nests len(MERGES)*REPLACE_PASSES replace() calls in ONE expression —
# depth 48 stays comfortably inside codegen limits.


def _sym_doc_col(norm: Column) -> Column:
    """Whole-document symbol string: every word as ``' c h a r s '``,
    concatenated — double spaces at word boundaries keep merges word-local."""
    return F.array_join(
        F.transform(
            F.split(norm, " "),
            lambda w: F.concat(
                F.lit(" "),
                F.array_join(
                    F.transform(F.sequence(F.lit(1), F.length(w)),
                                lambda i: w.substr(i, F.lit(1))),
                    " "),
                F.lit(" "))),
        "")


def _apply_merges_col(sym: Column) -> Column:
    out = sym
    for left, right in MERGES:
        pat = F.lit(f" {left} {right} ")
        rep = F.lit(f" {left}{right} ")
        for _ in range(REPLACE_PASSES):
            out = F.replace(out, pat, rep)
    return out


def _count_symbols(s: Column) -> Column:
    """Symbols in a sentinel-spaced string = spaces-collapsed word count."""
    squeezed = F.trim(F.regexp_replace(s, " +", " "))
    return F.when(F.length(squeezed) == 0, F.lit(0).cast("long")) \
            .otherwise(F.size(F.split(squeezed, " ")).cast("long"))


def bpe_encode_stats(docs: DataFrame) -> DataFrame:
    """(id, n_words, n_chars, n_tokens): per-document token counts under the
    frozen merge table. n_chars = symbols before any merge (non-space chars
    of the normalized text); n_tokens = symbols after all merges; the gap is
    the compression the tokenizer buys."""
    norm = normalize_col(F.col("text"))
    d = (docs.where(F.col("text").isNotNull())
         .select(F.col("doc_id"), norm.alias("_norm"))
         .where(F.length("_norm") > 0))
    sym = _sym_doc_col(F.col("_norm"))
    enc = _apply_merges_col(sym)
    return d.select(
        F.col("doc_id"),
        F.size(F.split("_norm", " ")).cast("long").alias("n_words"),
        _count_symbols(sym).alias("n_chars"),
        _count_symbols(enc).alias("n_tokens"))


def corpus_token_budget(stats: DataFrame, by: DataFrame) -> DataFrame:
    """Roll per-doc token counts up to a grouping column (tokens per lang —
    the number a mixture planner consumes)."""
    return (stats.join(by.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Per-language tokenizer fertility — the standard tokenizer-evaluation
    metric (chars per token / tokens per word, cf. the XLM-R and BLOOM
    tokenizer analyses): languages the merge table under-serves show low
    chars-per-token (near-character fallback) and high tokens-per-word,
    which inflates their effective sequence lengths and training cost.
    One row per lang: (lang, n_docs, total_words, total_chars,
    total_tokens, chars_per_token_milli, tokens_per_word_milli) — exact
    int64 ratios in millis, zero-guarded.

    Scale: the encode is the shuffle-free codegen pass of
    :func:`bpe_encode_stats`; the lang join is on the id key the stats
    already carry (at rest both sides share partitioning); ONE map-side
    combinable groupBy(lang) ends the plan."""
    stats = bpe_encode_stats(docs)
    by = docs.select(F.col("doc_id"), F.col("lang"))
    return (stats.join(by, "doc_id")
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_words").cast("long").alias("total_words"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"))
            .selectExpr(
                "lang", "n_docs", "total_words", "total_chars",
                "total_tokens",
                "CASE WHEN total_tokens = 0 THEN 0 ELSE"
                " (total_chars * 1000) div total_tokens END"
                " AS chars_per_token_milli",
                "CASE WHEN total_words = 0 THEN 0 ELSE"
                " (total_tokens * 1000) div total_words END"
                " AS tokens_per_word_milli"))


def token_length_histogram(docs: DataFrame) -> DataFrame:
    """(bucket, n_docs, total_tokens, min_tokens, max_tokens): power-of-two
    histogram of per-doc token counts — the sequence-length distribution a
    packing/batching planner reads (bucket = floor(log2(n_tokens)), via the
    libm-free ``length(bin(x)) - 1`` identity shared with lmquality).
    Composes the encoder: one shuffle-free encode pass + one tiny hash agg."""
    stats = bpe_encode_stats(docs)
    bucket = (F.length(F.expr("bin(n_tokens)")) - 1).cast("long")
    return (stats.where(F.col("n_tokens") > 0)
            .groupBy(bucket.alias("bucket"))
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.min("n_tokens").cast("long").alias("min_tokens"),
                 F.max("n_tokens").cast("long").alias("max_tokens")))


# --------------------------------------------------------------- DuckDB dual
def _sym_doc_sql(norm_sql: str) -> str:
    return (
        "array_to_string(list_transform(string_split(" + norm_sql + ", ' '),"
        " w -> ' ' || array_to_string(list_transform("
        "generate_series(1, length(w)), i -> substr(w, i, 1)), ' ') || ' '),"
        " '')")


def _apply_merges_sql(sym_sql: str) -> str:
    out = sym_sql
    for left, right in MERGES:
        for _ in range(REPLACE_PASSES):
            out = f"replace({out}, ' {left} {right} ', ' {left}{right} ')"
    return out


def _count_symbols_sql(s_sql: str) -> str:
    sq = f"trim(regexp_replace({s_sql}, ' +', ' ', 'g'))"
    return (f"CASE WHEN length({sq}) = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST(len(string_split({sq}, ' ')) AS BIGINT) END")


def bpe_encode_sql() -> str:
    norm = normalize_sql("text")
    return f"""
WITH d AS (
  SELECT doc_id, {norm} AS _norm
  FROM documents
  WHERE text IS NOT NULL AND length({norm}) > 0
), s AS (
  SELECT doc_id, _norm, {_sym_doc_sql('_norm')} AS _sym FROM d
)
SELECT doc_id,
       CAST(len(string_split(_norm, ' ')) AS BIGINT) AS n_words,
       {_count_symbols_sql('_sym')} AS n_chars,
       {_count_symbols_sql(_apply_merges_sql('_sym'))} AS n_tokens
FROM s"""


def tokenizer_fertility_sql() -> str:
    """DuckDB dual of :func:`tokenizer_fertility`."""
    enc = bpe_encode_sql()
    return f"""
WITH enc AS ({enc}),
agg AS (
  SELECT d.lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(e.n_words) AS BIGINT) AS total_words,
         CAST(SUM(e.n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(e.n_tokens) AS BIGINT) AS total_tokens
  FROM enc e JOIN documents d ON e.doc_id = d.doc_id
  GROUP BY 1)
SELECT lang, n_docs, total_words, total_chars, total_tokens,
       CASE WHEN total_tokens = 0 THEN 0
            ELSE (total_chars * 1000) // total_tokens END
         AS chars_per_token_milli,
       CASE WHEN total_words = 0 THEN 0
            ELSE (total_tokens * 1000) // total_words END
         AS tokens_per_word_milli
FROM agg"""


def token_length_histogram_sql() -> str:
    enc = bpe_encode_sql()
    return f"""
WITH enc AS ({enc})
SELECT CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM enc WHERE n_tokens > 0 GROUP BY 1"""
