"""In-engine BPE tokenizer training (Sennrich et al. 2016 merge learning).

The missing third of the tokenizer story: :data:`..functions.text.
BPE_PRETOKEN_PATTERN` splits text where a pretokenizer splits, BPE *merge
rules* are what a trained tokenizer adds on top. This operator learns the
merge table inside the engine — the same train-in-the-query discipline as
:mod:`.kmeans` (centroids), :mod:`.langid` (profiles), :mod:`.lmquality`
(bigram LM) and :mod:`.train` (trees).

Algorithm (textbook): start from words as character-symbol sequences;
repeat N times: count adjacent symbol pairs weighted by word frequency,
merge the most frequent pair everywhere. Ties break (count DESC, left ASC,
right ASC) — a total order.

Cross-engine exactness:
* a word's symbol sequence is a single-space-joined string with sentinel
  spaces (`' h a s h '`); pair counting explodes adjacent symbol pairs
  (overlaps counted, per the textbook);
* the merge applies `replace(' l r ', ' lr ')` repeatedly,
  ``REPLACE_PASSES`` times — both engines' ``replace`` is non-overlapping
  left-to-right (verified), and repeated passes converge to exactly the
  textbook greedy-left merge. One pass can leave every second occurrence
  unmerged when occurrences share a boundary space (`' a b a b '` →
  `' ab a b '`), so the pass count bounds the merge: words of up to
  ``2 * REPLACE_PASSES`` symbols merge completely; longer words would need
  more passes (the fixture's longest word is 8 chars — documented bound,
  not a silent truncation: the engine and oracle share the SAME bound, so
  parity holds regardless);
* every count is int64; the output is the merge table itself.

Scale shape: ONE corpus-wide shuffle builds the (word, n) vocabulary;
every training round then runs on the VOCABULARY frame (distinct words —
bounded by language, not corpus size). Per round the driver collects
exactly TWO scalars — the argmax pair (one min-of-struct aggregate, no
sort) and the post-merge token count — so driver traffic is
O(n_merges), independent of corpus size; the winning pair is then
inlined as literals in the merge projection (no join at all). This is
the standard iterative-algorithm shape (MLlib trains the same way):
scalar state on the driver, data-parallel work on the executors. Each
round's words frame is localCheckpoint'd to keep the plan O(1) in the
round count; two single-stage jobs per round replace the previous
sort + broadcast-join + double-checkpoint design (4 jobs/round), which
dominated wall time at small scale and saved nothing at large scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql, tokens_col

N_MERGES = 8
REPLACE_PASSES = 12


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(w, n): sentinel-spaced character-symbol string per DISTINCT word,
    weighted by corpus frequency — the one corpus-wide shuffle."""
    norm = normalize_col(F.col(text_col))
    words = (docs.where(F.col(text_col).isNotNull())
             .select(F.explode(tokens_col(norm)).alias("word"))
             .where(F.length("word") > 0)
             .groupBy("word").agg(F.count("*").cast("long").alias("n")))
    sym = F.expr("concat(' ', array_join(transform(sequence(1, length(word)),"
                 " i -> substring(word, i, 1)), ' '), ' ')")
    return words.select(sym.alias("w"), "n")


def _pair_counts(words: DataFrame) -> DataFrame:
    """(l, r, cnt): adjacent symbol pairs weighted by word frequency."""
    prs = F.expr(
        "transform(sequence(1, size(_sy) - 1),"
        " i -> struct(element_at(_sy, i) AS l, element_at(_sy, i + 1) AS r))")
    return (words.select("n", F.split(F.trim("w"), " ").alias("_sy"))
            .where(F.size("_sy") >= 2)
            .select("n", F.explode(prs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt")))


_MERGE_SCHEMA = ("merge_round long, left_sym string, right_sym string, "
                 "pair_count long, corpus_tokens long")


def bpe_train(docs: DataFrame, n_merges: int = N_MERGES) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the merge table
    (merge_round, left_sym, right_sym, pair_count, corpus_tokens) where
    corpus_tokens is the weighted symbol count AFTER applying that merge —
    the curve a tokenizer trainer reports."""
    spark = docs.sparkSession
    words = _word_counts(docs, "text").localCheckpoint()
    stats: list[tuple] = []
    for rnd in range(1, n_merges + 1):
        # argmax pair under (cnt DESC, l ASC, r ASC): min-of-struct over the
        # grouped pair counts — a single-stage partial aggregate, no sort.
        row = (_pair_counts(words)
               .agg(F.min(F.struct((-F.col("cnt")).alias("neg"),
                                   F.col("l"), F.col("r"))).alias("b"))
               .select("b.neg", "b.l", "b.r").first())
        if row is None or row["l"] is None:
            break  # vocabulary fully merged (or empty corpus)
        l, r, cnt = row["l"], row["r"], -row["neg"]
        pat = F.lit(f" {l} {r} ")
        rep = F.lit(f" {l}{r} ")
        merged = F.col("w")
        for _ in range(REPLACE_PASSES):
            merged = F.replace(merged, pat, rep)
        words = words.select(merged.alias("w"), "n").localCheckpoint()
        toks = words.agg(
            F.sum(F.col("n") * F.size(F.split(F.trim("w"), " ")))
            .cast("long").alias("t")).first()["t"]
        stats.append((rnd, l, r, int(cnt), int(toks)))
    return spark.createDataFrame(stats, _MERGE_SCHEMA)


# --------------------------------------------------------------- DuckDB dual
def bpe_train_sql(n_merges: int = N_MERGES, doc_rel: str = "documents") -> str:
    norm = normalize_sql("text")
    ctes = [f"""w0 AS (
  SELECT ' ' || array_to_string(list_transform(
           generate_series(1, length(word)), i -> substr(word, i, 1)), ' ')
         || ' ' AS w,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split({norm}, ' ')) AS word
        FROM {doc_rel} WHERE text IS NOT NULL)
  WHERE length(word) > 0 GROUP BY word)"""]
    selects = []
    for r in range(1, n_merges + 1):
        prev = f"w{r - 1}"
        merged = "w"
        for _ in range(REPLACE_PASSES):
            merged = (f"replace({merged}, ' ' || l || ' ' || r2 || ' ',"
                      f" ' ' || l || r2 || ' ')")
        ctes.append(f"""p{r} AS (
  SELECT sy[i] AS l, sy[i + 1] AS r2, CAST(SUM(n) AS BIGINT) AS cnt
  FROM (SELECT n, string_split(trim(w), ' ') AS sy,
               unnest(generate_series(1, len(string_split(trim(w), ' ')) - 1))
                 AS i
        FROM {prev} WHERE len(string_split(trim(w), ' ')) >= 2)
  GROUP BY 1, 2),
b{r} AS (SELECT * FROM p{r} ORDER BY cnt DESC, l ASC, r2 ASC LIMIT 1),
w{r} AS (SELECT {merged} AS w, n FROM {prev} CROSS JOIN b{r}),
t{r} AS (SELECT CAST(SUM(n * len(string_split(trim(w), ' '))) AS BIGINT)
                AS corpus_tokens FROM w{r})""")
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS merge_round, l AS left_sym,"
            f" r2 AS right_sym, cnt AS pair_count, corpus_tokens"
            f" FROM b{r} CROSS JOIN t{r}")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)
