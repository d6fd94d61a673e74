"""Exact duplicate-span detection and trimming (ExactSubstr-style dedup).

The sub-document twin of :mod:`segdedup`: instead of non-overlapping k-token
segments deduped to their first occurrence, every OVERLAPPING n-token window
of every document is checked against the whole corpus; a window whose exact
token sequence occurs anywhere else (another document, or again in the same
document) marks all n of its token positions as duplicated. Per document the
operator reports the interval-UNION coverage of those marks (the fraction of
tokens sitting inside at least one duplicated span — the quantity the
"Deduplicating Training Data Makes Language Models Better" substring-dedup
recipe thresholds on) and the trimmed text with every covered token removed.

Reference analogue: the same exact-match-then-canonical shape as
:func:`geoclimate_spark.operators.dedup.exact_duplicates` (reference
`/root/reference/geoindicators/.../SpatialUnits.groovy:517-529` deterministic
dedup), pushed below document granularity; the interval-union step is the 1-D
integer-grid counterpart of the overlay coverage union in
:mod:`geoclimate_spark.operators.overlay`.

Scale design (10^12 docs):
* window generation is a pure row expression in the scan projection
  (normalize → split → transform(sequence) → posexplode) — no Python; the
  explode emits ~n_tokens rows per doc, the same order of work as
  tokenization itself;
* the duplicate decision is ONE shuffle keyed by ``hash60(window)`` — an
  8-byte key, NEVER the window text (at n=8 the text key would be ~n× the
  corpus bytes through one exchange) — with a map-side-combinable COUNT;
  identical windows co-locate under any partitioning. The oracle applies
  the identical ``hash60_sql`` so a (cosmically rare, ~pairs/2^60)
  collision marks the same window as duplicated on BOTH engines —
  bit-exact parity is preserved, the same contract as
  :func:`decontaminate_trim` and :mod:`boilerplate`;
* only DUPLICATED windows are exploded to covered positions (n rows each),
  so the coverage union touches the duplicated tail of the corpus, not all
  of it; the distinct + count per doc is again map-side combinable;
* the trim is one anti-join of (doc, pos, token) against covered (doc, pos)
  — both sides hash-partition on the doc id, and the reassembly groupBy
  reuses that partitioning (one effective shuffle of the token stream).

:func:`decontaminate_trim` reuses the same window/coverage/trim machinery
against a BENCHMARK n-gram set instead of the corpus itself (the surgical
variant of :mod:`contamination` — remove the colliding spans, keep the
document): the benchmark side is tiny by construction, so its id filter and
gram-hash set broadcast and the training window stream is filtered map-side
with no shuffle of window text.

Empty documents normalize to '' whose token list is [''] on BOTH engines
(Spark split / DuckDB string_split), so n_tokens >= 1 always and the
dup_fraction division is total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash60_col, hash60_sql
from ..functions.text import normalize_col, normalize_sql

SPAN_TOKENS = 8  # window width n: a span must repeat exactly at this length
CONTAM_TOKENS = 5  # decontamination window width (matches contamination.py)


def _base(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    t = normalize_col(F.col(text_col))
    tk = F.split(t, " ")
    return docs.select(F.col(id_col).alias("id"), tk.alias("_tk"),
                       F.size(tk).alias("n_tokens"))


def _windows(base: DataFrame, n: int) -> DataFrame:
    """(id, pos, gram): every overlapping n-token window, pos 0-based. Docs
    shorter than n tokens emit no windows (the filter runs BEFORE the
    sequence() so Spark's descending-sequence gotcha is unreachable)."""
    grams = F.expr(
        f"transform(sequence(0, size(_tk) - {n}), "
        f"i -> array_join(slice(_tk, i + 1, {n}), ' '))")
    return (base.where(F.col("n_tokens") >= n)
            .select("id", F.posexplode(grams).alias("pos", "gram")))


def _coverage_trim(base: DataFrame, marked: DataFrame, n: int, id_col: str,
                   win_name: str, tok_name: str, frac_name: str,
                   text_name: str) -> DataFrame:
    """Shared tail: given ``base`` (id, _tk, n_tokens) and ``marked``
    (id, pos) windows, compute the interval-union coverage counts/fraction
    and the text with covered tokens removed. One doc-keyed anti-join +
    reassembly groupBy; the coverage distinct and both counts are map-side
    combinable."""
    cov = (marked.select(
        "id", F.explode(F.expr(f"sequence(pos, pos + {n - 1})")).alias("p"))
        .distinct())
    covs = cov.groupBy("id").agg(F.count("*").alias("_ct"))
    nmw = marked.groupBy("id").agg(F.count("*").alias("_nw"))
    tokpos = base.select("id", F.posexplode("_tk").alias("p", "tok"))
    keep = tokpos.join(cov, ["id", "p"], "left_anti")
    trimmed = keep.groupBy("id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("p", "tok"))),
                        lambda x: x["tok"]),
            " ").alias("_tt"))
    nt = F.col("n_tokens")
    return (base.select("id", "n_tokens")
            .join(nmw, "id", "left").join(covs, "id", "left")
            .join(trimmed, "id", "left")
            .select(
                F.col("id").alias(id_col),
                nt.cast("long").alias("n_tokens"),
                F.greatest(nt - F.lit(n - 1), F.lit(0))
                .cast("long").alias("n_windows"),
                F.coalesce(F.col("_nw"), F.lit(0))
                .cast("long").alias(win_name),
                F.coalesce(F.col("_ct"), F.lit(0))
                .cast("long").alias(tok_name),
                (F.coalesce(F.col("_ct"), F.lit(0)).cast("double")
                 / nt.cast("double")).alias(frac_name),
                F.coalesce(F.col("_tt"), F.lit("")).alias(text_name)))


def duplicate_spans(docs: DataFrame, n: int = SPAN_TOKENS) -> DataFrame:
    """(doc_id, n_tokens, n_windows, n_dup_windows, dup_tokens, dup_fraction,
    trimmed_text): corpus-wide exact duplicate-span coverage and trim.

    A window is duplicated iff its exact n-token text occurs >= 2 times in
    the corpus (across documents OR within one). ``dup_tokens`` is the size
    of the union of the covered position intervals; ``trimmed_text`` is the
    normalized text with covered tokens removed (original token order kept).

    The duplicate decision shuffles ``hash60(gram)`` (8 bytes/window), not
    the window text — the gram column is projected away before either
    exchange (plan-guarded in tests/test_dupspan.py).
    """
    base = _base(docs, "doc_id", "text")
    wh = (_windows(base, n)
          .select("id", "pos", hash60_col(F.col("gram")).alias("gh")))
    dup = (wh.groupBy("gh").agg(F.count("*").alias("_c"))
           .where(F.col("_c") >= 2).select("gh"))
    dwin = wh.join(dup, "gh").select("id", "pos")
    return _coverage_trim(base, dwin, n, "doc_id", "n_dup_windows",
                          "dup_tokens", "dup_fraction", "trimmed_text")


def decontaminate_trim(docs: DataFrame, bench_quota: int = 10,
                       n: int = CONTAM_TOKENS) -> DataFrame:
    """(doc_id, n_tokens, n_windows, n_hit_windows, contam_tokens,
    contam_fraction, clean_text): benchmark decontamination by span REMOVAL
    rather than document dropping — the surgical variant of
    :func:`contamination.contamination_hits` (GPT-3 appendix C removes a
    window around each collision; this removes exactly the covered tokens).

    Benchmark = the ``bench_quota`` lowest-(hash60(id), id) documents (same
    deterministic carve as contamination.py); output rows are the TRAINING
    documents only, each with the interval-union coverage of windows whose
    exact n-token text occurs in the benchmark set, and the text with those
    tokens removed.

    Scale: the benchmark n-gram side is tiny → both its id filter and its
    gram-hash set are BROADCAST; the training window stream is filtered
    map-side (no shuffle of window text — windows travel as hash60, 8
    bytes), and only hit windows enter the coverage union. The trim tail is
    shared with :func:`duplicate_spans`.
    """
    base = _base(docs, "doc_id", "text")
    wins = _windows(base, n)
    rank_w = Window.orderBy(hash60_col(F.col("id").cast("string")), "id")
    bench_ids = (base.select("id").withColumn("_r", F.row_number().over(rank_w))
                 .where(F.col("_r") <= bench_quota).select("id"))
    wh = wins.select("id", "pos", hash60_col(F.col("gram")).alias("gh"))
    bench_g = (wh.join(F.broadcast(bench_ids), "id", "left_semi")
               .select("gh").distinct())
    train_base = base.join(F.broadcast(bench_ids), "id", "left_anti")
    hit = (wh.join(F.broadcast(bench_ids), "id", "left_anti")
           .join(F.broadcast(bench_g), "gh", "left_semi")
           .select("id", "pos"))
    return _coverage_trim(train_base, hit, n, "doc_id", "n_hit_windows",
                          "contam_tokens", "contam_fraction", "clean_text")


def _base_wins_ctes_sql(doc_rel: str, id_col: str, text_col: str,
                        n: int) -> str:
    """Shared CTE prefix: base (id, tk, n_tokens) + wins (id, pos, gram).
    List slicing tk[a:b] is 1-based inclusive (never clamps here — windows
    stop n short of the tail); generate_series is inclusive like Spark's
    sequence."""
    norm = normalize_sql(text_col)
    return f"""base AS (SELECT {id_col} AS id, string_split({norm}, ' ') AS tk,
                     len(string_split({norm}, ' ')) AS n_tokens
              FROM {doc_rel}),
wins AS (SELECT id, i AS pos, array_to_string(tk[i + 1 : i + {n}], ' ') AS gram
         FROM base, UNNEST(generate_series(0, n_tokens - {n})) AS g(i)
         WHERE n_tokens >= {n})"""


def _trim_tail_sql(n: int, id_col: str, base_rel: str, marked_rel: str,
                   win_name: str, tok_name: str, frac_name: str,
                   text_name: str) -> str:
    """Shared CTE suffix + final SELECT over ``base_rel`` (id, tk, n_tokens)
    and ``marked_rel`` (id, pos). The fraction is the same exact
    integer-over-integer double on both engines."""
    return f"""cov AS (SELECT DISTINCT id, p
        FROM {marked_rel}, UNNEST(generate_series(pos, pos + {n - 1})) AS c(p)),
covs AS (SELECT id, COUNT(*) AS ct FROM cov GROUP BY id),
nmw AS (SELECT id, COUNT(*) AS nw FROM {marked_rel} GROUP BY id),
tokpos AS (SELECT id, i - 1 AS p, tk[i] AS tok
           FROM {base_rel}, UNNEST(generate_series(1, n_tokens)) AS t(i)),
keep AS (SELECT tp.id, tp.p, tp.tok FROM tokpos tp
         ANTI JOIN cov ON tp.id = cov.id AND tp.p = cov.p),
trimmed AS (SELECT id, string_agg(tok, ' ' ORDER BY p) AS tt
            FROM keep GROUP BY id)
SELECT b.id AS {id_col},
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(GREATEST(b.n_tokens - {n - 1}, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(nmw.nw, 0) AS BIGINT) AS {win_name},
       CAST(COALESCE(covs.ct, 0) AS BIGINT) AS {tok_name},
       CAST(COALESCE(covs.ct, 0) AS DOUBLE)
           / CAST(b.n_tokens AS DOUBLE) AS {frac_name},
       COALESCE(trimmed.tt, '') AS {text_name}
FROM {base_rel} b
LEFT JOIN nmw USING (id)
LEFT JOIN covs USING (id)
LEFT JOIN trimmed USING (id)"""


def duplicate_spans_sql() -> str:
    """DuckDB dual of :func:`duplicate_spans` — same hash60 window key as
    the engine, so collision behavior (if any) is identical."""
    h_g = hash60_sql("gram")
    return f"""
WITH {_base_wins_ctes_sql('documents', 'doc_id', 'text', SPAN_TOKENS)},
wh AS (SELECT id, pos, {h_g} AS gh FROM wins),
dup AS (SELECT gh FROM wh GROUP BY gh HAVING COUNT(*) >= 2),
dwin AS (SELECT id, pos FROM wh JOIN dup USING (gh)),
{_trim_tail_sql(SPAN_TOKENS, 'doc_id', "base", "dwin", "n_dup_windows",
                "dup_tokens", "dup_fraction", "trimmed_text")}"""


def decontaminate_trim_sql() -> str:
    """DuckDB dual of :func:`decontaminate_trim` — the benchmark carve and
    the gram hash are the same hash60 expressions as contamination.py, so
    engine and oracle agree bit-for-bit even in the collision case."""
    h_id = hash60_sql("CAST(id AS VARCHAR)")
    h_g = hash60_sql("gram")
    return f"""
WITH {_base_wins_ctes_sql('documents', 'doc_id', 'text', CONTAM_TOKENS)},
ranked AS (SELECT id, ROW_NUMBER() OVER (ORDER BY {h_id}, id) AS r
           FROM base),
bench_ids AS (SELECT id FROM ranked WHERE r <= 10),
wh AS (SELECT id, pos, {h_g} AS gh FROM wins),
bench_g AS (SELECT DISTINCT gh FROM wh
            WHERE id IN (SELECT id FROM bench_ids)),
train_base AS (SELECT * FROM base
               WHERE id NOT IN (SELECT id FROM bench_ids)),
hit AS (SELECT id, pos FROM wh
        WHERE id NOT IN (SELECT id FROM bench_ids)
          AND gh IN (SELECT gh FROM bench_g)),
{_trim_tail_sql(CONTAM_TOKENS, 'doc_id', "train_base", "hit", "n_hit_windows",
                "contam_tokens", "contam_fraction", "clean_text")}"""


# ------------------------------------------------- span-dedup recall report
def span_dedup_recall_report(docs: DataFrame, n: int = SPAN_TOKENS,
                             k: int | None = None) -> DataFrame:
    """How much of the EXACT duplicated-span coverage does segment-level
    dedup actually catch? The measured-not-asserted companion of
    ``dedup_recall_report``/``ann_recall_report`` for the substring-dedup
    family: ground truth = the interval union of duplicated n-token
    windows (:func:`duplicate_spans` semantics); approximation = token
    positions inside k-token SEGMENTS (:mod:`segdedup` granularity) whose
    exact text occurs >= 2 times. Segment dedup only catches duplication
    that respects segment alignment — this report quantifies that loss so
    the k threshold is a measured choice.

    One row: (exact_dup_tokens, seg_dup_tokens, caught_tokens,
    recall_millis, precision_millis). Scale: two hash60-keyed
    map-side-combinable shuffles (windows + segments — 8-byte keys, text
    never shuffles) and one (id, p)-keyed count join over the duplicated
    tail only."""
    from .segdedup import SEG_TOKENS, _segments

    if k is None:
        k = SEG_TOKENS
    base = _base(docs, "doc_id", "text")
    wh = (_windows(base, n)
          .select("id", "pos", hash60_col(F.col("gram")).alias("gh")))
    dupg = (wh.groupBy("gh").agg(F.count("*").alias("_c"))
            .where(F.col("_c") >= 2).select("gh"))
    # persist both coverage sets: each feeds its own count AND the
    # intersection join — without it the window/segment explodes run twice
    exact_cov = (wh.join(dupg, "gh")
                 .select("id", F.explode(
                     F.expr(f"sequence(pos, pos + {n - 1})")).alias("p"))
                 .distinct().persist())
    # zero-token docs normalize to '' whose segment list is [''] — exclude
    # the empty segment so token-less docs never contribute phantom
    # "duplicated tokens" (position 0 of a doc with no tokens)
    seg = (_segments(docs, "doc_id", "text", k)
           .where(F.col("seg") != "")
           .select("id", "pos", hash60_col(F.col("seg")).alias("sh"),
                   F.size(F.split("seg", " ")).alias("_sl")))
    dups = (seg.groupBy("sh").agg(F.count("*").alias("_c"))
            .where(F.col("_c") >= 2).select("sh"))
    # segments are disjoint by construction — no distinct needed
    seg_cov = (seg.join(dups, "sh")
               .select("id", F.explode(F.expr(
                   f"sequence(pos * {k}, pos * {k} + _sl - 1)")).alias("p"))
               .persist())
    ex = exact_cov.agg(F.count("*").cast("long").alias("exact_dup_tokens"))
    sg = seg_cov.agg(F.count("*").cast("long").alias("seg_dup_tokens"))
    ct = (exact_cov.join(seg_cov, ["id", "p"])
          .agg(F.count("*").cast("long").alias("caught_tokens")))
    return (ex.crossJoin(F.broadcast(sg)).crossJoin(F.broadcast(ct))
            .select("exact_dup_tokens", "seg_dup_tokens", "caught_tokens",
                    F.expr("CASE WHEN exact_dup_tokens = 0 THEN 0 ELSE"
                           " (caught_tokens * 1000) div exact_dup_tokens END")
                    .alias("recall_millis"),
                    F.expr("CASE WHEN seg_dup_tokens = 0 THEN 0 ELSE"
                           " (caught_tokens * 1000) div seg_dup_tokens END")
                    .alias("precision_millis")))


def span_dedup_recall_report_sql() -> str:
    """DuckDB dual of :func:`span_dedup_recall_report` (same hash60 keys)."""
    from .segdedup import SEG_TOKENS

    norm = normalize_sql("text")
    h_g = hash60_sql("gram")
    h_s = hash60_sql("seg")
    return f"""
WITH {_base_wins_ctes_sql('documents', 'doc_id', 'text', SPAN_TOKENS)},
wh AS (SELECT id, pos, {h_g} AS gh FROM wins),
dupg AS (SELECT gh FROM wh GROUP BY gh HAVING COUNT(*) >= 2),
exact_cov AS (SELECT DISTINCT id, p
  FROM (SELECT id, pos FROM wh JOIN dupg USING (gh)) d,
       UNNEST(generate_series(pos, pos + {SPAN_TOKENS - 1})) AS c(p)),
toks AS (SELECT doc_id AS id, string_split({norm}, ' ') AS stk
         FROM documents),
segs AS (SELECT id, s - 1 AS pos,
                array_to_string(stk[(s - 1) * {SEG_TOKENS} + 1 : s * {SEG_TOKENS}], ' ') AS seg
  FROM toks, UNNEST(generate_series(1, (len(stk) + {SEG_TOKENS - 1}) // {SEG_TOKENS})) AS g(s)),
segh AS (SELECT id, pos, {h_s} AS sh,
                len(string_split(seg, ' ')) AS sl FROM segs
         WHERE seg <> ''),
dups AS (SELECT sh FROM segh GROUP BY sh HAVING COUNT(*) >= 2),
seg_cov AS (SELECT id, p
  FROM (SELECT id, pos, sl FROM segh JOIN dups USING (sh)) d,
       UNNEST(generate_series(pos * {SEG_TOKENS}, pos * {SEG_TOKENS} + sl - 1)) AS c(p)),
ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_dup_tokens FROM exact_cov),
sg AS (SELECT CAST(COUNT(*) AS BIGINT) AS seg_dup_tokens FROM seg_cov),
ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS caught_tokens
       FROM exact_cov JOIN seg_cov USING (id, p))
SELECT exact_dup_tokens, seg_dup_tokens, caught_tokens,
       CASE WHEN exact_dup_tokens = 0 THEN 0
            ELSE (caught_tokens * 1000) // exact_dup_tokens END
         AS recall_millis,
       CASE WHEN seg_dup_tokens = 0 THEN 0
            ELSE (caught_tokens * 1000) // seg_dup_tokens END
         AS precision_millis
FROM ex, sg, ct"""


# -------------------------------------------------------- duplication spectrum
SPECTRUM_LENGTHS = (4, 8, 16, 32)


def duplication_spectrum(docs: DataFrame,
                         lengths: tuple[int, ...] = SPECTRUM_LENGTHS) -> DataFrame:
    """Corpus duplication profile across window lengths: one row per n ∈
    ``lengths`` with (window_len, total_windows, dup_windows, dup_docs,
    dup_window_millis) — how much of the corpus is duplicated at 4-token
    granularity vs 32-token granularity. This is the measurement that
    picks the ExactSubstr span length (Lee et al. use 50 BPE tokens;
    short corpora need the curve, not the constant): long-window
    duplication = real copied passages, short-window duplication ≈
    formulaic language.

    Scale: one hash60(gram)-keyed map-side-combinable shuffle PER length
    (8-byte keys — window text never reaches an exchange; the lengths are
    a handful); the per-length stats aggregate to ONE row before the
    union, so the result assembly is free. The shared token array is
    computed once and persisted."""
    base = _base(docs, "doc_id", "text").persist()
    outs = []
    for n in lengths:
        wh = (_windows(base, n)
              .select("id", hash60_col(F.col("gram")).alias("gh")))
        dup = (wh.groupBy("gh").agg(F.count("*").alias("_c"))
               .where(F.col("_c") >= 2))
        dstats = (wh.join(dup.select("gh"), "gh")
                  .agg(F.count("*").cast("long").alias("dup_windows"),
                       F.countDistinct("id").cast("long").alias("dup_docs")))
        totals = base.agg(
            F.sum(F.greatest(F.col("n_tokens") - F.lit(n - 1), F.lit(0)))
            .cast("long").alias("total_windows"))
        outs.append(
            dstats.crossJoin(totals)
            .select(F.lit(n).cast("long").alias("window_len"),
                    "total_windows", "dup_windows", "dup_docs",
                    F.expr("CASE WHEN total_windows = 0 THEN 0 "
                           "ELSE (dup_windows * 1000) div total_windows END")
                    .alias("dup_window_millis")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def duplication_spectrum_sql(lengths: tuple[int, ...] = SPECTRUM_LENGTHS,
                             doc_rel: str = "documents") -> str:
    parts = []
    h_g = hash60_sql("gram")
    for n in lengths:
        parts.append(f"""(
WITH {_base_wins_ctes_sql(doc_rel, 'doc_id', 'text', n)},
wh AS (SELECT id, {h_g} AS gh FROM wins),
dup AS (SELECT gh FROM wh GROUP BY gh HAVING COUNT(*) >= 2),
dw AS (SELECT CAST(COUNT(*) AS BIGINT) AS dup_windows,
              CAST(COUNT(DISTINCT id) AS BIGINT) AS dup_docs
       FROM wh JOIN dup USING (gh)),
tot AS (SELECT CAST(SUM(GREATEST(n_tokens - {n - 1}, 0)) AS BIGINT)
                 AS total_windows FROM base)
SELECT CAST({n} AS BIGINT) AS window_len, tot.total_windows,
       dw.dup_windows, dw.dup_docs,
       CASE WHEN tot.total_windows = 0 THEN 0
            ELSE (dw.dup_windows * 1000) // tot.total_windows END
         AS dup_window_millis
FROM dw, tot)""")
    return "\nUNION ALL\n".join(parts)
