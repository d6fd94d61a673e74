"""Text-analysis functions over the ``documents``/``pages`` text column.

The training-data-pipeline layer: language-ID (stopword-hit heuristic),
quality scoring (length / punctuation / stopword / token-shape ratios), token
counting, and document fingerprinting. Reference analogue: the deterministic
per-row attribute formatters of `/root/reference/osm/.../
InputDataFormatting.groovy:48-193` (regex + rule tables → typed columns) —
same shape: pure scalar derivations, fixed rule tables, deterministic per row.

Every function exists twice and MUST stay in lock-step:

* ``*_cols`` — Spark ``Column`` expressions (JVM-side, whole-stage codegen;
  no UDFs, no shuffle — at 100 TB these ride the scan projection), and
* ``*_sql`` — DuckDB-runnable SQL fragments for the driver's oracle.

All ratios divide exact integer counts, so both engines produce bit-identical
doubles; the only rounding is the explicit one in ``quality``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import hash60_col, hash60_sql

# Priority-ordered language → stopword table (first wins ties). Tiny on
# purpose: a rule table, not a model — the reference's analogue is the
# type/use mapping tables of InputDataFormatting.
LANG_STOPWORDS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")),
    ("fr", ("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans")),
    ("de", ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von")),
    ("es", ("el", "la", "de", "y", "que", "los", "en", "un", "es", "por")),
)
_EN_STOPS = LANG_STOPWORDS[0][1]

# Non [a-z0-9 space] after normalization counts as punctuation.
_PUNCT_CLASS = "[a-z0-9 ]"

# GPT-2-style pretokenizer over NORMALIZED text (lowercase, single spaces):
# contraction suffix | space?+letter run | space?+digit run | space?+other
# run. Restricted to literal classes whose match semantics are identical in
# Java regex (Spark) and RE2 (DuckDB) — both are leftmost-first across
# alternatives and greedy within a class, so the token stream (not just the
# count) is bit-identical across engines. This splits where a real BPE
# pretokenizer splits (letter/digit/punct boundaries, attached leading
# space), which is what token-budget accounting needs; the learned-merge
# step below the pretokenizer only subdivides these pieces further.
BPE_PRETOKEN_PATTERN = r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


# ---------------------------------------------------------------- Spark path
def normalize_col(text: Column) -> Column:
    """lower + collapse whitespace + trim — the canonical text form shared by
    shingling, fingerprinting and all ratio metrics."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def tokens_col(norm: Column) -> Column:
    return F.split(norm, " ")


def bigrams_col(norm: str) -> Column:
    """All character bigrams of COLUMN NAME ``norm`` (1-based positions,
    overlapping) as an array. Guarded for < 2 chars — Spark's
    ``sequence(1, 0)`` DESCENDS rather than returning empty. Lock-step dual:
    :func:`bigrams_sql`."""
    return F.expr(
        f"CASE WHEN length({norm}) < 2 THEN array() "
        f"ELSE transform(sequence(1, length({norm}) - 1),"
        f" i -> substring({norm}, i, 2)) END")


def bpe_tokens_col(norm: Column) -> Column:
    """BPE-ish pretokens of the NORMALIZED text as an array — one
    ``regexp_extract_all`` inside the scan projection (codegen, no Python).
    Empty normalized text yields an empty array (whitespace ``tokens_col``
    yields [''] there — callers comparing the two counts see 0 vs 1)."""
    return F.regexp_extract_all(norm, F.lit(BPE_PRETOKEN_PATTERN), 0)


def _stop_hits_col(toks: Column, stops: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(s) for s in stops])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def _avg_tok_col(n_chars: Column, n_tokens: Column) -> Column:
    return (n_chars - (n_tokens - F.lit(1))).cast("double") / n_tokens.cast("double")


def round6_col(x: Column) -> Column:
    """``x`` rounded to 6 decimals as ``FLOOR(x * 1e6 + 0.5) / 1e6`` in
    doubles, which both engines evaluate bit-identically. Not
    ``ROUND(x, 6)``: Spark rounds the shortest decimal form of x HALF_UP
    while DuckDB rounds ``x * 1e6``, and the two differ next to half-way
    points. Spark's ``floor`` returns a long, so ``|x|`` must stay below
    ~9.2e12."""
    return F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def quality_col(n_tokens: Column, n_chars: Column, punct: Column,
                stop_hits: Column) -> Column:
    """Quality score in [0, 1] from four integer counts, rounded by
    :func:`round6_col`."""
    punct_ratio = punct.cast("double") / n_chars.cast("double")
    stop_ratio = stop_hits.cast("double") / n_tokens.cast("double")
    q = (F.lit(0.3) * F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
         + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * F.lit(5.0), F.lit(1.0)))
         + F.lit(0.2) * F.least(stop_ratio * F.lit(4.0), F.lit(1.0))
         + F.lit(0.2) * F.least(_avg_tok_col(n_chars, n_tokens) / F.lit(8.0), F.lit(1.0)))
    return round6_col(q)


def text_metrics_cols(text: Column) -> dict[str, Column]:
    """All metric columns keyed by output name (same keys as the SQL side)."""
    norm = normalize_col(text)
    toks = tokens_col(norm)
    n_chars = F.length(norm)
    n_tokens = F.size(toks)
    punct = n_chars - F.length(F.regexp_replace(norm, _PUNCT_CLASS, ""))
    stop_hits = _stop_hits_col(toks, _EN_STOPS)
    scores = {lang: _stop_hits_col(toks, stops) for lang, stops in LANG_STOPWORDS}
    langs = [lang for lang, _ in LANG_STOPWORDS]
    guess = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(langs)):
            c = scores[langs[i]] >= scores[langs[j]]
            cond = c if cond is None else (cond & c)
        guess = F.when(cond, F.lit(langs[i])).otherwise(guess)
    return {
        "n_chars_norm": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "punct_chars": punct.cast("long"),
        "stopword_hits": stop_hits.cast("long"),
        "avg_token_len": _avg_tok_col(n_chars, n_tokens),
        "lang_guess": guess,
        "quality": quality_col(n_tokens, n_chars, punct, stop_hits),
        "fingerprint": hash60_col(norm),
    }


# ------------------------------------------------------------------ SQL path
def normalize_sql(text_sql: str) -> str:
    return f"trim(regexp_replace(lower({text_sql}), '\\s+', ' ', 'g'))"


def bigrams_sql(norm: str) -> str:
    """DuckDB dual of :func:`bigrams_col` (list form). langid's oracle uses
    an equivalent LATERAL row-generating formulation instead — both are
    hash-gated against the same Spark column."""
    return (f"CASE WHEN length({norm}) < 2 THEN [] "
            f"ELSE list_transform(generate_series(1, length({norm}) - 1), "
            f"i -> substr({norm}, i, 2)) END")


def bpe_tokens_sql(norm_sql: str) -> str:
    """DuckDB dual of :func:`bpe_tokens_col` (RE2 matches the Java-regex
    token stream for this pattern — see BPE_PRETOKEN_PATTERN)."""
    pat = BPE_PRETOKEN_PATTERN.replace("'", "''")
    return f"regexp_extract_all({norm_sql}, '{pat}')"


def _stop_hits_sql(norm: str, stops: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{s}'" for s in stops)
    return (f"len(list_filter(string_split({norm}, ' '), t -> t IN ({inlist})))")


def _avg_tok_sql(n_chars: str, n_tokens: str) -> str:
    return f"(CAST({n_chars} - ({n_tokens} - 1) AS DOUBLE) / CAST({n_tokens} AS DOUBLE))"


def round6_sql(x: str) -> str:
    """DuckDB dual of :func:`round6_col`."""
    return f"(FLOOR(({x}) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6)"


def quality_sql(n_tokens: str, n_chars: str, punct: str, stop_hits: str) -> str:
    """DuckDB dual of :func:`quality_col`."""
    punct_ratio = f"(CAST({punct} AS DOUBLE) / CAST({n_chars} AS DOUBLE))"
    stop_ratio = f"(CAST({stop_hits} AS DOUBLE) / CAST({n_tokens} AS DOUBLE))"
    q = (f"0.3 * LEAST(CAST({n_tokens} AS DOUBLE) / 100.0, 1.0)"
         f" + 0.3 * (1.0 - LEAST({punct_ratio} * 5.0, 1.0))"
         f" + 0.2 * LEAST({stop_ratio} * 4.0, 1.0)"
         f" + 0.2 * LEAST({_avg_tok_sql(n_chars, n_tokens)} / 8.0, 1.0)")
    return round6_sql(q)


def text_metrics_sql(text_sql: str) -> dict[str, str]:
    """DuckDB fragments; same keys/semantics as :func:`text_metrics_cols`."""
    norm = normalize_sql(text_sql)
    n_chars = f"length({norm})"
    n_tokens = f"len(string_split({norm}, ' '))"
    punct = f"(length({norm}) - length(regexp_replace({norm}, '{_PUNCT_CLASS}', '', 'g')))"
    stop_hits = _stop_hits_sql(norm, _EN_STOPS)
    langs = [lang for lang, _ in LANG_STOPWORDS]
    scores = {lang: _stop_hits_sql(norm, stops) for lang, stops in LANG_STOPWORDS}
    cases = []
    for i in range(len(langs) - 1):
        conds = " AND ".join(
            f"({scores[langs[i]]}) >= ({scores[langs[j]]})" for j in range(i + 1, len(langs)))
        cases.append(f"WHEN {conds} THEN '{langs[i]}'")
    guess = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    return {
        "n_chars_norm": f"CAST({n_chars} AS BIGINT)",
        "n_tokens": f"CAST({n_tokens} AS BIGINT)",
        "punct_chars": f"CAST({punct} AS BIGINT)",
        "stopword_hits": f"CAST({stop_hits} AS BIGINT)",
        "avg_token_len": _avg_tok_sql(n_chars, n_tokens),
        "lang_guess": guess,
        "quality": quality_sql(n_tokens, n_chars, punct, stop_hits),
        "fingerprint": hash60_sql(norm),
    }
