"""Accent/diacritic folding — the match-normalization applied before
hashing, dedup keys, and search indexing (ICU "Latin-ASCII" transform,
restricted to the deterministic subset both engines express as plain
string ops). ``café`` / ``cafe``, ``naïve`` / ``naive``, ``straße`` /
``strasse`` must collide in a dedup key; raw normalize_col (lower +
whitespace) does not give that.

Implementation: ONE ``translate`` for every 1:1 mapping (the accented
Latin-1/Latin-Extended letters) + a short ``replace`` chain for the 1:n
ligatures (ß→ss, æ→ae, œ→oe) applied BEFORE the translate so folding
cannot create new foldables. Pure per-row codegen — no regex, no UDF, no
shuffle; identical ``translate``/``replace`` semantics in Spark and
DuckDB (both operate on Unicode codepoints).

The fixture corpus is ASCII, so the driver query injects deterministic
accented spans (the pii/scripts injection pattern) — fold counts AND the
md5 of the folded text are hash-gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql

# 1:1 foldings (lowercase only — folding runs after normalize's lower())
_FROM = "àáâãäåèéêëìíîïòóôõöøùúûüçñýÿšžð"
_TO = "aaaaaaeeeeiiiioooooouuuucnyyszd"
# 1:n ligatures, replaced first
_LIGATURES = (("ß", "ss"), ("æ", "ae"), ("œ", "oe"))

assert len(_FROM) == len(_TO)


def fold_col(text):
    out = normalize_col(text)
    for a, b in _LIGATURES:
        out = F.replace(out, F.lit(a), F.lit(b))
    return F.translate(out, _FROM, _TO)


def fold_sql(text_sql: str) -> str:
    out = normalize_sql(text_sql)
    for a, b in _LIGATURES:
        out = f"replace({out}, '{a}', '{b}')"
    return f"translate({out}, '{_FROM}', '{_TO}')"


# deterministic accented injection for the ASCII fixture
_SNIPPET = " café naïve jalapeño façade straße cœur ærø"


def with_synthetic_accents(docs: DataFrame) -> DataFrame:
    return docs.withColumn("atext", F.expr(
        "concat(text, CASE WHEN doc_id % 2 = 0 THEN"
        f" repeat('{_SNIPPET}', 1 + CAST(doc_id % 3 AS INT))"
        " ELSE '' END)"))


def _accents_inject_duck() -> str:
    return ("(text || CASE WHEN doc_id % 2 = 0 THEN"
            f" repeat('{_SNIPPET}', CAST(1 + doc_id % 3 AS INT))"
            " ELSE '' END)")


def fold_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars_in, n_chars_out, n_changed, folded_md5): the fold
    applied per doc with an exact changed-codepoint count (chars whose
    folded form differs — computed as length-preserving positional
    comparison via the 1:1 translate plus the ligature length delta)."""
    t = normalize_col(F.col("atext"))
    folded = fold_col(F.col("atext"))
    lig = sum((F.length(t)
               - F.length(F.replace(t, F.lit(a), F.lit(""))))
              / len(a) for a, _ in _LIGATURES)
    # changed count = occurrences of every foldable char (exact: each
    # occurrence folds to a different char) + ligature occurrences
    foldable = sum((F.length(t)
                    - F.length(F.replace(t, F.lit(c), F.lit(""))))
                   for c in _FROM)
    return docs.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_in"),
        F.length(folded).cast("long").alias("n_chars_out"),
        (foldable + lig).cast("long").alias("n_changed"),
        F.md5(folded).alias("folded_md5"))


def fold_profile_sql(rel: str = "documents") -> str:
    inj = _accents_inject_duck()
    norm = normalize_sql(inj)
    folded = fold_sql(inj)
    lig = " + ".join(
        f"(length({norm}) - length(replace({norm}, '{a}', ''))) // {len(a)}"
        for a, _ in _LIGATURES)
    foldable = " + ".join(
        f"(length({norm}) - length(replace({norm}, '{c}', '')))"
        for c in _FROM)
    return f"""
SELECT doc_id,
       CAST(length({norm}) AS BIGINT) AS n_chars_in,
       CAST(length({folded}) AS BIGINT) AS n_chars_out,
       CAST(({foldable}) + ({lig}) AS BIGINT) AS n_changed,
       md5({folded}) AS folded_md5
FROM {rel}"""
