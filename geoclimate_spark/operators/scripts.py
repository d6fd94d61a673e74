"""Unicode-script detection over the documents table — per-script character
counts, dominant script, and a mixed-script flag.

No reference analogue (GeoClimate processes geometry, not text) — this is a
web-corpus curation requirement: language-ID (operators/langid.py) assumes a
script; a 10^12-page crawl first routes pages by Unicode script (Latin vs
Cyrillic vs Han vs …), and mixed-script documents are a classic spam /
confusable-spoofing signal (e.g. Cyrillic 'о' inside Latin words).

Design: a PURE per-row codegen projection — one ``regexp_count`` per script
block over explicit codepoint ranges (``[\\x{0400}-\\x{04FF}]`` etc.), which
mean the same thing in Java regex (Spark) and RE2 (DuckDB); no shuffle, no
UDF, no state. At 100 TB this rides the scan projection exactly like the
quality rulesets (operators/qualityrules.py).

The synthetic corpus is ASCII-only, so :func:`with_synthetic_scripts`
derives a multi-script text deterministically from ``doc_id`` (byte-identical
literal snippets appended on both engines — the same injection pattern as
pii.with_synthetic_pii), which makes the detector itself hash-gated: every
per-script count, the dominant-script argmax and the integer share must
match the oracle.

Dominant-script tie-break: fixed priority order (the CASE chain below) —
first script in the chain whose count equals the row maximum wins; identical
CASE semantics in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (name, codepoint-class) — explicit block ranges, valid in Java regex AND
# RE2 with identical meaning. Latin deliberately ASCII-letters-only: the
# fixture's base text is ASCII and accented-Latin is out of scope here.
SCRIPT_CLASSES: list[tuple[str, str]] = [
    ("latin", r"[A-Za-z]"),
    ("cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("greek", r"[\x{0370}-\x{03FF}]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
    ("han", r"[\x{4E00}-\x{9FFF}]"),
    ("hangul", r"[\x{AC00}-\x{D7AF}]"),
    ("kana", r"[\x{3040}-\x{30FF}]"),
]

# Deterministic multi-script injection — literal UTF-8 snippets, appended by
# doc_id residue so scripts overlap on composite residues (doc_id % 15 == 0
# gets Cyrillic AND Greek, etc.). The repeat factor varies counts so the
# argmax is exercised, not just presence.
_SNIPPETS: list[tuple[int, str]] = [
    (3, " привет мир"),      # Cyrillic
    (5, " 漢字處理文本"),      # Han
    (7, " γειά σου κόσμε"),  # Greek
    (11, " 한국어 텍스트"),    # Hangul
    (13, " ひらがなカタカナ"),  # Kana
    (17, " نص عربي"),        # Arabic
]


def _inject_spark() -> str:
    parts = ["text"]
    for mod, snip in _SNIPPETS:
        parts.append(
            f"CASE WHEN doc_id % {mod} = 0 THEN repeat('{snip}',"
            f" 1 + CAST(doc_id % 2 AS INT)) ELSE '' END")
    return "concat(" + ", ".join(parts) + ")"


def _inject_duck() -> str:
    parts = ["text"]
    for mod, snip in _SNIPPETS:
        parts.append(
            f"CASE WHEN doc_id % {mod} = 0 THEN repeat('{snip}',"
            f" CAST(1 + doc_id % 2 AS INT)) ELSE '' END")
    return "(" + " || ".join(parts) + ")"


def with_synthetic_scripts(docs: DataFrame) -> DataFrame:
    """documents + an ``mtext`` column with deterministic non-Latin spans."""
    return docs.withColumn("mtext", F.expr(_inject_spark()))


def script_profile(docs: DataFrame) -> DataFrame:
    """Per-doc script histogram: (doc_id, n_<script>…, n_scripts,
    dom_script, dom_share_millis).

    ``n_scripts`` counts scripts present at all; ``dom_share_millis`` is the
    dominant script's integer share of all scripted characters (exact int64
    cross-multiplication — no doubles)."""
    t = F.col("mtext")
    counts = {n: F.regexp_count(t, F.lit(cls)).cast("long")
              for n, cls in SCRIPT_CLASSES}
    names = [n for n, _ in SCRIPT_CLASSES]
    out = docs.select("doc_id",
                      *[counts[n].alias(f"n_{n}") for n in names])
    total = sum(F.col(f"n_{n}") for n in names)
    mx = F.greatest(*[F.col(f"n_{n}") for n in names])
    dom = F.lit(None).cast("string")
    # first-in-priority-order wins: build the CASE from the END backwards
    for n in reversed(names):
        dom = F.when(F.col(f"n_{n}") == mx, F.lit(n)).otherwise(dom)
    n_scripts = sum(
        F.when(F.col(f"n_{n}") > 0, F.lit(1)).otherwise(F.lit(0))
        for n in names)
    return (out
            .withColumn("n_scripts", n_scripts.cast("long"))
            .withColumn("dom_script", dom)
            .withColumn("_mx", mx)
            .withColumn("_tot", total)
            .withColumn("dom_share_millis",
                        F.when(F.col("_tot") > 0,
                               F.expr("(_mx * 1000) div _tot"))
                        .otherwise(F.lit(0)).cast("long"))
            .drop("_mx", "_tot"))


def script_profile_sql(rel: str = "documents") -> str:
    """DuckDB dual of inject∘profile (len(regexp_extract_all) counting)."""
    def cnt(cls: str) -> str:
        return f"CAST(len(regexp_extract_all(mtext, '{cls}')) AS BIGINT)"

    names = [n for n, _ in SCRIPT_CLASSES]
    count_cols = ",\n    ".join(
        f"{cnt(cls)} AS n_{n}" for n, cls in SCRIPT_CLASSES)
    total = " + ".join(f"n_{n}" for n in names)
    mx = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    dom = "CASE " + " ".join(
        f"WHEN n_{n} = {mx} THEN '{n}'" for n in names) + " END"
    n_scripts = " + ".join(
        f"CASE WHEN n_{n} > 0 THEN 1 ELSE 0 END" for n in names)
    return f"""
WITH injected AS (
  SELECT doc_id, {_inject_duck()} AS mtext FROM {rel}
), counted AS (
  SELECT doc_id,
    {count_cols}
  FROM injected
)
SELECT doc_id, {', '.join(f'n_{n}' for n in names)},
  CAST({n_scripts} AS BIGINT) AS n_scripts,
  {dom} AS dom_script,
  CASE WHEN ({total}) > 0
       THEN CAST(({mx} * 1000) // ({total}) AS BIGINT)
       ELSE 0 END AS dom_share_millis
FROM counted
"""
