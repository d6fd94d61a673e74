"""PII scrubbing over the documents table — emails, phone numbers and
IPv4 addresses are counted and redacted with class tokens.

No reference analogue (GeoClimate processes geometry, not text) — this is
a training-data-pipeline requirement: corpora are scrubbed of contact
details before training. The operator is a PURE per-row codegen projection
(regexp_count + chained regexp_replace): no shuffle, no UDF, no state — at
100 TB it is embarrassingly parallel and I/O-bound on the text column.

The synthetic corpus contains no PII, so :func:`with_synthetic_pii`
derives a raw text deterministically from ``doc_id`` (every third doc gets
an email, every fifth a phone, every seventh an IP — byte-identical
expressions on the Spark and DuckDB sides), which makes the scrub itself
hash-gated: counts, redacted length and the md5 of the redacted text must
all match the oracle.

Regex dialect note: patterns are restricted to the syntax on which Java
``java.util.regex`` (Spark) and RE2 (DuckDB) agree — character classes,
bounded repetition, ``\\b`` — no alternation-order tricks, no lazy
quantifiers, no backreferences. Redaction order is fixed (email, phone,
IP) so class tokens cannot create or destroy later matches differently
per engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,3} [0-9]{3}-[0-9]{4}"
IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

# Spark-SQL and DuckDB spellings of the same deterministic injection.
# Integer division differs (`div` vs `//`); everything else is shared.
_RAW_SPARK = (
    "concat(text,"
    " CASE WHEN doc_id % 3 = 0 THEN concat(' contact user',"
    "   CAST(doc_id AS STRING), '@mail', CAST(doc_id % 7 AS STRING),"
    "   '.example.com now') ELSE '' END,"
    " CASE WHEN doc_id % 5 = 0 THEN concat(' call +1 ',"
    "   lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-',"
    "   lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' ok') ELSE '' END,"
    " CASE WHEN doc_id % 7 = 0 THEN concat(' ip 10.',"
    "   CAST(doc_id % 256 AS STRING), '.',"
    "   CAST((doc_id div 256) % 256 AS STRING), '.',"
    "   CAST(doc_id % 100 AS STRING), ' end') ELSE '' END)")

_RAW_DUCK = (
    "(text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact user'"
    "   || CAST(doc_id AS VARCHAR) || '@mail' || CAST(doc_id % 7 AS VARCHAR)"
    "   || '.example.com now' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' call +1 '"
    "   || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
    "   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ok' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' ip 10.'"
    "   || CAST(doc_id % 256 AS VARCHAR) || '.'"
    "   || CAST((doc_id // 256) % 256 AS VARCHAR) || '.'"
    "   || CAST(doc_id % 100 AS VARCHAR) || ' end' ELSE '' END)")


def with_synthetic_pii(docs: DataFrame) -> DataFrame:
    """documents + a ``raw`` column with deterministically injected PII."""
    return docs.withColumn("raw", F.expr(_RAW_SPARK))


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Per-doc PII counts + redacted-text fingerprint:
    (doc_id, n_emails, n_phones, n_ips, clean_len, clean_md5)."""
    t = F.col("raw")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "[EMAIL]"),
            PHONE_RE, "[PHONE]"),
        IP_RE, "[IP]")
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(t, F.lit(IP_RE)).cast("long").alias("n_ips"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_md5"))


def scrub_select_sql(rel: str) -> str:
    """DuckDB scrub over a relation already exposing (doc_id, raw): counts
    via regexp_extract_all, same redaction chain (global flag — DuckDB
    replaces first-only by default)."""
    def n(pat: str) -> str:
        return f"CAST(len(regexp_extract_all(raw, '{pat}')) AS BIGINT)"
    clean = (f"regexp_replace(regexp_replace(regexp_replace(raw,"
             f" '{EMAIL_RE}', '[EMAIL]', 'g'),"
             f" '{PHONE_RE}', '[PHONE]', 'g'),"
             f" '{IP_RE}', '[IP]', 'g')")
    return f"""SELECT doc_id, {n(EMAIL_RE)} AS n_emails,
       {n(PHONE_RE)} AS n_phones, {n(IP_RE)} AS n_ips,
       CAST(length({clean}) AS BIGINT) AS clean_len,
       md5({clean}) AS clean_md5
FROM {rel}"""


def scrub_pii_sql() -> str:
    """Full oracle: deterministic injection + scrub."""
    return (f"WITH raws AS (SELECT doc_id, {_RAW_DUCK} AS raw FROM documents)\n"
            + scrub_select_sql("raws"))
