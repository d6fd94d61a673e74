"""Per-host line-level boilerplate removal (RefinedWeb / CCNet style).

Web corpora carry per-site chrome — nav headers, subscribe banners, copyright
footers — repeated on (nearly) every page of a host. The standard curation
pass (CCNet's line-dedup, RefinedWeb's "line-wise corrections") splits each
page into lines, counts within each host how many of the host's documents
contain each exact line, strips lines above a frequency threshold, and
reassembles the page from the survivors. Unlike the global
:mod:`.segdedup` first-occurrence pass, the decision here is a per-host
FREQUENCY rule: boilerplate disappears from every copy (including the
first), while prose — even prose duplicated across two pages — survives
below the threshold.

Reference analogue: the same strip-by-group-frequency shape as the
reference's tag-value cleanup in input formatting
(`/root/reference/osm/src/main/groovy/org/orbisgis/geoclimate/osm/
InputDataFormatting.groovy:48-193` normalizes attributes by frequency-ranked
mapping tables); applied here at sub-document granularity over text.

The synthetic corpus has single-line docs and no hosts, so
:func:`with_synthetic_boilerplate` derives both deterministically from
``doc_id`` (byte-identical expressions on the Spark and DuckDB sides):
every doc gets a host header + copyright footer (freq 100% within host),
every second doc a subscribe banner (~50%), every 17th a promo line (~2%
per variant — below threshold, must survive). That makes the strip itself
hash-gated: line counts, removed counts AND the md5 of the reassembled
text must all match the oracle.

Strip rule (pure integers, no floats): a line is boilerplate within host h
iff it occurs in >= 2 distinct docs of h AND in >= 30% of h's docs
(``10*nd >= 3*ndocs``). The ``nd >= 2`` floor keeps single-doc hosts
intact (a 1-doc host would otherwise strip its own prose at 100% "freq").

Scale shape (10^12 pages):
* line splitting is a pure projection (split + posexplode) in the scan
  stage — no Python, no pre-shuffle;
* the frequency table groups by ``(host, hash60(line))`` — the shuffle
  carries a 60-bit hash, never the line text (at 100 TB the chrome lines
  are long; hashing cuts shuffle bytes ~10x). 60-bit collisions within a
  host are birthday-bounded (~2^-30 per host at 2^15 distinct lines);
* the per-host doc count is a tiny dim — broadcast;
* the strip join is an equi-join on ``(host, line_hash)`` — co-partitioned
  with the frequency agg, so AQE coalesces the exchange;
* reassembly is ONE groupBy(doc) with collect_list(struct(pos, line)) of
  only the SURVIVING lines.
Total: 3 shuffles (freq agg, strip join, reassembly) + 1 broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash60_col, hash60_sql

N_HOSTS = 40
STRIP_MIN_DOCS = 2          # nd >= 2
STRIP_NUM, STRIP_DEN = 3, 10  # strip iff 10*nd >= 3*ndocs  (30%)

_HOST_SPARK = f"CONCAT('h', CAST(doc_id % {N_HOSTS} AS STRING), '.example.org')"
_HOST_DUCK = f"('h' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example.org')"


def with_synthetic_boilerplate(docs: DataFrame) -> DataFrame:
    """documents + (host, raw): deterministic multi-line page text with
    injected per-host chrome. Line layout per doc:

    0. ``home about contact <host>``            (every doc -> freq 1.0)
    1. ``subscribe to the <host> newsletter``   (doc_id % 2 = 0 -> ~0.5)
    2. the document text                        (unique -> freq ~0)
    3. ``promo code <doc_id % 3>``              (doc_id % 17 = 0 -> ~2%)
    4. ``copyright 2024 <host>``                (every doc -> freq 1.0)
    """
    host = F.expr(_HOST_SPARK)
    nl = F.lit("\n")
    semi = F.when(F.col("doc_id") % 2 == 0,
                  F.concat(F.lit("subscribe to the "), host,
                           F.lit(" newsletter"), nl)).otherwise(F.lit(""))
    rare = F.when(F.col("doc_id") % 17 == 0,
                  F.concat(F.lit("promo code "),
                           (F.col("doc_id") % 3).cast("string"), nl)
                  ).otherwise(F.lit(""))
    raw = F.concat(
        F.lit("home about contact "), host, nl,
        semi,
        F.col("text"), nl,
        rare,
        F.lit("copyright 2024 "), host)
    return docs.withColumn("host", host).withColumn("raw", raw)


def remove_boilerplate(docs: DataFrame) -> DataFrame:
    """(doc_id, host, n_lines, n_removed, clean_len, clean_md5): strip
    lines above the per-host frequency threshold, reassemble the rest in
    original order (joined with ``\\n``)."""
    lines = (docs.select(F.col("doc_id").alias("id"),
                         F.col("host"),
                         F.posexplode(F.split(F.col("raw"), "\n"))
                         .alias("pos", "line"))
             .withColumn("lh", hash60_col(F.col("line"))))
    stats = (lines.groupBy("host", "lh")
             .agg(F.countDistinct("id").alias("nd")))
    hdocs = (docs.groupBy(F.col("host"))
             .agg(F.countDistinct(F.col("doc_id")).alias("ndocs")))
    strip = ((F.col("nd") >= STRIP_MIN_DOCS)
             & (F.col("nd") * STRIP_DEN >= F.col("ndocs") * STRIP_NUM))
    joined = (lines.join(stats, ["host", "lh"])
              .join(F.broadcast(hdocs), "host")
              .withColumn("_strip", strip))
    clean = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.when(~F.col("_strip"), F.struct("pos", "line")))),
            lambda x: x["line"]),
        "\n")
    return (joined.groupBy("id", "host")
            .agg(F.count("*").cast("long").alias("n_lines"),
                 F.sum(F.col("_strip").cast("long"))
                 .cast("long").alias("n_removed"),
                 F.length(clean).cast("long").alias("clean_len"),
                 F.md5(clean).alias("clean_md5"))
            .select(F.col("id").alias("doc_id"), "host", "n_lines",
                    "n_removed", "clean_len", "clean_md5"))


def boilerplate_removal_sql() -> str:
    """DuckDB dual: same injection, same 60-bit line-hash keyed frequency
    table, same integer strip rule, string_agg reassembly ordered by pos."""
    h60 = hash60_sql("line")
    return f"""
WITH raws AS (
  SELECT doc_id, {_HOST_DUCK} AS host,
         ('home about contact ' || {_HOST_DUCK} || chr(10)
          || CASE WHEN doc_id % 2 = 0 THEN 'subscribe to the ' || {_HOST_DUCK}
                  || ' newsletter' || chr(10) ELSE '' END
          || text || chr(10)
          || CASE WHEN doc_id % 17 = 0 THEN 'promo code '
                  || CAST(doc_id % 3 AS VARCHAR) || chr(10) ELSE '' END
          || 'copyright 2024 ' || {_HOST_DUCK}) AS raw
  FROM documents),
ls AS (SELECT doc_id, host, string_split(raw, chr(10)) AS a FROM raws),
lines AS (SELECT doc_id, host, p - 1 AS pos, a[p] AS line
          FROM ls, UNNEST(generate_series(1, len(a))) AS g(p)),
stats AS (SELECT host, {h60} AS lh, COUNT(DISTINCT doc_id) AS nd
          FROM lines GROUP BY 1, 2),
hd AS (SELECT host, COUNT(DISTINCT doc_id) AS ndocs FROM raws GROUP BY 1),
j AS (SELECT l.doc_id, l.host, l.pos, l.line,
             (s.nd >= {STRIP_MIN_DOCS}
              AND s.nd * {STRIP_DEN} >= h.ndocs * {STRIP_NUM}) AS strip
      FROM lines l
      JOIN stats s ON l.host = s.host AND {h60.replace('line', 'l.line')} = s.lh
      JOIN hd h ON l.host = h.host),
agg AS (SELECT doc_id, host, COUNT(*) AS n_lines,
               SUM(CASE WHEN strip THEN 1 ELSE 0 END) AS n_removed,
               COALESCE(string_agg(CASE WHEN NOT strip THEN line END,
                                   chr(10) ORDER BY pos), '') AS clean
        FROM j GROUP BY doc_id, host)
SELECT doc_id, host, CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_removed AS BIGINT) AS n_removed,
       CAST(length(clean) AS BIGINT) AS clean_len,
       md5(clean) AS clean_md5
FROM agg"""
