"""Dedup cost-benefit funnel: what each dedup stage alone would keep.

The curation-budget dashboard: before committing a 100-TB corpus to a
dedup recipe, measure how many documents and tokens each stage would
remove — exact document dedup (md5 of the normalized text, first-id
canonical), segment-level (paragraph) dedup (:mod:`segdedup` semantics),
and exact duplicate-span trimming (:mod:`dupspan` semantics). Each stage
is measured INDEPENDENTLY against the same raw corpus (not chained), so
the rows are directly comparable: "span trimming costs 4× the tokens of
exact dedup" is a statement about the corpus, not about stage order.

One row per stage: (stage_ord, stage, n_docs_kept, n_tokens_kept,
tokens_removed_millis) with the millis ratio relative to the raw token
total (zero-guarded). Token counts treat a NULL or empty normalized text
as 0 tokens: the ``split('') = ['']`` artifact never counts, and neither
does the -1 that Spark gives ``size(split(NULL))`` with ANSI mode off.

Scale shape: the raw and exact stages are one scan + one fingerprint-keyed
window; segment/span reuse their operators' documented shuffle contracts
(hash60-keyed, text never shuffles to a dup decision); the four 1-row
aggregates assemble via broadcast crossJoins.

Reference analogue: the per-stage row/byte metrics table of the north
rule's lineage requirement (`plans/pipeline.py` manifests) applied to the
dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql
from .dupspan import duplicate_spans, duplicate_spans_sql
from .segdedup import segment_dedup, segment_dedup_sql

_NTOK = ("CASE WHEN {t} IS NULL OR {t} = '' THEN CAST(0 AS BIGINT)"
         " ELSE CAST(size(split({t}, ' ')) AS BIGINT) END")
_NTOK_SQL = ("CASE WHEN {t} IS NULL OR {t} = '' THEN CAST(0 AS BIGINT)"
             " ELSE CAST(len(string_split({t}, ' ')) AS BIGINT) END")


def dedup_funnel_report(docs: DataFrame) -> DataFrame:
    """(stage_ord, stage, n_docs_kept, n_tokens_kept,
    tokens_removed_millis) for raw / exact / segment / span."""
    base = (docs.select(F.col("doc_id").alias("id"),
                        normalize_col(F.col("text")).alias("_t"))
            .withColumn("_nt", F.expr(_NTOK.format(t="_t"))))
    raw = base.agg(F.count("*").cast("long").alias("d"),
                   F.sum("_nt").cast("long").alias("t"))
    w = Window.partitionBy("_fp").orderBy("id")
    exact = (base.withColumn("_fp", F.md5("_t"))
             .withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") == 1)
             .agg(F.count("*").cast("long").alias("d"),
                  F.sum("_nt").cast("long").alias("t")))
    seg = (segment_dedup(docs)
           .withColumn("_kt", F.expr(_NTOK.format(t="dedup_text")))
           .where(F.col("_kt") > 0)
           .agg(F.count("*").cast("long").alias("d"),
                F.sum("_kt").cast("long").alias("t")))
    span = (duplicate_spans(docs)
            .withColumn("_kt", F.expr(_NTOK.format(t="trimmed_text")))
            .where(F.col("_kt") > 0)
            .agg(F.count("*").cast("long").alias("d"),
                 F.sum("_kt").cast("long").alias("t")))
    stages = [("raw", 0, raw), ("exact", 1, exact),
              ("segment", 2, seg), ("span", 3, span)]
    out = None
    rawr = raw.select(F.col("t").alias("_rawt"))
    for name, ordn, df in stages:
        row = (df.crossJoin(F.broadcast(rawr))
               .select(F.lit(ordn).cast("long").alias("stage_ord"),
                       F.lit(name).alias("stage"),
                       F.coalesce(F.col("d"), F.lit(0)).cast("long")
                       .alias("n_docs_kept"),
                       F.coalesce(F.col("t"), F.lit(0)).cast("long")
                       .alias("n_tokens_kept"),
                       F.expr("CASE WHEN _rawt IS NULL OR _rawt = 0 THEN 0"
                              " ELSE ((_rawt - coalesce(t, 0)) * 1000)"
                              " div _rawt END")
                       .alias("tokens_removed_millis")))
        out = row if out is None else out.unionAll(row)
    return out


def dedup_funnel_report_sql() -> str:
    """DuckDB dual of :func:`dedup_funnel_report` — segment/span stages
    reuse the existing operator duals verbatim as subqueries."""
    norm = normalize_sql("text")
    nt = _NTOK_SQL.format(t="_t")
    ktseg = _NTOK_SQL.format(t="dedup_text")
    ktspan = _NTOK_SQL.format(t="trimmed_text")
    seg = segment_dedup_sql()
    span = duplicate_spans_sql()
    return f"""
WITH base AS (
  SELECT doc_id AS id, {norm} AS _t FROM documents),
nbase AS (SELECT id, _t, {nt} AS _nt FROM base),
raw AS (SELECT CAST(COUNT(*) AS BIGINT) AS d,
               CAST(SUM(_nt) AS BIGINT) AS t FROM nbase),
exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS d, CAST(SUM(_nt) AS BIGINT) AS t
  FROM (SELECT _nt, ROW_NUMBER() OVER (PARTITION BY md5(_t)
                                       ORDER BY id) AS rn FROM nbase)
  WHERE rn = 1),
segk AS (SELECT {ktseg} AS _kt FROM ({seg})),
seg AS (SELECT CAST(COUNT(*) AS BIGINT) AS d,
               CAST(SUM(_kt) AS BIGINT) AS t
        FROM segk WHERE _kt > 0),
spank AS (SELECT {ktspan} AS _kt FROM ({span})),
spanagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS d,
                   CAST(SUM(_kt) AS BIGINT) AS t
            FROM spank WHERE _kt > 0),
stages AS (
  SELECT CAST(0 AS BIGINT) AS stage_ord, 'raw' AS stage, d, t FROM raw
  UNION ALL
  SELECT CAST(1 AS BIGINT), 'exact', d, t FROM exact
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'segment', d, t FROM seg
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'span', d, t FROM spanagg)
SELECT stage_ord, stage,
       CAST(COALESCE(s.d, 0) AS BIGINT) AS n_docs_kept,
       CAST(COALESCE(s.t, 0) AS BIGINT) AS n_tokens_kept,
       CASE WHEN r.t IS NULL OR r.t = 0 THEN 0
            ELSE ((r.t - COALESCE(s.t, 0)) * 1000) // r.t END
         AS tokens_removed_millis
FROM stages s, raw r"""
