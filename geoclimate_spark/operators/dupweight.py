"""Inverse-cluster-size training weights (SemDeDup / D4-style down-weighting).

Hard near-dup removal (operators/dedup.py `near_dup_clusters` keeps one
canonical per cluster) throws information away; the softer curation move —
SemDeDup (Abbas et al. 2023) and D4 (Tirumala et al. 2023) — keeps every
document but weights it by the inverse of its duplicate-cluster size, so a
cluster of 40 boilerplate copies contributes one document's worth of tokens
to the training mixture. This operator composes the existing MinHash-LSH
connected-components clustering with an exact integer budget rollup:

    eff_chars(doc) = n_chars div component_size      (exact int64 floor div)

and reports per-language totals (the shape the mixture planner consumes):
(lang, n_docs, n_clusters, raw_chars, eff_chars). A cluster spanning two
languages counts toward each language's n_clusters — the column answers
"how many distinct duplicate groups does this slice touch".

Exactness: every quantity is int64 (counts, sums of int64 floor
divisions); the DuckDB dual replays the same recursive-CTE clustering and
the same `//` arithmetic bit-for-bit.

Scale shape: the clustering is the already-bucketed MinHash-LSH + pointer-
doubling CC path (dedup.py:281 — band buckets shuffle keys+ids only, CC is
O(log diameter) rounds); the weighting adds ONE equi-join of the cluster
table back to the doc dim on doc_id plus ONE groupBy(lang) with map-side
partial aggregation. No new all-pairs work, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import near_dup_clusters, near_dup_clusters_sql


def dup_weighted_budget(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Per-language token budget after inverse-cluster-size weighting:
    (lang, n_docs, n_clusters, raw_chars, eff_chars), all exact int64."""
    cc = near_dup_clusters(docs, threshold)
    j = docs.select("doc_id", "lang", "n_chars").join(cc, "doc_id")
    return (j.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.countDistinct("component").cast("long").alias("n_clusters"),
                 F.sum("n_chars").cast("long").alias("raw_chars"),
                 F.sum(F.expr("n_chars div component_size"))
                 .cast("long").alias("eff_chars")))


def dup_weighted_budget_sql(threshold: float = 0.8,
                            doc_rel: str = "documents") -> str:
    cc = near_dup_clusters_sql(threshold, doc_rel)
    return f"""SELECT d.lang AS lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT c.component) AS BIGINT) AS n_clusters,
       CAST(SUM(d.n_chars) AS BIGINT) AS raw_chars,
       CAST(SUM(d.n_chars // c.component_size) AS BIGINT) AS eff_chars
FROM {doc_rel} d JOIN ({cc}) c USING (doc_id)
GROUP BY d.lang"""
