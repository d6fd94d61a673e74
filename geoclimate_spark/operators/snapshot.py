"""Snapshot diff — Iceberg-style incremental change detection over a crawl
log.

The north-rule pipeline checkpoints every stage as a snapshot; the
operation users run between two snapshots is the DIFF: which logical pages
appeared, which were re-fetched with newer content, which are unchanged.
Iceberg exposes this as the ``changelog`` / incremental read between two
snapshot ids; over an append-only crawl log the same answer is computable
from the data itself: the state "as of T" is the latest fetch per canonical
URL among rows with ``fetch_epoch <= T``, and the diff compares two such
states. geoclimate analogue: the OSM re-extract workflow diffs a zone's
newly-downloaded layer against the cached one before recomputing
indicators (``osm/WorkflowOSM.groovy:530-585``, cache-or-refresh decision).

Exactness: the latest-fetch winner is picked by the int64 encoded key
``fetch_epoch * 10^7 + crawl_id`` — a lexicographic (epoch, crawl_id) max
in one 64-bit integer (epochs < 2^31 and crawl ids < 10^7 by fixture
construction, so no overflow and no collision). MAX over that key is
associative → partial-agg friendly, and identical in both engines. NULL
handling: ``MAX(CASE WHEN epoch <= T1 THEN key END)`` is NULL iff the URL
did not exist at T1 — exactly the "added" class.

Scale shape: ONE hash aggregation on canon_url (map-side partial MAX, no
join, no window); the diff classification is a codegen projection. At
10^12 crawl rows this is the cheapest possible shape — and under a real
Iceberg catalog the T1/T2 predicates prune to the files of the two
snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .urlnorm import _EPOCH, _YEAR, canonical_url_col, canonical_url_sql

# snapshot boundaries: mid-year and end-of-range — deterministic constants
T1_EPOCH = _EPOCH + _YEAR // 2
T2_EPOCH = _EPOCH + _YEAR

_KEY_SCALE = 10_000_000  # crawl_id < 10^7; epoch*1e7 + id < 2^63

_M = 2_147_483_647
_A = 48_271


def crawl_history_fixture_sql() -> dict[str, str]:
    """Engine-agnostic SQL fragments for a crawl history whose per-URL fetch
    times actually straddle the snapshot boundary. :func:`urlnorm.
    url_crawl_fixture_sql`'s epoch is AFFINE in the id (an LCG step), so
    within a canon group (ids ≡ mod 150) epochs differ by one fixed
    delta and every group straddles mid-year — the diff degenerates to all
    'updated'. Squaring the id first breaks the affinity (verified mix at
    sf0.01: 37 added / 83 updated / 30 unchanged). ``keep_pred`` drops ~1/4
    of crawls so per-URL fetch counts vary too. Precondition: id < 2^31 so
    id*id stays in int64 — same bound in both engines, overflow-free.

    The messy ``raw_url`` noise is reused from urlnorm so canonicalization
    stays exercised by the diff."""
    from .urlnorm import url_crawl_fixture_sql
    raw_url = url_crawl_fixture_sql(canon_n=150)["raw_url"]
    sq = f"((doc_id) * (doc_id) % {_M})"
    epoch = (f"CAST({_EPOCH} + (({sq}) * {_A} + 11) % {_M} % {_YEAR}"
             f" AS BIGINT)")
    keep = f"(((doc_id) * {_A} + 11) % {_M}) % 4 <> 0"
    return {"raw_url": raw_url, "fetch_epoch": epoch, "keep_pred": keep}


def snapshot_diff(crawls: DataFrame, t1: int = T1_EPOCH,
                  t2: int = T2_EPOCH) -> DataFrame:
    """(canon_url, change_type, t1_epoch, t1_crawl_id, t2_epoch,
    t2_crawl_id): per-URL diff between the snapshot states at ``t1`` and
    ``t2``. change_type ∈ added (absent at t1) / updated (different winning
    fetch) / unchanged. URLs absent at t2 cannot exist (append-only log with
    t2 covering the full range), so no 'deleted' class arises here; a
    tombstoned source would add it symmetrically.

    Input columns: crawl_id, raw_url, fetch_epoch."""
    key = (F.col("fetch_epoch") * F.lit(_KEY_SCALE)
           + F.col("crawl_id")).cast("long")
    c = crawls.select(
        canonical_url_col(F.col("raw_url")).alias("canon_url"),
        F.col("fetch_epoch").cast("long").alias("fetch_epoch"),
        F.col("crawl_id").cast("long").alias("crawl_id"),
        key.alias("_key"))
    agg = (c.groupBy("canon_url").agg(
        F.max(F.when(F.col("fetch_epoch") <= F.lit(int(t1)), F.col("_key")))
         .alias("_k1"),
        F.max(F.when(F.col("fetch_epoch") <= F.lit(int(t2)), F.col("_key")))
         .alias("_k2")))
    change = (F.when(F.col("_k1").isNull(), F.lit("added"))
              .when(F.col("_k1") != F.col("_k2"), F.lit("updated"))
              .otherwise(F.lit("unchanged")))
    dec = lambda k: (F.expr(f"CAST({k} DIV {_KEY_SCALE} AS LONG)"),
                     F.expr(f"CAST({k} % {_KEY_SCALE} AS LONG)"))
    e1, i1 = dec("_k1")
    e2, i2 = dec("_k2")
    return (agg.where(F.col("_k2").isNotNull())
            .select("canon_url", change.alias("change_type"),
                    e1.alias("t1_epoch"), i1.alias("t1_crawl_id"),
                    e2.alias("t2_epoch"), i2.alias("t2_crawl_id")))


def incremental_host_rollup(crawls: DataFrame, t1: int = T1_EPOCH,
                            t2: int = T2_EPOCH) -> DataFrame:
    """(host, n_urls, sum_epoch): per-host rollup of the LIVE state at
    ``t2`` — computed INCREMENTALLY: the t1 base aggregate merged with the
    t1→t2 diff's delta, never re-reading the t1 history. The DuckDB oracle
    recomputes the t2 state from scratch, so the correctness check proves
    the incremental-maintenance algebra itself (base ⊕ delta ≡ recompute)
    — the 100-TB point: a daily update touches the delta, not the corpus.

    Delta algebra per diff class: added → (+1 url, +epoch₂); updated →
    (+0, +epoch₂ − epoch₁); unchanged → (0, 0) (dropped before the merge).
    The merge is a full outer join on host with coalesce(0) — hosts born
    after t1 appear only in the delta, quiet hosts only in the base.

    Input columns: crawl_id, raw_url, fetch_epoch, host (a property of the
    logical page — constant across its crawls)."""
    key = (F.col("fetch_epoch") * F.lit(_KEY_SCALE)
           + F.col("crawl_id")).cast("long")
    st = (crawls.select(
            canonical_url_col(F.col("raw_url")).alias("canon_url"),
            F.col("host"),
            F.col("fetch_epoch").cast("long").alias("fetch_epoch"),
            key.alias("_key"))
          .groupBy("canon_url", "host")
          .agg(F.max(F.when(F.col("fetch_epoch") <= F.lit(int(t1)),
                            F.col("_key"))).alias("_k1"),
               F.max(F.when(F.col("fetch_epoch") <= F.lit(int(t2)),
                            F.col("_key"))).alias("_k2")))
    e1 = F.expr(f"CAST(_k1 DIV {_KEY_SCALE} AS LONG)")
    e2 = F.expr(f"CAST(_k2 DIV {_KEY_SCALE} AS LONG)")
    base = (st.where(F.col("_k1").isNotNull())
            .groupBy("host")
            .agg(F.count("*").cast("long").alias("_bn"),
                 F.sum(e1).cast("long").alias("_bs")))
    delta = (st.where(F.col("_k2").isNotNull()
                      & (F.col("_k1").isNull()
                         | (F.col("_k1") != F.col("_k2"))))
             .groupBy("host")
             .agg(F.sum(F.when(F.col("_k1").isNull(), 1).otherwise(0))
                  .cast("long").alias("_dn"),
                  F.sum(e2 - F.coalesce(e1, F.lit(0))).cast("long")
                  .alias("_ds")))
    z = F.lit(0).cast("long")
    return (base.join(delta, "host", "full_outer")
            .select("host",
                    (F.coalesce("_bn", z) + F.coalesce("_dn", z))
                    .cast("long").alias("n_urls"),
                    (F.coalesce("_bs", z) + F.coalesce("_ds", z))
                    .cast("long").alias("sum_epoch")))


def incremental_host_rollup_sql(crawls_sql: str) -> str:
    """Oracle = FULL RECOMPUTE of the t2 live state (deliberately not the
    incremental algorithm): latest fetch per canonical URL at t2, rolled up
    per host."""
    canon = canonical_url_sql("raw_url")
    return f"""
WITH c AS (
  SELECT {canon} AS canon_url, host,
         CAST(fetch_epoch AS BIGINT) AS fetch_epoch,
         CAST(fetch_epoch * {_KEY_SCALE} + crawl_id AS BIGINT) AS _key
  FROM ({crawls_sql}) WHERE fetch_epoch <= {int(T2_EPOCH)}
), live AS (
  SELECT canon_url, host, MAX(_key) AS _k FROM c GROUP BY canon_url, host
)
SELECT host, CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(SUM(_k // {_KEY_SCALE}) AS BIGINT) AS sum_epoch
FROM live GROUP BY host"""


# --------------------------------------------------------------- DuckDB dual
def snapshot_diff_sql(crawls_sql: str) -> str:
    canon = canonical_url_sql("raw_url")
    return f"""
WITH c AS (
  SELECT {canon} AS canon_url,
         CAST(fetch_epoch AS BIGINT) AS fetch_epoch,
         CAST(crawl_id AS BIGINT) AS crawl_id,
         CAST(fetch_epoch * {_KEY_SCALE} + crawl_id AS BIGINT) AS _key
  FROM ({crawls_sql})
), agg AS (
  SELECT canon_url,
         MAX(CASE WHEN fetch_epoch <= {int(T1_EPOCH)} THEN _key END) AS _k1,
         MAX(CASE WHEN fetch_epoch <= {int(T2_EPOCH)} THEN _key END) AS _k2
  FROM c GROUP BY canon_url
)
SELECT canon_url,
       CASE WHEN _k1 IS NULL THEN 'added'
            WHEN _k1 <> _k2 THEN 'updated'
            ELSE 'unchanged' END AS change_type,
       CAST(_k1 // {_KEY_SCALE} AS BIGINT) AS t1_epoch,
       CAST(_k1 % {_KEY_SCALE} AS BIGINT) AS t1_crawl_id,
       CAST(_k2 // {_KEY_SCALE} AS BIGINT) AS t2_epoch,
       CAST(_k2 % {_KEY_SCALE} AS BIGINT) AS t2_crawl_id
FROM agg WHERE _k2 IS NOT NULL"""


# --------------------------------------------------------- recrawl priority
def recrawl_priority(crawls: DataFrame, k: int = 50, t1: int = T1_EPOCH,
                     t2: int = T2_EPOCH) -> DataFrame:
    """Top-``k`` hosts to recrawl next, scored from observed change rates —
    the scheduling decision a continuous crawler derives from snapshot
    diffs (what Common-Crawl-style operations call adaptive revisit
    policy): hosts whose pages changed often between t1 and t2 AND whose
    live copies are stale get refetched first.

    Per host over the t1→t2 window: n_urls (live at t2), n_added /
    n_updated / n_unchanged, change_millis = (added+updated)·1000 div
    n_urls, mean_age = Σ(t2 − winning_epoch) div n_urls, and
    score = change_millis · mean_age (all exact int64 — products stay
    < 1000 · one-year-of-seconds ≈ 3·10^10).

    Scale shape: the same ONE hash agg on (canon_url, host) as
    :func:`snapshot_diff`, a second map-side-combinable agg to hosts, then
    a global top-k = TakeOrderedAndProject (per-partition heap, no sort
    shuffle). Host cardinality is corpus/10^4-ish; nothing here windows
    over it.

    Input columns: crawl_id, raw_url, fetch_epoch, host."""
    return (_host_change_stats(crawls, t1, t2)
            .orderBy(F.col("score").desc(), "host")
            .limit(k))


def _host_change_stats(crawls: DataFrame, t1: int, t2: int) -> DataFrame:
    """Per-host diff metrics + score — shared by :func:`recrawl_priority`
    (top-k consumer) and :func:`crawl_fetch_budget` (apportionment)."""
    key = (F.col("fetch_epoch") * F.lit(_KEY_SCALE)
           + F.col("crawl_id")).cast("long")
    st = (crawls.select(
            canonical_url_col(F.col("raw_url")).alias("canon_url"),
            F.col("host"),
            F.col("fetch_epoch").cast("long").alias("fetch_epoch"),
            key.alias("_key"))
          .groupBy("canon_url", "host")
          .agg(F.max(F.when(F.col("fetch_epoch") <= F.lit(int(t1)),
                            F.col("_key"))).alias("_k1"),
               F.max(F.when(F.col("fetch_epoch") <= F.lit(int(t2)),
                            F.col("_key"))).alias("_k2")))
    e2 = F.expr(f"CAST(_k2 DIV {_KEY_SCALE} AS LONG)")
    per_host = (st.where(F.col("_k2").isNotNull())
                .groupBy("host")
                .agg(F.count("*").cast("long").alias("n_urls"),
                     F.count_if(F.col("_k1").isNull()).alias("n_added"),
                     F.count_if(F.col("_k1").isNotNull()
                                & (F.col("_k1") != F.col("_k2")))
                     .alias("n_updated"),
                     F.count_if(F.col("_k1") == F.col("_k2"))
                     .alias("n_unchanged"),
                     F.sum(F.lit(int(t2)) - e2).cast("long")
                     .alias("_sum_age")))
    return (per_host
            .withColumn("change_millis", F.expr(
                "((n_added + n_updated) * 1000) div n_urls"))
            .withColumn("mean_age", F.expr("_sum_age div n_urls"))
            .withColumn("score", F.col("change_millis") * F.col("mean_age"))
            .drop("_sum_age"))


def crawl_fetch_budget(crawls: DataFrame, budget: int = 100_000,
                       t1: int = T1_EPOCH, t2: int = T2_EPOCH) -> DataFrame:
    """Politeness-budget allocation: apportion a global fetch budget across
    hosts ∝ (recrawl score + n_urls) with the exact largest-remainder rule
    (mixture.py's apportionment — Σ fetch_quota == budget ALWAYS). The
    ``+ n_urls`` floor keeps zero-change hosts revisited in proportion to
    their size (pure change-chasing would starve stable hosts forever).

    Output: (host, n_urls, score, weight, fetch_quota). The apportionment
    windows run over the per-host rollup (corpus/10^4-ish rows), not the
    crawl log; at 10^8+ hosts the ranked-remainder window decomposes
    exactly like vocab.py's two-level cumsum — documented swap-in point."""
    from pyspark.sql import Window
    b = int(budget)
    stats = (_host_change_stats(crawls, t1, t2)
             .withColumn("weight", F.col("score") + F.col("n_urls")))
    w_all = Window.partitionBy()
    ranked = (stats
              .withColumn("_tw", F.sum("weight").over(w_all))
              .withColumn("_base", F.expr(f"(weight * {b}) div _tw"))
              .withColumn("_rem", F.expr(f"(weight * {b}) % _tw"))
              .withColumn("_extra_n", F.expr(f"{b} - sum(_base) over ()"))
              .withColumn("_rk", F.row_number().over(
                  Window.partitionBy().orderBy(
                      F.col("_rem").desc(), F.col("host").asc()))))
    return ranked.select(
        "host", "n_urls", "score", "weight",
        (F.col("_base") + (F.col("_rk") <= F.col("_extra_n")).cast("long"))
        .cast("long").alias("fetch_quota"))


def recrawl_priority_sql(crawls_sql: str, k: int = 50, t1: int = T1_EPOCH,
                         t2: int = T2_EPOCH) -> str:
    canon = canonical_url_sql("raw_url")
    return f"""
WITH c AS (
  SELECT {canon} AS canon_url, host,
         CAST(fetch_epoch AS BIGINT) AS fetch_epoch,
         CAST(fetch_epoch * {_KEY_SCALE} + crawl_id AS BIGINT) AS _key
  FROM ({crawls_sql})
), st AS (
  SELECT canon_url, host,
         MAX(CASE WHEN fetch_epoch <= {int(t1)} THEN _key END) AS _k1,
         MAX(CASE WHEN fetch_epoch <= {int(t2)} THEN _key END) AS _k2
  FROM c GROUP BY canon_url, host
), per_host AS (
  SELECT host,
         CAST(COUNT(*) AS BIGINT) AS n_urls,
         CAST(count(*) FILTER (_k1 IS NULL) AS BIGINT) AS n_added,
         CAST(count(*) FILTER (_k1 IS NOT NULL AND _k1 <> _k2) AS BIGINT)
           AS n_updated,
         CAST(count(*) FILTER (_k1 = _k2) AS BIGINT) AS n_unchanged,
         CAST(SUM({int(t2)} - _k2 // {_KEY_SCALE}) AS BIGINT) AS _sum_age
  FROM st WHERE _k2 IS NOT NULL GROUP BY host
)
SELECT host, n_urls, n_added, n_updated, n_unchanged,
       ((n_added + n_updated) * 1000) // n_urls AS change_millis,
       _sum_age // n_urls AS mean_age,
       (((n_added + n_updated) * 1000) // n_urls) * (_sum_age // n_urls)
         AS score
FROM per_host
ORDER BY score DESC, host LIMIT {k}"""


def crawl_fetch_budget_sql(crawls_sql: str, budget: int = 100_000,
                           t1: int = T1_EPOCH, t2: int = T2_EPOCH) -> str:
    canon = canonical_url_sql("raw_url")
    b = int(budget)
    return f"""
WITH c AS (
  SELECT {canon} AS canon_url, host,
         CAST(fetch_epoch AS BIGINT) AS fetch_epoch,
         CAST(fetch_epoch * {_KEY_SCALE} + crawl_id AS BIGINT) AS _key
  FROM ({crawls_sql})
), st AS (
  SELECT canon_url, host,
         MAX(CASE WHEN fetch_epoch <= {int(t1)} THEN _key END) AS _k1,
         MAX(CASE WHEN fetch_epoch <= {int(t2)} THEN _key END) AS _k2
  FROM c GROUP BY canon_url, host
), per_host AS (
  SELECT host,
         CAST(COUNT(*) AS BIGINT) AS n_urls,
         CAST(count(*) FILTER (_k1 IS NULL) AS BIGINT) AS n_added,
         CAST(count(*) FILTER (_k1 IS NOT NULL AND _k1 <> _k2) AS BIGINT)
           AS n_updated,
         CAST(SUM({int(t2)} - _k2 // {_KEY_SCALE}) AS BIGINT) AS _sum_age
  FROM st WHERE _k2 IS NOT NULL GROUP BY host
), scored AS (
  SELECT host, n_urls,
         (((n_added + n_updated) * 1000) // n_urls)
           * (_sum_age // n_urls) AS score,
         (((n_added + n_updated) * 1000) // n_urls)
           * (_sum_age // n_urls) + n_urls AS weight
  FROM per_host
), apportioned AS (
  SELECT *,
         SUM(weight) OVER () AS _tw,
         (weight * {b}) // SUM(weight) OVER () AS _base,
         (weight * {b}) % SUM(weight) OVER () AS _rem
  FROM scored
), ranked AS (
  SELECT *,
         {b} - SUM(_base) OVER () AS _extra_n,
         ROW_NUMBER() OVER (ORDER BY _rem DESC, host ASC) AS _rk
  FROM apportioned)
SELECT host, n_urls, CAST(score AS BIGINT) AS score,
       CAST(weight AS BIGINT) AS weight,
       CAST(_base + (CASE WHEN _rk <= _extra_n THEN 1 ELSE 0 END)
            AS BIGINT) AS fetch_quota
FROM ranked"""
