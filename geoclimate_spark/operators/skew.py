"""Skew handling: salted two-phase aggregation + hot-key diagnostics.

North rule: "skew from dense urban cells is handled with salted
repartition-by-H3-prefix and adaptive shuffle". The reference never faces
this (single-process H2, SURVEY.md §4 "what the reference never handles");
at 10^12 pages a handful of megacity cells dominate their shuffle partition.

Three layers of defense, outermost first:

1. **AQE** (session.py): ``spark.sql.adaptive.skewJoin.enabled`` splits
   oversized join partitions at runtime — free, covers joins.
2. **Salted two-phase aggregation** (:func:`salted_agg`): for aggregations
   whose per-key state is large (e.g. ``collect_set``-ish or high-cardinality
   partials where map-side combine is weak), shuffle once on
   ``(key, salt)``, combine, then shuffle the tiny per-salt partials on
   ``key``. For ALGEBRAIC aggs (sum/count/min/max) Spark's map-side partial
   aggregation already achieves the same effect — salting is only worth it
   when the partial-combine is ineffective; :func:`salted_agg` exists for
   those cases and as the documented, testable pattern.
3. **Diagnostics** (:func:`key_skew_stats`): per-key row counts + top-k
   heavy hitters, the measurement step that should precede any manual
   salting ("measure, don't guess").

Salt derivation is deterministic (hash of a row id), so salted results are
reproducible and exactly equal to unsalted results (asserted in tests).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, id_col: str) -> DataFrame:
    """Deterministic salt in [0, n_salts) from a stable row id (never
    rand() — reruns and retries must land rows on the same salt)."""
    return df.withColumn("_salt",
                         F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)))


def salted_agg(df: DataFrame, keys: Sequence[str], aggs: dict[str, tuple],
               n_salts: int, id_col: str) -> DataFrame:
    """Two-phase aggregation: groupBy(keys+salt) → combine → groupBy(keys).

    ``aggs`` maps output name → (src_col, phase1_fn, phase2_combine_fn),
    e.g. ``{"n": ("*", F.count, F.sum), "total": ("v", F.sum, F.sum),
    "mx": ("v", F.max, F.max)}`` — phase1 aggregates the source column per
    (key, salt); phase2 combines the per-salt partials per key. Only valid
    for decomposable aggregates (combine(partials) == agg(all)).
    """
    salted = with_salt(df, n_salts, id_col)
    p1 = salted.groupBy(*keys, "_salt").agg(
        *[fn1(src).alias(f"_p_{out}")
          for out, (src, fn1, _) in aggs.items()])
    return p1.groupBy(*keys).agg(
        *[fn2(f"_p_{out}").alias(out) for out, (_, __, fn2) in aggs.items()])


def salted_topk(df: DataFrame, key: str, order_col: str, tie_col: str,
                k: int, n_salts: int, id_col: str) -> DataFrame:
    """Skew-safe top-k rows per key: (key, rank, {tie_col}, {order_col}).

    A plain rank window shuffles EVERY row of a hot key into one partition;
    the two-phase form first takes a local top-k per (key, salt) — bounding
    any single partition's window at rows/n_salts — then ranks the
    n_salts*k survivors per key. Exact because the global top-k is a subset
    of the union of per-salt top-ks (each survivor beats everything sharing
    its salt). Ordering is (order_col DESC, tie_col ASC): deterministic when
    tie_col is unique per key — pass the row id."""
    w1 = Window.partitionBy(key, "_salt").orderBy(
        F.col(order_col).desc(), F.col(tie_col).asc())
    w2 = Window.partitionBy(key).orderBy(
        F.col(order_col).desc(), F.col(tie_col).asc())
    local = (with_salt(df, n_salts, id_col)
             .withColumn("_r1", F.row_number().over(w1))
             .where(F.col("_r1") <= k))
    return (local.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select(key, F.col("rank").cast("long").alias("rank"),
                    tie_col, order_col))


def salted_topk_sql(rows_sql: str, key: str, order_col: str, tie_col: str,
                    k: int) -> str:
    """DuckDB dual — the salting is a physical rearrangement with zero
    semantic effect, so the oracle is the PLAIN rank window (the same
    salted == unsalted invariant the salted_agg oracle checks)."""
    return f"""WITH rows_in AS ({rows_sql}),
ranked AS (SELECT {key}, {tie_col}, {order_col},
       ROW_NUMBER() OVER (PARTITION BY {key}
           ORDER BY {order_col} DESC, {tie_col} ASC) AS rank
  FROM rows_in)
SELECT {key}, CAST(rank AS BIGINT) AS rank, {tie_col}, {order_col}
FROM ranked WHERE rank <= {k}"""


def key_skew_stats(df: DataFrame, keys: Sequence[str], top: int = 20) -> DataFrame:
    """Heavy-hitter report: top-N keys by row count + share of total."""
    counts = df.groupBy(*keys).agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("_t"))
    return (counts.crossJoin(F.broadcast(total))
            .withColumn("share", F.col("n").cast("double") / F.col("_t").cast("double"))
            .drop("_t")
            .orderBy(F.col("n").desc(), *keys)
            .limit(top))


def salted_join(fact: DataFrame, dim: DataFrame, key: str, n_salts: int,
                id_col: str) -> DataFrame:
    """Skew-safe equi-join: salt the FACT side deterministically, replicate
    the DIM side ``n_salts``× (explode of a sequence — dim rows are few;
    replication cost = |dim|·n_salts), join on (key, salt). A hot key's
    rows now spread across ``n_salts`` shuffle partitions instead of
    hammering one — the manual form of AQE's skew-join split, for engines/
    paths where AQE cannot apply (e.g. a pre-partitioned write). Result
    is EXACTLY the plain join (every fact row meets its dim row in
    exactly one salt bucket) — which is what the oracle checks."""
    f = with_salt(fact, n_salts, id_col)
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))) \
        .withColumn("_salt", F.col("_salt").cast("long"))
    return f.join(d, [key, "_salt"]).drop("_salt")
