"""Distributed cardinality / frequency sketches: HLL, KMV, Count-Min.

A 100-TB corpus pipeline constantly needs "how many distinct URLs / hosts /
fingerprints" and "which hosts dominate" WITHOUT a full distinct shuffle.
The reference's reporting layer answers these exactly on H2
(COUNT(DISTINCT) / GROUP BY reporting aggs, `/root/reference/geoindicators/
src/main/groovy/.../GenericIndicators.groovy:241` ff.) — fine at city
scale; at web scale the standard substitutes are sketches whose state is
FIXED-SIZE and mergeable, so partial aggregation happens map-side and the
shuffle carries kilobytes per group instead of the key universe.

Engine/oracle exactness contract (repo convention — every float must be the
result of ONE fixed IEEE expression over exact integers):

* **HyperLogLog** (Flajolet et al. 2007): item → ``hash60`` (md5-based,
  bit-identical in Spark and DuckDB, functions/hashing.py) → register
  ``h mod m``, rank ``rho = 1 + leading-zeros of the remaining 54 bits``
  (bit length via ``length(bin(w))`` — identical string semantics in both
  engines, asserted in tests). The harmonic sum is kept INTEGER:
  ``S = Σ_j 2^(RHO_MAX − M[j])`` fits int64 for m ≤ 256 and is
  order-independent (no float-sum ordering trap); the estimate
  ``alpha·m²·2^(RHO_MAX−?) / S`` reduces to ONE int64→double division by a
  Python-inlined double literal. Registers merge via MAX — Spark's partial
  aggregation does the map-side combine automatically, so per-executor
  state is m longs regardless of input size.
* **KMV / bottom-k** (Bar-Yossef et al. 2002): the k smallest distinct
  hashes per group; ``est = (k−1)·2^60 / h_(k)`` when k values exist, else
  the exact distinct count (the standard small-set rule). Order statistics
  of exact integers — replayable anywhere.
* **Count-Min** (Cormode & Muthukrishnan 2005): d seeded hash rows × w
  columns of int64 counters (fixed d·w state); a point query is the MIN
  over the d counters — always ≥ the true count. The hash family is
  hashing.py's ``mix60`` affine mixes (one md5 per item).

Scale shapes: HLL/CMS are single groupBy aggregations over codegen'd
integer projections (one shuffle on the group key, fixed-size state — the
map-side combine is what makes them 100-TB ops). KMV is a distinct +
per-group bottom-k window: two shuffles on the same key. Nothing leaves
the JVM; no Python, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import HASH_BITS, hash60_col, hash60_sql, mix_params

# --------------------------------------------------------------------- HLL
HLL_P = 6                      # m = 64 registers (fixture-friendly; the
HLL_M = 1 << HLL_P             # int64 sum bound below holds for m ≤ 256)
_W_BITS = HASH_BITS - HLL_P    # 54 suffix bits feed the rank
RHO_MAX = _W_BITS + 1          # all-zero suffix → 55

# term(M) = 2^(RHO_MAX − M): occupied registers have M ∈ [1, RHO_MAX]
# (terms 2^0 … 2^54), an EMPTY register has M = 0 → 2^55. Worst case
# S = m·2^55 = 2^61 for m = 64 — exact in int64, order-independent.
_TERM_BY_RHO = {rho: 1 << (RHO_MAX - rho) for rho in range(1, RHO_MAX + 1)}
_EMPTY_TERM = 1 << RHO_MAX

# alpha_m for m = 64 per Flajolet et al.; the estimate numerator
# alpha·m²·2^RHO_MAX is ONE Python double inlined into both engines, so
# the estimate is a single identical division everywhere.
_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
_HLL_NUMER = _ALPHA * HLL_M * HLL_M * float(1 << RHO_MAX)


def _rho_case_sql(w: str) -> str:
    """rho = 1 + leading zeros of the _W_BITS-bit suffix ``w`` =
    RHO_MAX − bit_length(w); ``length(bin(w))`` is the bit length in BOTH
    Spark SQL and DuckDB for w > 0 (no zero padding, asserted in tests);
    w = 0 is the all-zeros suffix, rho = RHO_MAX."""
    return (f"(CASE WHEN ({w}) = 0 THEN {RHO_MAX} "
            f"ELSE {RHO_MAX} - length(bin({w})) END)")


def _term_case_sql(rho: str) -> str:
    """2^(RHO_MAX − rho) as int64 — a generated literal ladder (no pow(),
    no libm)."""
    whens = " ".join(f"WHEN {r} THEN {t}" for r, t in _TERM_BY_RHO.items())
    return f"(CASE {rho} {whens} END)"


def hll_distinct(df: DataFrame, group: str, item: str) -> DataFrame:
    """Per-``group`` HLL register table folded to the estimate, alongside
    the exact distinct count (the small-scale verifier; at 100 TB you keep
    only the sketch). Returns (group, hll_v_zero, hll_s_int, hll_est,
    n_exact): hll_s_int is the exact integer harmonic sum (empty registers
    included), hll_est the single-division raw estimate."""
    src = (df.where(F.col(item).isNotNull())
           .select(F.col(group), hash60_col(F.col(item)).alias("_h")))
    regs = (src.select(group,
                       (F.col("_h") % F.lit(HLL_M)).alias("_reg"),
                       F.expr(_rho_case_sql(f"(_h div {HLL_M})")).alias("_rho"))
            .groupBy(group, "_reg").agg(F.max("_rho").alias("_m")))
    per = (regs.groupBy(group)
           .agg(F.count("*").cast("long").alias("_used"),
                F.sum(F.expr(_term_case_sql("_m"))).cast("long")
                .alias("_s_used")))
    s_int = (F.col("_s_used")
             + (F.lit(HLL_M) - F.col("_used")) * F.lit(_EMPTY_TERM))
    exact = (src.groupBy(group)
             .agg(F.countDistinct("_h").cast("long").alias("n_exact")))
    return (per.join(exact, group)
            .select(group,
                    (F.lit(HLL_M) - F.col("_used")).cast("long")
                    .alias("hll_v_zero"),
                    s_int.cast("long").alias("hll_s_int"),
                    (F.lit(_HLL_NUMER) / s_int.cast("double"))
                    .alias("hll_est"),
                    "n_exact"))


def hll_distinct_sql(table_sql: str, group: str, item: str) -> str:
    h = hash60_sql(item)
    rho = _rho_case_sql(f"(({h}) // {HLL_M})")
    return f"""WITH src AS (SELECT {group}, {h} AS _h
           FROM ({table_sql}) WHERE {item} IS NOT NULL),
regs AS (SELECT {group}, _h % {HLL_M} AS _reg,
                MAX({_rho_case_sql(f'(_h // {HLL_M})')}) AS _m
         FROM src GROUP BY 1, 2),
per AS (SELECT {group}, COUNT(*) AS _used,
               SUM({_term_case_sql('_m')}) AS _s_used
        FROM regs GROUP BY 1),
exact AS (SELECT {group}, CAST(COUNT(DISTINCT _h) AS BIGINT) AS n_exact
          FROM src GROUP BY 1)
SELECT per.{group},
       CAST({HLL_M} - _used AS BIGINT) AS hll_v_zero,
       CAST(_s_used + ({HLL_M} - _used) * {_EMPTY_TERM} AS BIGINT)
         AS hll_s_int,
       {_HLL_NUMER!r} / CAST(_s_used + ({HLL_M} - _used) * {_EMPTY_TERM}
                             AS DOUBLE) AS hll_est,
       n_exact
FROM per JOIN exact ON per.{group} = exact.{group}"""


# --------------------------------------------------------------------- KMV
KMV_K = 32


def kmv_distinct(df: DataFrame, group: str, item: str) -> DataFrame:
    """Per-``group`` bottom-k sketch: the k smallest distinct hash60 values.
    Returns (group, kmv_used, kmv_kth, kmv_est, n_exact): when the group
    has ≥ k distinct items, ``est = (k−1)·2^60 / h_(k)``; below k the
    sketch IS the exact distinct set, so est = the exact count."""
    hashes = (df.where(F.col(item).isNotNull())
              .select(F.col(group), hash60_col(F.col(item)).alias("_h"))
              .distinct())
    w = Window.partitionBy(group).orderBy("_h")
    per = (hashes.withColumn("_rk", F.row_number().over(w))
           .where(F.col("_rk") <= KMV_K)
           .groupBy(group)
           .agg(F.count("*").cast("long").alias("kmv_used"),
                F.max("_h").cast("long").alias("kmv_kth")))
    exact = (hashes.groupBy(group)
             .agg(F.count("*").cast("long").alias("n_exact")))
    est = (F.when(F.col("kmv_used") < KMV_K, F.col("n_exact").cast("double"))
           .otherwise(F.lit(float(KMV_K - 1) * float(1 << HASH_BITS))
                      / F.col("kmv_kth").cast("double")))
    return (per.join(exact, group)
            .select(group, "kmv_used", "kmv_kth", est.alias("kmv_est"),
                    "n_exact"))


def kmv_distinct_sql(table_sql: str, group: str, item: str) -> str:
    numer = repr(float(KMV_K - 1) * float(1 << HASH_BITS))
    return f"""WITH hashes AS (SELECT DISTINCT {group}, {hash60_sql(item)} AS _h
           FROM ({table_sql}) WHERE {item} IS NOT NULL),
bottom AS (SELECT {group}, _h,
                  ROW_NUMBER() OVER (PARTITION BY {group} ORDER BY _h) AS _rk
           FROM hashes),
per AS (SELECT {group}, CAST(COUNT(*) AS BIGINT) AS kmv_used,
               CAST(MAX(_h) AS BIGINT) AS kmv_kth
        FROM bottom WHERE _rk <= {KMV_K} GROUP BY 1),
exact AS (SELECT {group}, CAST(COUNT(*) AS BIGINT) AS n_exact
          FROM hashes GROUP BY 1)
SELECT per.{group}, kmv_used, kmv_kth,
       CASE WHEN kmv_used < {KMV_K} THEN CAST(n_exact AS DOUBLE)
            ELSE {numer} / CAST(kmv_kth AS DOUBLE) END AS kmv_est,
       n_exact
FROM per JOIN exact ON per.{group} = exact.{group}"""


# --------------------------------------------------------------- Count-Min
CMS_D = 4
CMS_W = 256
_H30_MASK = (1 << 30) - 1
_MIX_MOD = (1 << 31) - 1


def _cms_col(h: Column, row: int, w: int) -> Column:
    """Column index in sketch row ``row`` from the shared base hash —
    hashing.py's mix60 affine family, mod the row width."""
    a, b = mix_params(1000 + row)
    return ((h.bitwiseAND(F.lit(_H30_MASK)) * F.lit(a) + F.lit(b))
            % F.lit(_MIX_MOD)) % F.lit(w)


def _cms_col_sql(h_sql: str, row: int, w: int) -> str:
    a, b = mix_params(1000 + row)
    return f"((((({h_sql}) & {_H30_MASK}) * {a} + {b}) % {_MIX_MOD}) % {w})"


def cms_heavy_hitters(df: DataFrame, item: str) -> DataFrame:
    """Count-Min frequency estimates for every distinct ``item``: build the
    d×w counter matrix in one aggregation, answer each item's point query
    with the MIN over its d counters. Returns (item, n_exact, n_cms) with
    the CMS guarantee n_cms ≥ n_exact.

    Scale: the counter matrix is d·w rows TOTAL (a broadcast-side
    constant), built by one groupBy over a d-way explode of codegen'd
    integer hashes; the point-query join broadcasts the matrix. At 100 TB
    the matrix stays {d}×{w} while the exact GROUP BY it verifies against
    shuffles the full key universe."""
    h = hash60_col(F.col(item))
    probes_arr = F.array(*[
        F.struct(F.lit(r).alias("_row"), _cms_col(h, r, CMS_W).alias("_col"))
        for r in range(CMS_D)])
    cells = (df.where(F.col(item).isNotNull())
             .select(F.explode(probes_arr).alias("_c"))
             .groupBy(F.col("_c._row").alias("_row"),
                      F.col("_c._col").alias("_col"))
             .agg(F.count("*").cast("long").alias("_n")))
    exact = (df.where(F.col(item).isNotNull())
             .groupBy(item)
             .agg(F.count("*").cast("long").alias("n_exact")))
    probes = (exact.select(item, "n_exact",
                           F.explode(probes_arr).alias("_p"))
              .select(item, "n_exact",
                      F.col("_p._row").alias("_prow"),
                      F.col("_p._col").alias("_pcol")))
    return (probes
            .join(F.broadcast(cells),
                  (F.col("_prow") == F.col("_row"))
                  & (F.col("_pcol") == F.col("_col")))
            .groupBy(item, "n_exact")
            .agg(F.min("_n").cast("long").alias("n_cms")))


def cms_heavy_hitters_sql(table_sql: str, item: str) -> str:
    h = hash60_sql(item)
    cell_rows = " UNION ALL ".join(
        f"SELECT {r} AS _row, {_cms_col_sql(h, r, CMS_W)} AS _col "
        f"FROM src WHERE {item} IS NOT NULL"
        for r in range(CMS_D))
    probe_rows = " UNION ALL ".join(
        f"SELECT {item}, n_exact, {r} AS _row, "
        f"{_cms_col_sql('exact_h', r, CMS_W)} AS _col FROM exact"
        for r in range(CMS_D))
    return f"""WITH src AS ({table_sql}),
cells AS (SELECT _row, _col, CAST(COUNT(*) AS BIGINT) AS _n
          FROM ({cell_rows}) GROUP BY 1, 2),
exact AS (SELECT {item}, {h} AS exact_h,
                 CAST(COUNT(*) AS BIGINT) AS n_exact
          FROM src WHERE {item} IS NOT NULL GROUP BY 1, 2),
probes AS ({probe_rows})
SELECT p.{item}, p.n_exact, CAST(MIN(c._n) AS BIGINT) AS n_cms
FROM probes p JOIN cells c ON p._row = c._row AND p._col = c._col
GROUP BY 1, 2"""


# ------------------------------------------------- histogram quantile sketch
# The mergeable counterpart of zonal.exact_quantiles: an equi-width
# histogram per group is FIXED-SIZE, merges by adding bin counts (map-side
# combine does it), and answers any quantile to within one bin width —
# the one-pass sketch a 100-TB profiler runs where the exact path's
# full per-group sort shuffle is not worth it. Estimate rule (all exact
# int64, so the DuckDB dual replays bit-for-bit): target rank
# r = ceil(pct·N/100); winner = first bin whose inclusive cumulative count
# reaches r; estimate = bin_lo + ((r − cum_before) · W) div bin_count —
# linear interpolation inside the winning bin, error < W by construction
# (pytest-asserted against the exact quantile).
HIST_BIN_W = 32
HIST_PCTS = (25, 50, 75, 95)


def histogram_quantiles(df: DataFrame, group: str, value: str) -> DataFrame:
    """Per-group sketched quantiles: (group, pct, n, est). ONE
    map-side-combinable groupBy builds the histogram; the cumulative
    window runs over ≤ range/bin_w bins per group, not rows."""
    bins = (df.where(F.col(value).isNotNull())
            .groupBy(group, F.expr(f"{value} div {HIST_BIN_W}").alias("_bin"))
            .agg(F.count("*").cast("long").alias("_cnt")))
    w = Window.partitionBy(group).orderBy("_bin")
    bins = (bins
            .withColumn("_cum", F.sum("_cnt").over(w).cast("long"))
            .withColumn("_n", F.sum("_cnt").over(
                Window.partitionBy(group)).cast("long")))
    pct = F.explode(F.array(*[F.lit(p) for p in HIST_PCTS])).alias("pct")
    cand = (bins.select(group, "_bin", "_cnt", "_cum", "_n", pct)
            .withColumn("_r", F.expr("(pct * _n + 99) div 100"))
            .where(F.col("_cum") >= F.col("_r")))
    return (cand.groupBy(group, "pct")
            .agg(F.min(F.struct("_bin", "_cnt", "_cum", "_n", "_r"))
                 .alias("_b"))
            .selectExpr(group, "CAST(pct AS BIGINT) AS pct",
                        "_b._n AS n",
                        f"CAST(_b._bin * {HIST_BIN_W} + ((_b._r - (_b._cum - _b._cnt))"
                        f" * {HIST_BIN_W}) div _b._cnt AS BIGINT) AS est"))


def histogram_quantiles_sql(table_sql: str, group: str, value: str) -> str:
    """DuckDB dual of :func:`histogram_quantiles`."""
    pct_rows = " UNION ALL ".join(f"SELECT {p} AS pct" for p in HIST_PCTS)
    return f"""WITH src AS ({table_sql}),
bins AS (
  SELECT {group}, {value} // {HIST_BIN_W} AS _bin,
         CAST(COUNT(*) AS BIGINT) AS _cnt
  FROM src WHERE {value} IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT {group}, _bin, _cnt,
         CAST(SUM(_cnt) OVER (PARTITION BY {group} ORDER BY _bin)
              AS BIGINT) AS _cum,
         CAST(SUM(_cnt) OVER (PARTITION BY {group}) AS BIGINT) AS _n
  FROM bins),
pcts AS ({pct_rows}),
cand AS (
  SELECT c.*, p.pct, (p.pct * c._n + 99) // 100 AS _r
  FROM cum c CROSS JOIN pcts p
  WHERE c._cum >= (p.pct * c._n + 99) // 100),
win AS (
  SELECT {group}, pct, _n, _bin, _cnt, _cum, _r,
         ROW_NUMBER() OVER (PARTITION BY {group}, pct
                            ORDER BY _bin ASC) AS _rn
  FROM cand)
SELECT {group}, CAST(pct AS BIGINT) AS pct, _n AS n,
       CAST(_bin * {HIST_BIN_W} + ((_r - (_cum - _cnt)) * {HIST_BIN_W}) // _cnt
            AS BIGINT) AS est
FROM win WHERE _rn = 1"""


# ---------------------------------------------- join-size (F2) estimation
def selfjoin_size_estimate(df: DataFrame, item: str) -> DataFrame:
    """Equi-join cardinality estimation from the Count-Min matrix — the
    optimizer statistic a distributed planner wants BEFORE committing to a
    join strategy: |R ⋈_k R| = Σ_key c(key)² (the F2 second moment, the
    quantity that says "this key is skewed, salt it / don't broadcast").
    The CMS inner-product estimator (Cormode-Muthukrishnan §4.2) answers
    it from the d×w matrix alone: est = min_row Σ_col cnt[row][col]², with
    the one-sided guarantee est ≥ exact (colliding keys only ADD cross
    terms — pytest-proven).

    One row out: (n_rows, n_keys, exact_join_size, cms_estimate,
    over_millis). The exact side shuffles the key universe (it is the
    verification, not the product); the sketch side aggregates to d·w
    cells with map-side combine — at 100 TB you ship the matrix, not the
    keys. Overflow: Σ cnt² ≤ (Σ cnt)² = n_rows², safe in int64 below ~3e9
    rows per sketch scope."""
    h = hash60_col(F.col(item).cast("string"))
    probes_arr = F.array(*[
        F.struct(F.lit(r).alias("_row"), _cms_col(h, r, CMS_W).alias("_col"))
        for r in range(CMS_D)])
    src = df.where(F.col(item).isNotNull())
    cells = (src.select(F.explode(probes_arr).alias("_c"))
             .groupBy(F.col("_c._row").alias("_row"),
                      F.col("_c._col").alias("_col"))
             .agg(F.count("*").cast("long").alias("_n")))
    est = (cells.groupBy("_row")
           .agg(F.sum(F.col("_n") * F.col("_n")).cast("long").alias("_f2"))
           .agg(F.min("_f2").cast("long").alias("cms_estimate")))
    exact = (src.groupBy(item).agg(F.count("*").cast("long").alias("_c"))
             .agg(F.sum("_c").cast("long").alias("n_rows"),
                  F.count("*").cast("long").alias("n_keys"),
                  F.sum(F.col("_c") * F.col("_c")).cast("long")
                  .alias("exact_join_size")))
    return (exact.crossJoin(F.broadcast(est))
            .select("n_rows", "n_keys", "exact_join_size", "cms_estimate",
                    F.expr("CASE WHEN exact_join_size IS NULL"
                           " OR exact_join_size = 0 THEN 0 ELSE"
                           " ((coalesce(cms_estimate, 0) - exact_join_size)"
                           " * 1000) div exact_join_size END")
                    .alias("over_millis")))


def selfjoin_size_estimate_sql(table_sql: str, item: str) -> str:
    h = hash60_sql(f"CAST({item} AS VARCHAR)")
    cell_rows = " UNION ALL ".join(
        f"SELECT {r} AS _row, {_cms_col_sql(h, r, CMS_W)} AS _col "
        f"FROM src WHERE {item} IS NOT NULL"
        for r in range(CMS_D))
    return f"""WITH src AS ({table_sql}),
cells AS (
  SELECT _row, _col, CAST(COUNT(*) AS BIGINT) AS _n
  FROM ({cell_rows}) GROUP BY 1, 2
), est AS (
  SELECT CAST(MIN(_f2) AS BIGINT) AS cms_estimate
  FROM (SELECT _row, SUM(_n * _n) AS _f2 FROM cells GROUP BY 1)
), exact AS (
  SELECT CAST(SUM(_c) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(_c * _c) AS BIGINT) AS exact_join_size
  FROM (SELECT {item}, COUNT(*) AS _c FROM src
        WHERE {item} IS NOT NULL GROUP BY 1)
)
SELECT n_rows, n_keys, exact_join_size, cms_estimate,
       CASE WHEN exact_join_size IS NULL OR exact_join_size = 0 THEN 0
            ELSE ((coalesce(cms_estimate, 0) - exact_join_size) * 1000)
                 // exact_join_size END AS over_millis
FROM exact, est"""
