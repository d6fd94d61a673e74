"""Training-corpus curation operators: packing, stratified sampling, domain caps.

Three corpus-assembly operators a 100 TB training-data pipeline runs after
filtering/dedup, each a deterministic DataFrame plan with an exact DuckDB
oracle:

* :func:`pack_sequences` — GPT-style *concat-then-chunk* sequence packing:
  documents are ordered deterministically inside hash shards, token counts
  are accumulated with a running window sum, and every document is assigned
  to the fixed-token-budget chunk containing its last token. This is the
  standard scalable packing used to build training batches (concatenate the
  stream, cut every ``budget`` tokens); the per-chunk rollup reports doc
  counts and token totals.
* :func:`stratified_sample` — deterministic per-stratum quota sampling
  (e.g. language balancing for a data mixture): rank documents inside each
  stratum by a content-independent md5 hash and keep the first ``quota``.
  Hash-rank sampling is reproducible across runs/engines — no RNG state.
* :func:`domain_curation` — per-domain caps + blocklist (the C4/RefinedWeb
  move): drop blocked sources, quality-gate, then keep at most ``cap``
  documents per source, chosen by hash rank.

Reference analogue: GeoClimate's zone-area filtering + per-type caps in
`/root/reference/osm/src/main/groovy/.../InputDataLoading.groovy` select a
bounded deterministic subset per category the same way (rule filter + ordered
cap), just over OSM features instead of web documents.

Scale design (100 TB):

* ``pack_sequences`` — one hash-partition shuffle to the shards, then a
  single window sort *within* each shard; shard count is the parallelism
  knob, so no global sort ever happens. The rollup shuffles one row per
  chunk.
* ``stratified_sample`` / ``domain_curation`` — a window per stratum/domain.
  Hot domains are bounded by the cap itself; the rank window is the same
  top-k shape the kNN/mode operators use. With AQE skew-join splitting and
  the 60-bit hash order there is no coordinate or value skew.
* Everything is JVM codegen (md5 + window + integer arithmetic) — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (hash60_col, hash60_seeded_col,
                                 hash60_seeded_sql, hash60_sql)


# ------------------------------------------------------------------- packing
def pack_sequences(docs: DataFrame, n_tokens_col: str, budget: int,
                   n_shards: int) -> DataFrame:
    """Concat-then-chunk packing: per (shard, chunk) doc/token rollup.

    A document belongs to chunk ``(cum_tokens - 1) // budget`` of its shard,
    where ``cum_tokens`` is the running token total in deterministic
    ``id`` order — i.e. the chunk containing the document's last token when
    the shard's documents are concatenated and cut every ``budget`` tokens.
    """
    did = F.col("doc_id").cast("long")
    shard = F.pmod(hash60_col(did.cast("string")), F.lit(n_shards))
    w = (Window.partitionBy("shard").orderBy("id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    rows = (docs.select(did.alias("id"),
                        F.col(n_tokens_col).cast("long").alias("n_tok"),
                        shard.cast("long").alias("shard"))
            .withColumn("cum", F.sum("n_tok").over(w))
            .withColumn("chunk_id",
                        ((F.col("cum") - 1) - F.pmod(F.col("cum") - 1,
                                                     F.lit(budget)))
                        / F.lit(budget)))
    return (rows.groupBy("shard", F.col("chunk_id").cast("long").alias("chunk_id"))
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("tok_total"),
                 F.min("id").alias("first_doc"),
                 F.max("id").alias("last_doc")))


def pack_sequences_sql(docs_rel: str, n_tokens_sql: str, budget: int,
                       n_shards: int) -> str:
    h = hash60_sql("CAST(CAST(doc_id AS BIGINT) AS VARCHAR)")
    return f"""WITH rows_in AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         CAST({n_tokens_sql} AS BIGINT) AS n_tok,
         CAST(((({h}) % {n_shards}) + {n_shards}) % {n_shards} AS BIGINT) AS shard
  FROM {docs_rel}),
cums AS (
  SELECT id, n_tok, shard,
         SUM(n_tok) OVER (PARTITION BY shard ORDER BY id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM rows_in)
SELECT shard, CAST((cum - 1) // {budget} AS BIGINT) AS chunk_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_total,
       MIN(id) AS first_doc, MAX(id) AS last_doc
FROM cums
GROUP BY shard, chunk_id"""


# --------------------------------------------------------- stratified sample
def stratified_sample(docs: DataFrame, stratum_col: str,
                      quota: int) -> DataFrame:
    """Keep the ``quota`` lowest-hash documents of each stratum (ties broken
    by id — the hash is injective on ids in practice but the tie-break keeps
    the plan total-order deterministic)."""
    did = F.col("doc_id").cast("long")
    h = hash60_col(did.cast("string"))
    w = Window.partitionBy("stratum").orderBy("h", "id")
    return (docs.select(did.alias("id"), F.col(stratum_col).alias("stratum"),
                        h.alias("h"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= quota)
            .select(F.col("id").alias("doc_id"), "stratum", "rank"))


def stratified_sample_sql(docs_rel: str, stratum_sql: str, quota: int) -> str:
    h = hash60_sql("CAST(CAST(doc_id AS BIGINT) AS VARCHAR)")
    return f"""WITH ranked AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {stratum_sql} AS stratum,
         ROW_NUMBER() OVER (PARTITION BY {stratum_sql}
                            ORDER BY {h}, CAST(doc_id AS BIGINT)) AS rank
  FROM {docs_rel})
SELECT doc_id, stratum, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {quota}"""


# ------------------------------------------------------------ domain capping
def domain_curation(docs: DataFrame, quality_col: str, min_quality: float,
                    blocked: list[str], cap: int) -> DataFrame:
    """Blocklist → quality gate → per-domain cap (hash-rank keeps).

    The blocklist is applied as a broadcast LEFT ANTI join (the §2.8 anti-join
    shape; at scale the blocklist is a small dim table, not a literal list).
    """
    spark = docs.sparkSession
    block_df = spark.createDataFrame([(b,) for b in blocked],
                                     "source string")
    did = F.col("doc_id").cast("long")
    h = hash60_col(did.cast("string"))
    w = Window.partitionBy("domain").orderBy("h", "id")
    return (docs
            .join(F.broadcast(block_df), "source", "left_anti")
            .where(F.col(quality_col) >= min_quality)
            .select(did.alias("id"), F.col("source").alias("domain"),
                    F.col(quality_col).alias("quality"), h.alias("h"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= cap)
            .select(F.col("id").alias("doc_id"), "domain", "quality", "rank"))


def domain_curation_sql(docs_rel: str, quality_sql: str, min_quality: float,
                        blocked: list[str], cap: int) -> str:
    h = hash60_sql("CAST(CAST(doc_id AS BIGINT) AS VARCHAR)")
    inlist = ", ".join(f"'{b}'" for b in blocked)
    return f"""WITH kept AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source AS domain,
         {quality_sql} AS quality,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {h}, CAST(doc_id AS BIGINT)) AS rank
  FROM {docs_rel}
  WHERE source NOT IN ({inlist}) AND {quality_sql} >= {min_quality})
SELECT doc_id, domain, quality, CAST(rank AS BIGINT) AS rank
FROM kept WHERE rank <= {cap}"""


SPLIT_SEED = 7
TRAIN_BP = 8000
VAL_BP = 1000


# --------------------------------------------------------------- split gates
def dataset_split(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment by seeded hash — the split
    every training pipeline needs to be REPRODUCIBLE and leakage-free:
    membership is a pure function of (SPLIT_SEED, id), so re-runs, engines and
    incremental snapshots agree, and no document migrates between splits
    when the corpus grows (a row-number split would reshuffle everything).

    ``hash60(SPLIT_SEED:id) mod 10000`` lands in basis-point space:
    ``[0, TRAIN_BP) = train``, ``[TRAIN_BP, TRAIN_BP+VAL_BP) = val``,
    rest = test. Output is the per-(split, stratum) audit rollup
    (doc/char counts + id range); the per-doc assignment is the same
    expression inlined upstream of any consumer.

    Scale: ONE hash aggregation over a scan projection (the split key is
    computed per row, no join, no window) — map-side combine end to end.
    """
    did = F.col("doc_id").cast("long")
    part = F.pmod(hash60_seeded_col(SPLIT_SEED, did.cast("string")),
                  F.lit(10000))
    split = (F.when(part < TRAIN_BP, F.lit("train"))
             .when(part < TRAIN_BP + VAL_BP, F.lit("val"))
             .otherwise(F.lit("test")))
    return (docs.select(split.alias("split"),
                        F.col("lang").alias("stratum"),
                        did.alias("_id"),
                        F.col("n_chars").cast("long").alias("_sz"))
            .groupBy("split", "stratum")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("_sz").alias("chars_total"),
                 F.min("_id").alias("min_id"),
                 F.max("_id").alias("max_id")))


def dataset_split_sql(docs_rel: str) -> str:
    h = hash60_seeded_sql(SPLIT_SEED,
                          "CAST(CAST(doc_id AS BIGINT) AS VARCHAR)")
    part = f"((({h}) % 10000) + 10000) % 10000"
    return f"""WITH rows_in AS (
  SELECT CASE WHEN {part} < {TRAIN_BP} THEN 'train'
              WHEN {part} < {TRAIN_BP + VAL_BP} THEN 'val'
              ELSE 'test' END AS split,
         lang AS stratum, CAST(doc_id AS BIGINT) AS _id,
         CAST(n_chars AS BIGINT) AS _sz
  FROM {docs_rel})
SELECT split, stratum, COUNT(*) AS n_docs,
       CAST(SUM(_sz) AS BIGINT) AS chars_total,
       MIN(_id) AS min_id, MAX(_id) AS max_id
FROM rows_in GROUP BY split, stratum"""


# ------------------------------------------------------- split-leakage check
# The audit every pipeline should run and few do: near-duplicate pairs that
# STRADDLE a dataset-split boundary are evaluation leakage (the val/test
# doc has a train-side twin). Composes the MinHash-LSH near-dup pairs with
# the same pure-function split rule as :func:`dataset_split` — the split of
# an id is an expression, so attaching it to both pair sides is free (no
# join); the only work is the dedup pass itself.


def _split_expr_col(idc):
    part = F.pmod(hash60_seeded_col(SPLIT_SEED, idc.cast("long").cast("string")),
                  F.lit(10000))
    return (F.when(part < TRAIN_BP, F.lit("train"))
            .when(part < TRAIN_BP + VAL_BP, F.lit("val"))
            .otherwise(F.lit("test")))


def _split_case_sql(id_sql: str) -> str:
    h = hash60_seeded_sql(SPLIT_SEED,
                          f"CAST(CAST({id_sql} AS BIGINT) AS VARCHAR)")
    part = f"((({h}) % 10000) + 10000) % 10000"
    return (f"CASE WHEN {part} < {TRAIN_BP} THEN 'train' "
            f"WHEN {part} < {TRAIN_BP + VAL_BP} THEN 'val' "
            f"ELSE 'test' END")


def split_leakage(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Cross-split near-duplicate pairs:
    (id_a, id_b, split_a, split_b, jaccard) where split_a != split_b."""
    from . import dedup
    pairs = dedup.minhash_near_duplicates(docs, threshold)
    return (pairs
            .withColumn("split_a", _split_expr_col(F.col("id_a")))
            .withColumn("split_b", _split_expr_col(F.col("id_b")))
            .where(F.col("split_a") != F.col("split_b"))
            .select("id_a", "id_b", "split_a", "split_b", "jaccard"))


def split_leakage_sql(threshold: float = 0.8,
                      doc_rel: str = "documents") -> str:
    """DuckDB dual: the minhash pair query nested as a derived table."""
    from . import dedup
    inner = dedup.minhash_lsh_sql(threshold, doc_rel)
    sa = _split_case_sql("id_a")
    sb = _split_case_sql("id_b")
    return f"""SELECT id_a, id_b, {sa} AS split_a, {sb} AS split_b, jaccard
FROM ({inner}) WHERE ({sa}) <> ({sb})"""


# --------------------------------------------------------- priority sampling
PSAMPLE_SEED = 1
_U_SCALE = float(1 << 60)


def priority_sample(docs: DataFrame, k: int = 64,
                    id_col: str = "doc_id") -> DataFrame:
    """Duffield–Lund–Thorup priority sampling: a weighted without-replacement
    sample of ``k`` documents with UNBIASED subset-sum estimator weights —
    the principled way to downsample a 100-TB corpus proportionally to a
    quality/size weight while still estimating any stratum's true total
    from the sample alone.

    Per doc: u01 = (hash60(seed:id)+1)/2^60 ∈ (0,1],  q = w/u01.
    Keep the top-k by (q DESC, id); τ = the (k+1)-th priority;
    ŵ = max(w, τ) for kept docs — E[Σ_sample ŵ · 1(i kept)] = Σ_corpus w
    (Duffield et al., JACM 2007). Everything is derived from md5 hashes, so
    the sample AND the estimator weights replay bit-for-bit in DuckDB (the
    two IEEE double divisions are correctly rounded identically).

    Scale: top-(k+1) by a computed order is Spark's TakeOrderedAndProject —
    per-partition heap + driver merge of k+1 rows, NO global sort shuffle;
    the τ window runs over k+1 rows. The q computation rides the scan.
    """
    # u/q are built from the POST-alias column name ("doc_id"), not id_col:
    # the select below renames id_col, so referencing id_col afterwards
    # would fail for any non-default id column.
    u = hash60_seeded_col(PSAMPLE_SEED, F.concat(
        F.lit("ps:"), F.col("doc_id").cast("string"))) + 1
    q = (F.col("w").cast("double")
         / (F.col("u").cast("double") / F.lit(_U_SCALE)))
    scored = (docs.select(F.col(id_col).cast("long").alias("doc_id"),
                          "lang",
                          F.col("n_chars").cast("long").alias("w"))
              .withColumn("u", u.cast("long"))
              .withColumn("q", q))
    top = scored.orderBy(F.col("q").desc(), "doc_id").limit(k + 1)
    w_glob = Window.orderBy(F.col("q").desc(), "doc_id")
    ranked = top.withColumn("rank", F.row_number().over(w_glob))
    # τ = the (k+1)-th priority if it exists, else 0 (whole corpus kept)
    tau = (ranked.agg(F.coalesce(
        F.min(F.when(F.col("rank") == k + 1, F.col("q"))), F.lit(0.0))
        .alias("tau")))
    return (ranked.where(F.col("rank") <= k)
            .crossJoin(F.broadcast(tau))
            .select("doc_id", "lang", "w", "q",
                    F.greatest(F.col("w").cast("double"), F.col("tau"))
                    .alias("w_hat"))
            )


def priority_sample_sql(k: int = 64, docs_rel: str = "documents") -> str:
    u = hash60_seeded_sql(
        PSAMPLE_SEED, "concat('ps:', CAST(CAST(doc_id AS BIGINT) AS VARCHAR))")
    return f"""WITH scored AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, 
         CAST(n_chars AS BIGINT) AS w,
         CAST({u} + 1 AS BIGINT) AS u
  FROM {docs_rel}
), q AS (
  SELECT *, CAST(w AS DOUBLE) / (CAST(u AS DOUBLE) / {_U_SCALE!r}) AS q
  FROM scored
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS rank FROM q
), tau AS (
  SELECT coalesce(min(CASE WHEN rank = {k} + 1 THEN q END), 0.0) AS tau
  FROM ranked WHERE rank <= {k} + 1
)
SELECT doc_id, lang, w, q, greatest(CAST(w AS DOUBLE), tau) AS w_hat
FROM ranked, tau WHERE rank <= {k}"""


def grouped_split(docs: DataFrame, group_expr_spark: str) -> DataFrame:
    """Domain-GROUPED train/val/test split (the GroupShuffleSplit
    discipline): membership hashes the GROUP (host / registrable domain),
    not the document, so every page of a host lands in ONE split — the
    hygiene that stops same-site boilerplate and templates leaking from
    train into eval (document-level splits fail this even with zero
    near-dup pairs: two different pages of one host share everything the
    model memorizes about the site).

    Output: per-(split) rollup (n_docs, n_groups, chars_total) PLUS the
    audit column ``n_straddling_groups`` — groups seen in more than one
    split, which must be 0 BY CONSTRUCTION (the split is a pure function
    of the group key) and is recomputed from the data, not assumed.

    Scale: the group key and split are scan-projection expressions; the
    rollup is one hash agg + one distinct-group agg — no join against a
    group table, no window."""
    g = F.expr(group_expr_spark)
    part = F.pmod(hash60_seeded_col(SPLIT_SEED, g), F.lit(10000))
    split = (F.when(part < TRAIN_BP, F.lit("train"))
             .when(part < TRAIN_BP + VAL_BP, F.lit("val"))
             .otherwise(F.lit("test")))
    base = docs.select(split.alias("split"), g.alias("grp"),
                       F.col("n_chars").cast("long").alias("_sz"))
    per_split = (base.groupBy("split")
                 .agg(F.count("*").cast("long").alias("n_docs"),
                      F.countDistinct("grp").cast("long").alias("n_groups"),
                      F.sum("_sz").cast("long").alias("chars_total")))
    straddle = (base.select("grp", "split").distinct()
                .groupBy("grp").agg(F.count("*").alias("_ns"))
                .agg(F.count_if(F.col("_ns") > 1).cast("long")
                     .alias("n_straddling_groups")))
    return per_split.crossJoin(F.broadcast(straddle))


def grouped_split_sql(docs_rel: str, group_expr_sql: str) -> str:
    h = hash60_seeded_sql(SPLIT_SEED, group_expr_sql)
    part = f"((({h}) % 10000) + 10000) % 10000"
    return f"""WITH base AS (
  SELECT CASE WHEN {part} < {TRAIN_BP} THEN 'train'
              WHEN {part} < {TRAIN_BP + VAL_BP} THEN 'val'
              ELSE 'test' END AS split,
         {group_expr_sql} AS grp,
         CAST(n_chars AS BIGINT) AS _sz
  FROM {docs_rel}),
per_split AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
         CAST(SUM(_sz) AS BIGINT) AS chars_total
  FROM base GROUP BY split),
straddle AS (
  SELECT CAST(count(*) FILTER (_ns > 1) AS BIGINT) AS n_straddling_groups
  FROM (SELECT grp, COUNT(DISTINCT split) AS _ns FROM base GROUP BY grp))
SELECT split, n_docs, n_groups, chars_total, n_straddling_groups
FROM per_split, straddle"""
