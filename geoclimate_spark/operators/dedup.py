"""Deduplication operator family over the ``documents``/``pages`` text column.

Exact dedup (hash-groupBy), n-gram Jaccard near-dup (inverted shingle index),
MinHash+LSH (shingle → seeded-minhash signature → band bucket join → exact
Jaccard verify) and SimHash (bitwise majority → banded hamming join).

Reference analogue: GeoClimate's self-spatial-joins that find "touching"
entities and merge them (`/root/reference/geoindicators/.../
SpatialUnits.groovy:419-426` building adjacency, `:395-475` createBlocks) —
the same filter-and-refine shape: a cheap equi-join key (there: grid cell;
here: LSH band bucket) prunes the O(n²) pair space, then an exact predicate
(there: ST_INTERSECTS; here: Jaccard / hamming) verifies candidates.

Every step is pure JVM-side SQL arithmetic on md5-derived 60-bit hashes
(:mod:`geoclimate_spark.functions.hashing`), so each operator has a
bit-identical DuckDB oracle (the ``*_sql`` builders below) — the LSH
candidate generation itself is deterministic and oracle-checked, not just the
final pair list.

Scale design (10^12 docs):
* shingling + seeded hashing ride the scan projection (codegen, no Python);
* minhash signatures are one ``groupBy(doc).agg(min×P)`` — map-side partial
  aggregation shrinks the shuffle to one row per (doc, P mins);
* band self-join shuffles only (band_key, doc_id) pairs — never text;
* frequent-shingle blowup in the exact-Jaccard path is capped with
  ``max_df`` (drop shingles appearing in more than max_df docs — the
  "stop-shingle" trick), which both engine and oracle apply identically;
* AQE skew-join handles hot LSH buckets (near-identical boilerplate docs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash60_col, hash60_sql, mix60_col, mix60_sql
from ..functions.text import normalize_col, normalize_sql

K_SHINGLE = 5
N_HASHES = 16
LSH_BANDS = 4
LSH_ROWS = 4
SIMHASH_BITS = 32
SIMHASH_BAND_BITS = 8
# Oracle-side shingle position bound; the driver's oracle only runs at
# sf=0.01 where max doc length is ~600. Engine side has no bound. The oracle
# SQL raises a DuckDB error() if any normalized doc exceeds the bound, so a
# fixture growth past it fails LOUDLY instead of silently diverging.
_ORACLE_MAX_POS = 5000


# ---------------------------------------------------------------- Spark path
def _shingle_array_expr(k: int) -> Column:
    """Distinct character k-gram shingles of the normalized column ``_t`` as
    a sorted array. Texts shorter than k contribute their whole normalized
    text as one shingle. Sorted so that set semantics downstream
    (array_intersect sizes, min-hash) never depend on construction order."""
    return F.expr(
        f"array_sort(array_distinct(transform("
        f"sequence(1, greatest(length(_t) - {k - 1}, 1)),"
        f" i -> substring(_t, i, {k}))))")


def shingle_array_df(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, sha: array<string>) — each doc's distinct shingle SET as one row.

    The array form keeps the whole shingle set inside the scan projection:
    signatures and set intersections become per-row codegen'd expressions,
    so nothing explodes to one-row-per-shingle until an operator genuinely
    needs an inverted index (see :func:`shingle_df`)."""
    t = normalize_col(F.col(text_col)).alias("_t")
    # repartition the RAW rows first so the normalize + shingle projection
    # runs post-shuffle on all workers: document corpora often arrive as few
    # fat files and the string work would otherwise serialize on the scan
    # partitioning (at sf0.1 the one-file scan stage ate 18s of a 20s query)
    spark = docs.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (docs.repartition(n_parts, id_col)
            .select(F.col(id_col).alias("id"), t)
            .select("id", _shingle_array_expr(K_SHINGLE).alias("sha")))


def shingle_df(docs: DataFrame) -> DataFrame:
    """Exploded inverted-index form of :func:`shingle_array_df`: (id, sh).

    ``explode_outer`` on purpose: plain ``explode`` makes the optimizer infer
    a ``size(sha) > 0`` filter (InferFiltersFromGenerate) which predicate
    pushdown then sinks BELOW the repartition into the scan stage — the whole
    shingle expression would be evaluated a second time, serially, on the
    unshuffled input. The array is never empty (greatest(…, 1) yields at
    least one shingle), so outer semantics are identical here."""
    return (shingle_array_df(docs)
            .select("id", F.explode_outer("sha").alias("sh")))


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Per-doc canonical id under exact (normalized) text equality:
    (id, canon_id, group_size). canon = lowest id with identical md5 —
    deterministic, mirrors the lowest-id tie-break used by the PIP join."""
    from pyspark.sql import Window
    fp = F.md5(normalize_col(F.col("text")))
    w = Window.partitionBy("fp")
    return (docs.select(F.col("doc_id").alias("id"), fp.alias("fp"))
            .withColumn("canon_id", F.min("id").over(w))
            .withColumn("group_size", F.count("*").over(w).cast("long"))
            .select("id", "canon_id", "group_size"))


def _df_capped(sh: DataFrame, max_df: int | None) -> DataFrame:
    if max_df is None:
        return sh
    hot = sh.groupBy("sh").count().where(F.col("count") > max_df).select("sh")
    return sh.join(F.broadcast(hot), "sh", "left_anti")


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.7,
                        max_df: int | None = None) -> DataFrame:
    """Exact Jaccard near-dup pairs via the inverted shingle index:
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    Integer intersection/union counts → the double division is bit-exact."""
    # persist the RAW index too: _df_capped reads it twice (hot-shingle scan
    # + anti-join probe) and each read would otherwise rebuild the shingles
    raw = shingle_df(docs).persist()
    sh = _df_capped(raw, max_df).persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
             .agg(F.count("*").alias("c")))
    return (inter
            .join(sizes.withColumnsRenamed({"id": "id_a", "n": "na"}), "id_a")
            .join(sizes.withColumnsRenamed({"id": "id_b", "n": "nb"}), "id_b")
            .withColumn("jaccard", F.col("c").cast("double")
                        / (F.col("na") + F.col("nb") - F.col("c")).cast("double"))
            .where(F.col("jaccard") >= F.lit(threshold))
            .select("id_a", "id_b", "jaccard"))


def containment_pairs(docs: DataFrame, threshold: float = 0.8,
                      max_df: int | None = None,
                      min_common: int = 5) -> DataFrame:
    """Shingle CONTAINMENT pairs: (id_a, id_b, n_common, contained_id,
    containment) with id_a < id_b and containment >= threshold, where
    containment = |S(a) ∩ S(b)| / min(|S(a)|, |S(b)|) (Broder's containment
    score, the quote-inclusion detector: a short doc embedded verbatim in a
    long one scores ~1.0 here but low on Jaccard because the union is
    dominated by the long doc). ``contained_id`` is the smaller-set side
    (ties → lower id). Same inverted-index shape as
    :func:`ngram_jaccard_pairs` — the `max_df` stop-shingle cap bounds the
    candidate blowup identically, so the 100-TB story is shared."""
    raw = shingle_df(docs).persist()
    sh = _df_capped(raw, max_df).persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
             .agg(F.count("*").cast("long").alias("n_common")))
    cont = (F.col("n_common").cast("double")
            / F.least("na", "nb").cast("double"))
    contained = (F.when(F.col("na") < F.col("nb"), F.col("id_a"))
                 .when(F.col("nb") < F.col("na"), F.col("id_b"))
                 .otherwise(F.least("id_a", "id_b")))
    return (inter
            .join(sizes.withColumnsRenamed({"id": "id_a", "n": "na"}), "id_a")
            .join(sizes.withColumnsRenamed({"id": "id_b", "n": "nb"}), "id_b")
            .withColumn("containment", cont)
            .where((F.col("containment") >= F.lit(threshold))
                   & (F.col("n_common") >= F.lit(int(min_common))))
            .select("id_a", "id_b", "n_common",
                    contained.cast("long").alias("contained_id"),
                    "containment"))


def containment_sql(max_df: int | None = None) -> str:
    if max_df is None:
        cap = "sh2 AS (SELECT * FROM sh)"
    else:
        cap = (f"hot AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > {max_df}),\n"
               f"sh2 AS (SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM hot))")
    return f"""WITH {shingle_cte_sql()},
{cap},
sizes AS (SELECT id, COUNT(*) AS n FROM sh2 GROUP BY 1),
inter AS (SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
SELECT i.id_a, i.id_b, i.n_common,
       CAST(CASE WHEN sa.n < sb.n THEN i.id_a
                 WHEN sb.n < sa.n THEN i.id_b
                 ELSE least(i.id_a, i.id_b) END AS BIGINT) AS contained_id,
       CAST(i.n_common AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)
         AS containment
FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
WHERE CAST(i.n_common AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)
      >= 0.8 AND i.n_common >= 5"""


def _with_signature_cols(arr: DataFrame, n_hashes: int) -> DataFrame:
    """Add mh0..mh{P-1} minhash columns to an (id, sha) frame — per-row array
    expressions (one md5 per shingle, P cheap affine mixes), NO shuffle."""
    hs = F.transform(F.col("sha"), lambda s: hash60_col(s))
    out = arr.withColumn("_hs", hs)
    mins = [F.array_min(F.transform(F.col("_hs"),
                                    lambda h: mix60_col(h, p))).alias(f"mh{p}")
            for p in range(n_hashes)]
    return out.select("id", "sha", *mins)


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(id, mh0..mh{P-1}): minimum seeded hash over the doc's shingle set.

    Computed entirely inside the scan projection (array transform + min) —
    the groupBy-of-exploded-shingles formulation would shuffle one row per
    shingle; this shuffles nothing."""
    arr = shingle_array_df(docs)
    return _with_signature_cols(arr, n_hashes).drop("sha")


def _band_key_col(band: int, rows: int) -> Column:
    parts = [F.col(f"mh{band * rows + r}").cast("string") for r in range(rows)]
    return hash60_col(F.concat_ws("_", *parts))


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Distinct (id_a, id_b) sharing at least one band bucket, id_a < id_b.

    Band keys are emitted in ONE pass over ``sig`` via posexplode (a
    union-of-selects would re-evaluate the signature subtree once per band
    per join side — 2×bands full signature computations)."""
    keys = F.array(*[_band_key_col(b, LSH_ROWS) for b in range(LSH_BANDS)])
    bl = sig.select("id", F.posexplode(keys).alias("band", "bk"))
    a, b = bl.alias("a"), bl.alias("b")
    return (a.join(b, ["band", "bk"])
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct())


def minhash_near_duplicates(docs: DataFrame,
                            threshold: float = 0.8) -> DataFrame:
    """LSH candidates → exact-Jaccard verify: (id_a, id_b, jaccard >= t).
    Deterministic end-to-end (md5-seeded minhash), so the whole pipeline —
    including LSH recall behavior — is oracle-checkable.

    Verify is a per-pair ``array_intersect`` over the two docs' shingle-set
    arrays: each candidate pair moves exactly two arrays through the join
    and the intersection count is a codegen'd row expression. (The inverted-
    index formulation — cand ⋈ shingles ⋈ shingles, groupBy count — exploded
    to |sh_a|·pairs shuffled rows: ~24M rows for 48k candidates at sf0.1.)"""
    # one frame feeds signatures AND both verify sides — persist it once;
    # per-doc arrays, so memory is ~the normalized corpus size
    arr = _with_signature_cols(
        shingle_array_df(docs), N_HASHES).persist()
    sig = arr.drop("sha")
    cand = lsh_candidate_pairs(sig)
    sets_ = arr.select("id", "sha", F.size("sha").cast("long").alias("n"))
    return (cand
            .join(sets_.withColumnsRenamed(
                {"id": "id_a", "sha": "sha_a", "n": "na"}), "id_a")
            .join(sets_.withColumnsRenamed(
                {"id": "id_b", "sha": "sha_b", "n": "nb"}), "id_b")
            .withColumn("c", F.size(F.array_intersect("sha_a", "sha_b"))
                        .cast("long"))
            .withColumn("jaccard", F.col("c").cast("double")
                        / (F.col("na") + F.col("nb") - F.col("c")).cast("double"))
            .where(F.col("jaccard") >= F.lit(threshold))
            .select("id_a", "id_b", "jaccard"))


def near_dup_clusters(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Dedup end-game: MinHash-LSH near-dup pairs → connected components →
    one canonical doc per cluster: (doc_id, component, component_size).
    Singletons are their own component. The reference's createBlocks shape
    (adjacency → CC → merge, `SpatialUnits.groovy:395-475`) applied to text."""
    from .components import connected_components
    pairs = minhash_near_duplicates(docs, threshold)
    verts = docs.select(F.col("doc_id"))
    return connected_components(verts, pairs.select("id_a", "id_b"),
                                key="doc_id")


def near_dup_clusters_sql(threshold: float = 0.8,
                          doc_rel: str = "documents") -> str:
    pairs = minhash_lsh_sql(threshold, doc_rel)
    return f"""WITH RECURSIVE pairs AS ({pairs}),
verts AS (SELECT doc_id AS id FROM {doc_rel}),
sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
  UNION SELECT id, id FROM verts),
reach(src, dst) AS (
  SELECT id, id FROM verts
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src),
sizes AS (SELECT component, COUNT(*) AS component_size FROM comp GROUP BY component)
SELECT c.doc_id, c.component, CAST(s.component_size AS BIGINT) AS component_size
FROM comp c JOIN sizes s USING (component)"""


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(id, simhash): per-bit majority vote over the shingle-hash set.

    Per-row array expressions inside the scan projection — bit i is set iff
    more than half the shingle hashes have bit i set (identical to the ±1
    vote sum > 0 the oracle SQL uses). No explode, no shuffle."""
    arr = shingle_array_df(docs)
    hs = F.transform(F.col("sha"), lambda s: hash60_col(s))
    base = arr.select("id", hs.alias("_hs"), F.size("sha").alias("_n"))
    terms = [
        F.when(F.size(F.filter(
            F.col("_hs"),
            lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1))
            * 2 > F.col("_n"), F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
        for i in range(SIMHASH_BITS)]
    simhash = terms[0]
    for t in terms[1:]:
        simhash = simhash + t
    return base.select("id", simhash.alias("simhash"))


def simhash_near_duplicates(docs: DataFrame,
                            max_hamming: int = 3) -> DataFrame:
    """Banded hamming join: pairs agreeing on >=1 byte-band of the simhash and
    within max_hamming overall: (id_a, id_b, hamming)."""
    # persist: one row per doc, but referenced by both sides of the band
    # self-join — see lsh_candidate_pairs for the re-evaluation trap
    sig = simhash_signatures(docs).persist()
    nb = SIMHASH_BITS // SIMHASH_BAND_BITS
    mask = (1 << SIMHASH_BAND_BITS) - 1
    keys = F.array(*[F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
                     .bitwiseAND(F.lit(mask)) for b in range(nb)])
    bl = sig.select("id", "simhash", F.posexplode(keys).alias("band", "bk"))
    a, b = bl.alias("a"), bl.alias("b")
    return (a.join(b, ["band", "bk"])
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                    .cast("long").alias("hamming"))
            .distinct()
            .where(F.col("hamming") <= max_hamming))


# ------------------------------------------------------------------ SQL path
def shingle_cte_sql(doc_rel: str = "documents") -> str:
    """CTE body list producing sh(id, sh) — DuckDB mirror of shingle_df."""
    norm = normalize_sql("text")
    guard = (f"CASE WHEN length({norm}) > {_ORACLE_MAX_POS} THEN "
             f"error('oracle shingle bound {_ORACLE_MAX_POS} exceeded') "
             f"ELSE {norm} END")
    return (
        f"norm AS (SELECT doc_id AS id, {guard} AS t FROM {doc_rel}),\n"
        f"series AS (SELECT i FROM generate_series(1, {_ORACLE_MAX_POS}) g(i)),\n"
        f"sh AS (SELECT DISTINCT id, substring(t, i, {K_SHINGLE}) AS sh\n"
        f"       FROM norm JOIN series ON i <= greatest(length(t) - {K_SHINGLE - 1}, 1))"
    )


def exact_duplicates_sql() -> str:
    norm = normalize_sql("text")
    return f"""
WITH f AS (SELECT doc_id AS id, md5({norm}) AS fp FROM documents)
SELECT id, MIN(id) OVER (PARTITION BY fp) AS canon_id,
       CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS group_size
FROM f"""


def _jaccard_tail_sql(threshold: float, pair_src: str) -> str:
    """Shared verify tail: sizes + intersection→jaccard filter.
    ``pair_src`` must be a CTE named cand(id_a, id_b) or the literal
    'from_shingles' to derive pairs directly from the shingle index."""
    if pair_src == "from_shingles":
        inter = ("inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c\n"
                 "  FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)")
    else:
        inter = ("inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS c\n"
                 "  FROM cand c JOIN sh2 a ON a.id = c.id_a JOIN sh2 b ON b.id = c.id_b\n"
                 "  AND a.sh = b.sh GROUP BY 1, 2)")
    return f"""sizes AS (SELECT id, COUNT(*) AS n FROM sh2 GROUP BY 1),
{inter}
SELECT i.id_a, i.id_b,
       CAST(i.c AS DOUBLE) / CAST(sa.n + sb.n - i.c AS DOUBLE) AS jaccard
FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
WHERE CAST(i.c AS DOUBLE) / CAST(sa.n + sb.n - i.c AS DOUBLE) >= {threshold}"""


def ngram_jaccard_sql(threshold: float = 0.7,
                      max_df: int | None = None) -> str:
    if max_df is None:
        cap = "sh2 AS (SELECT * FROM sh)"
    else:
        cap = (f"hot AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > {max_df}),\n"
               f"sh2 AS (SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM hot))")
    return (f"WITH {shingle_cte_sql()},\n{cap},\n"
            + _jaccard_tail_sql(threshold, "from_shingles"))


def minhash_sig_cte_sql(n_hashes: int = N_HASHES) -> str:
    h = hash60_sql("sh")
    mins = ",\n       ".join(
        f"MIN({mix60_sql(h, p)}) AS mh{p}" for p in range(n_hashes))
    return f"sig AS (SELECT id, {mins}\n  FROM sh GROUP BY id)"


def minhash_lsh_sql(threshold: float = 0.8, doc_rel: str = "documents") -> str:
    band_selects = []
    for b in range(LSH_BANDS):
        parts = " , ".join(f"CAST(mh{b * LSH_ROWS + r} AS VARCHAR)"
                           for r in range(LSH_ROWS))
        key = hash60_sql(f"concat_ws('_', {parts})")
        band_selects.append(f"SELECT id, {b} AS band, {key} AS bk FROM sig")
    bl = " UNION ALL ".join(band_selects)
    return f"""WITH {shingle_cte_sql(doc_rel)},
sh2 AS (SELECT * FROM sh),
{minhash_sig_cte_sql()},
bl AS ({bl}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bl a JOIN bl b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id),
{_jaccard_tail_sql(threshold, "cand")}"""


def simhash_sql(max_hamming: int = 3) -> str:
    h = hash60_sql("sh")
    votes = ",\n       ".join(
        f"SUM((({h} >> {i}) & 1) * 2 - 1) AS v{i}"
        for i in range(SIMHASH_BITS))
    simhash = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(SIMHASH_BITS))
    nb = SIMHASH_BITS // SIMHASH_BAND_BITS
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_selects = " UNION ALL ".join(
        f"SELECT id, simhash, {b} AS band, (simhash >> {b * SIMHASH_BAND_BITS}) & {mask} AS bk FROM sim"
        for b in range(nb))
    return f"""WITH {shingle_cte_sql()},
votes AS (SELECT id, {votes}\n  FROM sh GROUP BY id),
sim AS (SELECT id, {simhash} AS simhash FROM votes),
bl AS ({band_selects}),
pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM bl a JOIN bl b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}"""


RECALL_MAX_DF = 20
RECALL_SAMPLE_MOD = 2


# ----------------------------------------------------- LSH recall audit
def lsh_recall_report(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Measured LSH banding recall — the dedup analogue of
    similarity's ``ann_recall_report`` ("measure, don't guess"): on a
    deterministic ``doc_id % RECALL_SAMPLE_MOD`` slice, compare the MinHash-LSH
    candidate pairs against the exact (stop-shingle-capped) Jaccard pairs
    the inverted index produces, and report recall / candidate efficiency
    as exact integer millis.

    One row: (n_docs, n_truth, n_cand, n_hit, recall_millis,
    cand_efficiency_millis) where hit = truth ∩ candidates, recall =
    hit/truth, efficiency = hit/cand (what fraction of generated candidate
    pairs are true near-dups — the verify-stage cost multiplier).

    Scale: the audit runs on a SAMPLE by design — the exact-truth inverted
    index costs Σ df(sh)² join rows, so the full-corpus truth is exactly
    the thing LSH exists to avoid; sampling by id keeps pair semantics
    (both endpoints in-sample) and bounds cost at any corpus size. Truth
    uses the same ``max_df`` stop-shingle cap (``RECALL_MAX_DF``) as the shipping
    ngram-Jaccard operator, so this audits the BANDING against the
    engine's own exact-pair definition."""
    sampled = docs.where(F.col("doc_id") % RECALL_SAMPLE_MOD == 0)
    truth = (ngram_jaccard_pairs(sampled, threshold, max_df=RECALL_MAX_DF)
             .select("id_a", "id_b", F.lit(1).alias("in_t")))
    cand = (lsh_candidate_pairs(minhash_signatures(sampled))
            .select("id_a", "id_b", F.lit(1).alias("in_c")))
    both = truth.join(cand, ["id_a", "id_b"], "full_outer")
    return (both.agg(
        F.count_if(F.col("in_t").isNotNull()).alias("n_truth"),
        F.count_if(F.col("in_c").isNotNull()).alias("n_cand"),
        F.count_if(F.col("in_t").isNotNull()
                   & F.col("in_c").isNotNull()).alias("n_hit"))
        .crossJoin(sampled.agg(F.count("*").alias("n_docs")))
        .select("n_docs", "n_truth", "n_cand", "n_hit",
                F.expr("CASE WHEN n_truth = 0 THEN 1000 "
                       "ELSE (n_hit * 1000) div n_truth END")
                .alias("recall_millis"),
                F.expr("CASE WHEN n_cand = 0 THEN 1000 "
                       "ELSE (n_hit * 1000) div n_cand END")
                .alias("cand_efficiency_millis")))


def lsh_recall_report_sql(threshold: float = 0.8,
                          doc_rel: str = "documents") -> str:
    sampled = (f"(SELECT * FROM {doc_rel} "
               f"WHERE doc_id % {RECALL_SAMPLE_MOD} = 0)")
    cap = ("hot AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > "
           f"{RECALL_MAX_DF}),\n"
           "sh2 AS (SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM hot))")
    band_selects = []
    for b in range(LSH_BANDS):
        parts = " , ".join(f"CAST(mh{b * LSH_ROWS + r} AS VARCHAR)"
                           for r in range(LSH_ROWS))
        key = hash60_sql(f"concat_ws('_', {parts})")
        band_selects.append(f"SELECT id, {b} AS band, {key} AS bk FROM sig")
    bl = " UNION ALL ".join(band_selects)
    return f"""WITH {shingle_cte_sql(sampled)},
{cap},
sizes AS (SELECT id, COUNT(*) AS n FROM sh2 GROUP BY 1),
inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
  FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
truth AS (SELECT i.id_a, i.id_b
  FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
  WHERE CAST(i.c AS DOUBLE) / CAST(sa.n + sb.n - i.c AS DOUBLE) >= {threshold}),
{minhash_sig_cte_sql()},
bl AS ({bl}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bl a JOIN bl b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id),
joined AS (SELECT coalesce(t.id_a, c.id_a) AS id_a,
       t.id_a IS NOT NULL AS in_t, c.id_a IS NOT NULL AS in_c
  FROM truth t FULL OUTER JOIN cand c
    ON t.id_a = c.id_a AND t.id_b = c.id_b),
agg AS (SELECT CAST(count(*) FILTER (in_t) AS BIGINT) AS n_truth,
       CAST(count(*) FILTER (in_c) AS BIGINT) AS n_cand,
       CAST(count(*) FILTER (in_t AND in_c) AS BIGINT) AS n_hit
  FROM joined),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM {sampled} s)
SELECT n_docs, n_truth, n_cand, n_hit,
  CASE WHEN n_truth = 0 THEN 1000 ELSE (n_hit * 1000) // n_truth END
    AS recall_millis,
  CASE WHEN n_cand = 0 THEN 1000 ELSE (n_hit * 1000) // n_cand END
    AS cand_efficiency_millis
FROM agg, nd"""


DELTA_MOD = 4


# ----------------------------------------------- incremental (delta) dedup
def incremental_minhash_delta(docs: DataFrame,
                              threshold: float = 0.8) -> DataFrame:
    """Daily-ingest dedup: near-dup pairs INVOLVING the new batch only —
    (id_a, id_b, jaccard, pair_kind ∈ delta_vs_base / delta_vs_delta),
    id_a < id_b, never re-verifying base×base.

    The batch is the deterministic ``id % DELTA_MOD == 0`` slice (standing
    in for "today's crawl"); everything else is the existing corpus whose
    band index a real deployment has ON DISK (sources/bucketing.py — the
    same store-side shape as the streaming dedup's bucketed fingerprint
    store). The candidate join is delta-bands ⋈ all-bands, so the shuffled
    pair space scales with |delta|·bands, NOT |corpus|²: the property that
    lets a 100-TB corpus absorb a daily batch by touching the delta and
    the matching band buckets only. The incremental-maintenance algebra
    mirrors snapshot.incremental_host_rollup: the ORACLE recomputes the
    FULL pair set from scratch and filters to delta-involving pairs, so
    delta-join ≡ full-recompute is what the hash gate proves."""
    arr = _with_signature_cols(
        shingle_array_df(docs), N_HASHES).persist()
    sig = arr.drop("sha")
    keys = F.array(*[_band_key_col(b, LSH_ROWS) for b in range(LSH_BANDS)])
    bl = sig.select("id", F.posexplode(keys).alias("band", "bk")).persist()
    is_delta = F.col("id") % DELTA_MOD == 0
    dl, al = bl.where(is_delta).alias("d"), bl.alias("a")
    cand = (dl.join(al, ["band", "bk"])
            .where(F.col("d.id") != F.col("a.id"))
            .select(F.least(F.col("d.id"), F.col("a.id")).alias("id_a"),
                    F.greatest(F.col("d.id"), F.col("a.id")).alias("id_b"))
            .distinct())
    sets_ = arr.select("id", "sha", F.size("sha").cast("long").alias("n"))
    return (cand
            .join(sets_.withColumnsRenamed(
                {"id": "id_a", "sha": "sha_a", "n": "na"}), "id_a")
            .join(sets_.withColumnsRenamed(
                {"id": "id_b", "sha": "sha_b", "n": "nb"}), "id_b")
            .withColumn("c", F.size(F.array_intersect("sha_a", "sha_b"))
                        .cast("long"))
            .withColumn("jaccard", F.col("c").cast("double")
                        / (F.col("na") + F.col("nb") - F.col("c"))
                        .cast("double"))
            .where(F.col("jaccard") >= F.lit(threshold))
            .select("id_a", "id_b", "jaccard",
                    F.when((F.col("id_a") % DELTA_MOD == 0)
                           & (F.col("id_b") % DELTA_MOD == 0),
                           F.lit("delta_vs_delta"))
                    .otherwise(F.lit("delta_vs_base")).alias("pair_kind")))


def incremental_minhash_delta_sql(threshold: float = 0.8) -> str:
    """Oracle = the FULL minhash-LSH recompute, filtered to pairs with a
    delta-side member — deliberately NOT the incremental algorithm."""
    full = minhash_lsh_sql(threshold)
    return f"""WITH full_pairs AS ({full})
SELECT id_a, id_b, jaccard,
       CASE WHEN id_a % {DELTA_MOD} = 0 AND id_b % {DELTA_MOD} = 0
            THEN 'delta_vs_delta' ELSE 'delta_vs_base' END AS pair_kind
FROM full_pairs
WHERE id_a % {DELTA_MOD} = 0 OR id_b % {DELTA_MOD} = 0"""


# --------------------------------------------------- cluster cohesion audit
def cluster_cohesion(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Near-dup cluster quality audit: per multi-doc cluster
    (component, component_size, n_pairs, min_jaccard, max_jaccard) — the
    check that catches CHAINING, transitive-closure clustering's failure
    mode (A~B~C merges A and C even when jaccard(A,C) is low; a cluster
    whose min_jaccard is far below the threshold was built by chaining
    and a canonical-doc dedup of it is lossy). min/max are
    order-independent aggregates — no double-summation
    nondeterminism — so the audit is hash-gated exactly.

    Composes the shipping machinery: verified LSH pairs + pointer-doubling
    components; one extra equi-join (pair → cluster of its left end — both
    ends share a cluster by construction) + one groupBy(component)."""
    from .components import connected_components
    pairs = minhash_near_duplicates(docs, threshold).persist()
    verts = docs.select(F.col("doc_id"))
    comp = connected_components(verts, pairs.select("id_a", "id_b"),
                                key="doc_id")
    j = pairs.join(comp.select(F.col("doc_id").alias("id_a"),
                               "component", "component_size"), "id_a")
    return (j.groupBy("component", "component_size")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.min("jaccard").alias("min_jaccard"),
                 F.max("jaccard").alias("max_jaccard"))
            .select("component",
                    F.col("component_size").cast("long")
                    .alias("component_size"),
                    "n_pairs", "min_jaccard", "max_jaccard"))


def cluster_cohesion_sql(threshold: float = 0.8,
                         doc_rel: str = "documents") -> str:
    pairs = minhash_lsh_sql(threshold, doc_rel)
    return f"""WITH RECURSIVE pairs AS ({pairs}),
verts AS (SELECT doc_id AS id FROM {doc_rel}),
sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
  UNION SELECT id, id FROM verts),
reach(src, dst) AS (
  SELECT id, id FROM verts
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
comp AS (SELECT src AS id, MIN(dst) AS component FROM reach GROUP BY src),
sizes AS (SELECT component, COUNT(*) AS component_size
          FROM comp GROUP BY component)
SELECT c.component,
       CAST(s.component_size AS BIGINT) AS component_size,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       MIN(p.jaccard) AS min_jaccard,
       MAX(p.jaccard) AS max_jaccard
FROM pairs p JOIN comp c ON c.id = p.id_a
JOIN sizes s USING (component)
GROUP BY c.component, s.component_size"""
