"""Rolling-hash document fingerprinting (winnowing) over the documents text.

The MOSS / Schleimer-Wilkerson-Aiken (SIGMOD 2003) local fingerprinting
scheme LLM-corpus pipelines use for plagiarism-style overlap detection:

1. slide a character k-gram window over the normalized text and hash each
   gram with a Karp-Rabin polynomial rolling hash
   ``h = ((...(c_1 * B + c_2) * B + ...) * B + c_k) mod M`` — a linear
   recurrence, so streaming producers update it in O(1) per character;
2. WINNOW: over every window of ``w`` consecutive gram hashes, select the
   minimum (rightmost position on ties, per the paper §2.2 — it maximizes
   the chance the same gram is re-selected by overlapping windows);
3. the selected (position, hash) set is the document's fingerprint: any
   shared substring of length >= k + w - 1 between two documents is
   GUARANTEED to surface as at least one shared selected hash.

Reference analogue: the same filter-and-refine key discipline as the LSH
band buckets in :mod:`.dedup` and the grid-cell adjacency keys of the
reference (`/root/reference/geoindicators/.../SpatialUnits.groovy:419-426`)
— a cheap deterministic key whose collisions are verified downstream; here
the key is additionally POSITION-LOCAL, which bands are not.

Exactness: every step is integer arithmetic — codepoints (BMP; the driver
fixtures are ASCII), Horner steps mod the Mersenne prime M = 2^31 - 1 in
int64 (max intermediate ``(M-1)*B + c < 2^39``), window minima, and the
packed selection key below — so the Spark plan and the DuckDB oracle are
bit-identical, selection ties included.

Selection key: each gram i contributes ``hash * 2^32 + (2^32 - 1 - i)``.
``hash < 2^31`` makes the product < 2^63 (int64-safe up to 4G grams/doc,
enforced with a loud per-doc guard), the minimum over a window is then
exactly (min hash, rightmost position on ties), and the key is unique per
(position, hash) — so ``array_distinct`` over selected keys IS the distinct
fingerprint set, no struct handling needed in either engine.

Performance shape — why this is the repo's third Arrow-batched operator
(with SMBR and media): per-char compute is hostile to Spark SQL
expressions. The ``aggregate``-inside-``transform`` formulation runs
interpreted (~10 µs/gram = 25 s at sf0.1); the unrolled-Horner +
``element_at(codes, ...)`` formulation is worse because CollapseProject
inlines the codes-array expression into every element access (O(n²·k) per
doc, ~140 s at sf0.01). The numpy path decodes each text to codepoints in
one ``utf-32-le`` view and evaluates the k Horner steps and the w-window
minima as whole-array vector ops — microseconds per document, Arrow in and
out, and the same exact integers as the SQL oracle.

Scale design (10^12 docs):
* gram hashing and winnowing are a ``mapInPandas`` over the scan — NO
  shuffle, no per-row Python (vector ops per doc); O(n*(k+w)) per doc with
  k, w small constants;
* the per-doc fingerprint array is ``array_distinct``-ed BEFORE any explode,
  so the inverted index shuffles ~2/(w+1) of the gram count per doc (the
  paper's expected winnowing density), not one row per gram;
* the pair join is the same inverted-index + ``max_df`` stop-key cap as
  :func:`.dedup.ngram_jaccard_pairs` — boilerplate fingerprints shared by
  more than ``max_df`` docs are dropped from BOTH engine and oracle before
  the self-join, bounding the candidate blowup at hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_col, normalize_sql

K_GRAM = 12         # rolling-hash gram length (characters)
WINNOW_W = 5        # winnowing window (grams) -> guarantee t = k + w - 1 = 16
HASH_BASE = 131
HASH_MOD = 2_147_483_647        # Mersenne prime 2^31 - 1
_POS = 4_294_967_296            # 2^32: key = hash * _POS + (_POS - 1 - pos)
MAX_DF = 5                      # stop-fingerprint cap for the pair join
MIN_SHARED = 4                  # pairs must share >= this many fingerprints


def _horner(terms: list[str]) -> str:
    """Flat (unrolled) Horner chain ``(((t0*B + t1) % M)*B + t2) % M ...`` —
    a single arithmetic expression, no lambda evaluation per step."""
    acc = terms[0]
    for t in terms[1:]:
        acc = f"(({acc}) * {HASH_BASE} + {t}) % {HASH_MOD}"
    return acc


# ---------------------------------------------------------------- Spark path
def winnow_doc(txt: str, k: int = K_GRAM, w: int = WINNOW_W):
    """Per-doc kernel: (gram_count, distinct sorted packed selection keys)
    over an ALREADY-NORMALIZED text. Pure numpy; property-tested against a
    character-at-a-time O(1)-update rolling-hash reference
    (tests/test_winnow.py) — the vectorized Horner computes the same hash
    values the streaming recurrence produces."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    # utf-32-le view = codepoint array in one vectorized decode
    # (matches ascii()/unicode() per char in both SQL engines)
    codes = np.frombuffer(txt.encode("utf-32-le"),
                          dtype=np.uint32).astype(np.int64)
    if codes.size == 0:
        codes = np.zeros(1, dtype=np.int64)  # ascii('') = 0
    n = len(txt)
    g = max(n - k + 1, 1)
    if g >= _POS:  # position field would alias -> keys collide silently
        raise ValueError(f"winnow_doc: {g} grams exceeds the 2^32-1 "
                         f"packing bound")
    if n >= k:
        h = np.zeros(g, dtype=np.int64)
        for j in range(k):              # k vector Horner steps
            h = (h * HASH_BASE + codes[j:j + g]) % HASH_MOD
    else:                               # one gram over the whole text
        acc = 0
        for c in codes:
            acc = (acc * HASH_BASE + int(c)) % HASH_MOD
        h = np.array([acc], dtype=np.int64)
    keys = h * _POS + (_POS - 1 - np.arange(1, g + 1, dtype=np.int64))
    if g >= w:
        mins = sliding_window_view(keys, w).min(axis=1)
    else:
        mins = keys.min(keepdims=True)
    return g, np.unique(mins)


def winnow_fingerprint_arrays(docs: DataFrame) -> DataFrame:
    """(id, _g, sel): per-doc gram count and the distinct packed
    (hash, position) winnowing selection — one Arrow-batched ``mapInPandas``
    over the scan (no shuffle; normalization stays a JVM expression so both
    engines hash the identical string). Positions are 1-based gram indices;
    int64 packing is safe up to 2^32 - 1 grams per doc (Spark strings cap at
    2 GiB, three orders of magnitude below)."""
    from collections.abc import Iterator

    import numpy as np  # noqa: F401 — sel arrays in run() are np.ndarray
    import pandas as pd

    t = normalize_col(F.col("text"))
    # NULL texts are dropped (the numpy kernel has no NULL repr; the SQL
    # dual drops them identically) — empty STRINGS still fingerprint
    src = (docs.where(F.col("text").isNotNull())
           .select(F.col("doc_id").cast("long").alias("id"), t.alias("_t")))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            gs: list[int] = []
            sels: list[np.ndarray] = []
            for txt in pdf["_t"]:
                g, sel = winnow_doc(txt)
                gs.append(g)
                sels.append(sel)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(),
                                "_g": pd.Series(gs, dtype="int32"),
                                "sel": sels})

    return src.mapInPandas(run, "id long, _g int, sel array<long>")


# hash value / position halves of a packed key (engine and oracle share
# these formulas via format strings)
_VAL = f"({{key}} div {_POS})"
_VAL_DUCK = f"({{key}} // {_POS})"
# position half, for consumers that need it: (2^32 - 1) - (key % 2^32)


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Per-doc fingerprint summary: (doc_id, n_grams, n_fp, n_distinct_fp,
    fp_checksum). ``n_fp`` counts distinct selected (pos, hash) pairs,
    ``n_distinct_fp`` / ``fp_checksum`` the distinct hash VALUES and their
    exact int64 sum (order-free, so hash-comparable across engines)."""
    arr = winnow_fingerprint_arrays(docs)
    vals = F.array_distinct(
        F.expr(f"transform(sel, x -> {_VAL.format(key='x')})"))
    return arr.select(
        F.col("id").alias("doc_id"),
        F.col("_g").cast("long").alias("n_grams"),
        F.size("sel").cast("long").alias("n_fp"),
        F.size(vals).cast("long").alias("n_distinct_fp"),
        F.aggregate(vals, F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("fp_checksum"))


def winnow_dup_pairs(docs: DataFrame, max_df: int = MAX_DF,
                     min_shared: int = MIN_SHARED) -> DataFrame:
    """MOSS-style overlap pairs: (id_a, id_b, n_shared, containment) for
    doc pairs sharing >= ``min_shared`` distinct fingerprint hashes, id_a <
    id_b. ``containment`` = n_shared / min(|fp_a|, |fp_b|) — an exact int
    ratio in one double division. Fingerprints present in more than
    ``max_df`` docs are dropped first (stop-key cap, both engines)."""
    arr = winnow_fingerprint_arrays(docs)
    fp = (arr.select("id", F.explode(F.array_distinct(F.expr(
            f"transform(sel, x -> {_VAL.format(key='x')})"))).alias("fp"))
          .persist())
    hot = fp.groupBy("fp").count().where(F.col("count") > max_df).select("fp")
    kept = fp.join(F.broadcast(hot), "fp", "left_anti")
    sizes = kept.groupBy("id").agg(F.count("*").alias("n"))
    a, b = kept.alias("a"), kept.alias("b")
    shared = (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                     & (F.col("a.id") < F.col("b.id")))
              .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
              .agg(F.count("*").alias("n_shared"))
              .where(F.col("n_shared") >= min_shared))
    return (shared
            .join(sizes.withColumnsRenamed({"id": "id_a", "n": "na"}), "id_a")
            .join(sizes.withColumnsRenamed({"id": "id_b", "n": "nb"}), "id_b")
            .withColumn("containment",
                        F.col("n_shared").cast("double")
                        / F.least("na", "nb").cast("double"))
            .select("id_a", "id_b", "n_shared", "containment"))


# --------------------------------------------------------------- DuckDB dual
def _fp_rows_cte_sql(doc_rel: str, id_col: str, text_col: str,
                     k: int, w: int) -> str:
    """CTE chain ending in ``fp_rows(id, key)`` — one row per distinct packed
    selected (hash, pos) key per doc — plus ``grams(id, gcount)``. Mirrors
    the engine exactly: code array, flat Horner, packed keys, per-window
    list_min, DISTINCT."""
    flat = _horner([f"codes[i + {j}]" for j in range(k)])
    short = (f"list_reduce(codes, "
             f"(acc, c) -> (acc * {HASH_BASE} + c) % {HASH_MOD})")
    return f"""nrm AS (
  SELECT {id_col} AS id, {normalize_sql(text_col)} AS _t FROM {doc_rel}
  WHERE {text_col} IS NOT NULL),
coded AS (
  SELECT id, _t, greatest(length(_t) - {k - 1}, 1) AS gcount,
         list_transform(generate_series(1, greatest(length(_t), 1)),
                        j -> CAST(ascii(substr(_t, j, 1)) AS BIGINT)) AS codes
  FROM nrm),
keyed AS (
  SELECT id, gcount,
         list_transform(generate_series(1, gcount), i ->
           (CASE WHEN length(_t) >= {k} THEN {flat} ELSE {short} END)
             * CAST({_POS} AS BIGINT)
             + CAST({_POS} AS BIGINT) - 1 - i) AS ks
  FROM coded),
windows AS (
  SELECT id, gcount, ks,
         unnest(generate_series(1, greatest(gcount - {w - 1}, 1))) AS s
  FROM keyed),
fp_rows AS (
  SELECT DISTINCT id,
         list_min(ks[s:least(s + {w - 1}, gcount)]) AS key
  FROM windows),
grams AS (SELECT id, gcount FROM keyed)"""


def winnow_fingerprints_sql(doc_rel: str = "documents") -> str:
    val = _VAL_DUCK.format(key="f.key")
    return f"""WITH {_fp_rows_cte_sql(doc_rel, 'doc_id', 'text', K_GRAM, WINNOW_W)}
SELECT g.id AS doc_id,
       CAST(g.gcount AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_fp,
       CAST(COUNT(DISTINCT {val}) AS BIGINT) AS n_distinct_fp,
       CAST(SUM(DISTINCT {val}) AS BIGINT) AS fp_checksum
FROM grams g JOIN fp_rows f ON f.id = g.id
GROUP BY g.id, g.gcount"""


def winnow_dup_pairs_sql(doc_rel: str = "documents", max_df: int = MAX_DF,
                         min_shared: int = MIN_SHARED) -> str:
    val = _VAL_DUCK.format(key="key")
    return f"""WITH {_fp_rows_cte_sql(doc_rel, 'doc_id', 'text', K_GRAM, WINNOW_W)},
fps AS (SELECT DISTINCT id, {val} AS fp FROM fp_rows),
kept AS (SELECT id, fp FROM fps
  WHERE fp NOT IN (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > {max_df})),
sizes AS (SELECT id, COUNT(*) AS n FROM kept GROUP BY id),
shared AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
  GROUP BY a.id, b.id
  HAVING COUNT(*) >= {min_shared})
SELECT s.id_a, s.id_b, s.n_shared,
       CAST(s.n_shared AS DOUBLE) / CAST(least(x.n, y.n) AS DOUBLE)
         AS containment
FROM shared s
JOIN sizes x ON x.id = s.id_a
JOIN sizes y ON y.id = s.id_b"""
