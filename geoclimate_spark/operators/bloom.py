"""Bloom-prefiltered fingerprint blocklist (guarantee-preserving anti-join).

The curation primitive for "drop every document whose fingerprint is on a
blocklist" at corpus scale. A plain anti-join must move every corpus row's
key through a join; a Bloom filter built from the blocklist classifies most
rows as *definitely not blocked* with a handful of bit probes inside the
scan projection, so only the tiny bloom-positive slice enters the exact
confirm join. False positives cost one extra join probe; false negatives are
impossible (every blocklisted fingerprint sets its own probe bits), so the
result is EXACTLY the anti-join — which is what the DuckDB oracle computes.

This is the same runtime-filter idea Spark's InjectRuntimeFilter applies to
shuffle joins, made explicit and deterministic: the bitmap is a DataFrame of
(word, bits) built with one groupBy(bit_or) over the blocklist probes — no
driver collect, no BroadcastNestedLoopJoin; the big side reads it through
two broadcast hash equi-joins on the probe word index.

Reference analogue: the filter-and-refine shape of every GeoClimate spatial
predicate (`/root/reference/geoindicators/.../SpatialUnits.groovy:537`
``a.geom && b.geom AND ST_INTERSECTS(...)``) — a cheap conservative test
(bbox / bloom bits) gates the exact test (ST_INTERSECTS / the anti-join).

Scale design (10^12 docs):
* probe positions + word/mask math are codegen'd column arithmetic on the
  md5-derived 60-bit fingerprint — no Python, no shuffle;
* the bitmap is W=16 rows; both probe joins broadcast it;
* the confirm anti-join input shrinks to |blocklist| + the false-positive
  slice (~n·(1-e^{-2b/m})² ≈ n·(2b/m)² for b blocklist entries, m bits) —
  sized so the shuffled side is a rounding error next to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash60_col, hash60_sql, mix60_col
from ..functions.text import normalize_col, normalize_sql

M_BITS = 1024          # bloom bits (16 int64 words)
WORD_BITS = 64
K_PROBES = 2
_PROBE_SEEDS = (101, 102)   # mix60 family seeds, disjoint from minhash 0..15


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, fp) — the 60-bit normalized-text fingerprint."""
    return docs.select(F.col("doc_id").alias("doc_id"), "lang",
                       hash60_col(normalize_col(F.col("text"))).alias("fp"))


def _probe(fp: Column, j: int) -> Column:
    return mix60_col(fp, _PROBE_SEEDS[j]) % F.lit(M_BITS)


def bloom_bitmap(banned: DataFrame) -> DataFrame:
    """(w, bits): the blocklist's bloom bitmap as a <=16-row DataFrame.
    Built with one explode + groupBy(bit_or) — distributed, mergeable,
    never collected to the driver."""
    probes = banned.select(F.explode(F.array(
        *[_probe(F.col("fp"), j) for j in range(K_PROBES)])).alias("p"))
    return (probes
            .select(F.expr(f"p div {WORD_BITS}").alias("w"),
                    F.expr(f"shiftleft(1L, CAST(p % {WORD_BITS} AS INT))")
                    .alias("m"))
            .groupBy("w").agg(F.bit_or("m").alias("bits")))


def with_bloom_flag(rows: DataFrame, bitmap: DataFrame) -> DataFrame:
    """Adds ``bloom_maybe``: True iff ALL probe bits of ``fp`` are set in the
    bitmap. False ⇒ the fingerprint is DEFINITELY not in the blocklist."""
    out = rows
    for j in range(K_PROBES):
        bm = F.broadcast(bitmap.select(F.col("w").alias(f"_w{j}"),
                                       F.col("bits").alias(f"_bits{j}")))
        out = (out.withColumn(f"_p{j}", _probe(F.col("fp"), j))
               .withColumn(f"_w{j}", F.expr(f"_p{j} div {WORD_BITS}"))
               .withColumn(f"_m{j}", F.expr(
                   f"shiftleft(1L, CAST(_p{j} % {WORD_BITS} AS INT))"))
               .join(bm, f"_w{j}", "left"))
    cond = None
    for j in range(K_PROBES):
        c = (F.coalesce(F.col(f"_bits{j}"), F.lit(0))
             .bitwiseAND(F.col(f"_m{j}")) != 0)
        cond = c if cond is None else (cond & c)
    drop = [c for j in range(K_PROBES)
            for c in (f"_p{j}", f"_w{j}", f"_m{j}", f"_bits{j}")]
    return out.withColumn("bloom_maybe", cond).drop(*drop)


def bloom_blocklist_filter(docs: DataFrame, ban_mod: int) -> DataFrame:
    """(doc_id, lang, fp) of documents whose fingerprint is NOT on the
    blocklist (= fingerprints of docs with doc_id % ban_mod == 0 — the
    deterministic stand-in for an externally supplied blocklist table).

    Bloom-negative rows pass straight through; only bloom-positive rows pay
    the exact broadcast anti-join. Result == the plain anti-join, always."""
    rows = fingerprints(docs)
    banned = (rows.where(F.col("doc_id") % ban_mod == 0)
              .select("fp").distinct())
    bitmap = bloom_bitmap(banned)
    flagged = with_bloom_flag(rows, bitmap)
    certain = flagged.where(~F.col("bloom_maybe")).drop("bloom_maybe")
    confirm = (flagged.where(F.col("bloom_maybe")).drop("bloom_maybe")
               .join(F.broadcast(banned), "fp", "left_anti"))
    return certain.unionByName(confirm).select("doc_id", "lang", "fp")


def bloom_blocklist_filter_sql(ban_mod: int) -> str:
    """DuckDB dual: the bloom is an engine-side physical optimization with
    zero semantic effect, so the oracle is the plain anti-join."""
    fp = hash60_sql(normalize_sql("text"))
    return f"""
WITH f AS (SELECT doc_id AS doc_id, lang, {fp} AS fp FROM documents),
banned AS (SELECT DISTINCT fp FROM f WHERE doc_id % {ban_mod} = 0)
SELECT doc_id, lang, fp FROM f WHERE fp NOT IN (SELECT fp FROM banned)"""
