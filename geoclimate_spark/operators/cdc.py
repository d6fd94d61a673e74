"""Content-defined chunking (Gear hash) + chunk-store dedup.

The storage-dedup primitive (LBFS/Venti lineage, used by modern crawl
storage and dataset-snapshot systems): cut every document into chunks at
positions where a rolling content hash hits a mask, so an insertion early
in a page shifts ONE chunk instead of re-shingling everything — identical
content anywhere in the corpus lands in identical chunks regardless of
offset. Complements the repo's other dedup axes: winnow.py fingerprints
for *detection*, dupspan.py trims *token* spans, CDC defines *storage*
units.

Rolling hash (Gear, Xia et al. FAST'16 shape): per character codepoint cp,
``g(cp) = hash60('gear:'||cp) % 2^24`` (md5-derived so both engines share
the table), and

    h_i = Σ_{o=0..31} g(cp_{i-o}) · 2^o   (mod 2^32)

— the << 1 recurrence unrolled to its closed 32-term form, which is what
makes a pure-SQL oracle possible (a positions × offsets join; g < 2^24
bounds every summand under 2^56, overflow-free int64). A boundary falls
AFTER position i when ``h_i % 2^k == 0`` (avg chunk 2^k chars); the final
position is always a boundary. No min/max chunk guards: boundaries stay a
pure function of local content (the property the oracle checks), at the
cost of occasional tiny chunks — the classic simplification.

Chunk unit is Unicode CODEPOINTS of the normalized text (byte==char on
ASCII corpora; a byte-level variant only changes the lookup).

Scale: chunking is ONE Arrow mapInPandas pass (vectorized 32 shifted adds
per batch; the gear table is built per batch from the batch's distinct
codepoints). Dedup is ONE map-side-combinable groupBy(chunk_md5) count
joined back on the hash — never the text. Output rows ≈ n_chars / 2^k per
doc.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import hash60_sql
from ..functions.text import normalize_col, normalize_sql

GEAR_BITS = 24
H_MOD = 1 << 32
WIN = 32
MASK_BITS = 6  # avg chunk 64 chars

CHUNK_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("chunk_id", T.LongType()),
    T.StructField("start", T.LongType()),
    T.StructField("n_chars", T.LongType()),
    T.StructField("chunk_md5", T.StringType()),
])


def _gear(cp: int) -> int:
    h = hashlib.md5(f"gear:{cp}".encode()).hexdigest()
    return int(h[:15], 16) % (1 << GEAR_BITS)


def cdc_chunks(docs: DataFrame, mask_bits: int = MASK_BITS) -> DataFrame:
    """(doc_id, chunk_id, start, n_chars, chunk_md5): content-defined
    chunks of the normalized text; ``start`` is 1-based, md5 is over the
    chunk substring."""
    import numpy as np

    mask = (1 << mask_bits) - 1
    base = docs.select(F.col("doc_id"),
                       normalize_col(F.col("text")).alias("t"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gear_cache: dict[int, int] = {}
        for b in batches:
            rows = []
            for did, t in zip(b["doc_id"], b["t"]):
                n = len(t)
                if n == 0:
                    continue
                # Vectorized codepoint extraction: one UTF-32 encode, no
                # per-character Python. Gear lookup is Python only per
                # DISTINCT codepoint (md5 table build, cached across the
                # batch); the per-position map is a searchsorted gather.
                # surrogatepass keeps the old ord()-path contract: lone
                # surrogates (surrogateescape-decoded data) hash instead
                # of killing the batch with UnicodeEncodeError
                cps = np.frombuffer(t.encode("utf-32-le", "surrogatepass"),
                                    dtype=np.uint32).astype(np.int64)
                uniq = np.unique(cps)
                for cp in uniq:
                    if int(cp) not in gear_cache:
                        gear_cache[int(cp)] = _gear(int(cp))
                gvals = np.array([gear_cache[int(cp)] for cp in uniq],
                                 dtype=np.int64)
                g = gvals[np.searchsorted(uniq, cps)]
                h = np.zeros(n, dtype=np.int64)
                for o in range(min(WIN, n)):
                    h[o:] = (h[o:] + (g[:n - o] << o)) % H_MOD
                cuts = np.flatnonzero((h & mask) == 0) + 1  # 1-based ends
                ends = np.unique(np.append(cuts, n))
                start = 1
                for ci, e in enumerate(ends):
                    seg = t[start - 1:e]
                    rows.append((int(did), ci, start, len(seg),
                                 hashlib.md5(seg.encode()).hexdigest()))
                    start = int(e) + 1
            yield pd.DataFrame(rows, columns=[f.name for f in CHUNK_SCHEMA])

    return base.mapInPandas(run, CHUNK_SCHEMA)


def cdc_dedup(docs: DataFrame) -> DataFrame:
    """Chunk table + corpus-wide occurrence counts: (doc_id, chunk_id,
    start, n_chars, chunk_md5, n_occ). ``n_occ > 1`` marks a chunk whose
    exact content exists elsewhere — the bytes a chunk store would keep
    once. One groupBy on the 32-hex hash, text never shuffles."""
    ch = cdc_chunks(docs)
    occ = ch.groupBy("chunk_md5").agg(F.count("*").cast("long").alias("n_occ"))
    return ch.join(occ, "chunk_md5").select(
        "doc_id", "chunk_id", "start", "n_chars", "chunk_md5", "n_occ")


# ------------------------------------------------------------------- oracle
_ORACLE_MAX_POS = 5000  # same loud-failure bound as dedup.shingle_cte_sql


def _cdc_chunks_cte_sql(mask_bits: int, rel: str, id_sql: str,
                        text_sql: str) -> str:
    norm = normalize_sql(text_sql)
    guard = (f"CASE WHEN length({norm}) > {_ORACLE_MAX_POS} THEN "
             f"error('oracle cdc bound {_ORACLE_MAX_POS} exceeded') "
             f"ELSE {norm} END")
    g = hash60_sql("concat('gear:', CAST(unicode(substring(t, i, 1)) AS VARCHAR))")
    return f"""norm AS (SELECT {id_sql} AS doc_id, {guard} AS t FROM {rel}),
series AS (SELECT i FROM generate_series(1, {_ORACLE_MAX_POS}) s(i)),
gear AS (
  SELECT doc_id, i, ({g}) % {1 << GEAR_BITS} AS g
  FROM norm JOIN series ON i <= length(t)
), offs AS (SELECT o FROM generate_series(0, {WIN - 1}) s(o)),
h AS (
  SELECT a.doc_id, a.i, SUM(b.g * (CAST(1 AS BIGINT) << o.o)) % {H_MOD} AS h
  FROM gear a JOIN offs o ON TRUE
       JOIN gear b ON b.doc_id = a.doc_id AND b.i = a.i - o.o
  GROUP BY 1, 2
), ends AS (
  SELECT doc_id, i FROM h WHERE h % {1 << mask_bits} = 0
  UNION
  SELECT doc_id, length(t) AS i FROM norm WHERE length(t) > 0
), spans AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS chunk_id,
         COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1
           AS start,
         i AS endpos
  FROM ends
), chunks AS (
  SELECT s.doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         CAST(start AS BIGINT) AS start,
         CAST(endpos - start + 1 AS BIGINT) AS n_chars,
         md5(substring(n.t, CAST(start AS INT),
                       CAST(endpos - start + 1 AS INT))) AS chunk_md5
  FROM spans s JOIN norm n ON n.doc_id = s.doc_id
)"""


def cdc_dedup_sql(rel: str = "documents") -> str:
    return f"""WITH {_cdc_chunks_cte_sql(MASK_BITS, rel, 'doc_id', 'text')},
occ AS (SELECT chunk_md5, CAST(COUNT(*) AS BIGINT) AS n_occ
        FROM chunks GROUP BY 1)
SELECT c.doc_id, c.chunk_id, c.start, c.n_chars, c.chunk_md5, o.n_occ
FROM chunks c JOIN occ o USING (chunk_md5)"""
