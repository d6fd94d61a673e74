"""Audio-style landmark fingerprinting + snippet matching over binary media.

The audio-retrieval member of the multimodal family (sources/media.py):
the deterministic frame container stands in for a spectrogram — each
16-byte frame is an STFT window, each byte a frequency-band magnitude —
and the operator implements the Shazam-shape constellation algorithm
(Wang 2003): per window take the PEAK band, hash (peak_f, peak_{f+dt}, dt)
pairs for small deltas into landmark keys, and match a query snippet by
joining on landmark keys and voting per (candidate doc, frame offset) —
a genuine time-aligned subsequence match, robust to where the snippet
starts. Swapping the synthetic decode for a real STFT changes nothing
downstream — the landmark/vote relational shape is the operator.

Scale design: decode+landmark extraction is ONE Arrow mapInPandas pass
(bytes never shuffle; ~3 landmark rows per frame leave it). The query
snippet's landmarks BROADCAST; matching is an equi-join on the int key,
then one groupBy (doc, offset) count and one per-doc argmax — the
filter-and-refine shape shared with every dedup operator here.

Peak tie-break: FIRST maximal band (numpy argmax semantics), replicated
in SQL as the least index attaining the row max.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.media import _HDR_FMT, _HDR_SIZE, MAGIC, _frame_byte_sql

N_BANDS = 16
MAX_DT = 3
MIN_VOTES = 2

LANDMARK_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("f", T.LongType()),       # anchor frame index (0-based)
    T.StructField("key", T.LongType()),     # peak_a*64 + peak_b*4 + dt
])


def audio_landmarks(media: DataFrame) -> DataFrame:
    """(doc_id, f, key): constellation landmarks decoded FROM THE BYTES."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for did, buf in zip(b["doc_id"], b["media"]):
                buf = bytes(buf)
                magic, w, h, nf = struct.unpack_from(_HDR_FMT, buf)
                if magic != MAGIC:
                    raise ValueError("bad magic")
                frames = np.frombuffer(buf, dtype=np.uint8,
                                       offset=_HDR_SIZE).reshape(nf, -1)
                peaks = frames[:, :N_BANDS].argmax(axis=1)  # first-max
                for f in range(nf):
                    for dt in range(1, MAX_DT + 1):
                        if f + dt < nf:
                            key = (int(peaks[f]) * N_BANDS * (MAX_DT + 1)
                                   + int(peaks[f + dt]) * (MAX_DT + 1) + dt)
                            rows.append((int(did), f, key))
            yield pd.DataFrame(rows,
                               columns=[x.name for x in LANDMARK_SCHEMA])

    return media.mapInPandas(run, LANDMARK_SCHEMA)


def snippet_match(landmarks: DataFrame, query_doc: int, q_from: int,
                  q_to: int) -> DataFrame:
    """Match frames [q_from, q_to) of ``query_doc`` against the corpus:
    (doc_id, best_offset, votes) per candidate with ≥ ``MIN_VOTES``
    time-aligned landmark hits; best offset = max votes, ties → smallest
    offset. The query side is a tiny filtered frame → broadcast."""
    q = (landmarks
         .where((F.col("doc_id") == query_doc)
                & (F.col("f") >= q_from) & (F.col("f") < q_to))
         .select(F.col("key"), (F.col("f") - q_from).alias("qf")))
    j = (landmarks.join(F.broadcast(q), "key")
         .select("doc_id", (F.col("f") - F.col("qf")).alias("offset")))
    votes = (j.groupBy("doc_id", "offset")
             .agg(F.count("*").cast("long").alias("votes")))
    best = (votes.groupBy("doc_id")
            .agg(F.max(F.struct(F.col("votes"),
                                (-F.col("offset")).alias("noff")))
                 .alias("_b"))
            .select("doc_id", (-F.col("_b.noff")).cast("long")
                    .alias("best_offset"),
                    F.col("_b.votes").alias("votes")))
    return best.where(F.col("votes") >= MIN_VOTES)


# ------------------------------------------------------------------- oracle
def _landmarks_cte_sql(doc_rel: str, id_col: str) -> str:
    """CTE list producing lm(doc_id, f, key) — arithmetic recomputation of
    frame peaks from the md5 payload derivation (never parses bytes)."""
    bands = ",\n           ".join(
        f"{_frame_byte_sql('doc_id', 'f', p)} AS b{p}"
        for p in range(N_BANDS))
    mx = "greatest(" + ", ".join(f"b{p}" for p in range(N_BANDS)) + ")"
    peak = "CASE " + " ".join(
        f"WHEN b{p} = {mx} THEN {p}" for p in range(N_BANDS)) + " END"
    dts = " UNION ALL ".join(f"SELECT {d} AS dt" for d in
                             range(1, MAX_DT + 1))
    return f"""frames AS (
  SELECT {id_col} AS doc_id, CAST(u.f AS BIGINT) AS f
  FROM {doc_rel}, LATERAL unnest(range(0, 1 + {id_col} % 24)) AS u(f)
), bandsv AS (
  SELECT doc_id, f,
           {bands}
  FROM frames
), peaks AS (
  SELECT doc_id, f, CAST({peak} AS BIGINT) AS peak FROM bandsv
), dts AS ({dts}),
lm AS (
  SELECT a.doc_id, a.f,
         CAST(a.peak * {N_BANDS * (MAX_DT + 1)}
              + b.peak * {MAX_DT + 1} + d.dt AS BIGINT) AS key
  FROM peaks a JOIN dts d ON TRUE
       JOIN peaks b ON b.doc_id = a.doc_id AND b.f = a.f + d.dt
)"""


def snippet_match_sql(query_doc: int, q_from: int, q_to: int,
                      doc_rel: str = "documents") -> str:
    return f"""WITH {_landmarks_cte_sql(doc_rel, 'doc_id')},
q AS (SELECT key, f - {q_from} AS qf FROM lm
      WHERE doc_id = {query_doc} AND f >= {q_from} AND f < {q_to}),
j AS (SELECT lm.doc_id, lm.f - q.qf AS toff
      FROM lm JOIN q USING (key)),
votes AS (SELECT doc_id, toff, CAST(COUNT(*) AS BIGINT) AS votes
          FROM j GROUP BY 1, 2),
ranked AS (SELECT doc_id, toff, votes,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY votes DESC, toff ASC) AS rk
           FROM votes)
SELECT doc_id, CAST(toff AS BIGINT) AS best_offset, votes
FROM ranked WHERE rk = 1 AND votes >= {MIN_VOTES}"""
