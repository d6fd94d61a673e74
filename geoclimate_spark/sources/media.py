"""Multimodal (image/audio/video-shaped) binary columns: synth, decode,
resize, frame-sample — fully functional over a deterministic synthetic
format.

The graft treats media as opaque ``binary`` columns with typed metadata
(schema ``doc_id long, media binary, media_type string``), processed by
Arrow-batched ``mapInPandas`` stages:

* the deterministic "IMG1" format: 4-byte magic, u32-LE width, u32-LE
  height, u16-LE frame count, then one 16-byte frame payload per frame
  (frame k = md5("media:{doc_id}:{k}"), read as a 4×4 u8 grayscale
  image). Header fields and every payload byte are pure functions of
  ``doc_id``, so metadata decoded FROM THE BYTES — and every codec
  OUTPUT byte — is verifiable against a pure-SQL oracle, the same
  per-row invariant pattern as the html→text extraction
  (BASELINE.json input_hint);
* :func:`image_resize` / :func:`frame_sample` are real pure-numpy codecs
  over that format (nearest-neighbor resample / frame stride) with the
  binary-in → binary-out, header-rewritten contract a PIL/ffmpeg-backed
  implementation would honor for real formats — swapping the numpy body
  for a library call changes nothing upstream or downstream.

Scale: media payloads dominate storage at 10^12 rows — the synth/decode
stages never shuffle the binary column (metadata is projected out first,
mirroring "never read ``html`` unless extracting", SURVEY.md §4), and
``mapInPandas`` streams Arrow batches without materializing a partition.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC = b"IMG1"
_HDR_FMT = "<4sIIH"  # magic, width, height, n_frames
_HDR_SIZE = struct.calcsize(_HDR_FMT)

MEDIA_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media", T.BinaryType()),
    T.StructField("media_type", T.StringType()),
])

META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("aspect_millis", T.LongType()),
    T.StructField("brightness", T.LongType()),
])


def media_fields(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames) — pure function of doc_id (the oracle
    recomputes these in SQL; the engine must recover them from the bytes)."""
    return 64 + doc_id % 192, 64 + (doc_id * 7) % 128, 1 + doc_id % 24


FRAME_SIDE = 4  # a frame is a 4x4 u8 grayscale image (16 = md5 digest size)


def _frame(doc_id: int, k: int) -> bytes:
    """Frame k's pixel payload: 16 md5 bytes = a 4×4 grayscale image."""
    return hashlib.md5(f"media:{doc_id}:{k}".encode()).digest()


def _payload(doc_id: int, n_frames: int) -> bytes:
    return b"".join(_frame(doc_id, k) for k in range(n_frames))


def encode_media(doc_id: int) -> bytes:
    w, h, nf = media_fields(doc_id)
    return struct.pack(_HDR_FMT, MAGIC, w, h, nf) + _payload(doc_id, nf)


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table via mapInPandas (a *source*, so Python is
    the point here — this is where a WARC/tar reader would plug in)."""
    ids = docs.select(F.col("doc_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame({
                "doc_id": b["doc_id"],
                "media": b["doc_id"].map(lambda i: encode_media(int(i))),
                "media_type": "image/fake",
            })

    return ids.mapInPandas(gen, MEDIA_SCHEMA)


def decode_metadata(media: DataFrame) -> DataFrame:
    """Header parse from the BYTES (not recomputed): width/height/frames +
    derived aspect + first-payload-byte 'brightness'. Arrow-batched; only
    the 14-byte header + 1 payload byte are touched per row."""
    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i, buf in zip(b["doc_id"], b["media"]):
                magic, w, h, nf = struct.unpack_from(_HDR_FMT, bytes(buf[:_HDR_SIZE]))
                if magic != MAGIC:
                    raise ValueError(f"bad magic for doc {i}")
                rows.append((int(i), w, h, nf, len(buf),
                             1000 * w // h, buf[_HDR_SIZE]))
            yield pd.DataFrame(rows, columns=[f.name for f in META_SCHEMA])

    return media.mapInPandas(dec, META_SCHEMA)


def _frame_byte_sql(id_col: str, frame_sql: str, pos: int) -> str:
    """SQL for payload byte ``pos`` (0-based) of a given frame — one hex
    pair of the frame's md5."""
    return (f"(('0x' || substring(md5(concat('media:', CAST({id_col} AS"
            f" VARCHAR), ':', CAST({frame_sql} AS VARCHAR))),"
            f" {2 * pos + 1}, 2))::BIGINT)")


def media_metadata_oracle_sql() -> str:
    """Pure-SQL recomputation of what decode_metadata reads from the bytes."""
    w = "(64 + doc_id % 192)"
    h = "(64 + (doc_id * 7) % 128)"
    nf = "(1 + doc_id % 24)"
    bright = _frame_byte_sql("doc_id", "0", 0)
    return f"""SELECT doc_id AS doc_id,
       CAST({w} AS BIGINT) AS width,
       CAST({h} AS BIGINT) AS height,
       CAST({nf} AS BIGINT) AS n_frames,
       CAST(14 + 16 * {nf} AS BIGINT) AS n_bytes,
       CAST((1000 * {w} - (1000 * {w}) % {h}) / {h} AS BIGINT) AS aspect_millis,
       {bright} AS brightness
FROM documents"""


# --------------------------------------------------------------- codecs
# Pure-numpy codecs over the synthetic IMG1 format (a frame is a 4×4 u8
# grayscale image): binary in → binary out, header rewritten — the contract
# a PIL/ffmpeg-backed implementation would honor for real formats. Every
# output byte is a pure function of doc_id, so both codecs are verifiable
# against doc_id-arithmetic SQL oracles (__spark_entry__ media_resize /
# media_frame_sample queries).
def image_resize(media: DataFrame, width: int, height: int) -> DataFrame:
    """Nearest-neighbor resample of every frame from FRAME_SIDE² to
    (width, height); header rewritten, frame count preserved. Arrow-batched
    mapInPandas; per row the work is one fancy-index gather."""
    import numpy as np

    side = FRAME_SIDE
    # dst (i, j) -> src flat index; computed once per call
    ri = (np.arange(height) * side) // height
    ci = (np.arange(width) * side) // width
    flat = (ri[:, None] * side + ci[None, :]).ravel()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for buf in b["media"]:
                buf = bytes(buf)
                magic, w0, h0, nf = struct.unpack_from(_HDR_FMT, buf)
                if magic != MAGIC:
                    raise ValueError("bad magic")
                frames = np.frombuffer(
                    buf, dtype=np.uint8, offset=_HDR_SIZE).reshape(nf, -1)
                resized = frames[:, flat]
                out.append(struct.pack(_HDR_FMT, MAGIC, width, height, nf)
                           + resized.tobytes())
            yield pd.DataFrame({"doc_id": b["doc_id"], "media": out,
                                "media_type": b["media_type"]})

    return media.mapInPandas(run, MEDIA_SCHEMA)


def frame_sample(media: DataFrame, every_n: int) -> DataFrame:
    """Keep frames 0, n, 2n, …; header frame count rewritten. Same
    binary-in/binary-out mapInPandas contract as :func:`image_resize`."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for buf in b["media"]:
                buf = bytes(buf)
                magic, w0, h0, nf = struct.unpack_from(_HDR_FMT, buf)
                if magic != MAGIC:
                    raise ValueError("bad magic")
                fsize = (len(buf) - _HDR_SIZE) // nf if nf else 0
                kept = [buf[_HDR_SIZE + k * fsize:_HDR_SIZE + (k + 1) * fsize]
                        for k in range(0, nf, every_n)]
                out.append(struct.pack(_HDR_FMT, MAGIC, w0, h0, len(kept))
                           + b"".join(kept))
            yield pd.DataFrame({"doc_id": b["doc_id"], "media": out,
                                "media_type": b["media_type"]})

    return media.mapInPandas(run, MEDIA_SCHEMA)


RESIZE_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("px_sum_f0", T.LongType()),
])


def resize_stats(media: DataFrame) -> DataFrame:
    """Decode stats FROM the (resized) bytes: header fields + the exact
    pixel sum of frame 0 — the oracle recomputes the sum from doc_id
    arithmetic, so a codec that mangles any pixel fails the hash."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i, buf in zip(b["doc_id"], b["media"]):
                buf = bytes(buf)
                magic, w, h, nf = struct.unpack_from(_HDR_FMT, buf)
                if magic != MAGIC:
                    raise ValueError(f"bad magic for doc {i}")
                f0 = np.frombuffer(buf, np.uint8, count=w * h,
                                   offset=_HDR_SIZE)
                rows.append((int(i), w, h, nf, len(buf), int(f0.sum())))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in RESIZE_STATS_SCHEMA])

    return media.mapInPandas(run, RESIZE_STATS_SCHEMA)


SAMPLE_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("first_brightness", T.LongType()),
    T.StructField("last_brightness", T.LongType()),
])


def sample_stats(media: DataFrame) -> DataFrame:
    """Decode stats FROM the (frame-sampled) bytes: kept-frame count +
    first byte of the first and LAST kept frame — the last-frame byte
    pins the stride arithmetic against the oracle."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i, buf in zip(b["doc_id"], b["media"]):
                buf = bytes(buf)
                magic, w, h, nf = struct.unpack_from(_HDR_FMT, buf)
                if magic != MAGIC:
                    raise ValueError(f"bad magic for doc {i}")
                fsize = (len(buf) - _HDR_SIZE) // nf
                rows.append((int(i), nf, len(buf), buf[_HDR_SIZE],
                             buf[_HDR_SIZE + (nf - 1) * fsize]))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in SAMPLE_STATS_SCHEMA])

    return media.mapInPandas(run, SAMPLE_STATS_SCHEMA)


def media_resize_oracle_sql(width: int, height: int) -> str:
    """doc_id-arithmetic oracle for resize_stats(image_resize(synth)):
    nearest-neighbor from the 4×4 frame means src byte (r, c) is hit
    exactly count(r)·count(c) times; the frame-0 pixel sum is the weighted
    sum of the 16 digest bytes."""
    side = FRAME_SIDE
    rcount = [0] * side
    ccount = [0] * side
    for i in range(height):
        rcount[(i * side) // height] += 1
    for j in range(width):
        ccount[(j * side) // width] += 1
    terms = " + ".join(
        f"{rcount[r] * ccount[c]} * {_frame_byte_sql('doc_id', '0', r * side + c)}"
        for r in range(side) for c in range(side)
        if rcount[r] * ccount[c] > 0)
    nf = "(1 + doc_id % 24)"
    return f"""SELECT doc_id AS doc_id,
       CAST({width} AS BIGINT) AS width,
       CAST({height} AS BIGINT) AS height,
       CAST({nf} AS BIGINT) AS n_frames,
       CAST(14 + {width * height} * {nf} AS BIGINT) AS n_bytes,
       CAST({terms} AS BIGINT) AS px_sum_f0
FROM documents"""


def media_frame_sample_oracle_sql(every_n: int) -> str:
    nf = "(1 + doc_id % 24)"
    kept = (f"CAST(1 + (({nf} - 1) - ({nf} - 1) % {every_n})"
            f" / {every_n} AS BIGINT)")
    last = f"CAST({every_n} * ({kept} - 1) AS BIGINT)"
    return f"""SELECT doc_id AS doc_id,
       CAST({kept} AS BIGINT) AS n_frames,
       CAST(14 + 16 * {kept} AS BIGINT) AS n_bytes,
       {_frame_byte_sql('doc_id', "0", 0)} AS first_brightness,
       {_frame_byte_sql('doc_id', last, 0)} AS last_brightness
FROM documents"""


# ----------------------------------------------------- perceptual-hash dedup
# aHash (average hash) over frame 0: bit i set iff pixel i is strictly above
# the integer-floor mean of the frame's 16 pixels — the classic
# scaled-down-grayscale perceptual fingerprint (for real formats the decode
# step resizes to the hash grid first; the IMG1 frame IS the 4×4 grid).
AHASH_BITS = FRAME_SIDE * FRAME_SIDE  # 16
AHASH_BAND_BITS = 4                   # 4 bands of 4 bits


AHASH_GROUP = 4


def synth_media_variants(docs: DataFrame) -> DataFrame:
    """Media fixture with PLANTED near-duplicate images: payload derives
    from the VARIANT GROUP id (doc_id div AHASH_GROUP) and only pixel 0 is
    perturbed by (doc_id % AHASH_GROUP) — the re-encoded/resized-copy situation
    image dedup exists for. Headers still derive from the real doc_id, so
    metadata varies within a group (as it does for real re-encodes)."""
    ids = docs.select(F.col("doc_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for i in b["doc_id"]:
                i = int(i)
                w, h, nf = media_fields(i)
                base = i // AHASH_GROUP
                pay = bytearray(_payload(base, nf))
                pay[0] = (pay[0] + i % AHASH_GROUP) % 256
                out.append(struct.pack(_HDR_FMT, MAGIC, w, h, nf)
                           + bytes(pay))
            yield pd.DataFrame({"doc_id": b["doc_id"], "media": out,
                                "media_type": "image/fake"})

    return ids.mapInPandas(gen, MEDIA_SCHEMA)


AHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("ahash", T.LongType()),
])


def image_ahash(media: DataFrame) -> DataFrame:
    """(doc_id, ahash): 16-bit average hash decoded FROM THE BYTES of
    frame 0 (numpy, Arrow-batched). Only header + 16 payload bytes are
    touched per row — the binary column never shuffles."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            hashes = []
            for buf in b["media"]:
                buf = bytes(buf[:_HDR_SIZE + AHASH_BITS])
                magic, w, h, nf = struct.unpack_from(_HDR_FMT, buf)
                if magic != MAGIC:
                    raise ValueError("bad magic")
                px = np.frombuffer(buf, dtype=np.uint8, offset=_HDR_SIZE)
                mean = int(px.sum()) // AHASH_BITS
                bits = (px.astype(np.int64) > mean).astype(np.int64)
                hashes.append(int((bits << np.arange(AHASH_BITS)).sum()))
            yield pd.DataFrame({"doc_id": b["doc_id"], "ahash": hashes})

    return media.mapInPandas(run, AHASH_SCHEMA)


AHASH_MAX_HAMMING = 3


def ahash_dup_pairs(hashes: DataFrame) -> DataFrame:
    """(id_a, id_b, hamming): banded-hamming self-join over aHashes — the
    SAME filter-and-refine shape as the SimHash text dedup (band equality
    prunes the pair space; bit_count(xor) verifies). With 4 bands and
    AHASH_MAX_HAMMING = 3, at most 3 bands are touched by differing bits, so one
    clean band always remains: the banding loses NO pair (exact recall by
    pigeonhole), purely JVM-side.

    The hash frame is persisted: a self-join would otherwise recompute the
    byte-decode subtree on BOTH sides (the one stage that touches the
    binary column)."""
    nb = AHASH_BITS // AHASH_BAND_BITS
    mask = (1 << AHASH_BAND_BITS) - 1
    hashes = hashes.persist()
    bl = hashes.select(
        "doc_id", "ahash",
        F.posexplode(F.array(*[
            F.shiftright("ahash", b * AHASH_BAND_BITS).bitwiseAND(mask)
            for b in range(nb)])).alias("band", "bk"))
    a, b = bl.alias("a"), bl.alias("b")
    return (a.join(b, ["band", "bk"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"),
                    F.bit_count(F.col("a.ahash").bitwiseXOR(F.col("b.ahash")))
                    .cast("long").alias("hamming"))
            .where(F.col("hamming") <= AHASH_MAX_HAMMING)
            .distinct())


def _variant_pixel_sql(id_col: str, pos: int, group: int) -> str:
    """SQL for pixel ``pos`` of doc ``id_col``'s variant frame 0."""
    base = f"(({id_col}) // {group})"
    raw = _frame_byte_sql(base, "0", pos)
    if pos == 0:
        return f"(({raw} + ({id_col}) % {group}) % 256)"
    return raw


def ahash_cte_sql(doc_rel: str = "documents") -> str:
    """CTE list producing ah(doc_id, ahash) — arithmetic recomputation of
    the variant pixels (the oracle never parses bytes; byte-parse parity is
    exactly what the engine-vs-oracle gate proves)."""
    px = [_variant_pixel_sql("doc_id", p, AHASH_GROUP)
          for p in range(AHASH_BITS)]
    cols = ",\n         ".join(f"{e} AS p{p}" for p, e in enumerate(px))
    tot = " + ".join(f"p{p}" for p in range(AHASH_BITS))
    bits = " + ".join(
        f"(CASE WHEN p{p} > mean THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        for p in range(AHASH_BITS))
    return f"""px AS (
  SELECT doc_id AS doc_id,
         {cols}
  FROM {doc_rel}
), withmean AS (
  SELECT *, ({tot}) // {AHASH_BITS} AS mean FROM px
), ah AS (
  SELECT doc_id, CAST({bits} AS BIGINT) AS ahash FROM withmean
)"""


def ahash_dup_pairs_sql(doc_rel: str = "documents") -> str:
    nb = AHASH_BITS // AHASH_BAND_BITS
    mask = (1 << AHASH_BAND_BITS) - 1
    bl = " UNION ALL ".join(
        f"SELECT doc_id, ahash, {b} AS band,"
        f" (ahash >> {b * AHASH_BAND_BITS}) & {mask} AS bk FROM ah"
        for b in range(nb))
    return f"""WITH {ahash_cte_sql(doc_rel=doc_rel)},
bl AS ({bl}),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
  FROM bl a JOIN bl b ON a.band = b.band AND a.bk = b.bk
       AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {AHASH_MAX_HAMMING}"""
