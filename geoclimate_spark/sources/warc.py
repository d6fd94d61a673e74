"""WARC-style record-framed segment source: pack → parse roundtrip.

Common Crawl ships as WARC segments — one large byte stream per shard,
holding thousands of length-framed records (header block, Content-Length,
payload, separator). A 100-TB ingest never gets one-row-per-file parquet;
it gets these blobs, and the FIRST distributed operation is splitting
records back out of them. This module implements that shape end-to-end
over the deterministic corpus:

* :func:`synth_warc_segments` — pack each group of ``recs_per_seg``
  documents (ordered by doc_id) into ONE segment blob with a minimal
  WARC/1.0-style header per record (Target-URI + Content-Length framing —
  the two fields record splitting actually needs);
* :func:`parse_warc_segments` — the real parser: scan each blob, read the
  header block up to the blank line, honor Content-Length to slice the
  payload (payload bytes are NEVER searched for separators — framing, not
  sniffing), emit (seg, rec_idx, url, content_length, payload_md5).

The driver query round-trips pack∘parse and the oracle recomputes every
field arithmetically from doc_id — so the byte-level framing logic itself
is hash-gated, the same per-row invariant pattern as the html extractor
and the IMG1 codecs (BASELINE.json input_hint).

Scale: packing is one groupBy(seg) applyInPandas (a *source-side* writer —
in production this is the side that already exists on disk); parsing is
mapInPandas streaming Arrow batches of blobs — segments are independent,
so parallelism = number of segments and the payload bytes never shuffle
(metadata + md5 leave the stage, payloads are dropped).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RECS_PER_SEG = 16

SEG_SCHEMA = T.StructType([
    T.StructField("seg", T.LongType()),
    T.StructField("warc", T.BinaryType()),
    T.StructField("n_records", T.LongType()),
])

REC_SCHEMA = T.StructType([
    T.StructField("seg", T.LongType()),
    T.StructField("rec_idx", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("content_length", T.LongType()),
    T.StructField("payload_md5", T.StringType()),
])


def _url(seg: int, doc_id: int) -> str:
    return f"https://seg{seg}.example.com/p/{doc_id}"


def _payload(text: str) -> bytes:
    return f"<html><main>{text}</main></html>".encode()


def synth_warc_segments(docs: DataFrame,
                        recs_per_seg: int = RECS_PER_SEG) -> DataFrame:
    """(seg, warc, n_records): one blob per ``recs_per_seg`` docs."""
    base = (docs.select(F.col("doc_id"),
                        F.col("text"))
            .withColumn("seg", F.expr(f"doc_id div {recs_per_seg}")))

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (seg,) = key
        pdf = pdf.sort_values("doc_id")
        parts = []
        for did, text in zip(pdf["doc_id"], pdf["text"]):
            payload = _payload(text)
            hdr = (f"WARC/1.0\r\n"
                   f"WARC-Target-URI: {_url(int(seg), int(did))}\r\n"
                   f"Content-Length: {len(payload)}\r\n\r\n").encode()
            parts.append(hdr + payload + b"\r\n\r\n")
        return pd.DataFrame({"seg": [int(seg)], "warc": [b"".join(parts)],
                             "n_records": [len(parts)]})

    return base.groupBy("seg").applyInPandas(pack, SEG_SCHEMA)


def parse_warc_segments(segs: DataFrame) -> DataFrame:
    """Split every segment blob back into per-record metadata rows by
    honoring the Content-Length framing."""
    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for seg, blob in zip(b["seg"], b["warc"]):
                blob = bytes(blob)
                pos, idx = 0, 0
                while pos < len(blob):
                    hdr_end = blob.index(b"\r\n\r\n", pos)
                    hdr = blob[pos:hdr_end].decode()
                    fields = dict(
                        line.split(": ", 1)
                        for line in hdr.split("\r\n")[1:] if ": " in line)
                    clen = int(fields["Content-Length"])
                    payload = blob[hdr_end + 4:hdr_end + 4 + clen]
                    rows.append((int(seg), idx, fields["WARC-Target-URI"],
                                 clen, hashlib.md5(payload).hexdigest()))
                    pos = hdr_end + 4 + clen + 4  # skip record separator
                    idx += 1
            yield pd.DataFrame(rows, columns=[x.name for x in REC_SCHEMA])

    return segs.mapInPandas(parse, REC_SCHEMA)


def warc_roundtrip_sql(recs_per_seg: int = RECS_PER_SEG,
                       rel: str = "documents") -> str:
    """Arithmetic oracle: every parsed field recomputed from doc_id/text —
    the oracle never builds or parses a blob."""
    return f"""
SELECT doc_id // {recs_per_seg} AS seg,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id // {recs_per_seg}
                               ORDER BY doc_id) - 1 AS BIGINT) AS rec_idx,
       'https://seg' || CAST(doc_id // {recs_per_seg} AS VARCHAR)
         || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
       CAST(octet_length(encode('<html><main>' || text
            || '</main></html>')) AS BIGINT) AS content_length,
       md5('<html><main>' || text || '</main></html>') AS payload_md5
FROM {rel}"""
