"""Incremental pages ingest via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.10) — this module is the
engine's forward extension for CONTINUOUS crawl ingest: new page files land
in a directory (the Iceberg-append analogue), and the same extraction +
tile-assignment logic that runs in batch runs incrementally with exactly-
once file tracking via the streaming checkpoint — which doubles as the
north rule's resume mechanism for the ingest edge of the pipeline (the
batch stages resume via plans/pipeline.py snapshots).

Design rules:
* the streaming DAG REUSES the batch operators verbatim (`geo_extraction`,
  `tile_col`) — stateless projections (and the extraction's one-row
  `explode`) are streaming-safe by construction;
* stateful aggregation (pages per window × tile) uses event-time windows on
  ``warc_ts`` with a watermark for late crawls;
* ``trigger(availableNow=True)`` drains whatever has landed and stops —
  cron-style incremental batches, the deployment mode that matches a crawl
  pipeline (a always-on `trigger(processingTime=...)` needs only the
  trigger swapped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.extract import geo_extraction
from ..operators.tile import tile_col

PAGES_SCHEMA = T.StructType([
    T.StructField("page_id", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("warc_epoch", T.LongType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of pages parquet (schema fixed — streaming
    requires it; new files are discovered incrementally)."""
    return (spark.readStream.schema(PAGES_SCHEMA)
            .parquet(input_dir))


def enriched_stream(pages: DataFrame) -> DataFrame:
    """Stateless streaming enrichment: html → text/coords → tile id.
    Identical operators to the batch path."""
    ex = geo_extraction(pages.select("page_id", "url", "warc_ts", "lang", "html"))
    return ex.withColumn("tile_id", tile_col(F.col("lon_e6"), F.col("lat_e6")))


def run_ingest(spark: SparkSession, input_dir: str, out_dir: str,
               checkpoint_dir: str):
    """Drain all newly-landed page files into the enriched sink, exactly
    once (checkpointed file tracking). Returns after completion."""
    q = (enriched_stream(stream_pages(spark, input_dir))
         .writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .outputMode("append")
         .start())
    q.awaitTermination()
    return q


def windowed_tile_counts(pages: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Stateful event-time aggregation: pages per (time window, tile) with
    late-data tolerance = watermark. Works on a stream or a batch frame
    (same code path — Spark resolves window() both ways)."""
    e = enriched_stream(pages)
    if pages.isStreaming:
        e = e.withWatermark("warc_ts", watermark)
    return (e.groupBy(F.window("warc_ts", window).alias("w"), "tile_id")
            .agg(F.count("*").alias("n_pages"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "tile_id", "n_pages"))
