"""Deterministic Common-Crawl-style ``pages`` synthesis.

The graft's primary input is an Iceberg/parquet table
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``
(BASELINE.json input_hint). No external data is allowed, so pages are
synthesized deterministically:

* for correctness runs — derived 1:1 from the driver-provided ``documents``
  parquet via pure bigint arithmetic (a Lehmer LCG), written ONCE as ANSI-SQL
  fragments that Spark and DuckDB evaluate bit-identically. This is what makes
  the driver's side-by-side oracle comparison possible for the spatial ops.
* for bench runs — the same formulas over ``spark.range(n)`` at any scale.

Geo distribution is intentionally skewed (reference analogue: dense urban
cells; the north rule requires salted-repartition skew handling): 40% of pages
are geo-taggable, half of those cluster within ±0.1° of 3 "urban" hotspots.

The synthesized ``html`` embeds the text in ``<main>…</main>`` and coordinates
as integer microdegrees in a ``geo.position`` meta tag; the extractor
(:mod:`geoclimate_spark.functions.extract`) must recover ``text``
byte-identically per url — the analogue of the reference's deterministic
row-formatters (`/root/reference/osm/.../InputDataFormatting.groovy:48-193`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Lehmer LCG chain — all products < 2^47, portable bigint arithmetic.
_M = 2_147_483_647
_A = 48_271

EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z
YEAR_SECONDS = 31_536_000

# Urban hotspot centers in integer microdegrees (Paris, NYC, Tokyo).
URBAN_LON_E6 = (2_350_000, -74_000_000, 139_700_000)
URBAN_LAT_E6 = (48_850_000, 40_700_000, 35_680_000)
URBAN_JITTER_E6 = 100_000  # ±0.1 degrees


def _r(expr: str) -> str:
    return f"((({expr}) * {_A} + 11) % {_M})"


def derivation_sql(id_col: str = "doc_id") -> dict[str, str]:
    """Engine-agnostic SQL fragments keyed by derived column name.

    All fragments are pure functions of the integer ``id_col`` (plus ``lang``/
    ``text`` pass-throughs) and evaluate identically in Spark SQL and DuckDB.
    """
    r1 = _r(id_col)
    r2 = _r(r1)
    r3 = _r(r2)
    urban_lon = (f"CASE ({id_col}) % 3 WHEN 0 THEN {URBAN_LON_E6[0]} "
                 f"WHEN 1 THEN {URBAN_LON_E6[1]} ELSE {URBAN_LON_E6[2]} END")
    urban_lat = (f"CASE ({id_col}) % 3 WHEN 0 THEN {URBAN_LAT_E6[0]} "
                 f"WHEN 1 THEN {URBAN_LAT_E6[1]} ELSE {URBAN_LAT_E6[2]} END")
    j = 2 * URBAN_JITTER_E6 + 1
    return {
        "url": f"CONCAT('https://example.org/', lang, '/', CAST({id_col} AS STRING))",
        "warc_epoch": f"CAST({EPOCH_2024} + ({r3} % {YEAR_SECONDS}) AS BIGINT)",
        "is_geo": f"CASE WHEN ({id_col}) % 10 < 4 THEN 1 ELSE 0 END",
        "lon_e6": (
            f"CAST(CASE WHEN ({id_col}) % 10 < 2 THEN ({urban_lon}) + ({r1} % {j}) - {URBAN_JITTER_E6} "
            f"WHEN ({id_col}) % 10 < 4 THEN ({r1} % 360000001) - 180000000 "
            f"ELSE NULL END AS BIGINT)"),
        "lat_e6": (
            f"CAST(CASE WHEN ({id_col}) % 10 < 2 THEN ({urban_lat}) + ({r2} % {j}) - {URBAN_JITTER_E6} "
            f"WHEN ({id_col}) % 10 < 4 THEN ({r2} % 140000001) - 70000000 "
            f"ELSE NULL END AS BIGINT)"),
    }


def pages_oracle_sql() -> str:
    """DuckDB-runnable derivation of the pages view (no html — the oracle uses
    the stored ``text`` directly; the Spark side must reproduce it from html)."""
    d = derivation_sql()
    cols = ",\n       ".join(f"{sql} AS {name}" for name, sql in d.items())
    return (f"SELECT doc_id AS page_id, lang, text,\n       {cols}\n"
            "FROM documents")


_HTML_HEAD = '<html><head><meta charset="utf-8">'
_HTML_GEO = '<meta name="geo.position" content="{lat};{lon}">'
_HTML_MID = "<title>{url}</title></head><body><main>"
_HTML_TAIL = "</main></body></html>"


def _html_expr() -> F.Column:
    """html string Column from (url, text, is_geo, lon_e6, lat_e6) columns."""
    geo_meta = F.concat(
        F.lit('<meta name="geo.position" content="'),
        F.col("lat_e6").cast("string"), F.lit(";"),
        F.col("lon_e6").cast("string"), F.lit('">'))
    return F.concat(
        F.lit(_HTML_HEAD),
        F.when(F.col("is_geo") == 1, geo_meta).otherwise(F.lit("")),
        F.lit("<title>"), F.col("url"), F.lit("</title></head><body><main>"),
        F.col("text"), F.lit(_HTML_TAIL))


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correctness-path pages table, derived from the driver's documents
    parquet. Returns columns:
    ``page_id, url, warc_ts, warc_epoch, html(binary), text, lang``
    (``text`` is the byte-identical extraction target, kept for verification;
    downstream engine stages must consume only ``html``).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = derivation_sql()
    df = docs.select(
        F.col("doc_id").alias("page_id"), "lang", "text",
        *[F.expr(sql).alias(name) for name, sql in d.items()],
    )
    return (df
            .withColumn("warc_ts", F.timestamp_seconds(F.col("warc_epoch")))
            .withColumn("html", F.encode(_html_expr(), "UTF-8"))
            .select("page_id", "url", "warc_ts", "warc_epoch", "html", "text", "lang"))


def synth_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Bench-scale pages generator over ``spark.range(n)`` — same formulas,
    synthetic word-soup text (deterministic per id), for throughput runs."""
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    base = rng.select(
        F.col("id").alias("page_id"),
        F.element_at(
            F.array(*[F.lit(s) for s in ("en", "en", "en", "fr", "de", "es", "zh")]),
            (F.col("id") % 7 + 1).cast("int")).alias("lang"),
        # deterministic pseudo-text, ~300 bytes, no '<' so extraction is clean
        F.concat(
            F.lit("page body "),
            F.repeat(F.concat(F.lit("token"), (F.col("id") % 97).cast("string"), F.lit(" ")), 30),
            F.lit("end")).alias("text"),
    )
    d = derivation_sql("page_id")
    df = base.select(
        "page_id", "lang", "text",
        *[F.expr(sql).alias(name) for name, sql in d.items()])
    return (df
            .withColumn("warc_ts", F.timestamp_seconds(F.col("warc_epoch")))
            .withColumn("html", F.encode(_html_expr(), "UTF-8"))
            .select("page_id", "url", "warc_ts", "warc_epoch", "html", "text", "lang"))
