"""Flagship end-to-end pipeline: raw html → zone/tile page statistics.

The minimum end-to-end slice of SURVEY.md §7 step 4: *"pages per climate zone
and tile, with language mix"* — extraction (codegen'd substring search),
broadcast PIP join, tile assignment (pure column arithmetic), zonal
aggregation. Reference lifecycle analogue: §3.1's
extract→format→units→indicators chain collapsed into one lazy DataFrame DAG
(the reference materializes every stage eagerly; we let Catalyst fuse).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.extract import geo_extraction
from ..operators.spatial_join import spatial_join_points
from ..operators.tile import TILE_RES, with_tile
from ..sources.layers import climate_zones
from ..sources.pages import pages_from_documents


def geo_pages(pages: DataFrame) -> DataFrame:
    """html → (page_id, url, lang, text_extracted, lat_e6, lon_e6); geo rows only.

    Column pruning matters at 100 TB: only html/url/lang are read from the
    scan; `text` (the verification copy) is never touched here. Each page
    is decoded and searched once (functions/extract.py::geo_extraction).
    """
    return geo_extraction(pages.select("page_id", "url", "lang", "html"))


def page_chars(pages: DataFrame) -> DataFrame:
    """:func:`geo_pages` plus ``chars`` = extracted length — the wide
    ``text_extracted`` column is reduced to an integer BEFORE the PIP join,
    so the join output, both shuffles and all agg buffers are numeric + one
    short lang string."""
    return geo_pages(pages).withColumn(
        "chars", F.length("text_extracted").cast("long"))


def pip_join(g: DataFrame) -> DataFrame:
    """Climate zone of every page; lang and chars ride through."""
    return spatial_join_points(g, climate_zones(), passthrough=["lang", "chars"])


def zone_tile_agg(assigned: DataFrame, tile_res: int = TILE_RES) -> DataFrame:
    """Pages per (zone, tile): counts, language mix, mean extracted length.
    HashAggregate with map-side combine end to end (checked in
    docs/PLANS.md)."""
    tiled = with_tile(assigned, res=tile_res)
    return (tiled.groupBy("zone_id", "tile_id")
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.sum("chars").alias("total_chars"),
                 (F.sum("chars") / F.count("*")).alias("avg_chars")))


def zone_tile_language_mix(pages: DataFrame, tile_res: int = TILE_RES) -> DataFrame:
    """Pages per (zone, tile): counts, language mix, mean extracted length —
    :func:`page_chars` → :func:`pip_join` → :func:`zone_tile_agg`, the same
    three steps the resumable pipeline checkpoints one by one
    (plans/pipeline.py::flagship_stages)."""
    return zone_tile_agg(pip_join(page_chars(pages)), tile_res)


def run(spark: SparkSession, sf_dir: str, tile_res: int = TILE_RES) -> DataFrame:
    return zone_tile_language_mix(pages_from_documents(spark, sf_dir), tile_res)
