"""html(binary) -> text / coordinates, as codegen'd column expressions.

Analogue of the reference's deterministic per-row input formatting
(`/root/reference/osm/.../InputDataFormatting.groovy:48-193` — OSM tags →
typed attributes via regex + rules; deterministic output row per source id).
Here: pure functions of the html bytes, asserted byte-identical per url
(BASELINE.json per-row invariant).

No UDF: decode and substring search stay inside whole-stage codegen, so
extraction rides the scan projection with no Python round-trip.

Two entry points, one set of formulas (:func:`_text`, :func:`_geo`,
:func:`_lat`, :func:`_lon`):

* :func:`with_extraction` — every row, NULLs where a page has no ``<main>``
  or no coordinates (the extraction round-trip and the tests).
* :func:`geo_extraction` — geo rows only (the flagship and the ingest
  stream). A ``Filter`` on an extracted column is pushed by Catalyst below
  the projection that extracts it, so ``with_extraction(...).where(lon_e6
  IS NOT NULL)`` decodes and searches every page in the filter and again in
  the projection. ``geo_extraction`` decodes once into ``_s`` and routes the
  ``geo.position`` content through an ``explode`` of a one-element array:
  the ``Generate`` is a barrier the ``lon_e6 IS NOT NULL`` filter cannot
  cross, so the html is decoded and searched once per page.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The page format has a single ``<main>`` block and a single
# ``geo.position`` meta tag whose content is "lat_e6;lon_e6"; text and url
# never contain these delimiters. Plain substring search, no regex engine.


def _decoded() -> Column:
    return F.decode(F.col("html"), "UTF-8")


def _text(s: Column) -> Column:
    """The ``<main>`` block of the decoded page; NULL without one."""
    return F.when(s.contains("<main>"),
                  F.substring_index(F.substring_index(s, "<main>", -1), "</main>", 1))


def _geo(s: Column) -> Column:
    """The ``geo.position`` content ("lat;lon"); NULL without the tag."""
    return F.when(s.contains('<meta name="geo.position"'),
                  F.substring_index(F.substring_index(s, 'content="', -1), '"', 1))


def _lat(geo: Column) -> Column:
    return F.substring_index(geo, ";", 1).cast("long")


def _lon(geo: Column) -> Column:
    return F.substring_index(geo, ";", -1).cast("long")


def with_extraction(df: DataFrame) -> DataFrame:
    """Project extracted text + integer-microdegree coords from html, every
    row kept. Checked against the stored text and the coordinate derivation
    in tests."""
    s = _decoded()
    geo = _geo(s)
    return df.withColumns({"text_extracted": _text(s),
                           "lat_e6": _lat(geo), "lon_e6": _lon(geo)})


def geo_extraction(df: DataFrame) -> DataFrame:
    """The rows of ``with_extraction(df).where(lon_e6 IS NOT NULL)`` with
    ``html`` dropped, extracting each page once (see the module docstring).
    Plain ``explode(array(x))``: a ``filter`` higher-order function around
    the array keeps the ``Generate`` out of codegen."""
    keep = [c for c in df.columns if c != "html"]
    s = df.select(*keep, _decoded().alias("_s"))
    g = s.select(*keep, "_s", F.explode(F.array(_geo(F.col("_s")))).alias("_geo"))
    ex = g.select(*keep, _text(F.col("_s")).alias("text_extracted"),
                  _lat(F.col("_geo")).alias("lat_e6"),
                  _lon(F.col("_geo")).alias("lon_e6"))
    return ex.where(F.col("lon_e6").isNotNull())
