from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoclimate_spark.functions.extract import geo_extraction, with_extraction
from geoclimate_spark.sources.pages import derivation_sql, pages_from_documents

from conftest import SF_SMOKE


def test_coords_match_derivation(spark):
    """Extracted coordinates equal the derivation the html was built from,
    NULL (non-geo page) included; the text is checked in test_extract.py."""
    d = derivation_sql("page_id")
    pages = pages_from_documents(spark, SF_SMOKE).select("page_id", "html")
    ex = with_extraction(pages).select(
        "lat_e6", "lon_e6",
        F.expr(d["lat_e6"]).alias("want_lat"), F.expr(d["lon_e6"]).alias("want_lon"))
    diff = ex.where(~F.col("lat_e6").eqNullSafe(F.col("want_lat"))
                    | ~F.col("lon_e6").eqNullSafe(F.col("want_lon")))
    assert diff.count() == 0
    assert ex.where(F.col("lat_e6").isNotNull()).count() > 0


_EDGE_ROWS = [
    (1, b"<html><head></head><body><main></main></body></html>"),  # empty main
    (2, b"<html><body>no main</body></html>"),                      # no main
    (3, b'<html><head><meta name="geo.position" content="-90000000;-180000000">'
        b"</head><body><main>x</main></body></html>"),              # extreme coords
    (4, None),                                                       # null html
]


def test_edge_cases(spark):
    df = spark.createDataFrame(_EDGE_ROWS, "page_id int, html binary")
    got = {r.page_id: r for r in with_extraction(df).collect()}
    assert got[1].text_extracted == ""
    assert got[2].text_extracted is None and got[2].lat_e6 is None
    assert got[3].lat_e6 == -90_000_000 and got[3].lon_e6 == -180_000_000
    assert got[4].text_extracted is None


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_geo_extraction_matches_filtered_with_extraction(spark, ansi):
    """The geo-rows-only path gives the rows, values, names and column order
    of the every-row path filtered on lon_e6, in either ANSI mode."""
    pages = pages_from_documents(spark, SF_SMOKE).select("page_id", "url", "lang", "html")
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        got = geo_extraction(pages)
        want = with_extraction(pages).where(F.col("lon_e6").isNotNull()).drop("html")
        assert got.columns == want.columns == [
            "page_id", "url", "lang", "text_extracted", "lat_e6", "lon_e6"]
        got_rows, want_rows = sorted(got.collect()), sorted(want.collect())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert len(got_rows) > 0
    assert got_rows == want_rows


def test_geo_extraction_edge_cases(spark):
    """NULL html, no <main> and no geo tag drop; a geo tag without <main>
    keeps its coordinates with NULL text."""
    geo_no_main = (5, b'<html><head><meta name="geo.position" content="1;-2">'
                      b"</head><body>no main</body></html>")
    df = spark.createDataFrame(_EDGE_ROWS + [geo_no_main], "page_id int, html binary")
    got = sorted(tuple(r) for r in geo_extraction(df).collect())
    assert got == [(3, "x", -90_000_000, -180_000_000), (5, None, 1, -2)]
