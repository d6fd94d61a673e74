from __future__ import annotations

from pyspark.sql import functions as F

from geoclimate_spark.functions.extract import with_extraction
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


def test_edge_cases(spark):
    rows = [
        (1, b"<html><head></head><body><main></main></body></html>"),  # empty main
        (2, b"<html><body>no main</body></html>"),                      # no main
        (3, b'<html><head><meta name="geo.position" content="-90000000;-180000000">'
            b"</head><body><main>x</main></body></html>"),              # extreme coords
        (4, None),                                                       # null html
    ]
    df = spark.createDataFrame(rows, "page_id int, html binary")
    got = {r.page_id: r for r in with_extraction(df).collect()}
    assert got[1].text_extracted == ""
    assert got[2].text_extracted is None and got[2].lat_e6 is None
    assert got[3].lat_e6 == -90_000_000 and got[3].lon_e6 == -180_000_000
    assert got[4].text_extracted is None
