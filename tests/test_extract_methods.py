from __future__ import annotations

from pyspark.sql import functions as F

from geoclimate_spark.functions.extract import with_extraction
from geoclimate_spark.sources.pages import pages_from_documents

from conftest import SF_SMOKE


def test_builtin_and_arrow_paths_byte_identical(spark):
    pages = pages_from_documents(spark, SF_SMOKE).select("page_id", "html")
    a = with_extraction(pages, method="builtin").alias("a")
    b = with_extraction(pages, method="arrow").alias("b")
    j = a.join(b, F.col("a.page_id") == F.col("b.page_id"))
    diff = j.where(
        ~(F.col("a.text_extracted").eqNullSafe(F.col("b.text_extracted")))
        | ~(F.col("a.lat_e6").eqNullSafe(F.col("b.lat_e6")))
        | ~(F.col("a.lon_e6").eqNullSafe(F.col("b.lon_e6")))).count()
    assert diff == 0


def test_edge_cases_both_methods(spark):
    rows = [
        (1, b"<html><head></head><body><main></main></body></html>"),  # empty main
        (2, b"<html><body>no main</body></html>"),                      # no main
        (3, b'<html><head><meta name="geo.position" content="-90000000;-180000000">'
            b"</head><body><main>x</main></body></html>"),              # extreme coords
        (4, None),                                                       # null html
    ]
    df = spark.createDataFrame(rows, "page_id int, html binary")
    for method in ("builtin", "arrow"):
        got = {r.page_id: r for r in with_extraction(df, method=method).collect()}
        assert got[1].text_extracted == ""
        assert got[2].text_extracted is None and got[2].lat_e6 is None
        assert got[3].lat_e6 == -90_000_000 and got[3].lon_e6 == -180_000_000
        assert got[4].text_extracted is None
