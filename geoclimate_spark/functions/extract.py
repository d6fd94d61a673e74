"""html(binary) -> text / coordinates, as codegen'd column expressions.

Analogue of the reference's deterministic per-row input formatting
(`/root/reference/osm/.../InputDataFormatting.groovy:48-193` — OSM tags →
typed attributes via regex + rules; deterministic output row per source id).
Here: pure functions of the html bytes, asserted byte-identical per url
(BASELINE.json per-row invariant).

No UDF: decode and substring search stay inside whole-stage codegen, so
extraction rides the scan projection with no Python round-trip.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def with_extraction(df):
    """Project extracted text + integer-microdegree coords from html.

    Pure substring search, no regex engine: the page format has a single
    ``<main>`` block and a single ``geo.position`` meta tag, and text/url
    never contain the delimiters. Checked against the stored text and the
    coordinate derivation in tests.
    """
    s = F.decode(F.col("html"), "UTF-8")
    has_geo = s.contains('<meta name="geo.position"')
    geo = F.substring_index(F.substring_index(s, 'content="', -1), '"', 1)
    return df.withColumns({
        "text_extracted": F.when(
            s.contains("<main>"),
            F.substring_index(F.substring_index(s, "<main>", -1), "</main>", 1)),
        "lat_e6": F.when(has_geo, F.substring_index(geo, ";", 1).cast("long")),
        "lon_e6": F.when(has_geo, F.substring_index(geo, ";", -1).cast("long")),
    })
