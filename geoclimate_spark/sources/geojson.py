"""GeoJSON FeatureCollection front door: RFC 7946 features → snapped
integer vertex rows.

The reference's end-to-end tests ingest real city GeoJSON
(`/root/reference/geoindicators/src/test/.../WorkflowGeoIndicatorsTest.groovy:67-73`)
before running any indicator. This is the PySpark-native equivalent of that
load step: a DataFrame of Feature JSON strings (one row per feature — the
shape `spark.read.json`/`spark.read.text` produces from NDJSON feature
dumps, or an exploded FeatureCollection) is parsed ENTIRELY JVM-side —
``get_json_object`` for the geometry type / properties, ``from_json`` with
the type-specific coordinate schema, ``posexplode`` down to vertices — and
snapped onto the engine's integer grid with the repo-wide half-up rule.
No Python runs anywhere: the whole decode is one codegen scan projection,
shuffle-free, so it column-prunes and pushes down like any other scan.

Polygon and MultiPolygon are supported (the reference layers are polygonal);
rings arrive GeoJSON-closed (first == last vertex) and are re-opened to the
engine's implicitly-closed vertex convention. Holes and multi-parts keep
their (part, ring) indices exactly as :mod:`wkb` emits them, so every
downstream relational geometry operator consumes either front door
unchanged.

``origin=(lon0, lat0)`` applies the same deterministic equirectangular
degrees→meters transform as the WKB door (:func:`wkb.equirect_scales`,
`osm/InputDataLoading.groovy:74-78` ST_Transform analogue) — as literal SQL
constants, still pure codegen.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import layers
from .layers import _lcg
from .wkb import equirect_scales, synth_multipoly_rows

_POLY_COORDS = "array<array<array<double>>>"
_MPOLY_COORDS = "array<array<array<array<double>>>>"


def feature_vertices(feats: DataFrame, props: tuple[str, ...] = (),
                     origin: tuple[float, float] | None = None) -> DataFrame:
    """(feat_id, *props, part, ring, seq, x, y) from GeoJSON Feature rows.

    ``feats``: (feat_id, feature_json string). ``props`` are pulled from
    ``$.properties.<name>`` as strings. x/y are int64, rounded from metres
    if ``origin`` is given, from raw coordinate units otherwise.
    """
    gtype = F.get_json_object(F.col("feature_json"), "$.geometry.type")
    craw = F.get_json_object(F.col("feature_json"), "$.geometry.coordinates")
    parts = (F.when(gtype == "MultiPolygon",
                    F.from_json(craw, _MPOLY_COORDS))
             .otherwise(F.array(F.from_json(craw, _POLY_COORDS))))
    prop_cols = [F.get_json_object(F.col("feature_json"),
                                   f"$.properties.{p}").alias(p)
                 for p in props]
    ex = (feats.select(F.col("feat_id"), *prop_cols,
                       F.posexplode(parts).alias("part", "_rings"))
          .select("feat_id", *props, "part",
                  F.posexplode("_rings").alias("ring", "_vts"))
          # GeoJSON rings are explicitly closed; the engine's vertex rows
          # are implicitly closed — drop the repeated closing vertex.
          .withColumn("_vo", F.expr(
              "CASE WHEN size(_vts) >= 2 AND _vts[0] = element_at(_vts, -1)"
              " THEN slice(_vts, 1, size(_vts) - 1) ELSE _vts END"))
          .select("feat_id", *props, "part", "ring",
                  F.posexplode("_vo").alias("seq", "_pt")))
    if origin is not None:
        lon0, lat0 = float(origin[0]), float(origin[1])
        cx, cy = equirect_scales(lat0)
        xe = (f"CAST(FLOOR(((_pt[0] - {lon0!r}) * {cx!r}) * 1.0 + 0.5)"
              " AS BIGINT)")
        ye = (f"CAST(FLOOR(((_pt[1] - {lat0!r}) * {cy!r}) * 1.0 + 0.5)"
              " AS BIGINT)")
    else:
        xe = "CAST(FLOOR(_pt[0] * 1.0 + 0.5) AS BIGINT)"
        ye = "CAST(FLOOR(_pt[1] * 1.0 + 0.5) AS BIGINT)"
    return ex.select("feat_id", *props, "part", "ring",
                     F.col("seq").cast("long"),
                     F.expr(xe).alias("x"), F.expr(ye).alias("y"))


# ---------------------------------------------------------------- fixtures
def _feature_json(fid: int, gtype: str, coords, properties: dict) -> str:
    return json.dumps({
        "type": "Feature", "id": fid, "properties": properties,
        "geometry": {"type": gtype, "coordinates": coords}},
        separators=(",", ":"))


def geojson_convex_features_df(spark) -> DataFrame:
    """The convex poly-feature fixture as GeoJSON Polygon features with the
    usual deterministic sub-snap jitter (±0.2 grid units — the proof that
    snapping runs) and GeoJSON-closed rings. (feat_id, feature_json)."""
    by_feat: dict[int, tuple[str, list[tuple[int, int]]]] = {}
    for fid, layer, seq, x, y in layers.synth_poly_feature_rows():
        by_feat.setdefault(fid, (layer, []))[1].append((x, y))
    rows = []
    s = 31_337
    for fid in sorted(by_feat):
        layer, vts = by_feat[fid]
        ring = []
        for x, y in vts:
            s = _lcg(s)
            jx = (s % 401 - 200) / 1000.0
            s = _lcg(s)
            jy = (s % 401 - 200) / 1000.0
            ring.append([x + jx, y + jy])
        ring.append(ring[0])  # GeoJSON rings are explicitly closed
        rows.append((fid, _feature_json(fid, "Polygon", [ring],
                                        {"layer": layer})))
    return spark.createDataFrame(rows, "feat_id long, feature_json string")


def geojson_multipoly_features_df(spark) -> DataFrame:
    """The multi-part/hole fixture as GeoJSON MultiPolygon features —
    exercises part/ring indexing and hole winding through the JSON path.
    (feat_id, feature_json)."""
    feats: dict[int, dict[int, dict[int, list]]] = {}
    for fid, part, ring, seq, x, y in synth_multipoly_rows():
        feats.setdefault(fid, {}).setdefault(part, {}).setdefault(
            ring, []).append((x, y))
    rows = []
    s = 55_441
    for fid in sorted(feats):
        polys = []
        for part in sorted(feats[fid]):
            rings = []
            for ring in sorted(feats[fid][part]):
                r = []
                for x, y in feats[fid][part][ring]:
                    s = _lcg(s)
                    jx = (s % 401 - 200) / 1000.0
                    s = _lcg(s)
                    jy = (s % 401 - 200) / 1000.0
                    r.append([x + jx, y + jy])
                r.append(r[0])
                rings.append(r)
            polys.append(rings)
        rows.append((fid, _feature_json(fid, "MultiPolygon", polys, {})))
    return spark.createDataFrame(rows, "feat_id long, feature_json string")
