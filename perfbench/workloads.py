"""The benchmark's three workloads: inputs from a seed, the query one
repetition runs, the oracle its output is checked against, and the prefix
probes that split a traced run by layer.

Why each workload exists, and which layer metric should move which
end-to-end metric on it, is written down in README.md beside this file.
"""

from __future__ import annotations

import itertools
import time
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from probes import Tracer, metric_sum

LANGS7 = ("en", "en", "en", "fr", "de", "es", "zh")


def noop(df: DataFrame) -> None:
    """Materialize every column of every row without a result transfer."""
    df.write.format("noop").mode("overwrite").save()


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive exact comparison; None when equal, else the reason.
    Same rule as the repository's oracle gate: object columns compare by
    value, numeric ones as float64 with NaN == NaN."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        if a[c].dtype == object or b[c].dtype == object:
            if not (a[c].values == b[c].values).all():
                return f"column {c} differs"
        else:
            av = a[c].to_numpy(dtype="float64", na_value=np.nan)
            bv = b[c].to_numpy(dtype="float64", na_value=np.nan)
            if not np.array_equal(av, bv, equal_nan=True):
                return f"column {c} differs"
    return None


def zone_tile_agg(tiled: DataFrame) -> DataFrame:
    """The flagship's zone/tile aggregation, applied to already-zoned points
    (the poly workload has no html, so it cannot call the flagship itself)."""
    return (tiled.groupBy("zone_id", "tile_id")
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.sum("chars").alias("total_chars"),
                 (F.sum("chars") / F.count("*")).alias("avg_chars")))


def zone_tile_agg_np(zone: np.ndarray, tile: np.ndarray, lang: np.ndarray,
                     chars: np.ndarray) -> pd.DataFrame:
    df = pd.DataFrame({"zone_id": zone, "tile_id": tile, "lang": lang, "chars": chars})
    g = df.groupby(["zone_id", "tile_id"])
    out = g.agg(n_pages=("chars", "size"), n_langs=("lang", "nunique"),
                total_chars=("chars", "sum")).reset_index()
    out["avg_chars"] = out["total_chars"] / out["n_pages"]
    return out


def _geotile_layers(ops: list[dict], out: pd.DataFrame) -> dict[str, float]:
    """Join and aggregation metrics of one traced flagship-shaped execution.
    The zone/tile aggregation is every operator keyed on ``zone_id``; every
    other exchange belongs to the spatial join (its ``min(zone_id)`` shuffle
    is keyed on the page)."""
    is_agg = lambda op: "zone_id" in op["desc"].split("functions=")[0]
    cand = metric_sum(ops, "BroadcastHashJoin", "number of output rows")
    rows_out = float(out["n_pages"].sum())
    return {
        "spatial_join.broadcast_rows": metric_sum(ops, "BroadcastExchange", "number of output rows"),
        "spatial_join.broadcast_bytes": metric_sum(ops, "BroadcastExchange", "data size"),
        "spatial_join.broadcast_collect_ms": metric_sum(ops, "BroadcastExchange", "time to collect"),
        "spatial_join.candidates_out": cand,
        "spatial_join.refine_rows": metric_sum(ops, "ArrowEvalPython", "number of output rows"),
        "spatial_join.hit_ratio": rows_out / cand if cand else 0.0,
        "spatial_join.arrow_eval_ms": metric_sum(ops, "ArrowEvalPython",
                                                 "time to run Python workers"),
        "spatial_join.shuffle_bytes": metric_sum(
            ops, "Exchange", "shuffle bytes written", lambda op: not is_agg(op)),
        "tile_agg.exchanges": float(sum(1 for op in ops
                                        if op["name"] == "Exchange" and is_agg(op))),
        "tile_agg.shuffle_bytes": metric_sum(ops, "Exchange", "shuffle bytes written", is_agg),
        "tile_agg.peak_mem_bytes": metric_sum(ops, "HashAggregate", "peak memory", is_agg),
        "tile_agg.spill_bytes": metric_sum(ops, "HashAggregate", "spill size", is_agg),
        "tile_agg.groups_out": float(len(out)),
    }


def _prefix_probe(tr: Tracer, frames: list[tuple[str, DataFrame]],
                  seconds: float) -> dict[str, tuple[float, list[dict]]]:
    """noop-materialize each prefix of the query in turn, round after round,
    until ``seconds`` pass (at least two rounds); returns each prefix's median
    time and the operators of its last execution."""
    times: dict[str, list[float]] = {name: [] for name, _ in frames}
    ops: dict[str, list[dict]] = {}
    t_end = time.perf_counter() + seconds
    for rnd in itertools.count():
        for name, df in frames:
            before = tr.last_execution_id()
            with tr.span(f"prefix.{name}"):
                t0 = time.perf_counter()
                noop(df)
                times[name].append(time.perf_counter() - t0)
            ops[name] = tr.operators(before)
        if rnd >= 1 and time.perf_counter() >= t_end:
            break
    return {n: (float(np.median(t)), ops[n]) for n, t in times.items()}


class GeotileRect:
    """Flagship pipeline over ~1M synthetic html pages, rectangle zones."""

    name = "geotile_rect"
    WARMUP = 1
    N = 1_000_000
    PARTS = 16

    def setup(self, spark: SparkSession, seed: int, work: Path) -> dict[str, float]:
        from geoclimate_spark.operators.spatial_join import pick_cover_res, spatial_join_points
        from geoclimate_spark.plans.flagship import geo_pages
        from geoclimate_spark.sources.layers import climate_zones, zone_covering
        from geoclimate_spark.sources.pages import synth_pages

        # The seed shifts the page-id range by whole partitions, so every
        # seed keeps PARTS equal slices of N pages (the leading slices are
        # empty and cost a few empty tasks).
        k = seed % 8
        self.lo = k * (self.N // self.PARTS)
        self.pages = (synth_pages(spark, self.lo + self.N, partitions=self.PARTS + k)
                      .where(F.col("page_id") >= self.lo))
        self.zones = climate_zones()
        parts = {}
        t0 = time.perf_counter()
        # the rectangle path covers at 10x the generic cell budget
        zone_covering(self.zones, pick_cover_res(self.zones, 200_000))
        parts["sources.zone_covering_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        spatial_join_points(geo_pages(self.pages), self.zones)
        parts["spatial_join.call_s"] = time.perf_counter() - t0
        return parts

    def queries(self):
        from geoclimate_spark.plans.flagship import zone_tile_language_mix
        return [("zone_tile_language_mix", lambda: zone_tile_language_mix(self.pages))]

    def rows(self) -> int:
        return self.N

    def check(self, outs: dict[str, pd.DataFrame]) -> list[str]:
        """DuckDB oracle from the repository's own SQL formulas: the page
        derivation, the CASE zone assignment and the tile cell arithmetic."""
        import duckdb
        from geoclimate_spark.operators.tile import TILE_RES, tile_sql
        from geoclimate_spark.sources.layers import zone_case_sql
        from geoclimate_spark.sources.pages import derivation_sql

        d = derivation_sql("page_id")
        langs = ", ".join(f"'{s}'" for s in LANGS7)
        sql = f"""
WITH p AS (
  SELECT range AS page_id,
         [{langs}][range % 7 + 1] AS lang,
         LENGTH('page body ' || repeat('token' || CAST(range % 97 AS VARCHAR) || ' ', 30)
                || 'end') AS chars,
         {d['lon_e6']} AS lon_e6, {d['lat_e6']} AS lat_e6
  FROM range({self.lo}, {self.lo + self.N})),
g AS (SELECT *, {zone_case_sql('lon_e6', 'lat_e6')} AS zone_id,
             {tile_sql('lon_e6', 'lat_e6', TILE_RES)} AS tile_id
      FROM p WHERE lon_e6 IS NOT NULL)
SELECT CAST(zone_id AS BIGINT) AS zone_id, CAST(tile_id AS BIGINT) AS tile_id,
       COUNT(*) AS n_pages, COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(chars) AS BIGINT) AS total_chars,
       CAST(SUM(chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM g GROUP BY zone_id, tile_id"""
        con = duckdb.connect()
        try:
            want = con.execute(sql).fetchdf()
        finally:
            con.close()
        bad = frames_equal(outs["zone_tile_language_mix"], want)
        return [f"zone_tile_language_mix: {bad}"] if bad else []

    def layers(self, tr: Tracer, ops: dict[str, list[dict]], outs, seconds: float) -> dict[str, float]:
        from geoclimate_spark.operators.spatial_join import spatial_join_points
        from geoclimate_spark.operators.tile import with_tile
        from geoclimate_spark.plans.flagship import geo_pages, zone_tile_language_mix

        g = geo_pages(self.pages).withColumn("chars", F.length("text_extracted").cast("long"))
        tiled = with_tile(spatial_join_points(g, self.zones, passthrough=["lang", "chars"]))
        pre = _prefix_probe(tr, [("pages", self.pages), ("extract", g), ("join", tiled),
                                 ("full", zone_tile_language_mix(self.pages))], seconds)
        ext_filter = [op for op in pre["extract"][1] if op["name"] == "Filter"]
        out = {
            "sources.gen_s": pre["pages"][0],
            "functions.extract_s": pre["extract"][0] - pre["pages"][0],
            "functions.extract_rows_out": (ext_filter[0]["metrics"].get("number of output rows", 0.0)
                                           if ext_filter else 0.0),
            "spatial_join.join_s": pre["join"][0] - pre["extract"][0],
            "tile_agg.agg_s": pre["full"][0] - pre["join"][0],
        }
        out.update(_geotile_layers(ops["zone_tile_language_mix"],
                                   outs["zone_tile_language_mix"]))
        return out


class GeotilePoly:
    """~2M already-extracted points through the generic polygon join."""

    name = "geotile_poly"
    WARMUP = 2
    N = 2_000_000
    PARTS = 16
    BBOX = (-20.0, 30.0, 30.0, 60.0)  # voronoi_zones' default patch

    def _lcg(self, i):
        """(lon_e6, lat_e6, r) of point ids ``i`` -- a Spark column or a numpy
        array; the Lehmer chain's products stay below 2^47, so both engines
        compute the same integers."""
        m, a = 2_147_483_647, 48_271
        lon0, lat0, lon1, lat1 = (int(v * 1_000_000) for v in self.BBOX)
        s = (i * 7919 + (self.seed % 1_000_003) * 104_729 + 1) % m
        r1 = (s * a + 11) % m
        r2 = (r1 * a + 11) % m
        r3 = (r2 * a + 11) % m
        return lon0 + r1 % (lon1 - lon0 + 1), lat0 + r2 % (lat1 - lat0 + 1), r3

    def setup(self, spark: SparkSession, seed: int, work: Path) -> dict[str, float]:
        from geoclimate_spark.operators.spatial_join import pick_cover_res, spatial_join_points
        from geoclimate_spark.sources.layers import voronoi_zones, zone_covering

        # One zone set for every seed, so every run does the same covering
        # and refine work (the total zone area of voronoi_zones(seed) varies
        # by 23% across seeds 11-15); the seed places the points.
        self.seed = seed
        self.zones = voronoi_zones()
        lon, lat, r = self._lcg(F.col("id"))
        self.points = spark.range(0, self.N, 1, self.PARTS).select(
            F.col("id").alias("page_id"), lon.cast("long").alias("lon_e6"),
            lat.cast("long").alias("lat_e6"),
            F.element_at(F.array(*[F.lit(x) for x in LANGS7]),
                         (r % 7 + 1).cast("int")).alias("lang"),
            (r % 461 + 40).cast("long").alias("chars"))
        parts = {}
        t0 = time.perf_counter()
        zone_covering(self.zones, pick_cover_res(self.zones))
        parts["sources.zone_covering_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        spatial_join_points(self.points, self.zones)
        parts["spatial_join.call_s"] = time.perf_counter() - t0
        return parts

    def _assigned(self) -> DataFrame:
        from geoclimate_spark.operators.spatial_join import spatial_join_points
        from geoclimate_spark.operators.tile import with_tile
        return with_tile(spatial_join_points(self.points, self.zones,
                                             passthrough=["lang", "chars"]))

    def queries(self):
        return [("poly_zone_tile_mix", lambda: zone_tile_agg(self._assigned()))]

    def rows(self) -> int:
        return self.N

    def check(self, outs: dict[str, pd.DataFrame]) -> list[str]:
        """The repository's numpy ray-cast oracle over the same points."""
        from geoclimate_spark import grid
        from geoclimate_spark.operators.spatial_join import spatial_join_points_np
        from geoclimate_spark.operators.tile import TILE_RES

        lon, lat, r = self._lcg(np.arange(self.N, dtype=np.int64))
        # zone by zone on the points inside its bbox, lowest id kept: the
        # same answer as one call over all points, at a fraction of the time
        zone = np.full(self.N, np.iinfo(np.int64).max)
        for z in self.zones:
            lo0, la0, lo1, la1 = (v * 1_000_000 for v in z.bbox)
            cand = np.flatnonzero((lon >= lo0) & (lon <= lo1) & (lat >= la0) & (lat <= la1))
            hit = cand[spatial_join_points_np(lon[cand], lat[cand], [z]) >= 0]
            zone[hit] = np.minimum(zone[hit], z.zone_id)
        m = zone != np.iinfo(np.int64).max
        want = zone_tile_agg_np(zone[m], grid.cell_np(lon[m], lat[m], TILE_RES),
                                np.asarray(LANGS7)[r[m] % 7], r[m] % 461 + 40)
        bad = frames_equal(outs["poly_zone_tile_mix"], want)
        return [f"poly_zone_tile_mix: {bad}"] if bad else []

    def layers(self, tr: Tracer, ops: dict[str, list[dict]], outs, seconds: float) -> dict[str, float]:
        tiled = self._assigned()
        pre = _prefix_probe(tr, [("points", self.points), ("join", tiled),
                                 ("full", zone_tile_agg(tiled))], seconds)
        out = {
            "sources.gen_s": pre["points"][0],
            "spatial_join.join_s": pre["join"][0] - pre["points"][0],
            "tile_agg.agg_s": pre["full"][0] - pre["join"][0],
        }
        out.update(_geotile_layers(ops["poly_zone_tile_mix"], outs["poly_zone_tile_mix"]))
        return out


VOCAB = ("query row stream the spark line small fast group customer batch sort "
         "value hash filter big data part column order scan a slow agg key window "
         "table merge vector join").split()
DOC_LANGS = ("en", "zh", "es", "fr", "de")


def synth_documents(seed: int, n: int = 5000) -> pd.DataFrame:
    """A ``documents`` table shaped like the repository's sf0.1 fixture:
    5,000 docs of 10-99 words from a 30-word vocabulary, ~5% ending in a
    ``dup`` marker with 8 exact duplicate pairs among them, 20 sources,
    English-heavy language mix."""
    rng = np.random.default_rng(seed)
    nw = rng.integers(10, 100, n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(nw.sum()))]
    ends = np.cumsum(nw)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, nw)]
    dup = np.flatnonzero(rng.random(n) < 0.05)
    for i in dup:
        texts[i] += " dup"
    for a, b in rng.choice(dup, (8, 2), replace=False):
        texts[max(a, b)] = texts[min(a, b)]
    lang = np.asarray(DOC_LANGS)[rng.choice(len(DOC_LANGS), n, p=[.41, .15, .15, .15, .14])]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64), "text": texts, "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], np.int64)})


class CurationMix:
    """Registered curation queries over a generated 5,000-doc fixture."""

    name = "curation_mix"
    WARMUP = 3
    # Registered queries whose steady time on 4 cores is at least 1 s and
    # whose first execution is short enough for the run's time budget.
    MIX = ("segment_dedup", "domain_curation")

    def setup(self, spark: SparkSession, seed: int, work: Path) -> dict[str, float]:
        import pyarrow as pa
        import pyarrow.parquet as pq
        import __spark_entry__ as entry

        self.sf = work / "sf"
        self.sf.mkdir(parents=True, exist_ok=True)
        self.docs = synth_documents(seed)
        pq.write_table(pa.Table.from_pandas(self.docs, preserve_index=False),
                       self.sf / "documents.parquet")
        self.order = list(np.random.default_rng(seed).permutation(self.MIX))
        self.spark = spark
        self.registered = entry.queries()
        return {}

    def queries(self):
        return [(q, lambda q=q: self.registered[q](self.spark, str(self.sf)))
                for q in self.order]

    def rows(self) -> int:
        return len(self.docs) * len(self.MIX)

    def check(self, outs: dict[str, pd.DataFrame]) -> list[str]:
        """Each query against its registered DuckDB oracle."""
        import duckdb
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            path = str(self.sf / "documents.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            bad = []
            for q in self.MIX:
                why = frames_equal(outs[q], con.execute(oracles[q]).fetchdf())
                if why:
                    bad.append(f"{q}: {why}")
            return bad
        finally:
            con.close()

    def layers(self, tr: Tracer, ops: dict[str, list[dict]], outs, seconds: float) -> dict[str, float]:
        # no spatial layer and no extraction run here; those metrics read 0
        t0 = time.perf_counter()
        noop(self.spark.read.parquet(str(self.sf / "documents.parquet")))
        out = {"sources.gen_s": time.perf_counter() - t0}
        for q in self.MIX:
            out[f"query.{q}_s"] = tr.median_s(f"query.{q}")
        out["query.segment_dedup.shuffle_bytes"] = metric_sum(
            ops["segment_dedup"], "Exchange", "shuffle bytes written")
        return out


WORKLOADS = {w.name: w for w in (GeotileRect, GeotilePoly, CurationMix)}
