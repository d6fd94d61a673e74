"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Each query is declared once: ``@query(name, oracle=...)`` on its ``_q_*``
body registers the engine plan together with its DuckDB dual, and
``queries()`` / ``oracle_sql()`` are read off that registry.

Engine queries run the REAL machinery (Arrow extraction UDFs, covering +
broadcast PIP join, cell-arithmetic tiling); oracles recompute the same
answers in pure ANSI SQL from the shared deterministic derivation
(geoclimate_spark.sources.pages.pages_oracle_sql).

Cache contract: a few base frames (`_zoned_pages`, `_geo_points`, the LOD
base) call ``.persist()`` because several queries branch off them. Spark's
CacheManager dedupes by canonicalized plan, so repeated calls reuse one
entry — but nothing here unpersists. A caller that runs many queries in
one session calls ``spark.catalog.clearCache()`` between them, as
``perfbench/run.py`` and ``tools/check_oracle.py`` do.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoclimate_spark import grid
from geoclimate_spark.functions import geom_props
from geoclimate_spark.functions import text as text_fn
from geoclimate_spark.functions.extract import with_extraction
from geoclimate_spark.operators import dedup
from geoclimate_spark.operators import distribution as dist_op
from geoclimate_spark.operators import (asof, classify, components,
                                        contamination, curation, facade,
                                        griddist, knn, noise,
                                        overlay, pii, polygon_overlay,
                                        repetition, smbr, raster, roads,
                                        similarity, skew, svf, train,
                                        windows, zonal)
from geoclimate_spark.operators import population as pop_op
from geoclimate_spark.operators import langid, linkrank, salience, sketch
from geoclimate_spark.operators import (bloom, bm25, bpeencode, bpetrain,
                                        dupspan, hashvec, kmeans, lmquality,
                                        mixture, segdedup, sprawl, urlnorm,
                                        vocab, winnow)
from geoclimate_spark.operators import boilerplate as boiler_op
from geoclimate_spark.operators import links as links_op
from geoclimate_spark.operators import robots as robots_op
from geoclimate_spark.operators import (colloc, dsir, dupweight, linear,
                                        mojibake, outliers, pplbucket,
                                        qualityrules, readability, shardplan)
from geoclimate_spark.operators import snapshot as snapshot_op
from geoclimate_spark.operators import scripts as scripts_op
from geoclimate_spark.operators import chunker as chunker_op
from geoclimate_spark.operators import cdc as cdc_op
from geoclimate_spark.operators import phrase as phrase_op
from geoclimate_spark.operators import audio as audio_op
from geoclimate_spark.operators import textfold as textfold_op
from geoclimate_spark.operators import codeswitch as codeswitch_op
from geoclimate_spark.operators import dedupfunnel as dedupfunnel_op
from geoclimate_spark.operators import drift as drift_op
from geoclimate_spark.operators import postings as postings_op
from geoclimate_spark.sources import assembly, media
from geoclimate_spark.sources import warc as warc_src
from geoclimate_spark.sources import geojson as geojson_src
from geoclimate_spark.sources import wkb as wkb_src
from geoclimate_spark.operators.spatial_join import spatial_join_points
from geoclimate_spark.operators import tile as tile_op
from geoclimate_spark.plans import flagship, joiner
from geoclimate_spark.sources import layers
from geoclimate_spark.sources.pages import pages_from_documents, pages_oracle_sql

TILE_RES = tile_op.TILE_RES
CELL_RES = 12

_PAGES_CTE = f"WITH pages AS (\n{pages_oracle_sql()}\n)"


QueryFn = Callable[[SparkSession, str], DataFrame]
# name -> (engine body, oracle SQL builder, in the leading window)
_REGISTRY: dict[str, tuple[QueryFn, Callable[[], str], bool]] = {}


def query(name: str, *, oracle: Callable[[], str], window: bool = False):
    """Register the decorated ``_q_*`` body as query ``name``.

    ``oracle`` builds the query's DuckDB dual; it runs only inside
    :func:`oracle_sql`, never at import (some oracles retrain a forest).
    ``window=True`` places the query in the leading window, the first
    50 entries of :func:`queries`."""
    def register(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"query {name!r} is registered twice")
        _REGISTRY[name] = (fn, oracle, window)
        return fn
    return register


def _registered() -> list:
    """(name, entry) pairs: the window first, then the rest, each group in
    definition order (the sort is stable)."""
    return sorted(_REGISTRY.items(), key=lambda item: not item[1][2])


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _, _) in _registered()}


def oracle_sql() -> dict[str, str]:
    return {name: oracle() for name, (_, oracle, _) in _registered()}


# ------------------------------------------------- shared oracle fragments
_ZONE_SQL = layers.zone_case_sql("lon_e6", "lat_e6")
_TILE_SQL = tile_op.tile_sql("lon_e6", "lat_e6", TILE_RES)
_ORACLE_NTOK = f"len(string_split({text_fn.normalize_sql('text')}, ' '))"
_NB_POINT_COLS = "page_id AS nb_id, lon_e6, lat_e6"


def _geo_rows_sql(*extra_cols: str) -> str:
    """Oracle-side geo rows: zone_id + requested columns from the pages CTE."""
    cols = ",\n       ".join((f"CAST({_ZONE_SQL} AS BIGINT) AS zone_id",)
                             + extra_cols)
    return f"{_PAGES_CTE}\nSELECT {cols}\nFROM pages WHERE lon_e6 IS NOT NULL"


def _page_points_sql(cols: str = "page_id, lon_e6, lat_e6") -> str:
    """Oracle-side located pages: ``cols`` of every page with a point."""
    return f"{_PAGES_CTE}\nSELECT {cols} FROM pages WHERE lon_e6 IS NOT NULL"


def _rect_layer_rows_sql() -> str:
    """Oracle-side land-cover rectangles, one row per (layer, rect)."""
    return (f"SELECT layer, lon0, lat0, lon1, lat1 FROM"
            f" ({layers.rect_layers_values_sql()}) r")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship.run(spark, "/root/testdata/sf0.001")


# ------------------------------------------------- queries, each with its dual
def _flagship_sql() -> str:
    return f"""{_PAGES_CTE}
SELECT CAST({_ZONE_SQL} AS BIGINT) AS zone_id, CAST({_TILE_SQL} AS BIGINT) AS tile_id,
       COUNT(*) AS n_pages, COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(SUM(LENGTH(text)) AS DOUBLE) / COUNT(*) AS avg_chars
FROM pages WHERE lon_e6 IS NOT NULL
GROUP BY 1, 2"""


@query("flagship_zone_tile_language_mix", oracle=_flagship_sql)
def _q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagship.run(spark, sf_dir)


def _zone_assignment_sql() -> str:
    return f"""{_PAGES_CTE}
SELECT page_id, CAST({_ZONE_SQL} AS BIGINT) AS zone_id
FROM pages WHERE lon_e6 IS NOT NULL"""


@query("pip_zone_assignment", oracle=_zone_assignment_sql)
def _q_zone_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = flagship.geo_pages(pages_from_documents(spark, sf_dir))
    return spatial_join_points(g, layers.climate_zones()).select("page_id", "zone_id")


def _tile_assignment_sql() -> str:
    cell = grid.cell_sql("lon_e6", "lat_e6", CELL_RES)
    return f"""{_PAGES_CTE}
SELECT page_id, CAST({_TILE_SQL} AS BIGINT) AS tile_id, CAST({cell} AS BIGINT) AS cell_id
FROM pages WHERE lon_e6 IS NOT NULL"""


@query("tile_assignment", oracle=_tile_assignment_sql)
def _q_tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = flagship.geo_pages(pages_from_documents(spark, sf_dir))
    return g.select(
        "page_id",
        tile_op.tile_col(F.col("lon_e6"), F.col("lat_e6"), TILE_RES).alias("tile_id"),
        grid.cell_col(F.col("lon_e6"), F.col("lat_e6"), CELL_RES).alias("cell_id"),
    )


def _extract_roundtrip_sql() -> str:
    return f"""{_PAGES_CTE}
SELECT lang, COUNT(*) AS n_pages, CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       COUNT(DISTINCT md5(text)) AS n_distinct_texts
FROM pages
GROUP BY lang"""


@query("extract_roundtrip", oracle=_extract_roundtrip_sql)
def _q_extract_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate proof of byte-identical extraction: counts + md5 distincts
    computed from the EXTRACTED text must equal the oracle's stored text."""
    pages = pages_from_documents(spark, sf_dir)
    ex = with_extraction(pages.select("page_id", "lang", "html"))
    return (ex.groupBy("lang")
            .agg(F.count("*").alias("n_pages"),
                 F.sum(F.length("text_extracted")).alias("total_chars"),
                 F.countDistinct(F.md5(F.col("text_extracted"))).alias("n_distinct_texts")))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


NGRAM_T, NGRAM_MAX_DF = 0.7, 20
MINHASH_T = 0.8
SIMHASH_MAXD = 6


_SKETCH_DOCS_SQL = "SELECT doc_id, text, lang, source FROM documents"


@query("lang_id_confusion", oracle=langid.lang_confusion_sql, window=True)
def _q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle n-gram language-ID confusion matrix. NOTE: the synth
    corpus shares ONE token vocabulary across langs, so accuracy ~chance —
    the operator's profile-train→broadcast-score→argmax shape and its
    bit-exact oracle parity are the contract, not the fixture's signal."""
    return langid.lang_confusion(_docs(spark, sf_dir))


@query("doc_top_terms", oracle=salience.doc_top_terms_sql, window=True)
def _q_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return salience.doc_top_terms(_docs(spark, sf_dir))


@query("host_pagerank", oracle=linkrank.host_pagerank_sql, window=True)
def _q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return linkrank.host_pagerank(_docs(spark, sf_dir))


@query("host_label_propagation", window=True,
       oracle=linkrank.host_label_propagation_sql)
def _q_host_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return linkrank.host_label_propagation(_docs(spark, sf_dir))


@query("host_hits", oracle=linkrank.host_hits_sql, window=True)
def _q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer HITS hubs/authorities (r4): max-normalized Kleinberg
    iterations in int64 fixed-point over the synthesized host graph; the
    oracle unrolls the same k rounds as CTEs."""
    return linkrank.host_hits(_docs(spark, sf_dir))


@query("dup_weighted_budget", window=True,
       oracle=lambda: dupweight.dup_weighted_budget_sql(threshold=MINHASH_T))
def _q_dup_weighted_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dupweight.dup_weighted_budget(_docs(spark, sf_dir),
                                         threshold=MINHASH_T)


@query("sketch_hll_distinct", window=True,
       oracle=lambda: sketch.hll_distinct_sql(
           _SKETCH_DOCS_SQL, "lang", "text"))
def _q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch.hll_distinct(_docs(spark, sf_dir), "lang", "text")


@query("sketch_kmv_distinct", window=True,
       oracle=lambda: sketch.kmv_distinct_sql(
           _SKETCH_DOCS_SQL, "lang", "text"))
def _q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch.kmv_distinct(_docs(spark, sf_dir), "lang", "text")


@query("sketch_cms_heavy_hitters", window=True,
       oracle=lambda: sketch.cms_heavy_hitters_sql(_SKETCH_DOCS_SQL, "source"))
def _q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch.cms_heavy_hitters(_docs(spark, sf_dir), "source")


@query("join_size_estimate",
       oracle=lambda: sketch.selfjoin_size_estimate_sql(
           "SELECT * FROM events", "user_id"))
def _q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS inner-product join-size estimation (r4): the optimizer
    statistic |R ⋈ R on user_id| (F2 moment — the skew/broadcast decision
    input) answered from the d×w matrix alone, with the one-sided
    guarantee est ≥ exact; the exact recompute rides along as the
    verification column."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sketch.selfjoin_size_estimate(ev, "user_id")


@query("zonal_mad",
       oracle=lambda: zonal.exact_mad_sql(
           "SELECT lang, n_chars FROM documents", "lang", "n_chars"))
def _q_zonal_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language median absolute deviation (r4): the robust
    dispersion an outlier gate wants (stddev is corrupted by the outliers
    it should flag; MAD has 50% breakdown). Two rank-window passes, both
    interpolations integer-derived — doubles replay bit-for-bit."""
    rows = _docs(spark, sf_dir).select("lang", "n_chars")
    return zonal.exact_mad(rows, "lang", "n_chars")


@query("sketch_hist_quantiles", window=True,
       oracle=lambda: sketch.histogram_quantiles_sql(
           "SELECT doc_id, lang, n_chars FROM documents", "lang", "n_chars"))
def _q_sketch_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram quantile sketch (r4): one
    map-side-combinable groupBy per group; estimates within one bin width
    of exact (pytest-proven), integer interpolation hash-gated."""
    return sketch.histogram_quantiles(_docs(spark, sf_dir), "lang", "n_chars")


BLOOM_BAN_MOD = 23
SPRAWL_RES, SPRAWL_DENSE_MIN = 5, 2


@query("segment_dedup", oracle=segdedup.segment_dedup_sql, window=True)
def _q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level (k-token segment) corpus dedup — first occurrence
    wins globally, documents reassembled from surviving segments."""
    return segdedup.segment_dedup(_docs(spark, sf_dir))


@query("duplicate_spans", oracle=dupspan.duplicate_spans_sql, window=True)
def _q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate-span coverage + trim: every overlapping
    8-token window repeated anywhere in the corpus marks its positions;
    per-doc interval-union coverage fraction and the span-trimmed text."""
    return dupspan.duplicate_spans(_docs(spark, sf_dir))


@query("dedup_funnel_report", window=True,
       oracle=dedupfunnel_op.dedup_funnel_report_sql)
def _q_dedup_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cost-benefit funnel (r5): docs/tokens each stage alone would
    keep (raw / exact / segment / span) with token-removal millis vs raw
    — the budget dashboard read before committing a dedup recipe."""
    return dedupfunnel_op.dedup_funnel_report(_docs(spark, sf_dir))


@query("tokenizer_fertility", window=True,
       oracle=bpeencode.tokenizer_fertility_sql)
def _q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language (r5): chars/token and tokens/word
    under the frozen merge table — the metric that says which languages
    the tokenizer under-serves (inflated sequence lengths)."""
    return bpeencode.tokenizer_fertility(_docs(spark, sf_dir))


@query("posting_size_plan", window=True,
       oracle=postings_op.posting_size_plan_sql)
def _q_posting_size_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index storage planner (r5): per-term Elias-gamma delta-gap
    posting costs, top-50 most expensive lists — the stop/cap/impact-sort
    diagnostic an index shard planner reads before building at scale."""
    return postings_op.posting_size_plan(_docs(spark, sf_dir))


@query("token_drift_report", window=True,
       oracle=drift_op.token_drift_report_sql)
def _q_token_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor (r5): integer-bits cross-entropy drift between
    crawl batches over 4096 hashed unigram buckets — the stationarity
    check run before mixing a new crawl into training data."""
    return drift_op.token_drift_report(_docs(spark, sf_dir))


@query("code_switch_scores", window=True,
       oracle=codeswitch_op.code_switch_scores_sql)
def _q_code_switch_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching report (r5): non-overlapping 16-token chunks
    classified against the langid profiles; per-doc majority share and
    switch score — the mixing measurement per-language curation needs."""
    return codeswitch_op.code_switch_scores(_docs(spark, sf_dir))


@query("span_dedup_recall_report", window=True,
       oracle=dupspan.span_dedup_recall_report_sql)
def _q_span_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-dedup recall report (r5): fraction of the EXACT duplicated-span
    coverage (8-token windows) that 12-token segment dedup catches, plus
    precision — the measured-not-asserted threshold audit for the
    substring-dedup family (the ann_recall_report pattern)."""
    return dupspan.span_dedup_recall_report(_docs(spark, sf_dir))


@query("decontaminate_trim", window=True,
       oracle=dupspan.decontaminate_trim_sql)
def _q_decontaminate_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by span removal: training docs with every
    token covered by a benchmark-colliding 5-gram window removed; broadcast
    benchmark gram-hash set, interval-union coverage, clean text out."""
    return dupspan.decontaminate_trim(_docs(spark, sf_dir))


@query("bloom_blocklist_curation", window=True,
       oracle=lambda: bloom.bloom_blocklist_filter_sql(BLOOM_BAN_MOD))
def _q_bloom_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered fingerprint-blocklist anti-join; the bloom is a
    physical prefilter with zero semantic effect, so the DuckDB oracle is
    the plain NOT IN — engine result must match it bit-for-bit."""
    return bloom.bloom_blocklist_filter(_docs(spark, sf_dir), BLOOM_BAN_MOD)


def _sprawl_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = flagship.geo_pages(pages_from_documents(spark, sf_dir))
    return (g.withColumn("tile_id", tile_op.tile_col(
        F.col("lon_e6"), F.col("lat_e6"), SPRAWL_RES))
        .groupBy("tile_id").agg(F.count("*").alias("n_pages")))


def _sprawl_tiles_sql() -> str:
    return f"""SELECT CAST({tile_op.tile_sql("lon_e6", "lat_e6", SPRAWL_RES)}
       AS BIGINT) AS tile_id, COUNT(*) AS n_pages
  FROM ({_PAGES_CTE} SELECT * FROM pages WHERE lon_e6 IS NOT NULL) p
  GROUP BY 1"""


@query("sprawl_components", window=True,
       oracle=lambda: sprawl.sprawl_components_sql(
           _sprawl_tiles_sql(), SPRAWL_RES, SPRAWL_DENSE_MIN))
def _q_sprawl_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sprawl areas: rook-connected dense tiles → CC → per-area rollup
    (the sprawlIndicators dissolve, WorkflowGeoIndicators.groovy:2174-2235)."""
    return sprawl.sprawl_components(_sprawl_tiles(spark, sf_dir),
                                    SPRAWL_RES, SPRAWL_DENSE_MIN)


@query("ann_topk_ivf_trained", window=True,
       oracle=lambda: kmeans.ivf_trained_topk_sql(ANN_QUERY_IDS, ANN_K))
def _q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over lists the engine TRAINED itself (kmeans.py) —
    train → index → serve in one oracled query; output schema/tie rules
    match the rest of the ANN ladder."""
    return kmeans.ivf_trained_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, ANN_K)


@query("kmeans_clusters", oracle=kmeans.kmeans_assignments_sql, window=True)
def _q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine k-means TRAINING (int64 fixed-point Lloyd's, deterministic
    seed) — the training run behind the IVF centroid tables; the oracle
    re-trains through unrolled CTEs and must assign bit-identically."""
    return kmeans.kmeans_assignments(_emb(spark, sf_dir))


def _curation_pipeline_e2e_sql() -> str:
    """Composed oracle: each stage is the SAME *_sql builder the standalone
    queries use, nested as CTEs (DuckDB scopes outer CTEs into nested WITH
    subqueries)."""
    m = text_fn.text_metrics_sql("dedup_text")
    # outer CTE names must not collide with segment_dedup_sql's inner CTEs
    # (toks/segs/ranked/kept/agg/tot): DuckDB mis-binds the shadowed name
    # inside the nested WITH and reports a circular reference
    return f"""
WITH blk AS ({bloom.bloom_blocklist_filter_sql(BLOOM_BAN_MOD)}),
surv AS (SELECT d.* FROM documents d JOIN blk k ON k.doc_id = d.doc_id),
sd AS ({segdedup.segment_dedup_sql(doc_rel="surv")}),
scored AS (SELECT s.doc_id, v.lang, s.n_segs, s.n_kept,
       {m['n_tokens']} AS n_tokens, {m['quality']} AS quality
  FROM sd s JOIN surv v ON v.doc_id = s.doc_id
  WHERE s.n_kept > 0)
SELECT * FROM scored WHERE quality >= {CURATE_MIN_QUALITY}"""


@query("curation_pipeline_e2e", oracle=_curation_pipeline_e2e_sql, window=True)
def _q_curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Dolma-style curation chain as ONE composed query —
    fingerprint-blocklist anti-join (bloom-prefiltered) → segment-level
    dedup → quality gate on the REASSEMBLED text — every stage the same
    operator the standalone driver queries exercise, so this is the
    integration proof that the pieces compose. Output: one row per
    surviving document with its post-dedup shape and quality."""
    docs = _docs(spark, sf_dir)
    kept_ids = (bloom.bloom_blocklist_filter(docs, BLOOM_BAN_MOD)
                .select("doc_id"))
    survivors = docs.join(kept_ids, "doc_id", "left_semi")
    # fully-deduplicated docs (n_kept = 0, empty text) exit here: they are
    # boilerplate-only and the metrics' ratios are undefined on ''
    sd = segdedup.segment_dedup(survivors).where(F.col("n_kept") > 0)
    cols = text_fn.text_metrics_cols(F.col("dedup_text"))
    scored = sd.join(survivors.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "n_segs", "n_kept",
        cols["n_tokens"].alias("n_tokens"),
        cols["quality"].alias("quality"))
    return scored.where(F.col("quality") >= CURATE_MIN_QUALITY)


@query("vocab_coverage", oracle=vocab.vocab_coverage_sql, window=True)
def _q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with exact global rank + cumulative token share —
    the engine's bucketed two-phase cumsum vs the oracle's naive single
    global window (the decomposition itself is hash-gated)."""
    return vocab.vocab_coverage(_docs(spark, sf_dir))


TOPK_PER_LANG, TOPK_SALTS = 5, 8


@query("topk_docs_per_lang", window=True,
       oracle=lambda: skew.salted_topk_sql(
           "SELECT lang, doc_id, n_chars FROM documents",
           "lang", "n_chars", "doc_id", TOPK_PER_LANG))
def _q_topk_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase top-k (local top-k per salt → rank survivors):
    a hot key's window input is bounded at rows/n_salts. The ORACLE is the
    plain rank window, so salted == unsalted is hash-checked end-to-end
    (same invariant as skewed_tile_counts_salted, for ranking)."""
    rows = _docs(spark, sf_dir).select("lang", "doc_id", "n_chars")
    return skew.salted_topk(rows, "lang", "n_chars", "doc_id",
                            TOPK_PER_LANG, TOPK_SALTS, "doc_id")


def _url_canonical_dedup_sql() -> str:
    frags = urlnorm.url_crawl_fixture_sql("doc_id")
    return urlnorm.latest_crawl_per_url_sql(
        "SELECT doc_id AS crawl_id, " + frags["raw_url"] + " AS raw_url, "
        + frags["fetch_epoch"] + " AS fetch_epoch FROM documents")


@query("url_canonical_dedup", oracle=_url_canonical_dedup_sql, window=True)
def _q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + keep-latest-fetch over a deterministic messy
    crawl-log fixture (scheme/www/slash/utm/#fragment/host-case noise);
    fixture fragments are shared SQL evaluated by both engines."""
    frags = urlnorm.url_crawl_fixture_sql("doc_id")
    crawls = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("crawl_id"),
        F.expr(frags["raw_url"]).alias("raw_url"),
        F.expr(frags["fetch_epoch"]).alias("fetch_epoch"))
    return urlnorm.latest_crawl_per_url(crawls)


_SURT_RAW_SQL = ("concat('https://', " + urlnorm._HOST_SQL
                 + ", '/p/', CAST(doc_id AS STRING))")
_SURT_RAW_DUCK = ("('https://' || " + urlnorm._HOST_SQL.replace(
    "AS STRING", "AS VARCHAR") + " || '/p/' || CAST(doc_id AS VARCHAR))")


@query("surt_keys", window=True,
       oracle=lambda: urlnorm.surt_keys_sql(
           "SELECT doc_id AS crawl_id, " + _SURT_RAW_DUCK
           + " AS raw_url FROM documents"))
def _q_surt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT storage keys (r4): web-archive sort-friendly URL transform —
    host labels reversed (com,example,www)/path — over the multi-label
    host fixture; lexicographic SURT order clusters a domain's subdomains
    contiguously, the layout key for file-level pruning of host-scoped
    scans (the Z-order move applied to the URL hierarchy). Pure codegen
    projection."""
    crawls = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("crawl_id"),
        F.expr(_SURT_RAW_SQL).alias("raw_url"))
    return urlnorm.surt_keys(crawls)


def _tile_indicator_table_sql() -> str:
    """DuckDB dual of _q_tile_indicator_table: stats + weighted mode + LOD-2
    parent LEFT-JOIN-assembled on tile_id (joinTables semantics)."""
    rows = (f"{_PAGES_CTE}\nSELECT CAST({_TILE_SQL} AS BIGINT) AS tile_id, lang, "
            f"LENGTH(text) AS chars FROM pages WHERE lon_e6 IS NOT NULL")
    stats = (f"SELECT tile_id, COUNT(*) AS n_pages, "
             f"CAST(SUM(chars) AS BIGINT) AS total_chars, "
             f"CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs "
             f"FROM ({rows}) GROUP BY 1")
    mode = zonal.mode_weighted_sql(rows, "tile_id", "lang", "chars")
    mask = (1 << 29) - 1
    pres = TILE_RES - 2
    parent = (f"CAST({pres} AS BIGINT) * {1 << 58} "
              f"+ (((tile_id >> 29) & {mask}) >> 2) * {1 << 29} "
              f"+ ((tile_id & {mask}) >> 2)")
    lod = f"SELECT tile_id, {parent} AS tile_lod2 FROM ({stats}) s"
    return joiner.join_tables_sql([
        ("tstats", stats, "tile_id"),
        ("mode", mode, "tile_id"),
        ("lod", lod, "tile_id")])


@query("tile_indicator_table", oracle=_tile_indicator_table_sql, window=True)
def _q_tile_indicator_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rasterizeIndicators analogue (`WorkflowGeoIndicators.groovy:
    1571-1959`): per-grid-cell indicator families assembled into one wide
    row per tile — counts/chars/langs, weighted lang mode, LOD-2 parent."""
    g = flagship.geo_pages(pages_from_documents(spark, sf_dir))
    t = (g.withColumn("chars", F.length("text_extracted").cast("long"))
         .withColumn("tile_id", tile_op.tile_col(
             F.col("lon_e6"), F.col("lat_e6"), TILE_RES))
         .select("tile_id", "lang", "chars"))
    stats = t.groupBy("tile_id").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"))
    mode = zonal.mode_weighted(t, "tile_id", "lang", "chars")
    lod = stats.select("tile_id", grid.parent_col(
        F.col("tile_id"), TILE_RES - 2, TILE_RES).alias("tile_lod2"))
    return joiner.join_tables([
        ("tstats", stats, "tile_id"),
        ("mode", mode, "tile_id"),
        ("lod", lod, "tile_id")])


@query("dedup_exact", oracle=dedup.exact_duplicates_sql)
def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_docs(spark, sf_dir))


@query("dedup_ngram_jaccard",
       oracle=lambda: dedup.ngram_jaccard_sql(
           threshold=NGRAM_T, max_df=NGRAM_MAX_DF))
def _q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=NGRAM_T,
                                     max_df=NGRAM_MAX_DF)


@query("dedup_minhash_lsh",
       oracle=lambda: dedup.minhash_lsh_sql(threshold=MINHASH_T))
def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_near_duplicates(_docs(spark, sf_dir), threshold=MINHASH_T)


@query("dedup_simhash",
       oracle=lambda: dedup.simhash_sql(max_hamming=SIMHASH_MAXD))
def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_duplicates(_docs(spark, sf_dir), max_hamming=SIMHASH_MAXD)


def _text_metrics_sql() -> str:
    return "SELECT doc_id AS id,\n  " + ",\n  ".join(
        f"{sql} AS {name}"
        for name, sql in text_fn.text_metrics_sql("text").items()
    ) + "\nFROM documents"


@query("text_metrics", oracle=_text_metrics_sql)
def _q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = text_fn.text_metrics_cols(F.col("text"))
    return _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"), *[c.alias(n) for n, c in cols.items()])


@query("winnow_fingerprints", oracle=winnow.winnow_fingerprints_sql)
def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (Karp-Rabin) k-gram hashing + winnowing selection
    (Schleimer et al. 2003) — per-doc fingerprint summary, zero shuffles;
    the selection is one vectorized Arrow-batched pass over the scan."""
    return winnow.winnow_fingerprints(_docs(spark, sf_dir))


@query("winnow_dup_pairs", oracle=winnow.winnow_dup_pairs_sql)
def _q_winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style overlap pairs over the winnowed fingerprint index
    (inverted index + max_df stop-key cap — the scalable pair join)."""
    return winnow.winnow_dup_pairs(_docs(spark, sf_dir))


# literal query-term sets (the fixture vocabulary is the synthetic
# OLAP-word corpus); mixes corpus-common terms (df ~ 80%) with the one
# rare term ('dup', df ~ 5%) so idf actually orders the results
BM25_QUERIES = [(0, ["hash", "join"]), (1, ["dup", "scan"]),
                (2, ["vector", "batch", "sort"]), (3, ["the", "dup"])]


@query("feature_hash_vectors", oracle=hashvec.feature_hash_sparse_sql)
def _q_feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer (signed hashing trick): fixed-dim sparse
    text vectors with no vocabulary table — one groupBy(doc, bucket)."""
    return hashvec.feature_hash_sparse(_docs(spark, sf_dir))


def _ann_recall_report_sql() -> str:
    denom = float(len(ANN_QUERY_IDS) * ANN_K)
    brute = similarity.cosine_topk_sql(ANN_QUERY_IDS, ANN_K)
    parts = {
        "lsh": similarity.lsh_topk_sql(ANN_QUERY_IDS, ANN_K),
        "lsh_multitable": similarity.lsh_topk_multitable_sql(
            ANN_QUERY_IDS, ANN_K),
        "ivf": similarity.ivf_topk_sql(ANN_QUERY_IDS, ANN_K),
    }
    selects = []
    for name in parts:
        selects.append(
            f"SELECT '{name}' AS variant, CAST(COUNT(*) AS BIGINT) AS n_hits,"
            f" CAST(COUNT(*) AS DOUBLE) / {denom} AS recall"
            f" FROM v_{name} v WHERE EXISTS (SELECT 1 FROM brute b"
            f" WHERE b.query_id = v.query_id AND b.vec_id = v.vec_id)")
    ctes = [f"brute AS ({brute})"] + [
        f"v_{name} AS ({sql})" for name, sql in parts.items()]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@query("ann_recall_report", oracle=_ann_recall_report_sql)
def _q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the bucketed ANN variants measured IN-ENGINE against the
    exact brute-force baseline — the accept/reject metric an ANN rollout
    gates on, computed as one query: (variant, n_hits, recall) with
    recall = hits / (n_queries · k). Brute-force top-k is computed once and
    reused by every variant's semi-join."""
    emb = _emb(spark, sf_dir)
    brute = (similarity.cosine_topk(emb, ANN_QUERY_IDS, ANN_K)
             .select("query_id", "vec_id").persist())
    denom = float(len(ANN_QUERY_IDS) * ANN_K)
    variants = {
        "lsh": similarity.lsh_topk(emb, ANN_QUERY_IDS, ANN_K),
        "lsh_multitable": similarity.lsh_topk_multitable(
            emb, ANN_QUERY_IDS, ANN_K),
        "ivf": similarity.ivf_topk(emb, ANN_QUERY_IDS, ANN_K),
    }
    out = None
    for name, df in variants.items():
        hits = (df.select("query_id", "vec_id")
                .join(brute, ["query_id", "vec_id"], "left_semi")
                .agg(F.count("*").alias("n_hits"))
                .select(F.lit(name).alias("variant"),
                        F.col("n_hits").cast("long"),
                        (F.col("n_hits").cast("double")
                         / F.lit(denom)).alias("recall")))
        out = hits if out is None else out.unionByName(hits)
    return out


def _text_clusters_sql() -> str:
    dim = hashvec.HV_DIM
    km = kmeans.kmeans_assignments_sql(rel="hv_dense")
    assert km.startswith("WITH ")
    return f"""WITH hv AS ({hashvec.feature_hash_sparse_sql()}),
hv_map AS (
  SELECT doc_id AS vec_id, map(array_agg(bucket), array_agg(weight)) AS m
  FROM hv GROUP BY doc_id),
hv_dense AS (
  SELECT vec_id,
         list_transform(generate_series(0, {dim - 1}),
                        i -> CAST(coalesce(m[i][1], 0) AS DOUBLE))
           AS embedding
  FROM hv_map),
{km[5:]}"""


@query("text_cluster_assignments", oracle=_text_clusters_sql)
def _q_text_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end raw-text clustering IN-ENGINE: feature-hash vectorizer →
    dense 64-dim vectors → the existing int64 fixed-point k-means train +
    assign. Everything (featurization AND training) replays bit-exactly in
    the oracle."""
    sp = hashvec.feature_hash_sparse(_docs(spark, sf_dir))
    dense = (sp.groupBy("doc_id")
             .agg(F.map_from_entries(
                 F.collect_list(F.struct("bucket", "weight"))).alias("m"))
             .select(F.col("doc_id").alias("vec_id"),
                     F.expr(f"transform(sequence(0, {hashvec.HV_DIM - 1}),"
                            f" i -> CAST(coalesce(element_at("
                            f"m, CAST(i AS BIGINT)), 0) AS DOUBLE))")
                     .alias("embedding")))
    return kmeans.kmeans_assignments(dense, id_col="vec_id",
                                     vec="embedding")


@query("bpe_train_merges", oracle=bpetrain.bpe_train_sql)
def _q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine BPE tokenizer training: 8 most-frequent-pair merges over
    the corpus vocabulary (one corpus shuffle; every round runs on the
    distinct-word frame). Output = the merge table + compression curve."""
    return bpetrain.bpe_train(_docs(spark, sf_dir))


@query("bpe_encode_tokens", oracle=bpeencode.bpe_encode_sql)
def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: encode every document under the frozen merge table
    (bpeencode.MERGES) and count symbols — per-doc token budgets. Pure
    codegen string work, shuffle-free; the word-boundary double-space trick
    keeps merges word-local without an explode."""
    return bpeencode.bpe_encode_stats(_docs(spark, sf_dir))


@query("token_mixture_plan", oracle=mixture.mixture_plan_sql)
def _q_token_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix planner: tokens available per lang (under the frozen
    tokenizer) vs basis-point target shares of a fixed token budget →
    epochs/oversampling per slice. One partial-agg shuffle on lang."""
    return mixture.mixture_plan(spark, _docs(spark, sf_dir))


@query("etld1_domain_rollup", oracle=urlnorm.etld1_rollup_sql, window=True)
def _q_etld1_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain rollup (r4): eTLD+1 extraction with a
    second-level public-suffix table as a pure scan-projection expression,
    ONE map-side-combinable hash agg."""
    return urlnorm.etld1_rollup(_docs(spark, sf_dir))


@query("readability_metrics", oracle=readability.readability_metrics_sql)
def _q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability + lexical diversity (r4): integer-floored Flesch
    surrogate (milli-scaled) and type-token ratio over the derived
    multi-line page. Pure codegen projection."""
    return readability.readability_metrics(_docs(spark, sf_dir))


@query("split_leakage_pairs",
       oracle=lambda: curation.split_leakage_sql(threshold=MINHASH_T))
def _q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit (r4): MinHash-LSH near-dup pairs whose two
    sides land in different dataset splits (split is a pure hash function
    of id — attached as an expression, no join beyond the dedup pass)."""
    return curation.split_leakage(_docs(spark, sf_dir), threshold=MINHASH_T)


@query("temperature_mixture", oracle=mixture.temperature_mixture_sql)
def _q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style temperature sampling plan (r4): per-lang budget ∝
    isqrt(char mass) (exact ±1-corrected integer sqrt), largest-remainder
    apportionment summing exactly to the budget. Constant-size windows."""
    return mixture.temperature_mixture(_docs(spark, sf_dir))


@query("export_shard_plan", oracle=shardplan.export_shard_plan_sql)
def _q_export_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced export sharding (r4): global (size DESC, id) rank via
    the vocab.py two-level exact decomposition, sorted round-robin deal;
    oracle = the naive global ROW_NUMBER window."""
    return shardplan.export_shard_plan(_docs(spark, sf_dir))


@query("pmi_collocations", oracle=colloc.pmi_collocations_sql)
def _q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (r4): adjacent-pair likelihood ratio as ONE
    exact 2^10-scaled int64 (log-free ranking), min-count cut, total-order
    top-k. Two map-side-combinable groupBys + constant-key totals."""
    return colloc.pmi_collocations(_docs(spark, sf_dir))


def _crawl_history_sql(with_host: bool = False) -> str:
    """Crawl-log fixture for snapshot_diff / incremental_host_rollup — the
    exact SQL dual of the engine-side frames (same fragments)."""
    frags = snapshot_op.crawl_history_fixture_sql("doc_id")
    host = (", " + _CRAWL_HOST_SQL + " AS host") if with_host else ""
    return ("SELECT doc_id AS crawl_id, " + frags["raw_url"]
            + " AS raw_url, " + frags["fetch_epoch"]
            + " AS fetch_epoch" + host
            + " FROM documents WHERE " + frags["keep_pred"])


@query("snapshot_diff",
       oracle=lambda: snapshot_op.snapshot_diff_sql(_crawl_history_sql()))
def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style incremental diff between two snapshot times of an
    append-only crawl log (added/updated/unchanged per canonical URL). One
    hash agg on canon_url; the (epoch, crawl_id) winner rides a single
    int64 MAX key, so partial aggregation stays exact."""
    frags = snapshot_op.crawl_history_fixture_sql("doc_id")
    crawls = (_docs(spark, sf_dir)
              .where(F.expr(frags["keep_pred"]))
              .select(F.col("doc_id").alias("crawl_id"),
                      F.expr(frags["raw_url"]).alias("raw_url"),
                      F.expr(frags["fetch_epoch"]).alias("fetch_epoch")))
    return snapshot_op.snapshot_diff(crawls)


@query("embedding_outliers", oracle=outliers.embedding_outliers_sql)
def _q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic quality gate: exact int64 distance of every vector to its
    own label's floor-mean centroid; top decile per label flagged by
    deterministic (d2 DESC, id ASC) rank — no quantile interpolation."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return outliers.embedding_outliers(emb)


@query("token_length_histogram", oracle=bpeencode.token_length_histogram_sql)
def _q_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two sequence-length histogram over BPE-encoded docs (the
    distribution a packing planner reads); floor-log2 via bin()-length."""
    return bpeencode.token_length_histogram(_docs(spark, sf_dir))


_CRAWL_HOST_SQL = "concat('h', CAST(doc_id % 150 % 8 AS STRING), '.example.com')"


@query("incremental_host_rollup",
       oracle=lambda: snapshot_op.incremental_host_rollup_sql(
           _crawl_history_sql(with_host=True)))
def _q_incremental_host_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance proof: per-host live-state rollup at T2
    computed as T1 base ⊕ diff delta (never re-reading history); the oracle
    recomputes T2 from scratch, so hash-equality verifies the algebra."""
    frags = snapshot_op.crawl_history_fixture_sql("doc_id")
    crawls = (_docs(spark, sf_dir)
              .where(F.expr(frags["keep_pred"]))
              .select(F.col("doc_id").alias("crawl_id"),
                      F.expr(frags["raw_url"]).alias("raw_url"),
                      F.expr(frags["fetch_epoch"]).alias("fetch_epoch"),
                      F.expr(_CRAWL_HOST_SQL).alias("host")))
    return snapshot_op.incremental_host_rollup(crawls)


@query("recrawl_priority",
       oracle=lambda: snapshot_op.recrawl_priority_sql(
           _crawl_history_sql(with_host=True)))
def _q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive revisit scheduling (r4): hosts ranked for recrawl by
    observed t1→t2 change rate × staleness of the live copy — the
    scheduling decision a continuous crawler derives from snapshot diffs.
    Two map-side-combinable aggs + TakeOrderedAndProject top-k; every
    metric exact int64."""
    frags = snapshot_op.crawl_history_fixture_sql("doc_id")
    crawls = (_docs(spark, sf_dir)
              .where(F.expr(frags["keep_pred"]))
              .select(F.col("doc_id").alias("crawl_id"),
                      F.expr(frags["raw_url"]).alias("raw_url"),
                      F.expr(frags["fetch_epoch"]).alias("fetch_epoch"),
                      F.expr(_CRAWL_HOST_SQL).alias("host")))
    return snapshot_op.recrawl_priority(crawls)


@query("crawl_fetch_budget",
       oracle=lambda: snapshot_op.crawl_fetch_budget_sql(
           _crawl_history_sql(with_host=True)))
def _q_crawl_fetch_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-budget allocation (r4): global fetch budget apportioned
    across hosts ∝ (recrawl score + size floor) with the exact
    largest-remainder rule — Σ fetch_quota == budget always (pytest
    invariant). Windows run over the per-host rollup, not the crawl log."""
    frags = snapshot_op.crawl_history_fixture_sql("doc_id")
    crawls = (_docs(spark, sf_dir)
              .where(F.expr(frags["keep_pred"]))
              .select(F.col("doc_id").alias("crawl_id"),
                      F.expr(frags["raw_url"]).alias("raw_url"),
                      F.expr(frags["fetch_epoch"]).alias("fetch_epoch"),
                      F.expr(_CRAWL_HOST_SQL).alias("host")))
    return snapshot_op.crawl_fetch_budget(crawls)


@query("semantic_contamination", oracle=similarity.semantic_contamination_sql)
def _q_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: corpus vectors within
    cosine 0.9 of any (deterministically perturbed) benchmark vector; the
    bench side broadcasts, scoring is a codegen fold, and the threshold
    filter precedes the best-match window."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.semantic_contamination(emb)


@query("dataset_split_rollup",
       oracle=lambda: curation.dataset_split_sql("documents"))
def _q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (80/10/10 basis
    points), audited per (split, lang): reproducible, engine-independent
    membership with no document migration as the corpus grows."""
    return curation.dataset_split(_docs(spark, sf_dir))


@query("event_funnel", oracle=windows.event_funnel_sql, window=True)
def _q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (r4): view→click→signup→purchase with
    first-occurrence-ordering semantics, computed in ONE groupBy(user)
    pass (cascaded conditional MINs — no self-joins, no event-stream
    window); per-stage user counts + exact integer conversion share."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return windows.event_funnel(ev)


@query("domain_grouped_split", window=True,
       oracle=lambda: curation.grouped_split_sql(
           "documents", urlnorm._HOST_SQL.replace("AS STRING", "AS VARCHAR")))
def _q_domain_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-grouped train/val/test split (r4): membership hashes the
    HOST, not the document, so no site straddles splits — the hygiene
    document-level splits miss (same-site templates leak even with zero
    near-dup pairs). The recomputed straddle audit must be 0; scan-
    projection split key, no join/window."""
    return curation.grouped_split(_docs(spark, sf_dir), urlnorm._HOST_SQL)


@query("quality_classifier_train", oracle=linear.rocchio_train_sql)
def _q_rocchio_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine linear-classifier fit (exact-integer Rocchio/nearest-
    centroid over hash-bucket counts); the trained model itself is the
    hash-gated output, so training replayability is the contract — the
    oracle re-derives the identical weights."""
    return linear.rocchio_train(_docs(spark, sf_dir))


@query("quality_classifier_confusion", oracle=linear.rocchio_confusion_sql)
def _q_rocchio_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained linear quality gate served back over the corpus
    (train → serve in one plan): confusion matrix vs the independent
    length label — 0.976 accuracy at sf0.01 (majority class 0.51)."""
    return linear.rocchio_confusion(_docs(spark, sf_dir))


@query("dedup_containment",
       oracle=lambda: dedup.containment_sql(max_df=NGRAM_MAX_DF))
def _q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment (|A∩B| / min set) over the inverted shingle index
    — the quote-inclusion detector Jaccard misses (a short doc embedded in
    a long one unions away). Same max_df stop-shingle scale bound as the
    Jaccard path."""
    return dedup.containment_pairs(_docs(spark, sf_dir), max_df=NGRAM_MAX_DF)


@query("bm25_search", oracle=lambda: bm25.bm25_topk_sql(BM25_QUERIES))
def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (k1=6/5, b=3/4 as exact rationals; idf via the
    integer floor-log2 surrogate; per-doc scores are exact int64 sums until
    one final double division)."""
    return bm25.bm25_topk(_docs(spark, sf_dir), BM25_QUERIES)


@query("lm_quality_scores", oracle=lmquality.lm_quality_sql)
def _q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-proxy quality filter: char-bigram LM trained
    in-query on the deterministic doc_id%3 slice, docs scored by mean
    integer surprisal bits (floor-log2 via bin()-length — no libm), kept
    under a literal threshold."""
    return lmquality.lm_quality_scores(_docs(spark, sf_dir))


@query("ppl_lang_terciles", oracle=pplbucket.ppl_tercile_sql)
def _q_ppl_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail: per-lang docs ordered by the exact int64
    mean-surprisal key, cut into three equal-char-mass buckets; the
    per-lang cumulative char sum runs (lang, ppl-bucket)-decomposed (the
    vocab.py algebra) while the oracle uses the naive global window."""
    return pplbucket.ppl_tercile_assignments(_docs(spark, sf_dir))


def _bpe_token_stats_sql() -> str:
    norm = text_fn.normalize_sql("text")
    ws = f"CAST(len(string_split({norm}, ' ')) AS BIGINT)"
    bpe = f"CAST(len({text_fn.bpe_tokens_sql(norm)}) AS BIGINT)"
    return f"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({ws}) AS BIGINT) AS n_ws_tokens,
       CAST(SUM({bpe}) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM({bpe}) AS DOUBLE) / CAST(SUM({ws}) AS DOUBLE) AS bpe_per_ws
FROM documents GROUP BY lang"""


@query("bpe_token_stats", oracle=_bpe_token_stats_sql)
def _q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting per language: whitespace tokens vs BPE-ish
    pretokens (GPT-2-style regex — letter/digit/punct/contraction splits),
    both counted inside the scan projection; one groupBy(lang)."""
    norm = text_fn.normalize_col(F.col("text"))
    d = _docs(spark, sf_dir).select(
        "lang",
        F.size(text_fn.tokens_col(norm)).cast("long").alias("ws"),
        F.size(text_fn.bpe_tokens_col(norm)).cast("long").alias("bpe"))
    return (d.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ws").alias("n_ws_tokens"),
                 F.sum("bpe").alias("n_bpe_tokens"))
            .withColumn("bpe_per_ws",
                        F.col("n_bpe_tokens").cast("double")
                        / F.col("n_ws_tokens").cast("double")))


LANGS = ("de", "en", "es", "fr", "zh")
LANG_BUCKETS = {"latin": ("de", "en", "es", "fr"), "cjk": ("zh",)}


def _zoned_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(page_id, zone_id, lon_e6, lat_e6, lang, chars) — extraction + PIP.

    Persisted: the html-extraction + PIP subtree is the most expensive base
    frame and multi-branch consumers (CC + joins, facade pair sides, SMBR)
    would otherwise re-run it once per branch. Spark's CacheManager matches
    canonicalized plans, so every later call with the same sf_dir reuses the
    same cache entry; the frame is a few columns per page (tiny) and the
    bench/driver clear the cache between queries."""
    return flagship.pip_join(
        flagship.page_chars(pages_from_documents(spark, sf_dir))).persist()


def _zonal_unweighted_sql() -> str:
    return zonal.unweighted_stats_sql(
        _geo_rows_sql("LENGTH(text) AS chars"),
        layers.zone_dim_values_sql(), "zone_id", "chars")


@query("zonal_unweighted_chars", oracle=_zonal_unweighted_sql)
def _q_zonal_unweighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.unweighted_stats(
        _zoned_pages(spark, sf_dir), layers.zone_dim_df(spark), "zone_id", "chars")


@query("zonal_weighted_tokens",
       oracle=lambda: zonal.weighted_stats_sql(
           _geo_rows_sql("LENGTH(text) AS chars",
                         f"CAST({_ORACLE_NTOK} AS BIGINT) AS n_tokens"),
           "zone_id", "n_tokens", "chars"))
def _q_zonal_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = flagship.geo_pages(pages_from_documents(spark, sf_dir))
    g = (g.withColumn("chars", F.length("text_extracted").cast("long"))
         .withColumn("n_tokens", F.size(text_fn.tokens_col(
             text_fn.normalize_col(F.col("text_extracted")))).cast("long")))
    rows = spatial_join_points(g, layers.climate_zones(),
                               passthrough=["chars", "n_tokens"])
    return zonal.weighted_stats(rows, "zone_id", "n_tokens", "chars")


def _zone_lang_fractions_sql() -> str:
    return zonal.pivot_fractions_sql(
        _geo_rows_sql("LENGTH(text) AS chars", "lang"),
        "zone_id", "lang", "chars", LANGS)


@query("zone_lang_fractions", oracle=_zone_lang_fractions_sql)
def _q_zone_lang_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.pivot_fractions(
        _zoned_pages(spark, sf_dir), "zone_id", "lang", "chars", LANGS)


@query("zone_type_proportion",
       oracle=lambda: zonal.type_proportion_sql(
           _geo_rows_sql("LENGTH(text) AS chars", "lang"),
           "zone_id", "lang", "chars", LANG_BUCKETS))
def _q_zone_type_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.type_proportion(
        _zoned_pages(spark, sf_dir), "zone_id", "lang", "chars", LANG_BUCKETS)


@query("zonal_median_chars",
       oracle=lambda: zonal.exact_median_sql(
           _geo_rows_sql("LENGTH(text) AS chars"), "zone_id", "chars"))
def _q_zonal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.exact_median(_zoned_pages(spark, sf_dir), "zone_id", "chars")


@query("zonal_quantiles_chars", window=True,
       oracle=lambda: zonal.exact_quantiles_sql(
           _geo_rows_sql("LENGTH(text) AS chars"), "zone_id", "chars"))
def _q_zonal_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-zone p25/p50/p75/p95 via shared-rank arithmetic (one sort,
    conditional picks) — the doc-length-distribution triage a curation
    pipeline runs before setting quality thresholds."""
    return zonal.exact_quantiles(_zoned_pages(spark, sf_dir),
                                 "zone_id", "chars")


def _mode_lang_per_tile_sql() -> str:
    return zonal.mode_weighted_sql(
        f"""{_PAGES_CTE}
SELECT CAST({_TILE_SQL} AS BIGINT) AS tile_id, lang, LENGTH(text) AS chars
FROM pages WHERE lon_e6 IS NOT NULL""",
        "tile_id", "lang", "chars")


@query("mode_lang_per_tile", oracle=_mode_lang_per_tile_sql)
def _q_mode_lang_per_tile(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = flagship.geo_pages(pages_from_documents(spark, sf_dir))
    g = (g.withColumn("chars", F.length("text_extracted").cast("long"))
         .withColumn("tile_id", tile_op.tile_col(F.col("lon_e6"), F.col("lat_e6"), TILE_RES)))
    return zonal.mode_weighted(g, "tile_id", "lang", "chars")


def _direction_distribution_sql() -> str:
    rows = f"""{_PAGES_CTE}, centers AS ({layers.zone_center_values_sql()})
SELECT CAST({_ZONE_SQL} AS BIGINT) AS zone_id, LENGTH(text) AS chars,
       lon_e6 - center_lon_e6 AS dx, lat_e6 - center_lat_e6 AS dy
FROM pages JOIN centers ON centers.zone_id = CAST({_ZONE_SQL} AS BIGINT)
WHERE lon_e6 IS NOT NULL"""
    return dist_op.characterize_distribution_sql(
        dist_op.direction_distribution_sql(
            rows, "zone_id", dist_op.octant_bin_sql("dx", "dy"), "chars"),
        "zone_id", [f"b{i}" for i in range(8)])


@query("direction_distribution", oracle=_direction_distribution_sql)
def _q_direction_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    zp = _zoned_pages(spark, sf_dir)
    centers = F.broadcast(layers.zone_center_df(spark))
    j = zp.join(centers, "zone_id")
    binc = dist_op.octant_bin_col(
        F.col("lon_e6") - F.col("center_lon_e6"),
        F.col("lat_e6") - F.col("center_lat_e6"))
    d = dist_op.direction_distribution(j, "zone_id", binc, "chars")
    return dist_op.characterize_distribution(d, "zone_id", [f"b{i}" for i in range(8)])


KNN_RADIUS_E6 = 2_000_000  # 2 degrees
ANN_QUERY_IDS = [0, 1, 2, 3, 4, 5, 6, 7]
ANN_K = 5
EMB_DUP_T = 0.4


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted for the same multi-branch reasons as _zoned_pages
    g = flagship.geo_pages(pages_from_documents(spark, sf_dir))
    return g.select("page_id", "lon_e6", "lat_e6").persist()


@query("knn_nearest_page",
       oracle=lambda: knn.nearest_neighbor_sql(
           _page_points_sql(), _page_points_sql(_NB_POINT_COLS),
           KNN_RADIUS_E6))
def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _geo_points(spark, sf_dir)
    nbs = pts.select(F.col("page_id").alias("nb_id"), "lon_e6", "lat_e6")
    return knn.nearest_neighbor(pts, nbs, KNN_RADIUS_E6)


@query("raster_zonal_stats", oracle=raster.raster_zonal_stats_sql)
def _q_raster_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return raster.raster_zonal_stats(raster.raster_df(spark),
                                     raster.zone_bounds_df(spark))


def _page_raster_oracle_sql() -> str:
    nx = 1 << (raster.RASTER_RES + 1)
    cell = grid.cell_sql("lon_e6", "lat_e6", raster.RASTER_RES)
    mask = (1 << 29) - 1
    # unpack the packed cell id: x = (cell >> 29) & mask, y = cell & mask;
    # raster row-major id = y*nx + x
    rcell = f"(((({cell})) & {mask}) * {nx} + ((({cell}) >> 29) & {mask}))"
    return f"""{_PAGES_CTE}
SELECT page_id, CAST({rcell} AS BIGINT) AS rcell_id,
       CAST({rcell} * 48271 + 11 AS BIGINT) % 2147483647 % 1000 AS value
FROM pages WHERE lon_e6 IS NOT NULL"""


@query("page_raster_value", oracle=_page_raster_oracle_sql)
def _q_page_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    nx = 1 << (raster.RASTER_RES + 1)
    pts = _geo_points(spark, sf_dir)
    cell = grid.cell_col(F.col("lon_e6"), F.col("lat_e6"), raster.RASTER_RES)
    pts = pts.withColumn(
        "rcell_id", grid.cell_y_col(cell) * F.lit(nx) + grid.cell_x_col(cell))
    return (raster.page_raster_enrich(pts, raster.raster_df(spark))
            .select("page_id", "rcell_id", "value"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@query("ann_topk_bruteforce",
       oracle=lambda: similarity.cosine_topk_sql(ANN_QUERY_IDS, ANN_K))
def _q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, ANN_K)


@query("ann_topk_lsh",
       oracle=lambda: similarity.lsh_topk_sql(ANN_QUERY_IDS, ANN_K))
def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, ANN_K)


@query("ann_topk_ivf",
       oracle=lambda: similarity.ivf_topk_sql(ANN_QUERY_IDS, ANN_K))
def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, ANN_K)


@query("ann_topk_lsh_multiprobe",
       oracle=lambda: similarity.lsh_topk_multiprobe_sql(ANN_QUERY_IDS, ANN_K))
def _q_ann_lsh_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k (Hamming-1 probes) — the recall fix over
    single-probe ann_topk_lsh, query-side fan-out only."""
    return similarity.lsh_topk_multiprobe(_emb(spark, sf_dir),
                                          ANN_QUERY_IDS, ANN_K)


@query("ann_topk_ivf_multiprobe",
       oracle=lambda: similarity.ivf_topk_sql(ANN_QUERY_IDS, ANN_K, nprobe=3))
def _q_ann_ivf_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k probing each query's 3 nearest centroid lists (nprobe=3) —
    the standard IVF recall lever over single-probe ann_topk_ivf; probe
    fan-out on the broadcast query side only, lists partition-pruned."""
    return similarity.ivf_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, ANN_K,
                               nprobe=3)


@query("pii_scrub", oracle=pii.scrub_pii_sql)
def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (r4): emails/phones/IPv4 counted and redacted in one
    codegen projection — no shuffle, no UDF. The synthetic corpus has no
    PII, so a deterministic doc_id-derived injection (byte-identical on
    both sides) makes counts, redacted length AND the md5 of the redacted
    text hash-gated."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pii.scrub_pii(pii.with_synthetic_pii(docs))


@query("gopher_quality_flags", window=True,
       oracle=qualityrules.gopher_flags_sql)
def _q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality ruleset (r4): word-count / mean-word-length / symbol /
    bullet / ellipsis / alpha-word / stopword rules as per-rule flags plus
    the AND, over a deterministic doc_id-derived multi-line page (the
    single-line fixture exercises no line rules). Pure codegen projection;
    every count and integer cross-multiplication is hash-gated."""
    return qualityrules.gopher_flags(_docs(spark, sf_dir))


@query("c4_line_filter", oracle=qualityrules.c4_line_filter_sql, window=True)
def _q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line filter (r4): keep terminal-punctuation lines with enough
    words and no javascript mention; drop lorem-ipsum / curly-brace docs
    and docs with too few surviving lines. Reassembled clean text is
    md5-fingerprinted, so the line-filter path itself is hash-gated."""
    return qualityrules.c4_line_filter(_docs(spark, sf_dir))


@query("mojibake_repair", oracle=mojibake.repair_mojibake_sql, window=True)
def _q_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-artifact repair (r4): cp1252 double-encoding confusion
    table (curly quotes, accents, NBSP) counted with regexp_count and
    repaired with chained replaces over a deterministically corrupted
    page; repaired text md5 makes the path hash-gated. Pure codegen."""
    return mojibake.repair_mojibake(_docs(spark, sf_dir))


@query("accent_fold", oracle=textfold_op.fold_profile_sql)
def _q_accent_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accent/diacritic folding (r4): Latin-ASCII match normalization
    (translate + ligature replaces, pure codegen) over deterministically
    injected accented spans; folded-text md5 and exact changed-char
    counts hash-gated."""
    return textfold_op.fold_profile(
        textfold_op.with_synthetic_accents(_docs(spark, sf_dir)))


@query("script_detect", oracle=scripts_op.script_profile_sql)
def _q_script_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script detection (r4): per-script character counts over
    explicit codepoint-block regex classes (identical meaning in Java
    regex and RE2), dominant-script argmax with fixed-priority tie-break,
    mixed-script count and exact integer dominant share. Deterministic
    multi-script injection (the pii.with_synthetic_pii pattern) makes all
    counts + the argmax hash-gated. Pure codegen projection."""
    return scripts_op.script_profile(
        scripts_op.with_synthetic_scripts(_docs(spark, sf_dir)))


@query("priority_sample", window=True,
       oracle=lambda: curation.priority_sample_sql(k=64))
def _q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duffield–Lund–Thorup priority sampling (r4): weighted
    without-replacement k=64 sample by n_chars with unbiased subset-sum
    estimator weights ŵ = max(w, τ); md5-derived priorities, so sample
    AND estimator replay bit-for-bit in DuckDB. Engine plan is
    TakeOrderedAndProject (per-partition heap, no global sort)."""
    return curation.priority_sample(_docs(spark, sf_dir), k=64)


PHRASE_QUERIES = [
    (1, "slow hash batch"),           # frequent corpus trigram
    (2, "window fast query"),         # frequent corpus trigram
    (3, "value spark"),               # bigram
    (4, "table table"),               # duplicate-term phrase
    (5, "purple monkey dishwasher"),  # no matches by construction
]


@query("phrase_search", window=True,
       oracle=lambda: phrase_op.phrase_search_sql(PHRASE_QUERIES))
def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval (r4): positional postings + the anchor trick
    (pos − term_idx votes, all distinct indexes present = verbatim match);
    query table broadcasts and restricts postings BEFORE any shuffle —
    the bm25.py shuffle contract. Occurrence counts + first positions
    hash-gated."""
    return phrase_op.phrase_search(_docs(spark, sf_dir), PHRASE_QUERIES)


@query("range_partition_plan", oracle=shardplan.range_partition_plan_sql)
def _q_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range partitioner planning (r4): exact split values from
    rank arithmetic over the DISTINCT-value rollup (what RangePartitioner
    samples for, computed exactly), constant-key broadcast assignment,
    realized per-bucket balance reported. Duplicates of one value never
    split across buckets."""
    return shardplan.range_partition_plan(_docs(spark, sf_dir))


@query("duplication_spectrum", window=True,
       oracle=dupspan.duplication_spectrum_sql)
def _q_duplication_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication spectrum (r4): corpus-wide duplicated-window prevalence
    at 4/8/16/32-token granularity — the measurement that picks an
    ExactSubstr span length (short-window dup ≈ formulaic language,
    long-window dup = copied passages). One gram-keyed shuffle per
    length, one row out per length."""
    return dupspan.duplication_spectrum(_docs(spark, sf_dir))


@query("incremental_dedup_delta",
       oracle=lambda: dedup.incremental_minhash_delta_sql(threshold=MINHASH_T))
def _q_incremental_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup (r4): near-dup pairs involving the new batch
    (id%4==0 slice) via delta-bands ⋈ all-bands — pair space scales with
    |delta|, never |corpus|²; the oracle recomputes the FULL pair set and
    filters, so delta-join ≡ full-recompute is hash-gated (the same
    base⊕delta algebra as incremental_host_rollup, applied to dedup)."""
    return dedup.incremental_minhash_delta(_docs(spark, sf_dir),
                                           threshold=MINHASH_T)


@query("cluster_cohesion", window=True,
       oracle=lambda: dedup.cluster_cohesion_sql(MINHASH_T))
def _q_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster quality audit (r4): per-cluster pair count +
    min/max verified jaccard — the chaining detector (transitive closure
    merges A~B~C even when jaccard(A,C) is low; min ≪ threshold flags a
    lossy canonical-doc dedup). Order-independent aggregates only, so
    hash-gated exactly."""
    return dedup.cluster_cohesion(_docs(spark, sf_dir), MINHASH_T)


@query("cdc_chunk_dedup", oracle=cdc_op.cdc_dedup_sql)
def _q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (r4): Gear rolling hash (unrolled 32-term
    closed form, md5-derived gear table) cuts shift-robust storage chunks;
    corpus-wide chunk occurrence counts mark the bytes a chunk store keeps
    once. One Arrow pass + one groupBy(chunk_md5); the oracle recomputes
    boundaries via a positions×offsets join — chunk spans, md5s AND
    occurrence counts all hash-gated."""
    return cdc_op.cdc_dedup(_docs(spark, sf_dir))


@query("dedup_recall_report",
       oracle=lambda: dedup.lsh_recall_report_sql(MINHASH_T))
def _q_dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding recall audit (r4): on the doc_id%2 slice, MinHash-LSH
    candidate pairs vs the exact capped-Jaccard truth pairs — recall and
    candidate efficiency as exact integer millis. The dedup analogue of
    ann_recall_report: the number a dedup rollout gates on, itself
    oracled. Sampled by design (exact truth costs Σ df² join rows)."""
    return dedup.lsh_recall_report(_docs(spark, sf_dir), MINHASH_T)


@query("doc_chunks",
       oracle=lambda: chunker_op.chunk_documents_sql(window=16, stride=12))
def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (r4): window=16/stride=12 over the
    normalized token stream (small window so the ~100-token fixture docs
    produce multi-chunk output), full provenance (chunk_id, token span) and
    the chunk text + md5 — the context-window prep step, dual of
    packed_sequences. Pure codegen + controlled posexplode, no shuffle."""
    return chunker_op.chunk_documents(_docs(spark, sf_dir),
                                      window=16, stride=12)


@query("dsir_importance", oracle=dsir.dsir_importance_sql, window=True)
def _q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR targeted selection (r4): hashed unigram+bigram bucket models
    for the deterministic target slice vs the raw pool, per-doc
    integer-bits importance = sum of (raw − target) bucket surprisals,
    threshold selection. NB-row weight dim broadcasts; scoring is ONE
    map-side-combinable groupBy(doc)."""
    return dsir.dsir_importance(_docs(spark, sf_dir))


@query("boilerplate_removal", window=True,
       oracle=boiler_op.boilerplate_removal_sql)
def _q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host line-level boilerplate strip (r4): synthetic host chrome
    (header/footer 100%, banner ~50%, promo ~2%) injected deterministically,
    then stripped by the integer >=30%-of-host-docs rule; the reassembled
    clean text is hash-gated (clean_md5). Shuffle carries hash60(line), not
    text; per-host doc counts broadcast."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return boiler_op.remove_boilerplate(
        boiler_op.with_synthetic_boilerplate(docs))


@query("anchor_text_rollup", oracle=links_op.anchor_rollup_sql, window=True)
def _q_anchor_text_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph edge extraction (r4): anchors parsed out of synthetic html
    BYTES (decode -> nav isolation -> regexp_extract_all -> href/host
    split, all codegen) and rolled up per target host; the oracle replays
    the deterministic link generator with no html, so any parse slip
    breaks the gate."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return links_op.anchor_rollup(
        links_op.extract_links(links_op.with_synthetic_links(docs)))


@query("robots_url_filter", oracle=robots_op.robots_verdicts_sql, window=True)
def _q_robots_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-rule URL filtering (r4): most-specific-match join — each URL
    equi-joins its host's rule set (broadcast dim), prefix-matches in
    codegen, and a per-URL struct-argmin over (-prefix_len, rule_id) picks
    the winner; allow carve-outs under deny prefixes and the no-match
    default branch are both exercised by the fixture."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return robots_op.robots_verdicts(robots_op.synth_candidates(docs),
                                     robots_op.synth_rules(spark))


@query("ann_topk_ivf_pq",
       oracle=lambda: similarity.ivf_pq_topk_sql(ANN_QUERY_IDS, ANN_K))
def _q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-rank (r4) — the most compressed rung of the ANN
    ladder: the inverted-list scan reads only 16 codes + a norm per vector
    (ADC lookup-table scoring), full vectors fetched for just the top
    rerank*k candidates. Measured recall vs brute force at sf0.01:
    0.625 (nprobe=3, M=16, K=8, rerank=8) — within reach of IVF-flat
    nprobe=3's 0.65 while reading ~3% of the vector bytes."""
    return similarity.ivf_pq_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, ANN_K)


@query("ann_topk_lsh_multitable",
       oracle=lambda: similarity.lsh_topk_multitable_sql(ANN_QUERY_IDS, ANN_K))
def _q_ann_lsh_mt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-TABLE multi-probe LSH top-k — 3 independent plane sets, each
    probed at Hamming radius 1; misses go as (1-r)^3 (recall lever beyond
    multi-probe alone; corpus stored per-table, partition-pruned probes)."""
    return similarity.lsh_topk_multitable(_emb(spark, sf_dir),
                                          ANN_QUERY_IDS, ANN_K)


@query("embedding_near_dup",
       oracle=lambda: similarity.cosine_pairs_sql(EMB_DUP_T))
def _q_emb_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_pairs(_emb(spark, sf_dir), EMB_DUP_T)


@query("embedding_near_dup_lsh",
       oracle=lambda: similarity.cosine_pairs_lsh_sql(EMB_DUP_T))
def _q_emb_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_pairs_lsh(_emb(spark, sf_dir), EMB_DUP_T)


WINDOW_SEC = 3600
SESSION_GAP_SEC = 600
CC_RADIUS_E6 = 50_000  # 0.05 degrees — urban-block scale


@query("event_window_agg",
       oracle=lambda: windows.tumbling_window_agg_sql(WINDOW_SEC))
def _q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return windows.tumbling_window_agg(ev, WINDOW_SEC)


@query("event_sessions",
       oracle=lambda: windows.sessionize_sql(SESSION_GAP_SEC))
def _q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return windows.sessionize(ev, SESSION_GAP_SEC)


ZONE_CLASSES = {"dense": [300.0, 0.2], "sparse": [300.0, 0.01], "empty": [0.0, 0.0]}
ZONE_CLASS_SCALES = [100.0, 0.05]
LOD_LEVELS = (7, 5, 3)


@query("zone_tile_assignment_modeb",
       oracle=lambda: tile_op.largest_overlap_tile_sql(
           raster.zone_bounds_values_sql(), TILE_RES))
def _q_tile_modeb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tile_op.largest_overlap_tile(spark, raster.zone_bounds_df(spark),
                                        TILE_RES)


def _zone_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonal.unweighted_stats(
        _zoned_pages(spark, sf_dir), layers.zone_dim_df(spark), "zone_id",
        "chars", ops=("avg", "nb_dens"))


def _zone_features_sql() -> str:
    return ("SELECT zone_id, avg_chars, nb_dens_chars FROM (\n"
            + zonal.unweighted_stats_sql(
                _geo_rows_sql("LENGTH(text) AS chars"),
                layers.zone_dim_values_sql(), "zone_id", "chars",
                ops=("avg", "nb_dens")) + "\n) t")


def _zone_classification_sql() -> str:
    return classify.classify_min_distance_sql(
        _zone_features_sql(), ["zone_id"], ["avg_chars", "nb_dens_chars"],
        ZONE_CLASSES, ZONE_CLASS_SCALES)


@query("zone_classification", oracle=_zone_classification_sql)
def _q_zone_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _zone_features(spark, sf_dir).select(
        "zone_id", "avg_chars", "nb_dens_chars")
    return classify.classify_min_distance(
        feats, ["zone_id"], ["avg_chars", "nb_dens_chars"],
        ZONE_CLASSES, ZONE_CLASS_SCALES)


# "Trained" offline and inlined as literal splits (same treatment as the
# IVF centroid codebook) — the reference's RF apply path.
RF_TREES = [
    {"feature": "avg_chars", "thr": 250.0,
     "lo": {"feature": "nb_dens_chars", "thr": 0.02,
            "lo": {"cls": "empty"}, "hi": {"cls": "sparse"}},
     "hi": {"feature": "nb_dens_chars", "thr": 0.1,
            "lo": {"cls": "sparse"}, "hi": {"cls": "dense"}}},
    {"feature": "nb_dens_chars", "thr": 0.05,
     "lo": {"cls": "sparse"}, "hi": {"cls": "dense"}},
    {"feature": "avg_chars", "thr": 150.0,
     "lo": {"cls": "empty"},
     "hi": {"feature": "avg_chars", "thr": 350.0,
            "lo": {"cls": "sparse"}, "hi": {"cls": "dense"}}},
]


def _zone_indicator_table_sql() -> str:
    return joiner.join_tables_sql([
        ("zstats", _zonal_unweighted_sql(), "zone_id"),
        ("langs", _zone_lang_fractions_sql(), "zone_id"),
        ("cls", _zone_classification_sql(), "zone_id"),
    ])


@query("zone_indicator_table", oracle=_zone_indicator_table_sql)
def _q_zone_indicator_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """joinTables analogue: the per-zone indicator tables assembled into one
    wide row per zone (anchor keeps all zones; later tables LEFT JOIN)."""
    return joiner.join_tables([
        ("zstats", _q_zonal_unweighted(spark, sf_dir), "zone_id"),
        ("langs", _q_zone_lang_fractions(spark, sf_dir), "zone_id"),
        ("cls", _q_zone_classification(spark, sf_dir), "zone_id"),
    ])


@query("zone_classification_rf",
       oracle=lambda: classify.classify_tree_ensemble_sql(
           _zone_features_sql(), ["zone_id"], RF_TREES))
def _q_zone_classification_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _zone_features(spark, sf_dir).select(
        "zone_id", "avg_chars", "nb_dens_chars")
    return classify.classify_tree_ensemble(feats, ["zone_id"], RF_TREES)


def _page_zorder_sql() -> str:
    return f"""{_PAGES_CTE}
SELECT page_id, {grid.zorder_sql("lon_e6", "lat_e6")} AS zkey
FROM pages WHERE lon_e6 IS NOT NULL"""


@query("page_zorder_keys", oracle=_page_zorder_sql)
def _q_page_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order storage-layout key per geo page — the Iceberg
    sort_order z-order(lon, lat) analogue used to cluster data files so
    bbox scans prune file ranges. Pure shifts/masks, bit-identical on both
    engines (grid.zorder_col / zorder_sql)."""
    g = flagship.geo_pages(pages_from_documents(spark, sf_dir))
    return g.select("page_id",
                    grid.zorder_col(F.col("lon_e6"), F.col("lat_e6"))
                    .alias("zkey"))


def _skewed_tile_counts_sql() -> str:
    return f"""{_PAGES_CTE}
SELECT CAST({_TILE_SQL} AS BIGINT) AS tile_id, COUNT(*) AS n_pages,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       CAST(MAX(LENGTH(text)) AS BIGINT) AS max_chars
FROM pages WHERE lon_e6 IS NOT NULL
GROUP BY 1"""


@query("skewed_tile_counts_salted", oracle=_skewed_tile_counts_sql)
def _q_skewed_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over the skewed per-tile page
    distribution (north rule: dense urban cells dominate their shuffle
    partition). The ORACLE is the plain single-phase GROUP BY — so the
    driver hash-checks the salting invariant salted == unsalted
    end-to-end, not just in pytest."""
    g = flagship.geo_pages(pages_from_documents(spark, sf_dir))
    t = (g.withColumn("chars", F.length("text_extracted").cast("long"))
         .withColumn("tile_id", tile_op.tile_col(
             F.col("lon_e6"), F.col("lat_e6"), TILE_RES)))
    out = skew.salted_agg(
        t, ["tile_id"],
        {"n_pages": ("*", F.count, F.sum),
         "total_chars": ("chars", F.sum, F.sum),
         "max_chars": ("chars", F.max, F.max)},
        n_salts=8, id_col="page_id")
    return out.select("tile_id", F.col("n_pages").cast("long").alias("n_pages"),
                      F.col("total_chars").cast("long").alias("total_chars"),
                      F.col("max_chars").cast("long").alias("max_chars"))


def _salted_tile_join_sql() -> str:
    return f"""{_PAGES_CTE}
SELECT CAST(({_TILE_SQL}) % 7 AS BIGINT)
         AS region_code,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
FROM pages WHERE lon_e6 IS NOT NULL
  AND ({_TILE_SQL}) % 3 <> 1
GROUP BY 1"""


@query("salted_tile_join", oracle=_salted_tile_join_sql)
def _q_salted_tile_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join (r4): hot-tile pages joined to a tile
    dimension (a deterministic subset carrying region codes) with the
    fact side salted 8 ways and the dim replicated — the manual AQE
    skew-join split for paths where AQE cannot apply. The ORACLE is the
    PLAIN join + rollup, so salted ≡ unsalted end-to-end is the driver
    check itself."""
    g = flagship.geo_pages(pages_from_documents(spark, sf_dir))
    fact = (g.withColumn("chars", F.length("text_extracted").cast("long"))
            .withColumn("tile_id", tile_op.tile_col(
                F.col("lon_e6"), F.col("lat_e6"), TILE_RES)))
    dim = (fact.select("tile_id").distinct()
           .where(F.col("tile_id") % 3 != 1)
           .withColumn("region_code", (F.col("tile_id") % 7).cast("long")))
    j = skew.salted_join(fact, dim, "tile_id", n_salts=8, id_col="page_id")
    return (j.groupBy("region_code")
            .agg(F.count("*").cast("long").alias("n_pages"),
                 F.sum("chars").cast("long").alias("total_chars")))


def _tile_lod_sql() -> str:
    return " UNION ALL ".join(
        f"""({_PAGES_CTE}
SELECT CAST({r} AS BIGINT) AS res,
       CAST({grid.cell_sql("lon_e6", "lat_e6", r)} AS BIGINT) AS cell,
       COUNT(*) AS n_pages
FROM pages WHERE lon_e6 IS NOT NULL GROUP BY 2)"""
        for r in LOD_LEVELS)


@query("tile_lod_rollup", oracle=_tile_lod_sql)
def _q_tile_lod(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _geo_points(spark, sf_dir)
    # persisted: consumed by the res-7 output branch AND the level chain
    base = (g.withColumn("tile_id", tile_op.tile_col(
        F.col("lon_e6"), F.col("lat_e6"), LOD_LEVELS[0]))
        .groupBy("tile_id").agg(F.count("*").alias("n_pages"))
        .persist())
    lods = tile_op.lod_rollup(base, "tile_id", LOD_LEVELS[0],
                              LOD_LEVELS[0] - LOD_LEVELS[-1],
                              [F.sum("n_pages").alias("n_pages")])
    out = base.select(F.lit(LOD_LEVELS[0]).cast("long").alias("res"),
                      F.col("tile_id").alias("cell"), "n_pages")
    for r in LOD_LEVELS[1:]:
        out = out.unionByName(
            lods[r].select(F.lit(r).cast("long").alias("res"), "cell", "n_pages"))
    return out


SURFACE_PRIORITY = ["water", "builtup", "veg"]


def _overlay_combos_oracle_sql() -> str:
    return overlay.overlay_rect_layers_sql(
        raster.zone_bounds_values_sql(), _rect_layer_rows_sql(),
        list(layers.RECT_LAYER_NAMES))


@query("zone_surface_fractions",
       oracle=lambda: overlay.surface_fractions_sql(
           _overlay_combos_oracle_sql(), raster.zone_bounds_values_sql(),
           list(layers.RECT_LAYER_NAMES), SURFACE_PRIORITY))
def _q_surface_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone overlay of synthetic land-cover rect layers → priority-
    resolved exclusive fractions. Oracled: the sorted-edge atom grid is
    reconstructed in DuckDB (overlay.overlay_rect_layers_sql)."""
    zones = raster.zone_bounds_df(spark)
    combos = overlay.overlay_rect_layers(
        zones, layers.rect_layers_df(spark), list(layers.RECT_LAYER_NAMES))
    return overlay.surface_fractions(combos, zones,
                                     list(layers.RECT_LAYER_NAMES),
                                     SURFACE_PRIORITY)


@query("zone_overlay_combos", oracle=_overlay_combos_oracle_sql)
def _q_overlay_combos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw overlay atoms rolled up per (zone, layer-combo) — the
    smallestCommunGeometry analogue itself, hash-checked at the combo level."""
    zones = raster.zone_bounds_df(spark)
    return overlay.overlay_rect_layers(
        zones, layers.rect_layers_df(spark), list(layers.RECT_LAYER_NAMES))


@query("zone_ground_layer",
       oracle=lambda: overlay.ground_layer_sql(
           raster.zone_bounds_values_sql(), _rect_layer_rows_sql(),
           SURFACE_PRIORITY))
def _q_ground_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groundLayer analogue: per-atom priority winner via an explicit
    first_value-style window over the DataFrame-native sorted-edge atom grid
    (no Arrow UDF), rolled up per (zone, winning layer)."""
    return overlay.ground_layer(
        raster.zone_bounds_df(spark), layers.rect_layers_df(spark),
        list(layers.RECT_LAYER_NAMES), SURFACE_PRIORITY)


DIFF_MINUEND, DIFF_SUBTRAHEND = "veg", "water"


@query("zone_layer_difference",
       oracle=lambda: overlay.layer_difference_sql(
           _overlay_combos_oracle_sql(), list(layers.RECT_LAYER_NAMES),
           DIFF_MINUEND, DIFF_SUBTRAHEND))
def _q_layer_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric difference (veg MINUS water) per zone as combo-bitmask
    algebra over the exact overlay atoms."""
    zones = raster.zone_bounds_df(spark)
    combos = overlay.overlay_rect_layers(
        zones, layers.rect_layers_df(spark), list(layers.RECT_LAYER_NAMES))
    return overlay.layer_difference(combos, list(layers.RECT_LAYER_NAMES),
                                    DIFF_MINUEND, DIFF_SUBTRAHEND)


DISSOLVE_BUFFER_E6 = 25_000


def _page_components_sql() -> str:
    return components.connected_components_sql(_page_points_sql(),
                                                CC_RADIUS_E6)


@query("component_dissolve",
       oracle=lambda: overlay.dissolve_components_sql(
           f"SELECT page_id, component FROM ({_page_components_sql()})",
           _page_points_sql(), DISSOLVE_BUFFER_E6))
def _q_component_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE blocks dissolve: CC labels joined back to points, exact
    union-of-buffered-squares area per component (no hull overstatement).
    Oracled end-to-end: recursive-CTE CC + per-component atom grid."""
    pts = _geo_points(spark, sf_dir)
    edges = components.proximity_edges(pts, CC_RADIUS_E6)
    cc = components.connected_components(pts.select("page_id"), edges,
                                         key="page_id")
    labeled = pts.join(cc.select("page_id", "component"), "page_id")
    return (overlay.dissolve_components(labeled, DISSOLVE_BUFFER_E6,
                                        with_hull=False)
            .drop("hull_area"))


def _poly_pair_areas_sql() -> str:
    return polygon_overlay.convex_pair_areas_sql(
        layers.poly_zone_vertices_values_sql(),
        layers.poly_feature_vertices_values_sql())


@query("poly_pair_intersections", oracle=_poly_pair_areas_sql)
def _q_poly_pair_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-POLYGON overlay: exact convex zone × layer-feature intersection
    areas as a pure relational program (candidate points → pseudo-angle sort
    → cumulative shoelace); bit-deterministic vs the DuckDB oracle."""
    return polygon_overlay.convex_pair_areas(
        layers.poly_zone_vertices_df(spark),
        layers.poly_feature_vertices_df(spark))


@query("nc_poly_pair_intersections",
       oracle=lambda: polygon_overlay.simple_poly_pair_areas_sql(
           layers.nc_zone_parts_values_sql(),
           layers.poly_feature_vertices_values_sql()))
def _q_nc_poly_pair_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-convex zone overlay: concave simple-polygon zones × convex layer
    features via grouped Sutherland–Hodgman; oracle = relational sum over
    the fixture's convex decomposition."""
    return polygon_overlay.simple_poly_pair_areas(
        layers.nc_zone_ring_df(spark),
        layers.poly_feature_vertices_df(spark))


def _poly_layer_cover_sql() -> str:
    """The one oracle of the polygon, WKB and GeoJSON layer covers: each
    front door must recover the same integer vertex layer."""
    return polygon_overlay.layer_cover_sql(
        _poly_pair_areas_sql(), layers.poly_zone_vertices_values_sql())


@query("poly_zone_layer_cover", oracle=_poly_layer_cover_sql)
def _q_poly_layer_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = polygon_overlay.convex_pair_areas(
        layers.poly_zone_vertices_df(spark),
        layers.poly_feature_vertices_df(spark))
    return polygon_overlay.layer_cover(pairs,
                                       layers.poly_zone_vertices_df(spark))


WAY_SIZE = 5


@query("way_assembly",
       oracle=lambda: assembly.assemble_rings_sql(_way_parts_sql()))
def _q_way_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ways→rings assembly: ordered synthetic parts (LCG points, WAY_SIZE
    parts per way) grouped + sorted + ring-closed; exact shoelace and
    floor-perimeter metrics."""
    return assembly.assemble_rings(_way_parts_df(spark, sf_dir))


def _way_parts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multipliers must exceed the 2^31-1 modulus so the hash wraps from
    # doc_id=2 on — with small multipliers (48271) and fixture-scale doc_ids
    # the modulus never engages, x/y stay LINEAR in doc_id, and every way
    # is a degenerate zero-area collinear chain
    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long"))
    return d.select(
        (F.col("doc_id") / WAY_SIZE).cast("long").alias("way_id"),
        (F.col("doc_id") % WAY_SIZE).alias("seq"),
        ((F.col("doc_id") * 1103515245 + 12345) % 2147483647 % 360000001
         - 180000000).alias("x"),
        ((F.col("doc_id") * 1588635695 + 7) % 2147483647 % 140000001
         - 70000000).alias("y"))


@query("way_size_properties",
       oracle=lambda: assembly.size_properties_sql(_way_parts_sql()))
def _q_way_size_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size/form properties with true CONCAVITY (ring area / convex-hull
    area) — hull area via the relational hull-edge predicate."""
    return assembly.size_properties(_way_parts_df(spark, sf_dir))


def _way_parts_sql() -> str:
    return f"""SELECT CAST(doc_id // {WAY_SIZE} AS BIGINT) AS way_id,
       CAST(doc_id % {WAY_SIZE} AS BIGINT) AS seq,
       CAST((doc_id * 1103515245 + 12345) % 2147483647 % 360000001 - 180000000 AS BIGINT) AS x,
       CAST((doc_id * 1588635695 + 7) % 2147483647 % 140000001 - 70000000 AS BIGINT) AS y
FROM documents"""


def _smbr_oracle_sql() -> str:
    comp_pts_sql = (f"SELECT c.component, p.page_id AS pid,"
                    f" p.lon_e6 AS x, p.lat_e6 AS y"
                    f" FROM ({_page_components_sql()}) c"
                    f" JOIN ({_page_points_sql()}) p USING (page_id)")
    zones = _page_points_sql(f"page_id, CAST({_ZONE_SQL} AS BIGINT) AS zone_id")
    rows_sql = f"""WITH wts AS ({smbr.smbr_sql(comp_pts_sql)}),
zs AS ({zones})
SELECT zs.zone_id, wts.bin, wts.w FROM wts JOIN zs ON zs.page_id = wts.component"""
    return dist_op.characterize_distribution_sql(
        dist_op.direction_distribution_sql(rows_sql, "zone_id", "bin", "w",
                                           n_bins=smbr.N_BINS),
        "zone_id", [f"b{i}" for i in range(smbr.N_BINS)])


@query("smbr_direction_distribution", oracle=_smbr_oracle_sql)
def _q_smbr_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMBR-azimuth direction distribution: per page-block component the
    exact minimum-area enclosing rectangle (pair-direction scan), its two
    side lengths summed into 30-degree azimuth bins per zone, then Perkins
    characterization."""
    zp = _zoned_pages(spark, sf_dir)
    pts = zp.select("page_id", "lon_e6", "lat_e6")
    edges = components.proximity_edges(pts, CC_RADIUS_E6)
    cc = components.connected_components(pts.select("page_id"), edges,
                                         key="page_id")
    comp_pts = (pts.join(cc.select("page_id", "component"), "page_id")
                .select("component", F.col("page_id").alias("pid"),
                        F.col("lon_e6").alias("x"), F.col("lat_e6").alias("y")))
    weights = smbr.smbr_direction_weights(smbr.smbr_per_component(comp_pts))
    zone_of = zp.select(F.col("page_id").alias("component"), "zone_id")
    rows = weights.join(zone_of, "component")
    d = dist_op.direction_distribution(rows, "zone_id", F.col("bin"), "w",
                                       n_bins=smbr.N_BINS)
    return dist_op.characterize_distribution(
        d, "zone_id", [f"b{i}" for i in range(smbr.N_BINS)])


FACADE_BUFFER_E6 = 25_000


def _facade_pages_sql() -> str:
    return _geo_rows_sql("page_id", "lon_e6", "lat_e6",
                         "LENGTH(text) AS chars")


def _facade_distribution_sql() -> str:
    return facade.facade_area_distribution_sql(
        _facade_pages_sql(), raster.zone_bounds_values_sql(), FACADE_BUFFER_E6)


@query("facade_area_distribution", oracle=_facade_distribution_sql)
def _q_facade_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """projectedFacadeAreaDistribution analogue: party-wall pairwise
    intersect → free-facade interval union → segment explode → layer clip →
    2-D (direction × layer) pivot per zone."""
    return facade.facade_area_distribution(
        _zoned_pages(spark, sf_dir), raster.zone_bounds_df(spark),
        FACADE_BUFFER_E6)


@query("frontal_area_index",
       oracle=lambda: facade.frontal_area_index_sql(
           _facade_distribution_sql(), raster.zone_bounds_values_sql()))
def _q_frontal_area_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    fac = facade.facade_area_distribution(
        _zoned_pages(spark, sf_dir), raster.zone_bounds_df(spark),
        FACADE_BUFFER_E6)
    return facade.frontal_area_index(fac, raster.zone_bounds_df(spark))


@query("roof_area_distribution_exact",
       oracle=lambda: facade.roof_layer_distribution_exact_sql(
           _facade_pages_sql(), FACADE_BUFFER_E6))
def _q_roof_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """roofFractionDistributionExact analogue: overlap-free per-layer roof
    area via the per-zone atom arrangement, tallest-wins attribution."""
    return facade.roof_layer_distribution_exact(
        _zoned_pages(spark, sf_dir), FACADE_BUFFER_E6)


@query("theta_contact_pairs",
       oracle=lambda: facade.theta_contact_pairs_sql(
           _facade_pages_sql(), FACADE_BUFFER_E6))
def _q_theta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta self-join on attribute order: spatial candidates + h_a >= h_b."""
    return facade.theta_contact_pairs(_zoned_pages(spark, sf_dir),
                                      FACADE_BUFFER_E6)


@query("media_metadata", oracle=media.media_metadata_oracle_sql)
def _q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize media binaries, then decode metadata FROM THE BYTES —
    the oracle recomputes the same fields from doc_id arithmetic."""
    return media.decode_metadata(media.synth_media(_docs(spark, sf_dir)))


@query("media_ahash_dupes", oracle=media.ahash_dup_pairs_sql, window=True)
def _q_media_ahash_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup (r4): planted near-duplicate images
    (variant groups re-encode one base frame with a pixel perturbation) →
    average-hash decoded FROM THE BYTES (Arrow batch, 16 payload bytes per
    row) → banded-hamming self-join, exact recall at max_hamming=3 by
    pigeonhole. The oracle recomputes pixels arithmetically and never sees
    bytes, so the decode path itself is hash-gated — multimodal dedup with
    the SimHash plan shape."""
    m = media.synth_media_variants(_docs(spark, sf_dir))
    return media.ahash_dup_pairs(media.image_ahash(m))


@query("warc_roundtrip", oracle=warc_src.warc_roundtrip_sql, window=True)
def _q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-segment framing roundtrip (r4): docs packed into length-framed
    multi-record blobs (one per 16 docs), then split back out by honoring
    Content-Length — the actual first operation of a Common-Crawl-scale
    ingest. The oracle recomputes every parsed field arithmetically and
    never touches a blob, so the byte-framing parser itself is
    hash-gated."""
    return warc_src.parse_warc_segments(
        warc_src.synth_warc_segments(_docs(spark, sf_dir)))


AUDIO_QUERY_DOC, AUDIO_Q_FROM, AUDIO_Q_TO = 47, 2, 10  # doc 47 has 24 frames


@query("audio_snippet_match", window=True,
       oracle=lambda: audio_op.snippet_match_sql(
           AUDIO_QUERY_DOC, AUDIO_Q_FROM, AUDIO_Q_TO))
def _q_audio_snippet_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-constellation retrieval (r4): Shazam-shape landmark hashes
    ((peak_f, peak_{f+dt}, dt) per spectral window) decoded FROM THE BYTES
    in one Arrow pass; a query snippet's landmarks broadcast and matches
    vote per (doc, time offset). The oracle recomputes peaks from the md5
    payload arithmetic — decode, hashing AND alignment all hash-gated."""
    lm = audio_op.audio_landmarks(
        media.synth_media(_docs(spark, sf_dir))).persist()
    return audio_op.snippet_match(lm, AUDIO_QUERY_DOC,
                                  AUDIO_Q_FROM, AUDIO_Q_TO)


@query("zone_rect_pair_areas",
       oracle=lambda: raster.intersect_pair_areas_sql(
           raster.zone_bounds_values_sql(),
           "SELECT rect_id, lon0, lat0, lon1, lat1 FROM ("
           + layers.rect_layers_values_sql() + ") rl"))
def _q_pair_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    return raster.intersect_pair_areas(
        raster.zone_bounds_df(spark),
        layers.rect_layers_with_id_df(spark).drop("layer"))


KNN_TOPK = 3
# fixture quality scores span 0.14-0.48 (median 0.34): 0.35 keeps ~45% so
# the curation composites exercise real survivors at every SF (0.5 kept ~0)
CURATE_MIN_QUALITY = 0.35


@query("knn_topk_pages",
       oracle=lambda: knn.nearest_neighbors_topk_sql(
           _page_points_sql(), _page_points_sql(_NB_POINT_COLS),
           KNN_RADIUS_E6, KNN_TOPK))
def _q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _geo_points(spark, sf_dir)
    nbs = pts.select(F.col("page_id").alias("nb_id"), "lon_e6", "lat_e6")
    return knn.nearest_neighbors_topk(pts, nbs, KNN_RADIUS_E6, KNN_TOPK)


def _curated_documents_oracle_sql() -> str:
    m = text_fn.text_metrics_sql("text")
    return f"""WITH m AS (
  SELECT doc_id AS id, lang, {m['n_tokens']} AS n_tokens,
         {m['quality']} AS quality, {m['fingerprint']} AS fingerprint
  FROM documents),
kept AS (SELECT * FROM m WHERE quality >= {CURATE_MIN_QUALITY}),
canon AS (SELECT fingerprint, MIN(id) AS id, COUNT(*) AS n_copies
          FROM kept GROUP BY fingerprint)
SELECT k.id, k.lang, k.n_tokens, k.quality, k.fingerprint,
       CAST(c.n_copies AS BIGINT) AS n_copies
FROM kept k JOIN canon c ON c.id = k.id"""


@query("curated_documents", oracle=_curated_documents_oracle_sql)
def _q_curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation pipeline: quality-filter -> exact-dedup (keep the
    canonical copy) -> typed metadata projection. The end-to-end shape of a
    training-data prep job, all oracle-checked."""
    docs = _docs(spark, sf_dir)
    cols = text_fn.text_metrics_cols(F.col("text"))
    m = docs.select(F.col("doc_id").alias("id"), "lang",
                    cols["n_tokens"].alias("n_tokens"),
                    cols["quality"].alias("quality"),
                    cols["fingerprint"].alias("fingerprint"))
    kept = m.where(F.col("quality") >= CURATE_MIN_QUALITY)
    canon = (kept.groupBy("fingerprint")
             .agg(F.min("id").alias("id"), F.count("*").alias("n_copies")))
    return (kept.join(canon.select("id", "n_copies"), "id")
            .select("id", "lang", "n_tokens", "quality", "fingerprint",
                    F.col("n_copies").cast("long").alias("n_copies")))


@query("embedding_dup_clusters",
       oracle=lambda: similarity.embedding_dup_clusters_sql(EMB_DUP_T))
def _q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding dedup end-game: banded-LSH pairs → CC → canonical."""
    return similarity.embedding_dup_clusters(_emb(spark, sf_dir), EMB_DUP_T)


def _curated_near_dedup_oracle_sql() -> str:
    m = text_fn.text_metrics_sql("text")
    kept = (f"(SELECT doc_id, text FROM documents"
            f" WHERE {m['quality']} >= {CURATE_MIN_QUALITY})")
    cc = dedup.near_dup_clusters_sql(threshold=MINHASH_T, doc_rel=kept)
    return (f"SELECT doc_id, component_size FROM ({cc})"
            f" WHERE doc_id = component")


@query("curated_near_dedup", oracle=_curated_near_dedup_oracle_sql)
def _q_curated_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation with NEAR-dup removal: quality-filter → MinHash-LSH near-dup
    clusters over the survivors → keep only each cluster's canonical doc.
    The fuzzy-dedup training-data prep composite (exact-dedup composite is
    curated_documents)."""
    docs = _docs(spark, sf_dir)
    cols = text_fn.text_metrics_cols(F.col("text"))
    kept = (docs.select("doc_id", "text", cols["quality"].alias("quality"))
            .where(F.col("quality") >= CURATE_MIN_QUALITY))
    cc = dedup.near_dup_clusters(kept.select("doc_id", "text"),
                                 threshold=MINHASH_T)
    return (cc.where(F.col("doc_id") == F.col("component"))
            .select("doc_id", "component_size"))


# document-quality triage forest: literal splits over the text metrics
# (train offline, inline the model — same treatment as RF_TREES/IVF)
DOC_TREES = [
    {"feature": "quality", "thr": 0.30,
     "lo": {"feature": "n_tokens", "thr": 40.0,
            "lo": {"cls": "discard"}, "hi": {"cls": "borderline"}},
     "hi": {"feature": "n_tokens", "thr": 20.0,
            "lo": {"cls": "borderline"}, "hi": {"cls": "keep"}}},
    {"feature": "n_tokens", "thr": 10.0,
     "lo": {"cls": "discard"},
     "hi": {"feature": "quality", "thr": 0.25,
            "lo": {"cls": "borderline"}, "hi": {"cls": "keep"}}},
    {"feature": "quality", "thr": 0.4,
     "lo": {"feature": "quality", "thr": 0.2,
            "lo": {"cls": "discard"}, "hi": {"cls": "borderline"}},
     "hi": {"cls": "keep"}},
]


def _doc_quality_labels_sql() -> str:
    m = text_fn.text_metrics_sql("text")
    return classify.classify_tree_ensemble_sql(
        f"""SELECT doc_id AS id,
       {m['quality']} AS quality,
       CAST({m['n_tokens']} AS DOUBLE) AS n_tokens
FROM documents""",
        ["id"], DOC_TREES)


@query("doc_quality_labels", oracle=_doc_quality_labels_sql)
def _q_doc_quality_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document training-data triage (keep/borderline/discard): the
    deterministic tree-ensemble classifier applied to doc text metrics."""
    docs = _docs(spark, sf_dir)
    cols = text_fn.text_metrics_cols(F.col("text"))
    feats = docs.select(F.col("doc_id").alias("id"),
                        cols["quality"].alias("quality"),
                        cols["n_tokens"].cast("double").alias("n_tokens"))
    return classify.classify_tree_ensemble(feats, ["id"], DOC_TREES)


PACK_BUDGET, PACK_SHARDS = 512, 8
SAMPLE_QUOTA = 30
DOMAIN_BLOCKED = ["src3", "src7", "src19"]
DOMAIN_CAP = 12


@query("repetition_metrics", oracle=repetition.repetition_metrics_sql)
def _q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition metrics (dup-token /
    dup-bigram / top-bigram fractions)."""
    return repetition.repetition_metrics(_docs(spark, sf_dir))


@query("packed_sequences",
       oracle=lambda: curation.pack_sequences_sql(
           "documents", text_fn.text_metrics_sql("text")["n_tokens"],
           PACK_BUDGET, PACK_SHARDS))
def _q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: hash-sharded running token sums
    cut every PACK_BUDGET tokens, rolled up per (shard, chunk)."""
    docs = _docs(spark, sf_dir)
    cols = text_fn.text_metrics_cols(F.col("text"))
    m = docs.select("doc_id", cols["n_tokens"].alias("n_tokens"))
    return curation.pack_sequences(m, "n_tokens", PACK_BUDGET, PACK_SHARDS)


@query("stratified_sample_lang",
       oracle=lambda: curation.stratified_sample_sql(
           "documents", "lang", SAMPLE_QUOTA))
def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota sample (data-mixture balancing)."""
    return curation.stratified_sample(_docs(spark, sf_dir), "lang",
                                      SAMPLE_QUOTA)


BENCH_QUOTA = 10


@query("contamination_hits",
       oracle=lambda: contamination.contamination_hits_sql(
           bench_quota=BENCH_QUOTA))
def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing token 5-grams with
    the (deterministically carved) benchmark set, via broadcast n-gram-hash
    semi-join."""
    return contamination.contamination_hits(_docs(spark, sf_dir),
                                            bench_quota=BENCH_QUOTA)


@query("domain_curation",
       oracle=lambda: curation.domain_curation_sql(
           "documents", text_fn.text_metrics_sql("text")["quality"],
           CURATE_MIN_QUALITY, DOMAIN_BLOCKED, DOMAIN_CAP))
def _q_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist anti-join → quality gate → per-domain hash-rank cap."""
    docs = _docs(spark, sf_dir)
    cols = text_fn.text_metrics_cols(F.col("text"))
    m = docs.select("doc_id", "source", cols["quality"].alias("quality"))
    return curation.domain_curation(m, "quality", CURATE_MIN_QUALITY,
                                    DOMAIN_BLOCKED, DOMAIN_CAP)


def _rect_zone_assignment_sql() -> str:
    zone = layers.zone_case_sql(
        "CAST(((lon0 + lon1) - (lon0 + lon1) % 2) / 2 AS BIGINT)",
        "CAST(((lat0 + lat1) - (lat0 + lat1) % 2) / 2 AS BIGINT)")
    return f"""WITH rl AS ({layers.rect_layers_values_sql()})
SELECT rect_id,
       CAST({zone} AS BIGINT) AS zone_id,
       layer
FROM rl"""


@query("rect_zone_assignment", oracle=_rect_zone_assignment_sql)
def _q_rect_zone_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spatialJoin mode A with POLYGON sources: each land-cover rect joins
    by its point-on-surface (= center) through the real covering + PIP
    machinery."""
    rects = layers.rect_layers_with_id_df(spark)
    center = lambda a, b: F.expr(
        f"CAST((({a} + {b}) - ({a} + {b}) % 2) / 2 AS BIGINT)")
    pts = rects.select("rect_id", "layer",
                       center("lon0", "lon1").alias("lon_e6"),
                       center("lat0", "lat1").alias("lat_e6"))
    return spatial_join_points(pts, layers.climate_zones(), key="rect_id",
                               passthrough=["layer"]
                               ).select("rect_id", "zone_id", "layer")


@query("road_zone_stats",
       oracle=lambda: roads.road_zone_stats_sql(
           roads.roads_values_sql(), raster.zone_bounds_values_sql()))
def _q_road_zone_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roads.road_zone_stats(roads.roads_df(spark),
                                 raster.zone_bounds_df(spark))


@query("zone_geometry_props", oracle=geom_props.geometry_props_oracle_sql)
def _q_zone_geometry_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    return geom_props.with_geometry_props(
        geom_props.zone_vertices_df(spark)).drop("vertices")


@query("event_props_rollup", oracle=windows.props_rollup_sql, window=True)
def _q_event_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.props_rollup(spark.read.parquet(f"{sf_dir}/events.parquet"))


ASOF_FEED_MOD = 17
ASOF_TOL_US = 3_600_000_000  # 1 hour staleness tolerance
INTERVAL_DUR_US = 1_800_000_000  # 30-minute validity intervals


def _event_interval_join_sql() -> str:
    return asof.interval_join_sql(
        "SELECT event_id, user_id, ts FROM events",
        f"""SELECT event_id AS interval_id, user_id,
       epoch_us(ts) AS start_us,
       epoch_us(ts) + {INTERVAL_DUR_US} AS end_us
FROM events WHERE event_id % {ASOF_FEED_MOD} = 0""",
        key="user_id", left_cols=("event_id", "user_id"))


@query("event_interval_join", oracle=_event_interval_join_sql)
def _q_event_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events × 30-min per-user validity intervals (opened by
    every 17th event) via bucket-explode + equi-join + exact refine; the
    oracle is DuckDB's plain inequality join."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = (ev.where(F.col("event_id") % ASOF_FEED_MOD == 0)
          .select(F.col("event_id").alias("interval_id"), "user_id",
                  us.alias("start_us"),
                  (us + F.lit(INTERVAL_DUR_US)).alias("end_us")))
    left = ev.select("event_id", "user_id", "ts")
    return (asof.interval_join(left, iv, key="user_id",
                               bucket_us=INTERVAL_DUR_US)
            .select("event_id", "user_id", "interval_id", "offset_us"))


@query("event_asof_value",
       oracle=lambda: asof.as_of_join_sql(
           "SELECT event_id, user_id, ts, event_type FROM events",
           f"SELECT user_id, ts, value FROM events"
           f" WHERE event_id % {ASOF_FEED_MOD} = 0",
           key="user_id", left_cols=("event_id", "user_id", "event_type"),
           right_vals=("value",), tolerance_us=ASOF_TOL_US))
def _q_event_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event picks up the latest prior feed value for its
    user (feed = every 17th event), NULL when none or staler than 1 h.
    Engine: union-and-window carry-forward; oracle: DuckDB native ASOF
    LEFT JOIN — two independent algorithms, hash-identical."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    feed = (ev.where(F.col("event_id") % ASOF_FEED_MOD == 0)
            .select("user_id", "ts", "value"))
    left = ev.select("event_id", "user_id", "ts", "event_type")
    out = asof.as_of_join(left, feed, key="user_id",
                          right_vals=("value",), tolerance_us=ASOF_TOL_US)
    return out.select("event_id", "user_id", "event_type",
                      "asof_value", "asof_lag_us")


@query("near_dup_clusters",
       oracle=lambda: dedup.near_dup_clusters_sql(threshold=MINHASH_T))
def _q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.near_dup_clusters(_docs(spark, sf_dir), threshold=MINHASH_T)


STREAM_SPLIT_ID, RECRAWL_K, RECRAWL_OFF = 250, 50, 1_000_000


def _streaming_dedup_sql() -> str:
    return f"""WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {RECRAWL_OFF}, text FROM documents
  WHERE doc_id < {RECRAWL_K}),
f AS (SELECT doc_id, md5({text_fn.normalize_sql('text')}) AS fp
  FROM all_docs)
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM f GROUP BY fp"""


@query("streaming_incremental_dedup", oracle=_streaming_dedup_sql)
def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO real availableNow streaming runs through the incremental exact
    dedup (persistent fingerprint store, idempotent batch partitions):
    chunk1 = docs below STREAM_SPLIT_ID, chunk2 = the rest plus re-crawled
    copies of the first RECRAWL_K docs under offset ids. Because chunk ids
    are monotone across batches, the online greedy result equals the batch
    answer MIN(doc_id) per fingerprint — which is the DuckDB oracle, so the
    streaming state machinery itself is hash-checked by the driver."""
    import shutil
    import tempfile

    from pathlib import Path as _P

    from geoclimate_spark.streaming import dedup as stream_dedup

    tmp = _P(tempfile.mkdtemp(prefix="gc_stream_dedup_"))
    try:
        d = _docs(spark, sf_dir)
        recrawl = (d.where(F.col("doc_id") < RECRAWL_K)
                   .withColumn("doc_id", F.col("doc_id") + RECRAWL_OFF))
        c1 = d.where(F.col("doc_id") < STREAM_SPLIT_ID)
        c2 = d.where(F.col("doc_id") >= STREAM_SPLIT_ID).unionByName(recrawl)
        run = lambda: stream_dedup.run_incremental_dedup(
            spark, str(tmp / "in" / "*"), str(tmp / "store"), str(tmp / "out"),
            str(tmp / "ck"), schema=d.schema, mode="exact")
        c1.write.mode("overwrite").parquet(str(tmp / "in" / "chunk1"))
        run()
        c2.write.mode("overwrite").parquet(str(tmp / "in" / "chunk2"))
        run()
        # localCheckpoint detaches the result from the temp parquet files so
        # the scratch dir can be removed before the caller materializes
        return (stream_dedup.kept_documents(spark, str(tmp / "out"))
                .select(F.col("doc_id").cast("long").alias("doc_id"))
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _streaming_windowed_ingest_sql() -> str:
    return f"""{_PAGES_CTE}
SELECT CAST((warc_epoch - warc_epoch % 3600) AS BIGINT) AS window_start_s,
       CAST({_TILE_SQL} AS BIGINT) AS tile_id,
       COUNT(*) AS n_pages
FROM pages WHERE lon_e6 IS NOT NULL
GROUP BY 1, 2"""


@query("streaming_windowed_ingest", oracle=_streaming_windowed_ingest_sql)
def _q_streaming_windowed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO real availableNow streaming drains through the ingest path
    (file source, exactly-once checkpointed discovery) with the stateful
    event-time windowed tile aggregation: chunk 1 = pages below
    STREAM_SPLIT_ID, chunk 2 = the rest. Run 2 RESUMES the window state
    from run 1's checkpoint, so the final complete-mode table equals the
    batch answer over all pages — which is the DuckDB oracle: the
    streaming state recovery itself is hash-checked by the driver.

    The memory sink reuses the fixed name ``gc_windowed_ingest_sink``:
    a repeat invocation in the same session REPLACES the sink table (both
    drains are re-run from a fresh scratch dir, so the replacement is the
    same answer recomputed). Scratch input/checkpoint dirs are removed in
    the finally block; the returned frame is detached from them first."""
    import shutil
    import tempfile

    from pathlib import Path as _P

    from geoclimate_spark.streaming import ingest as stream_ingest

    tmp = _P(tempfile.mkdtemp(prefix="gc_stream_ingest_"))
    name = "gc_windowed_ingest_sink"
    try:
        pages = pages_from_documents(spark, sf_dir)
        (pages.where(F.col("page_id") < STREAM_SPLIT_ID)
         .write.mode("overwrite").parquet(str(tmp / "in" / "chunk1")))

        def drain():
            agg = stream_ingest.windowed_tile_counts(
                stream_ingest.stream_pages(spark, str(tmp / "in" / "*")))
            q = (agg.writeStream.format("memory").queryName(name)
                 .option("checkpointLocation", str(tmp / "ck"))
                 .outputMode("complete").trigger(availableNow=True).start())
            q.awaitTermination()

        drain()
        (pages.where(F.col("page_id") >= STREAM_SPLIT_ID)
         .write.mode("overwrite").parquet(str(tmp / "in" / "chunk2")))
        drain()
        # complete-mode memory sink rows live in the session, not in tmp —
        # localCheckpoint only pins them against a later sink-name reuse
        return (spark.table(name)
                .select(F.col("window_start").cast("long").alias("window_start_s"),
                        "tile_id", F.col("n_pages").cast("long").alias("n_pages"))
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _streaming_late_data_sql() -> str:
    return f"""{_PAGES_CTE}
, geo AS (
  SELECT page_id, warc_epoch,
         CAST((warc_epoch - warc_epoch % 3600) AS BIGINT) AS ws,
         CAST({_TILE_SQL} AS BIGINT)
           AS tile_id
  FROM pages WHERE lon_e6 IS NOT NULL
), wm AS (
  SELECT (SELECT MAX(warc_epoch) - 7200 FROM geo
          WHERE page_id < {STREAM_SPLIT_ID}) AS wm1,
         (SELECT MAX(warc_epoch) - 7200 FROM geo) AS wm2
), c1 AS (
  SELECT ws, tile_id, CAST(COUNT(*) AS BIGINT) AS n_pages FROM geo
  WHERE page_id < {STREAM_SPLIT_ID} GROUP BY 1, 2
), call AS (
  SELECT ws, tile_id, CAST(COUNT(*) AS BIGINT) AS n_pages FROM geo
  GROUP BY 1, 2
)
SELECT ws AS window_start_s, tile_id, n_pages FROM c1, wm
WHERE ws + 3600 <= wm.wm1
UNION ALL
SELECT ws AS window_start_s, tile_id, n_pages FROM call, wm
WHERE ws + 3600 > wm.wm1 AND ws + 3600 <= wm.wm2"""


@query("streaming_late_data", oracle=_streaming_late_data_sql)
def _q_streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermark semantics driver-proven: two single-file
    availableNow drains where chunk 2 (ids ≥ STREAM_SPLIT_ID) carries
    events across the WHOLE time range — most of its rows are LATE beyond
    the 2h watermark set by drain 1 and must be DROPPED. Final appended
    rows = windows finalized at drain 1 with chunk-1-only counts, plus
    windows finalized at drain 2 with combined counts; never-finalized
    tail windows stay unemitted. The oracle replays exactly that
    arithmetic (wm1/wm2 from the shared epoch derivation), so Spark's
    late-data drop rule itself is hash-gated. Each chunk is coalesced to
    ONE file so each drain is ONE micro-batch (watermark advances only
    between drains — deterministic)."""
    import shutil
    import tempfile

    from pathlib import Path as _P

    from geoclimate_spark.streaming import ingest as stream_ingest

    tmp = _P(tempfile.mkdtemp(prefix="gc_stream_late_"))
    try:
        pages = pages_from_documents(spark, sf_dir)
        (pages.where(F.col("page_id") < STREAM_SPLIT_ID).coalesce(1)
         .write.mode("overwrite").parquet(str(tmp / "in" / "chunk1")))

        def drain():
            agg = stream_ingest.windowed_tile_counts(
                stream_ingest.stream_pages(spark, str(tmp / "in" / "*")))
            q = (agg.writeStream.format("parquet")
                 .option("path", str(tmp / "out"))
                 .option("checkpointLocation", str(tmp / "ck"))
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination()

        drain()
        (pages.where(F.col("page_id") >= STREAM_SPLIT_ID).coalesce(1)
         .write.mode("overwrite").parquet(str(tmp / "in" / "chunk2")))
        drain()
        return (spark.read.parquet(str(tmp / "out"))
                .select(F.col("window_start").cast("long")
                        .alias("window_start_s"),
                        "tile_id",
                        F.col("n_pages").cast("long").alias("n_pages"))
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query("streaming_sessions",
       oracle=lambda: windows.emitted_sessions_sql(SESSION_GAP_SEC))
def _q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator driver-verified end-to-end:
    gap-threshold sessionization via ``applyInPandasWithState``
    (streaming/stateful.py) over TWO availableNow drains with a parquet
    sink. Chunk 1 = events before the event-time midpoint, chunk 2 = the
    rest, so every per-user open session at the chunk boundary lives ONLY
    in the checkpointed group state — drain 2 resumes it, and any session
    spanning the boundary hashes correctly only if state recovery works.
    Emitted rows over a fully drained input = the batch sessionization
    minus each user's final (still-open) session, which is the exact
    DuckDB oracle (windows.emitted_sessions_sql)."""
    import shutil
    import tempfile

    from pathlib import Path as _P

    from geoclimate_spark.streaming import stateful

    tmp = _P(tempfile.mkdtemp(prefix="gc_stream_sess_"))
    try:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
        mid = b["lo"] + (b["hi"] - b["lo"]) / 2
        (ev.where(F.col("ts") < F.lit(mid))
         .write.mode("overwrite").parquet(str(tmp / "in" / "chunk1")))

        def drain():
            sess = stateful.sessionize_stream(
                spark.readStream.schema(ev.schema).parquet(str(tmp / "in" / "*")),
                SESSION_GAP_SEC)
            q = (sess.writeStream.format("parquet")
                 .option("path", str(tmp / "out"))
                 .option("checkpointLocation", str(tmp / "ck"))
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination()

        drain()
        (ev.where(F.col("ts") >= F.lit(mid))
         .write.mode("overwrite").parquet(str(tmp / "in" / "chunk2")))
        drain()
        # detach from tmp before the finally-rmtree — the driver collects
        # AFTER this function returns (schema given: a zero-session drain
        # leaves only the sink's _spark_metadata, which cannot self-infer)
        return (spark.read.schema(stateful.OUT_SCHEMA)
                .parquet(str(tmp / "out"))
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ------------------------------------------------------ round-3 operators
RESIZE_W = RESIZE_H = 8
FRAME_EVERY_N = 5
WARM_LANGS = LANG_BUCKETS["latin"]
REL_SIZE = 8  # one relation (outer ring + hole) per 8 documents


@query("tile_boundary_distance",
       oracle=lambda: griddist.grid_distances_sql(
           layers.poly_zone_vertices_values_sql()))
def _q_tile_boundary_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gridDistances analogue: per grid cell with center inside a convex
    zone polygon, the exact distance to the zone boundary."""
    return griddist.grid_distances(layers.poly_zone_vertices_df(spark))


@query("zone_inverse_cover",
       oracle=lambda: overlay.inverse_cover_sql(
           _overlay_combos_oracle_sql(), raster.zone_bounds_values_sql(),
           list(layers.RECT_LAYER_NAMES)))
def _q_zone_inverse_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inversePolygons / sprawl cool-area analogue: per-zone complement of
    the union of all land-cover layers, from the shared overlay atoms."""
    zones = raster.zone_bounds_df(spark)
    combos = overlay.overlay_rect_layers(
        zones, layers.rect_layers_df(spark), list(layers.RECT_LAYER_NAMES))
    return overlay.inverse_cover(combos, zones, list(layers.RECT_LAYER_NAMES))


@query("roof_area_distribution_gable",
       oracle=lambda: facade.roof_area_distribution_gable_sql(
           _facade_pages_sql(), raster.zone_bounds_values_sql(),
           FACADE_BUFFER_E6))
def _q_roof_gable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """roofAreaDistribution gable model: vertical / non-vertical roof area
    per height band, party-wall corrected."""
    return facade.roof_area_distribution_gable(
        _zoned_pages(spark, sf_dir), raster.zone_bounds_df(spark),
        FACADE_BUFFER_E6)


@query("tile_neighbor_smoothing",
       oracle=lambda: tile_op.neighbor_smoothing_sql(
           _mode_lang_per_tile_sql(), TILE_RES, warm=WARM_LANGS))
def _q_tile_neighbor_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid 8-neighbor smoothing over the per-tile weighted lang mode."""
    base = _q_mode_lang_per_tile(spark, sf_dir)
    return tile_op.neighbor_smoothing(
        base.select("tile_id", "mode_lang", "mode_weight"),
        TILE_RES, warm=WARM_LANGS)


def _relation_parts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation fixture: one rect outer ring + one strictly-inside rect
    hole per REL_SIZE documents, all integer arithmetic (mirrored in
    :func:`_relation_parts_sql`)."""
    rel = (_docs(spark, sf_dir)
           .select((F.col("doc_id") / REL_SIZE).cast("long").alias("rel"))
           .distinct())
    p = lambda m, a: ((F.col("rel") * m + a) % 2147483647)
    rel = rel.select(
        "rel",
        (p(1103515245, 12345) % 300000001 - 150000000).alias("x0"),
        (p(1588635695, 7) % 120000001 - 60000000).alias("y0"),
        (p(784588716, 31) % 20000001 + 2000000).alias("w"),
        (p(1203248318, 97) % 16000001 + 2000000).alias("h"))
    q = lambda c: ((F.col(c) - F.col(c) % 4) / 4).cast("long")
    rel = rel.withColumn("qx", q("w")).withColumn("qy", q("h"))
    # constant 8-row corner fanout as a literal array explode (pure
    # codegen — no join node for a constant-shape expansion)
    corners = F.array(*[
        F.struct(F.lit(ring).cast("long").alias("ring_id"),
                 F.lit(role).alias("role"),
                 F.lit(seq).cast("long").alias("seq"),
                 F.lit(cx).cast("long").alias("cx"),
                 F.lit(cy).cast("long").alias("cy"))
        for ring, role in ((0, "outer"), (1, "inner"))
        for seq, (cx, cy) in enumerate([(0, 0), (1, 0), (1, 1), (0, 1)])])
    j = (rel.withColumn("_c", F.explode(corners))
         .select("rel", "x0", "y0", "w", "h", "qx", "qy",
                 F.col("_c.ring_id").alias("ring_id"),
                 F.col("_c.role").alias("role"),
                 F.col("_c.seq").alias("seq"),
                 F.col("_c.cx").alias("cx"),
                 F.col("_c.cy").alias("cy")))
    inner = F.col("ring_id") == 1
    x = (F.col("x0") + F.when(inner, F.col("qx")).otherwise(F.lit(0))
         + F.col("cx") * (F.col("w") - F.when(inner, 2 * F.col("qx"))
                          .otherwise(F.lit(0))))
    y = (F.col("y0") + F.when(inner, F.col("qy")).otherwise(F.lit(0))
         + F.col("cy") * (F.col("h") - F.when(inner, 2 * F.col("qy"))
                          .otherwise(F.lit(0))))
    return j.select(F.col("rel").alias("relation_id"), "ring_id", "role",
                    "seq", x.alias("x"), y.alias("y"))


def _relation_parts_sql() -> str:
    p = lambda m, a: f"((rel * {m} + {a}) % 2147483647)"
    return f"""WITH rel AS (
  SELECT DISTINCT CAST(doc_id // {REL_SIZE} AS BIGINT) AS rel FROM documents),
dims AS (SELECT rel,
       {p(1103515245, 12345)} % 300000001 - 150000000 AS x0,
       {p(1588635695, 7)} % 120000001 - 60000000 AS y0,
       {p(784588716, 31)} % 20000001 + 2000000 AS w,
       {p(1203248318, 97)} % 16000001 + 2000000 AS h
  FROM rel),
dims2 AS (SELECT *, CAST((w - w % 4) / 4 AS BIGINT) AS qx,
       CAST((h - h % 4) / 4 AS BIGINT) AS qy FROM dims),
corners AS (SELECT * FROM (VALUES
  (0, 'outer', 0, 0, 0), (0, 'outer', 1, 1, 0),
  (0, 'outer', 2, 1, 1), (0, 'outer', 3, 0, 1),
  (1, 'inner', 0, 0, 0), (1, 'inner', 1, 1, 0),
  (1, 'inner', 2, 1, 1), (1, 'inner', 3, 0, 1)
) AS c(ring_id, role, seq, cx, cy))
SELECT d.rel AS relation_id, CAST(c.ring_id AS BIGINT) AS ring_id, c.role,
       CAST(c.seq AS BIGINT) AS seq,
       CAST(d.x0 + CASE WHEN c.ring_id = 1 THEN d.qx ELSE 0 END
          + c.cx * (d.w - CASE WHEN c.ring_id = 1 THEN 2 * d.qx ELSE 0 END)
          AS BIGINT) AS x,
       CAST(d.y0 + CASE WHEN c.ring_id = 1 THEN d.qy ELSE 0 END
          + c.cy * (d.h - CASE WHEN c.ring_id = 1 THEN 2 * d.qy ELSE 0 END)
          AS BIGINT) AS y
FROM dims2 d CROSS JOIN corners c"""


@query("relation_assembly",
       oracle=lambda: assembly.assemble_relations_sql(_relation_parts_sql()))
def _q_relation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relations→multipolygons with holes: net area = |outer| − Σ|holes|."""
    return assembly.assemble_relations(_relation_parts_df(spark, sf_dir))


@query("road_traffic",
       oracle=lambda: roads.road_traffic_sql(roads.roads_values_sql()))
def _q_road_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roads.road_traffic(roads.roads_df(spark))


@query("road_zone_stats_zindex",
       oracle=lambda: roads.road_zone_stats_by_level_sql(
           roads.roads_values_sql(), raster.zone_bounds_values_sql()))
def _q_road_zone_stats_zindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roads.road_zone_stats_by_level(roads.roads_df(spark),
                                          raster.zone_bounds_df(spark))


def _ground_acoustic_sql() -> str:
    return noise.ground_acoustic_absorption_sql(
        raster.zone_bounds_values_sql(), _rect_layer_rows_sql(),
        SURFACE_PRIORITY)


@query("ground_acoustic_absorption", oracle=_ground_acoustic_sql)
def _q_ground_acoustic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return noise.ground_acoustic_absorption(
        raster.zone_bounds_df(spark), layers.rect_layers_df(spark),
        list(layers.RECT_LAYER_NAMES), SURFACE_PRIORITY)


@query("zone_mean_absorption",
       oracle=lambda: noise.zone_mean_absorption_sql(
           _ground_acoustic_sql(), raster.zone_bounds_values_sql()))
def _q_zone_mean_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = noise.ground_acoustic_absorption(
        raster.zone_bounds_df(spark), layers.rect_layers_df(spark),
        list(layers.RECT_LAYER_NAMES), SURFACE_PRIORITY)
    return noise.zone_mean_absorption(ab, raster.zone_bounds_df(spark))


@query("media_resize",
       oracle=lambda: media.media_resize_oracle_sql(RESIZE_W, RESIZE_H))
def _q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real pure-numpy resize codec over the synthetic format; stats are
    decoded FROM the resized bytes and hash-checked against doc_id
    arithmetic (every output pixel is pinned via the frame-0 sum)."""
    m = media.synth_media(_docs(spark, sf_dir))
    return media.resize_stats(media.image_resize(m, RESIZE_W, RESIZE_H))


@query("media_frame_sample",
       oracle=lambda: media.media_frame_sample_oracle_sql(FRAME_EVERY_N))
def _q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media.synth_media(_docs(spark, sf_dir))
    return media.sample_stats(media.frame_sample(m, FRAME_EVERY_N))


@query("page_components", oracle=_page_components_sql)
def _q_page_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _geo_points(spark, sf_dir)
    edges = components.proximity_edges(pts, CC_RADIUS_E6)
    return components.connected_components(pts.select("page_id"), edges,
                                           key="page_id")


# ------------------------------------------------------ round-4 operators
TRAIN_FEATS = ["area", "perim", "elong"]


@query("wkb_zone_layer_cover", oracle=_poly_layer_cover_sql)
def _q_wkb_layer_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKB real-geometry front door end-to-end: the convex feature layer
    arrives as OGC WKB bytes (with sub-snap jitter), is decoded + snapped to
    the integer grid executor-side (sources/wkb.py), and feeds the SAME
    relational overlay as poly_zone_layer_cover — the oracle never sees WKB,
    so a green hash proves decode∘snap recovers the exact vertex layer
    (`WorkflowGeoIndicatorsTest.groovy:67-73` load-real-polygons shape)."""
    vtx = wkb_src.decode_wkb_vertices(
        wkb_src.wkb_feature_layer_df(spark), id_col="feat_id",
        keep=("layer",), scale=1.0)
    # persist: the overlay consumes the vertex layer in 5 subtrees (both
    # PIP sides, crossings, bbox candidates, layer dim) — without it each
    # broadcast re-runs the whole decode
    fvtx = (vtx.where((F.col("part") == 0) & (F.col("ring") == 0))
            .select("feat_id", "layer", "seq", "x", "y").persist())
    pairs = polygon_overlay.convex_pair_areas(
        layers.poly_zone_vertices_df(spark), fvtx)
    return polygon_overlay.layer_cover(pairs,
                                       layers.poly_zone_vertices_df(spark))


@query("wkb_hole_net_areas",
       oracle=lambda: wkb_src.ring_net_areas_sql(
           wkb_src.multipoly_vertices_values_sql()))
def _q_wkb_hole_net_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKB MultiPolygon-with-holes decode driver-verified end-to-end:
    multi-part features with CW holes arrive as WKB bytes, decode + snap,
    then exact integer shoelace net areas (outer − holes) per feature —
    the ST_AREA-on-real-polygons parity op. The oracle computes from the
    integer vertex VALUES, so part/ring indexing and hole winding are all
    hash-gated."""
    vtx = wkb_src.decode_wkb_vertices(
        wkb_src.wkb_multipoly_layer_df(spark), id_col="feat_id", scale=1.0)
    return wkb_src.ring_net_areas(vtx)


@query("geojson_zone_layer_cover", oracle=_poly_layer_cover_sql, window=True)
def _q_geojson_layer_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON layer-reader front door end-to-end
    (`WorkflowGeoIndicatorsTest.groovy:67-73` load-city-GeoJSON analogue):
    the convex feature layer arrives as RFC 7946 Feature JSON strings
    (closed rings, sub-snap jitter), is parsed entirely JVM-side
    (sources/geojson.py — get_json_object + from_json + posexplode, zero
    Python), snapped, and feeds the SAME relational overlay as
    wkb_zone_layer_cover. The oracle computes from the planted integer
    vertex VALUES and never sees JSON."""
    vtx = geojson_src.feature_vertices(
        geojson_src.geojson_convex_features_df(spark),
        id_col="feat_id", props=("layer",), scale=1.0)
    fvtx = (vtx.where((F.col("part") == 0) & (F.col("ring") == 0))
            .select("feat_id", "layer", "seq", "x", "y").persist())
    pairs = polygon_overlay.convex_pair_areas(
        layers.poly_zone_vertices_df(spark), fvtx)
    return polygon_overlay.layer_cover(pairs,
                                       layers.poly_zone_vertices_df(spark))


WKB_LON0, WKB_LAT0 = -1.5534, 47.2173  # Nantes — the reference's e2e city


def _wkb_reprojected_metrics_sql() -> str:
    vtx = wkb_src.multipoly_vertices_values_sql()
    return (f"WITH a AS ({wkb_src.ring_net_areas_sql(vtx)}),\n"
            f"p AS ({wkb_src.ring_perimeters_sql(vtx)})\n"
            "SELECT a.feat_id, a.n_parts, a.n_holes, a.net_area2, p.perim_mm\n"
            "FROM a JOIN p USING (feat_id)")


@query("wkb_reprojected_metrics", oracle=_wkb_reprojected_metrics_sql,
       window=True)
def _q_wkb_reprojected_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRS reprojection front door end-to-end
    (`osm/InputDataLoading.groovy:74-78` ST_Transform-to-local-metric
    analogue): the multi-part/hole fixture arrives as EPSG:4326 lon/lat
    WKB about a Nantes origin, is reprojected to local equirectangular
    METERS inside the decode pass (snap AFTER transform), then two metric
    operators run on the result — exact integer shoelace net areas and
    millimeter facade perimeters. The oracle computes from the planted
    integer METRIC vertex VALUES and never sees a degree, so a green hash
    proves decode∘reproject∘snap recovers the exact metric layer."""
    vtx = wkb_src.decode_wkb_vertices(
        wkb_src.lonlat_multipoly_layer_df(spark, WKB_LON0, WKB_LAT0),
        id_col="feat_id", scale=1.0,
        origin=(WKB_LON0, WKB_LAT0)).persist()
    a = wkb_src.ring_net_areas(vtx)
    p = wkb_src.ring_perimeters(vtx)
    return a.join(p, "feat_id").select(
        "feat_id", "n_parts", "n_holes", "net_area2", "perim_mm")


@query("rf_trained_classification",
       oracle=lambda: classify.classify_tree_ensemble_sql(
           "SELECT bld_id, area, perim, elong FROM ("
           + train.synth_buildings_values_sql() + ")",
           ["bld_id"], train.trained_cls_forest()))
def _q_rf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RandomForest TRAIN + apply (`TypologyClassification.groovy:495-577`):
    collect the labeled fixture rows from the Spark table, fit the
    deterministic forest, apply it distributed. The oracle re-trains
    independently from the same fixture (train.trained_cls_forest) — a green
    hash proves the fit is replayable, not just the inference."""
    b = train.synth_buildings_df(spark)
    rows = train.collect_training(
        b.where(F.col("size_cls").isNotNull()), TRAIN_FEATS, "size_cls")
    trees = train.fit_forest(rows, TRAIN_FEATS, "size_cls",
                             n_trees=5, max_depth=4, min_leaf=5, mode="cls")
    return classify.classify_tree_ensemble(b, ["bld_id"], trees)


def _estimated_rollup_sql() -> str:
    """Oracle replays the INDEPENDENTLY re-trained regression forest (same
    deterministic fit, same fixture) as literal CASE trees, then the same
    patch + integer rollup."""
    trees = train.trained_reg_forest()
    pred = classify.regress_tree_ensemble_sql(
        "SELECT bld_id, area, perim, elong FROM b", ["bld_id"], trees)
    return f"""WITH b AS ({train.synth_buildings_values_sql()}),
p AS ({pred}),
patched AS (SELECT b.bld_id, b.zone_id,
       COALESCE(b.height, CAST(FLOOR(p.pred + 0.5) AS DOUBLE)) AS h,
       b.height IS NULL AS est
  FROM b JOIN p USING (bld_id))
SELECT zone_id, CAST(COUNT(*) AS BIGINT) AS n_bld,
       CAST(SUM(CASE WHEN est THEN 1 ELSE 0 END) AS BIGINT) AS n_estimated,
       CAST(SUM(CAST(h AS BIGINT)) AS BIGINT) AS total_height,
       CAST(MAX(CAST(h AS BIGINT)) AS BIGINT) AS max_height
FROM patched GROUP BY zone_id"""


@query("estimated_attribute_rollup", oracle=_estimated_rollup_sql)
def _q_estimated_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Height-estimation loop (`WorkflowGeoIndicators.groovy:1342,1224`):
    regression forest fit on rows WITH height, missing heights patched with
    FLOOR(pred + 0.5), then a downstream indicator recomputed on the patched
    table (integer sums — exact)."""
    b = train.synth_buildings_df(spark)
    rows = train.collect_training(
        b.where(F.col("height").isNotNull()), TRAIN_FEATS, "height")
    trees = train.fit_forest(rows, TRAIN_FEATS, "height",
                             n_trees=5, max_depth=4, min_leaf=5, mode="reg")
    pred = classify.regress_tree_ensemble(b, ["bld_id"], trees, "pred")
    patched = (b.join(pred, "bld_id")
               .select("bld_id", "zone_id",
                       F.coalesce(F.col("height"),
                                  F.floor(F.col("pred") + F.lit(0.5))
                                  .cast("double")).alias("h"),
                       F.col("height").isNull().alias("est")))
    return (patched.groupBy("zone_id")
            .agg(F.count("*").cast("long").alias("n_bld"),
                 F.sum(F.col("est").cast("long")).alias("n_estimated"),
                 F.sum(F.col("h").cast("long")).alias("total_height"),
                 F.max(F.col("h").cast("long")).alias("max_height")))


@query("population_multilevel",
       oracle=lambda: pop_op.population_chain_sql(
           raster.raster_sql(),
           "SELECT rect_id AS bld_id, lon0, lat0, lon1, lat1 FROM ("
           + layers.rect_layers_values_sql() + ") WHERE layer = 'builtup'",
           raster.zone_bounds_values_sql(), pop_op.tiles_sql()))
def _q_population_multilevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-level population cascade (`PopulationIndicators.groovy:85-160`):
    raster values → builtup rects (per-cell built-area normalizer) → zones →
    res-5 tiles, re-normalized at every level."""
    blds = (layers.rect_layers_with_id_df(spark)
            .where(F.col("layer") == "builtup")
            .select(F.col("rect_id").alias("bld_id"),
                    "lon0", "lat0", "lon1", "lat1"))
    return pop_op.population_chain(
        raster.raster_df(spark), blds, raster.zone_bounds_df(spark),
        raster.grid_cells_df(spark, pop_op.TILE_RES_POP))


@query("zone_svf_points", oracle=lambda: svf.zone_svf_sql(_page_points_sql()))
def _q_zone_svf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SVF-shape zone openness (`RsuIndicators.groovy:280-344`): integer
    lattice sample points per zone, kring-bounded page counts per point,
    capped-mean per zone."""
    return svf.zone_svf(svf.sample_points_df(spark),
                        _geo_points(spark, sf_dir))
