"""Physical-plan regression guards (docs/PLANS.md properties as tests)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_plan_shape(spark):
    from geoclimate_spark.plans import flagship
    plan = _plan(flagship.run(spark, SF))
    assert "SortAggregate" not in plan, "string agg buffers demote to sort agg"
    assert "BroadcastHashJoin" in plan, "zone covering must broadcast"
    # rect-zone fast path: the whole PIP join is JVM-side codegen — no
    # Arrow/Python eval node anywhere, and the ONLY exchange is the final
    # (zone, tile) aggregation's (the 1:1 cell-dim join never shuffles)
    assert "ArrowEvalPython" not in plan, "rect zones must skip the UDF refine"
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, \
        "final agg may shuffle (partial+merge is one boundary); PIP must not"
    assert "CartesianProduct" not in plan


def test_flagship_scan_prunes_columns(spark):
    from geoclimate_spark.plans import flagship
    import re
    df = flagship.run(spark, SF)
    plan = _plan(df)
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    assert scans, plan[:500]
    # the documents scan must read only doc_id/text/lang — `source` and
    # `n_chars` are pruned (the 100TB analogue: never scan unused columns)
    for s in scans:
        assert "ReadSchema" in s
        assert "source" not in s.split("ReadSchema")[1]
        assert "n_chars" not in s.split("ReadSchema")[1]


def test_flagship_extracts_once(spark):
    """Each page is decoded once: a Filter on an extracted column pushed
    below the extraction projection would decode (and search) every page
    a second time, so no Filter (nor a scan's DataFilters) may mention
    decode. Cached frames are cleared first: a persisted flagship prefix
    left by another query would be reused and render its plan twice."""
    from geoclimate_spark.plans import flagship
    spark.catalog.clearCache()
    plan = _plan(flagship.run(spark, SF))
    assert plan.count("StringDecode.decode") == 1, plan
    filters = [line for line in plan.splitlines() if "Filter" in line]
    assert not [f for f in filters if "decode" in f], filters


def test_knn_plan_no_cartesian(spark):
    from geoclimate_spark.operators import knn
    pts = (spark.read.parquet(f"{SF}/documents.parquet")
           .select(F.col("doc_id").alias("page_id"),
                   (F.col("doc_id") * 1000).alias("lon_e6"),
                   (F.col("doc_id") * 500).alias("lat_e6")))
    nbs = pts.select(F.col("page_id").alias("nb_id"), "lon_e6", "lat_e6")
    plan = _plan(knn.nearest_neighbor(pts, nbs, 1_000_000))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_zonal_plan_partial_aggregation(spark):
    """Map-side combine: partial + final HashAggregate around the exchange."""
    from geoclimate_spark.operators import zonal
    from geoclimate_spark.sources import layers
    rows = (spark.read.parquet(f"{SF}/documents.parquet")
            .select((F.col("doc_id") % 9).alias("zone_id"),
                    F.col("n_chars").alias("v")))
    dim = spark.createDataFrame([(z, 1.0) for z in range(9)],
                                "zone_id long, area_deg2 double")
    plan = _plan(zonal.unweighted_stats(rows, dim, "zone_id", "v"))
    assert plan.count("HashAggregate") >= 2
    assert "SortAggregate" not in plan


def test_new_operator_plans_no_cartesian_no_python(spark):
    """Round-2 operators (facade family, theta join, way assembly, banded
    embedding LSH) must stay pure JVM equi-join plans: no cartesian/BNLJ
    fallback, no sort-agg demotion, no row-wise Python."""
    import __spark_entry__ as E
    for name in ("facade_area_distribution", "theta_contact_pairs",
                 "way_assembly", "embedding_near_dup_lsh"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "SortAggregate" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_temporal_and_polygon_join_plans(spark):
    """As-of (pure window, no join), interval join (bucket equi-join), and
    the relational polygon overlay must never fall back to cartesian/BNLJ
    or row-wise Python; size_properties hull must stay a JVM equi-join."""
    import __spark_entry__ as E
    for name in ("event_asof_value", "event_interval_join",
                 "poly_pair_intersections", "way_size_properties"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
    # the as-of join is join-free: one window pass over the tagged union
    asof_plan = _plan(E.queries()["event_asof_value"](spark, SF))
    assert "Join" not in asof_plan
    assert asof_plan.count("Window") >= 1


def test_covering_join_sites_no_nested_loop(spark):
    """Round-3: the former crossJoin(broadcast(dim)) sites — roads×zones,
    raster×zones, rects×zones, zone→tile mode-B — now ride the cell-keyed
    covering equi-join. No cartesian / BNLJ anywhere in their plans."""
    import __spark_entry__ as E
    for name in ("road_zone_stats", "road_zone_stats_zindex",
                 "raster_zonal_stats", "zone_rect_pair_areas",
                 "zone_tile_assignment_modeb", "tile_boundary_distance",
                 "tile_neighbor_smoothing", "roof_area_distribution_gable",
                 "relation_assembly", "road_traffic",
                 "ground_acoustic_absorption", "zone_inverse_cover",
                 "zone_ground_layer"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_round4_operator_plans(spark):
    """Round-4 operators: WKB decode feeds the overlay without cartesian /
    BNLJ / row-wise Python; the population cascade is three covering
    equi-joins; SVF is a kring equi-join; the trained-forest apply is a
    pure projection (no join at all); SMBR is one Arrow group pass (no
    pair self-join node anymore)."""
    import __spark_entry__ as E
    for name in ("wkb_zone_layer_cover", "wkb_hole_net_areas",
                 "population_multilevel", "zone_svf_points",
                 "rf_trained_classification", "estimated_attribute_rollup",
                 "smbr_direction_distribution", "ann_topk_ivf_pq"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
    # trained-forest inference must stay a join-free codegen projection
    rf_plan = _plan(E.queries()["rf_trained_classification"](spark, SF))
    assert "Join" not in rf_plan
    # SMBR: the old pair self-join + extent join are gone — exactly one
    # grouped Arrow pass (FlatMapGroupsInPandas) feeds the weights stage
    smbr_plan = _plan(E.queries()["smbr_direction_distribution"](spark, SF))
    assert smbr_plan.count("FlatMapGroupsInPandas") == 1


def test_curation_operator_plans_pure_jvm(spark):
    """Round-4 curation ops (sketches, lang-ID, salience) must be pure JVM
    codegen plans: no Python eval anywhere, no cartesian/BNLJ; the lang-ID
    profile join and the CMS point-query join broadcast their dim sides."""
    import __spark_entry__ as E
    for name in ("sketch_hll_distinct", "sketch_kmv_distinct",
                 "sketch_cms_heavy_hitters", "lang_id_confusion",
                 "doc_top_terms"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    for name in ("sketch_cms_heavy_hitters", "lang_id_confusion"):
        assert "BroadcastHashJoin" in _plan(E.queries()[name](spark, SF)), name


def test_round4_late_curation_plans(spark):
    """Segment dedup, bloom blocklist and sprawl tiles must stay pure-JVM
    equi-join/window plans. The bloom path's bitmap probes are broadcast
    hash joins (the whole point: the big side never shuffles for the
    prefilter), and segment dedup is exactly two shuffles (segment window +
    doc reassembly) with zero Python."""
    import __spark_entry__ as E
    # (zonal_quantiles_chars is excluded: it consumes the PIP-joined base
    # whose boundary refine is deliberately ArrowEvalPython)
    for name in ("segment_dedup", "duplicate_spans", "decontaminate_trim",
                 "bloom_blocklist_curation",
                 "sprawl_components", "url_canonical_dedup",
                 "tile_indicator_table", "vocab_coverage",
                 "topk_docs_per_lang"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    bloom_plan = _plan(E.queries()["bloom_blocklist_curation"](spark, SF))
    assert "BroadcastHashJoin" in bloom_plan
    # decontamination: the benchmark id/gram sets must broadcast — the
    # training window stream is filtered map-side, never shuffled wide
    decon_plan = _plan(E.queries()["decontaminate_trim"](spark, SF))
    assert "BroadcastHashJoin" in decon_plan
    # k-means: vectors × k centroids must ride the constant-key BROADCAST
    # hash join, never a BroadcastNestedLoopJoin / cartesian
    for name in ("kmeans_clusters", "ann_topk_ivf_trained"):
        km = _plan(E.queries()[name](spark, SF))
        assert "BroadcastNestedLoopJoin" not in km, name
        assert "CartesianProduct" not in km, name
        assert "BroadcastHashJoin" in km, name
        assert "BatchEvalPython" not in km, name


def test_pagerank_iteration_plan(spark):
    """host_pagerank: the fixture-side edge synthesis (a deliberate tiny-dim
    broadcast non-equi pairing) is localCheckpoint-truncated, so the
    ITERATION plan — the operator's actual scale path — contains only equi
    joins on src/dst/host keys; nothing touches Python."""
    import __spark_entry__ as E
    plan = _plan(E.queries()["host_pagerank"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_winnow_and_bpe_plans(spark):
    """winnow_dup_pairs: the fingerprint compute is ONE MapInPandas over the
    scan (vectorized numpy, no shuffle before it); everything downstream is
    equi-join/hash-agg — no cartesian/BNLJ, no row-wise Python. The BPE
    pretoken query must stay pure codegen (no Python node of any kind)."""
    import __spark_entry__ as E
    plan = _plan(E.queries()["winnow_dup_pairs"](spark, SF))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    bpe = _plan(E.queries()["bpe_token_stats"](spark, SF))
    assert "Python" not in bpe and "Pandas" not in bpe
    assert "CartesianProduct" not in bpe


def test_lm_quality_plan(spark):
    """lm_quality_scores: the trained LM reaches the occurrence stream via a
    BROADCAST hash join on the bigram key; no cartesian/BNLJ (the V scalar
    rides a window, not a 1-row join), nothing touches Python."""
    import __spark_entry__ as E
    plan = _plan(E.queries()["lm_quality_scores"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "Pandas" not in plan


def test_bm25_plan(spark):
    """bm25_search: query terms, df table and corpus stats all reach the
    postings via broadcast hash joins (the stats row through the
    column-derived constant key); no cartesian/BNLJ, no Python."""
    import __spark_entry__ as E
    plan = _plan(E.queries()["bm25_search"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "Pandas" not in plan


def test_bpe_train_plan(spark):
    """bpe_train_merges: the winning pair reaches the merge projection via
    the column-derived constant-key broadcast (never a BNLJ); the loop's
    round frames are localCheckpoint-truncated, so the final plan is O(1)
    in the round count; no Python anywhere."""
    import __spark_entry__ as E
    plan = _plan(E.queries()["bpe_train_merges"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "Pandas" not in plan


def test_hashvec_and_text_cluster_plans(spark):
    """feature_hash_vectors is explode + one hash agg; the composed
    text-cluster query inherits kmeans's constant-key broadcast assignment
    — neither may plan a cartesian/BNLJ or touch Python."""
    import __spark_entry__ as E
    for name in ("feature_hash_vectors", "text_cluster_assignments"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "Python" not in plan and "Pandas" not in plan, name


def test_round4c_plans(spark):
    """Third-wave ops: bpe_encode is a shuffle-free codegen projection (no
    Exchange, no Python); snapshot_diff is ONE hash aggregation with
    map-side partials; token_mixture_plan broadcasts the literal share
    table; dedup_containment shares the jaccard index shape (no cartesian,
    no BNLJ)."""
    import __spark_entry__ as E
    qs = E.queries()

    plan = _plan(qs["bpe_encode_tokens"](spark, SF))
    assert "Exchange" not in plan
    assert "Python" not in plan and "Pandas" not in plan

    plan = _plan(qs["snapshot_diff"](spark, SF))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Python" not in plan and "Pandas" not in plan
    assert "CartesianProduct" not in plan

    plan = _plan(qs["token_mixture_plan"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    plan = _plan(qs["dedup_containment"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "Pandas" not in plan


def test_outliers_and_histogram_plans(spark):
    """embedding_outliers: centroid agg with map-side partials, broadcast
    join back (few labels), no cartesian/BNLJ/Python; token_length_histogram
    inherits the encoder's shuffle-free scan + one hash agg."""
    import __spark_entry__ as E
    qs = E.queries()

    plan = _plan(qs["embedding_outliers"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "Pandas" not in plan

    plan = _plan(qs["token_length_histogram"](spark, SF))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Python" not in plan and "Pandas" not in plan


def test_incremental_rollup_plan(spark):
    """incremental_host_rollup: per-url state is ONE hash agg (map-side
    partial MAX); base/delta are aggs over it; the merge is a join on host
    — no cartesian/BNLJ/Python, and the t1 history is never re-scanned
    (single FileScan of the crawl fixture)."""
    import re
    import __spark_entry__ as E
    plan = _plan(E.queries()["incremental_host_rollup"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "Pandas" not in plan
    assert len(re.findall(r"FileScan parquet", plan)) <= 2  # base+delta reuse


def test_semantic_contamination_plan(spark):
    """Bench side broadcasts via the constant-key idiom (BroadcastHashJoin,
    never BNLJ); the threshold filter precedes the best-match window so the
    rank shuffle only carries flagged rows. Pure JVM."""
    import __spark_entry__ as E
    plan = _plan(E.queries()["semantic_contamination"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "Pandas" not in plan


def test_ppl_tercile_plan_decomposed_window(spark):
    """ppl_lang_terciles: the per-lang cumulative char sum must run as the
    (lang, pb)-decomposed pair of windows — the tiny offsets window plus a
    within-(lang, pb)-partitioned running sum — never a single
    partitionBy(lang)-only running-sum window over the full doc table
    (one fat task per language at corpus scale). Offsets attach via
    BroadcastHashJoin; pure JVM."""
    import re
    import __spark_entry__ as E
    plan = _plan(E.queries()["ppl_lang_terciles"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "Pandas" not in plan
    # every running-sum window partitions by (lang, _pb), not lang alone
    runs = re.findall(r"RunningWindowFunction.*|Window \[sum[^\n]*", plan)
    assert runs, plan[:800]
    for w in runs:
        if "unboundedpreceding" in w and "currentrow$" in w:
            assert "_pb" in w, w


def test_round4_second_wave_plans(spark):
    """Round-4 second wave (DSIR, collocations, leakage audit, shard plan,
    quality projections): pure JVM — no cartesian/BNLJ, no row-wise
    Python; the codegen projections additionally shuffle nothing."""
    import __spark_entry__ as E
    for name in ("dsir_importance", "pmi_collocations",
                 "split_leakage_pairs", "export_shard_plan",
                 "sketch_hist_quantiles", "temperature_mixture"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
    for name in ("gopher_quality_flags", "c4_line_filter",
                 "mojibake_repair", "readability_metrics"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "Exchange" not in plan, f"{name} must be shuffle-free"
        assert "Join" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_round4_third_wave_plans(spark):
    """Round-4 third wave: scan-projection ops shuffle nothing; the
    sampling/audit/scheduling ops stay cartesian- and Python-free (the
    media aHash decode is the one INTENDED Arrow stage — asserted
    separately)."""
    import __spark_entry__ as E
    for name in ("script_detect", "doc_chunks"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "Exchange" not in plan, f"{name} must be shuffle-free"
        assert "Join" not in plan, name
        assert "BatchEvalPython" not in plan, name
    for name in ("dedup_recall_report", "priority_sample",
                 "recrawl_priority"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    for name in ("priority_sample", "recrawl_priority"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "TakeOrderedAndProject" in plan, \
            f"{name} top-k must not global-sort"
    # media aHash: the byte-decode Arrow stage runs ONCE (hash frame is
    # persisted — a bare self-join would decode the binary column twice);
    # the banded pair join itself is JVM-side
    plan = _plan(E.queries()["media_ahash_dupes"](spark, SF))
    # both join sides read the CACHED hash frame (the string renders the
    # cached subtree's MapInPandas under each InMemoryRelation, but the
    # decode executes once)
    assert plan.count("InMemoryTableScan") == 2, plan[:400]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_round4_fourth_wave_plans(spark):
    """Fourth wave: CDC/audio keep Python confined to the intended Arrow
    decode stage; phrase/budget stay pure JVM with no cartesian."""
    import __spark_entry__ as E
    for name in ("phrase_search", "crawl_fetch_budget"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
    # phrase search: the broadcast of query terms must precede the shuffle
    plan = _plan(E.queries()["phrase_search"](spark, SF))
    assert "BroadcastHashJoin" in plan
    for name in ("cdc_chunk_dedup", "audio_snippet_match"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_warc_and_surt_plans(spark):
    """warc: exactly the intended two Python stages (grouped pack + parse),
    one shuffle (the seg grouping); surt: shuffle-free codegen."""
    import __spark_entry__ as E
    plan = _plan(E.queries()["surt_keys"](spark, SF))
    assert "Exchange" not in plan and "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    plan = _plan(E.queries()["warc_roundtrip"](spark, SF))
    assert plan.count("FlatMapGroupsInPandas") == 1  # pack
    assert plan.count("MapInPandas") == 1            # parse
    assert plan.count("Exchange") == 1               # seg grouping only


def test_round4_fifth_wave_plans(spark):
    """Fifth wave: pure-JVM shapes — no cartesian/BNLJ, no Python eval;
    accent_fold additionally shuffles nothing."""
    import __spark_entry__ as E
    for name in ("incremental_dedup_delta", "duplication_spectrum",
                 "range_partition_plan", "join_size_estimate"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        if name in ("duplication_spectrum", "join_size_estimate"):
            # 1-row aggregate × 1-row aggregate crosses (stats assembly)
            # are deliberate single-row BNLJs — cost-free at any scale
            assert plan.count("BroadcastNestedLoopJoin") <= 4
        else:
            assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
    plan = _plan(E.queries()["accent_fold"](spark, SF))
    assert "Exchange" not in plan and "Join" not in plan


def test_round4_closing_plans(spark):
    """Closing ops: pure JVM, no cartesian; the funnel must be join-free
    (one grouped pass), the grouped split window-free."""
    import __spark_entry__ as E
    for name in ("domain_grouped_split", "event_funnel",
                 "cluster_cohesion"):
        plan = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    funnel = _plan(E.queries()["event_funnel"](spark, SF))
    assert "Join" not in funnel
    split = _plan(E.queries()["domain_grouped_split"](spark, SF))
    assert "Window" not in split
