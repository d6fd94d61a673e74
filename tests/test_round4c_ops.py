"""Hand-case semantics for the round-4 third-wave operators (oracle parity
lives in test_entry / the driver gate): BPE encode, mixture planner,
snapshot diff, containment pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from geoclimate_spark.operators import bpeencode, dedup, mixture
from geoclimate_spark.operators import snapshot as snap


# --------------------------------------------------------------- BPE encode
def _enc(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return {r.doc_id: r for r in bpeencode.bpe_encode_stats(docs).collect()}


def test_bpe_encode_chained_merges(spark):
    # "the": (t,h) then (th,e) -> 1 token; "data": (a,t) then (at,a) -> 2
    got = _enc(spark, [(1, "the data")])
    assert got[1].n_words == 2 and got[1].n_chars == 7
    assert got[1].n_tokens == 3


def test_bpe_encode_merges_stay_word_local(spark):
    # words 'q' and 'u' must NOT merge across the boundary even though
    # ('q','u') is a merge rule — the double-space sentinel blocks it
    got = _enc(spark, [(1, "q u"), (2, "qu")])
    assert got[1].n_tokens == 2
    assert got[2].n_tokens == 1


def test_bpe_encode_boundary_sharing_occurrences_converge(spark):
    # ' a t a t ... ': one replace pass merges only every second occurrence
    # (shared boundary space); REPLACE_PASSES passes converge for words up
    # to 2*REPLACE_PASSES symbols. 12 symbols == the bound exactly.
    word = "at" * 6  # 12 chars
    got = _enc(spark, [(7, word)])
    assert got[7].n_chars == 12 and got[7].n_tokens == 6


def test_bpe_encode_drops_null_and_empty(spark):
    got = _enc(spark, [(1, "the"), (2, None), (3, "   ")])
    assert set(got) == {1}


# ---------------------------------------------------------- mixture planner
def test_mixture_plan_epochs_and_deficit(spark):
    # lang a: 3 tokens avail ("qu qu qu"), lang b: 1 token ("qu");
    # 50/50 shares of a 10-token budget -> target 5 each:
    # a needs ceil(5/3)=2 epochs (deficit 1), b needs 5 (deficit 0)
    docs = spark.createDataFrame(
        [(1, "qu qu qu", "a"), (2, "qu", "b")],
        "doc_id long, text string, lang string")
    out = {r.lang: r for r in mixture.mixture_plan(
        spark, docs, shares_bp=[("a", 5000), ("b", 5000)],
        budget=10).collect()}
    assert out["a"].avail_tokens == 3 and out["a"].target_tokens == 5
    assert out["a"].n_epochs == 2 and out["a"].deficit_tokens == 1
    assert out["b"].avail_tokens == 1 and out["b"].target_tokens == 5
    assert out["b"].n_epochs == 5 and out["b"].deficit_tokens == 0


def test_mixture_plan_floor_division_targets(spark):
    # 3333 bp of a 10-token budget floors to 3 target tokens (not 3.333)
    docs = spark.createDataFrame([(1, "qu", "a")],
                                 "doc_id long, text string, lang string")
    row = mixture.mixture_plan(spark, docs, shares_bp=[("a", 3333)],
                               budget=10).collect()[0]
    assert row.target_tokens == 3 and row.n_epochs == 3


# -------------------------------------------------------------- snapshot diff
def _crawls(spark, rows):
    return spark.createDataFrame(
        rows, "crawl_id long, raw_url string, fetch_epoch long")


def test_snapshot_diff_classes_and_tiebreak(spark):
    u = "http://example.com/page/%d"
    rows = [
        # X: two fetches at the SAME epoch before T1, nothing after ->
        # unchanged; higher crawl_id wins the (epoch, id) max at both times
        (1, u % 1, 100), (2, u % 1, 100),
        # Y: refetched after T1 -> updated
        (3, u % 2, 50), (4, u % 2, 200),
        # Z: first seen after T1 -> added
        (5, u % 3, 150),
    ]
    out = {r.canon_url: r for r in
           snap.snapshot_diff(_crawls(spark, rows), t1=120, t2=300).collect()}
    x, y, z = (out[f"example.com/page/{i}"] for i in (1, 2, 3))
    assert x.change_type == "unchanged"
    assert x.t1_crawl_id == 2 and x.t2_crawl_id == 2  # id breaks the tie
    assert y.change_type == "updated"
    assert (y.t1_epoch, y.t1_crawl_id, y.t2_epoch, y.t2_crawl_id) == \
        (50, 3, 200, 4)
    assert z.change_type == "added"
    assert z.t1_epoch is None and z.t1_crawl_id is None
    assert z.t2_epoch == 150


def test_snapshot_diff_canonicalizes_urls(spark):
    # messy variants of ONE logical page collapse to a single diff row
    rows = [(1, "http://example.com/page/9", 100),
            (2, "https://www.Example.COM/page/9/?utm_source=feed#sec1", 200)]
    out = snap.snapshot_diff(_crawls(spark, rows), t1=150, t2=300).collect()
    assert len(out) == 1 and out[0].change_type == "updated"


def test_snapshot_fixture_produces_all_classes(spark, duck):
    # the squared-id fixture must not degenerate (the urlnorm LCG epoch is
    # affine within a canon group and yields 100% 'updated')
    frags = snap.crawl_history_fixture_sql()
    sql = ("SELECT doc_id AS crawl_id, " + frags["raw_url"] + " AS raw_url, "
           + frags["fetch_epoch"] + " AS fetch_epoch FROM documents WHERE "
           + frags["keep_pred"])
    kinds = {r[1] for r in duck.execute(
        "SELECT canon_url, change_type FROM (" +
        snap.snapshot_diff_sql(sql) + ")").fetchall()}
    assert kinds == {"added", "updated", "unchanged"}


# ---------------------------------------------------------------- containment
def test_containment_detects_quote_inclusion(spark):
    # doc 2 is a verbatim substring of doc 1: containment 1.0 even though
    # Jaccard is far below any dedup threshold
    long = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    short = "charlie delta echo"
    docs = spark.createDataFrame([(1, long), (2, short)],
                                 "doc_id long, text string")
    out = dedup.containment_pairs(docs, threshold=0.9, min_common=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b, r.contained_id) == (1, 2, 2)
    assert r.containment == 1.0
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.7).collect()
    assert jac == []  # jaccard misses the inclusion


def test_containment_min_common_floors_tiny_sets(spark):
    # 2-shingle overlap at 100% containment is filtered by min_common=5
    docs = spark.createDataFrame([(1, "abcdef"), (2, "abcdefghij")],
                                 "doc_id long, text string")
    out = dedup.containment_pairs(docs, threshold=0.5, min_common=5).collect()
    assert out == []
    out2 = dedup.containment_pairs(docs, threshold=0.5, min_common=1).collect()
    assert len(out2) == 1 and out2[0].contained_id == 1


# --------------------------------------------------------- embedding outliers
def test_embedding_outliers_rank_cut_and_exactness(spark):
    from geoclimate_spark.operators import outliers
    # label 0: ten 2-d vectors on a line; exactly one (the farthest, id 9)
    # is flagged at decile 10. Quantization floor: 0.3 -> floor(0.3*2^20).
    rows = [(i, [float(i), 0.0], 0) for i in range(10)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in
           outliers.embedding_outliers(emb, dim=2).collect()}
    assert sum(r.is_outlier for r in out.values()) == 1
    # ids 0 and 9 are equidistant from the centroid (mean 4.5): the
    # lowest-id tie-break gives rank 1 (and the one outlier slot) to id 0
    assert out[0].is_outlier == 1 and out[0].d2_rank == 1
    assert out[9].is_outlier == 0 and out[9].d2_rank == 2
    assert out[0].n_label == 10
    # exact integer distance: centroid = floor(mean(q)); q_i = i * 2^20
    q = 1 << 20
    cent = sum(i * q for i in range(10)) // 10
    assert out[9].d2 == (9 * q - cent) ** 2 == out[0].d2


def test_embedding_outliers_tiebreak_lowest_id_first(spark):
    from geoclimate_spark.operators import outliers
    # two vectors tied at max distance: the LOWER id takes rank 1
    rows = [(1, [1.0, 0.0], 0), (2, [-1.0, 0.0], 0),
            (3, [0.0, 0.0], 0), (4, [0.0, 0.0], 0),
            (5, [0.0, 0.0], 0), (6, [0.0, 0.0], 0),
            (7, [0.0, 0.0], 0), (8, [0.0, 0.0], 0),
            (9, [0.0, 0.0], 0), (10, [0.0, 0.0], 0)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in
           outliers.embedding_outliers(emb, dim=2).collect()}
    assert out[1].d2 == out[2].d2
    assert out[1].d2_rank == 1 and out[2].d2_rank == 2
    assert out[1].is_outlier == 1 and out[2].is_outlier == 0


# ----------------------------------------------------- token length histogram
def test_token_length_histogram_buckets(spark):
    # "qu"*n encodes to n tokens; doc of 1 token -> bucket 0, 2 -> 1, 5 -> 2
    docs = spark.createDataFrame(
        [(1, "qu"), (2, "qu qu"), (3, "qu qu qu qu qu")],
        "doc_id long, text string")
    out = {r.bucket: r for r in
           bpeencode.token_length_histogram(docs).collect()}
    assert out[0].n_docs == 1 and out[0].total_tokens == 1
    assert out[1].n_docs == 1 and out[1].total_tokens == 2
    assert out[2].n_docs == 1 and out[2].min_tokens == 5 \
        and out[2].max_tokens == 5


# --------------------------------------------------- incremental host rollup
def test_incremental_rollup_matches_recompute_with_host_births(spark):
    # host A: one url live before t1, updated after; host B: born after t1
    # (delta-only); host C: quiet since before t1 (base-only)
    rows = [(1, "http://a.com/page/1", 100, "a.com"),
            (2, "http://a.com/page/1", 200, "a.com"),
            (3, "http://b.com/page/2", 150, "b.com"),
            (4, "http://c.com/page/3", 50, "c.com")]
    crawls = spark.createDataFrame(
        rows, "crawl_id long, raw_url string, fetch_epoch long, host string")
    out = {r.host: r for r in
           snap.incremental_host_rollup(crawls, t1=120, t2=300).collect()}
    assert out["a.com"].n_urls == 1 and out["a.com"].sum_epoch == 200
    assert out["b.com"].n_urls == 1 and out["b.com"].sum_epoch == 150
    assert out["c.com"].n_urls == 1 and out["c.com"].sum_epoch == 50


# ------------------------------------------------------ semantic contamination
def test_semantic_contamination_flags_only_leaked_sources(spark):
    from geoclimate_spark.operators import similarity
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out = similarity.semantic_contamination(emb).collect()
    # each benchmark source flags against its OWN perturbed copy at ~0.999;
    # the near-orthogonal rest of the corpus (max cross-cos ~0.45) is clean
    assert {(r.vec_id, r.bench_id) for r in out} == \
        {(i, i) for i in similarity.BENCH_SRC_IDS}
    assert all(r.cos > 0.99 for r in out)
