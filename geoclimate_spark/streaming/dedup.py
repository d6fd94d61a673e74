"""Incremental (streaming) deduplication — the online training-data-prep op.

A crawl pipeline never sees the corpus at once: new document files land
continuously and each batch must be deduplicated against everything already
RETAINED, without re-scanning history. This module runs the batch dedup
operators (:mod:`geoclimate_spark.operators.dedup`) inside a Structured
Streaming ``foreachBatch`` loop against a persistent fingerprint/signature
store:

* **exact mode** — md5-of-normalized-text fingerprints; within-batch the
  lowest id per fingerprint is canonical, then an anti-join against the
  store drops docs whose text was ever kept before (first-occurrence-wins
  greedy — the standard online dedup semantics);
* **minhash mode** — per-doc MinHash signatures (same seeded pipeline as
  the batch operator); within-batch a doc is dropped when a LOWER-id batch
  doc matches it (LSH band candidates + signature-agreement Jaccard
  estimate ≥ threshold), then survivors are checked against all stored
  signatures the same way. Signature-estimate verify is the standard
  at-scale trade (exact shingle verify would require storing shingle sets);
  the estimator is deterministic, so the whole stream is replayable.

State store = a parquet directory partitioned by ``batch=<id>/bucket=<b>``
(Iceberg analogue: a MERGE target table bucket-partitioned on the
fingerprint; the batch dir is the snapshot). Each micro-batch OVERWRITES its
own ``batch=`` partition, so a batch retried after a crash converges to the
same store state — idempotent exactly-once on top of the streaming
checkpoint's file tracking. Per-batch row metrics land in ``_metrics.json``
inside the batch partition (underscore files are invisible to parquet
readers), extending the per-partition lineage story of plans/pipeline.py to
the streaming edge.

Scale shape — the O(history) fix: the store is HASH-BUCKETED
(``bucket = fp_prefix % N_FP_BUCKETS`` for exact mode; LSH band-key buckets
for the minhash band INDEX), and each micro-batch reads ONLY the buckets its
own fingerprints hash into (a literal ``bucket IN (…)`` partition filter —
Spark prunes the non-matching directories at planning time, asserted by
tests/test_streaming_dedup.py). Per-batch store-read cost is therefore
O(|history ∩ touched buckets|), not O(history); with more buckets than a
batch touches, growth in untouched buckets is never scanned. Fingerprint/
signature computation rides the scan (codegen); the store join is an
equi-join on (bucket, fingerprint) / band key (only keys + ids shuffle,
never text); the store holds one tiny row per RETAINED doc. Reference
analogue: the batch dedup family has none in GeoClimate (it is the
LLM-pipeline extension); the resume/idempotence pattern mirrors the
table-cache in `/root/reference/geoindicators/.../Geoindicators.groovy:76-134`.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalize_col
from ..operators import dedup as D

EST_THRESHOLD = 0.8
N_FP_BUCKETS = 16


def _fp_bucket(fp_col):
    """Deterministic store bucket from the hex fingerprint's first 4 chars —
    the ``fp % K`` layout key (pure codegen, replayable anywhere)."""
    return (F.conv(F.substring(fp_col, 1, 4), 16, 10).cast("long")
            % N_FP_BUCKETS)


def _read_store(spark: SparkSession, store_dir: str,
                exclude_batch: int | None = None,
                buckets: list[int] | None = None) -> DataFrame | None:
    """The persisted store, MINUS the in-flight batch's own partition,
    PRUNED to ``buckets`` when given.

    A batch retried after a crash (store/batch=N committed, out/batch=N
    not) must not see its previous attempt's fingerprints: the anti-join
    would drop the batch's own unique docs and the overwrite would then
    empty store/batch=N — silent loss. Excluding ``batch = exclude_batch``
    makes the retry read exactly the pre-batch state, so it converges to
    the same store AND output as a clean first run.

    ``buckets`` is the batch's own (small, collected) bucket set: the
    ``bucket IN (…)`` literal filter partition-prunes every other
    ``bucket=`` directory at planning time, so store-read cost tracks the
    batch's key space, not the store's history."""
    p = Path(store_dir)
    if not p.exists() or not any(p.glob("batch=*")):
        return None
    df = spark.read.parquet(store_dir)
    if exclude_batch is not None:
        df = df.where(F.col("batch") != exclude_batch)
    if buckets is not None:
        df = df.where(F.col("bucket").isin([int(b) for b in buckets]))
    return df


def _write_metrics(store_dir: str, batch_id: int, rec: dict) -> None:
    d = Path(store_dir) / f"batch={batch_id}"
    d.mkdir(parents=True, exist_ok=True)
    (d / "_metrics.json").write_text(json.dumps(rec) + "\n")


def dedup_metrics(store_dir: str) -> list[dict]:
    """All per-batch metrics records, in batch order."""
    recs = []
    for f in sorted(Path(store_dir).glob("batch=*/_metrics.json"),
                    key=lambda f: int(f.parent.name.split("=")[1])):
        recs.append(json.loads(f.read_text()))
    return recs


# ------------------------------------------------------------------- exact
def exact_dedup_batch(batch: DataFrame, batch_id: int, store_dir: str,
                      out_dir: str) -> None:
    """foreachBatch body, exact mode (exposed for tests)."""
    spark = batch.sparkSession
    batch = batch.persist()
    fp = F.md5(normalize_col(F.col("text")))
    m = batch.select(F.col("doc_id").alias("id"), fp.alias("fp"),
                     _fp_bucket(fp).alias("bucket"))
    # ONE tiny action (≤ N_FP_BUCKETS rows) yields both the row count AND
    # the bucket set that buys partition pruning of the whole store history
    # — a separate batch.count() + distinct-collect would add two jobs of
    # pure per-batch latency
    bk_stats = m.groupBy("bucket").agg(F.count("*").alias("_n")).collect()
    bks = sorted(int(r["bucket"]) for r in bk_stats)
    n_in = int(sum(r["_n"] for r in bk_stats))
    canon = m.groupBy("fp", "bucket").agg(F.min("id").alias("id"))
    store = _read_store(spark, store_dir, exclude_batch=batch_id,
                        buckets=bks)
    novel = (canon.join(store.select("bucket", "fp"),
                        ["bucket", "fp"], "left_anti")
             if store is not None else canon)
    novel = novel.persist()
    n_novel = novel.count()
    # coalesce to one partition per bucket before the partitioned write:
    # without it each of the shuffle's partitions emits a file into every
    # bucket= dir (32×16 tiny files per batch — measured 3× wall-time on
    # the sf0.1 bench); layout-only, results unchanged
    (novel.select("fp", "id", "bucket")
     .repartition(N_FP_BUCKETS, "bucket")
     .write.partitionBy("bucket")
     .mode("overwrite").parquet(f"{store_dir}/batch={batch_id}"))
    (batch.join(novel.select(F.col("id").alias("doc_id")), "doc_id")
     .write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}"))
    _write_metrics(store_dir, batch_id, {
        "batch_id": batch_id, "mode": "exact", "rows_in": n_in,
        "kept": n_novel, "dropped": n_in - n_novel,
        "buckets_read": bks})
    for df in (novel, batch):
        df.unpersist()


# ----------------------------------------------------------------- minhash
def _signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, mh0..mh{P-1}) — the batch operator's seeded signature columns."""
    arr = D.shingle_array_df(docs, id_col, text_col)
    return D._with_signature_cols(arr, D.N_HASHES).drop("sha")


def _band_long(sig: DataFrame) -> DataFrame:
    keys = F.array(*[D._band_key_col(b, D.LSH_ROWS)
                     for b in range(D.LSH_BANDS)])
    return sig.select("id", F.posexplode(keys).alias("band", "bk"))


def _band_bucket(bk_col):
    """Store bucket of an LSH band key (pmod — bk is a signed hash60)."""
    return F.pmod(bk_col, F.lit(N_FP_BUCKETS)).cast("long")


def _est_match(a_pfx: str, b_pfx: str):
    agree = sum((F.col(f"{a_pfx}.mh{p}") == F.col(f"{b_pfx}.mh{p}")).cast("int")
                for p in range(D.N_HASHES))
    return (agree.cast("double") / float(D.N_HASHES)) >= EST_THRESHOLD


def minhash_dedup_batch(batch: DataFrame, batch_id: int, store_dir: str,
                        out_dir: str) -> None:
    """foreachBatch body, minhash mode: LSH candidates + signature-estimate
    Jaccard vs lower-id batch docs and vs all stored signatures."""
    spark = batch.sparkSession
    batch = batch.persist()
    sig = _signatures(batch, "doc_id", "text").persist()
    n_in = sig.count()
    bl = _band_long(sig)
    # within-batch: b dropped when any lower-id a estimated-matches it
    cand = (bl.alias("x").join(bl.alias("y"), ["band", "bk"])
            .where(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct())
    sa, sb = sig.alias("a"), sig.alias("b")
    dropped_b = (cand.join(sa, F.col("id_a") == F.col("a.id"))
                 .join(sb, F.col("id_b") == F.col("b.id"))
                 .where(_est_match("a", "b"))
                 .select(F.col("id_b").alias("id")).distinct())
    surv = sig.join(dropped_b, "id", "left_anti").persist()
    n_surv = surv.count()
    # cross-batch: survivor dropped when any stored signature matches.
    # Store layout = a band-key INDEX (sig_band/batch=N/bucket=B: one row
    # per (id, band, bk), the big table — pruned to the batch's own band
    # buckets) + the compact signature table (sig rows per retained doc,
    # fetched only to verify index candidates).
    sig_dir = f"{store_dir}/sig"
    band_dir = f"{store_dir}/sig_band"
    surv_bl = (_band_long(surv)
               .withColumn("bucket", _band_bucket(F.col("bk"))).persist())
    have_store = (Path(sig_dir).exists()
                  and any(Path(sig_dir).glob("batch=*")))
    if have_store:
        bks = [int(r["bucket"]) for r in
               surv_bl.select("bucket").distinct().collect()]
        idx = (spark.read.parquet(band_dir)
               .where(F.col("batch") != batch_id)
               .where(F.col("bucket").isin(bks))
               .select(F.col("id").alias("id_s"), "band", "bk", "bucket"))
        cand2 = (surv_bl.join(idx, ["bucket", "band", "bk"])
                 .select(F.col("id").alias("id_n"), "id_s")
                 .distinct())
        st = (spark.read.parquet(sig_dir)
              .where(F.col("batch") != batch_id).drop("batch"))
        dropped_x = (cand2.join(surv.alias("a"), F.col("id_n") == F.col("a.id"))
                     .join(st.alias("b"), F.col("id_s") == F.col("b.id"))
                     .where(_est_match("a", "b"))
                     .select(F.col("id_n").alias("id")).distinct())
        novel = surv.join(dropped_x, "id", "left_anti")
    else:
        novel = surv
    novel = novel.persist()
    n_novel = novel.count()
    novel.write.mode("overwrite").parquet(f"{sig_dir}/batch={batch_id}")
    (_band_long(novel).withColumn("bucket", _band_bucket(F.col("bk")))
     .repartition(N_FP_BUCKETS, "bucket")  # one file per bucket dir (above)
     .write.partitionBy("bucket").mode("overwrite")
     .parquet(f"{band_dir}/batch={batch_id}"))
    (batch.join(novel.select(F.col("id").alias("doc_id")), "doc_id")
     .write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}"))
    _write_metrics(store_dir, batch_id, {
        "batch_id": batch_id, "mode": "minhash", "rows_in": n_in,
        "within_dropped": n_in - n_surv, "cross_dropped": n_surv - n_novel,
        "kept": n_novel})
    for df in (novel, surv, surv_bl, sig, batch):
        df.unpersist()


# --------------------------------------------------------------- streaming
def run_incremental_dedup(spark: SparkSession, input_dir: str, store_dir: str,
                          out_dir: str, checkpoint_dir: str, schema,
                          mode: str = "exact") -> None:
    """Drain newly-landed document files through the incremental dedup,
    exactly once (checkpointed file tracking + idempotent batch partitions).
    ``schema`` fixes the stream source schema (streaming requirement)."""
    body = exact_dedup_batch if mode == "exact" else minhash_dedup_batch

    def on_batch(df: DataFrame, bid: int) -> None:
        body(df, bid, store_dir, out_dir)

    q = (spark.readStream.schema(schema).parquet(input_dir)
         .writeStream.foreachBatch(on_batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def kept_documents(spark: SparkSession, out_dir: str) -> DataFrame:
    """All retained documents across batches (the deduped corpus)."""
    return spark.read.parquet(out_dir)
