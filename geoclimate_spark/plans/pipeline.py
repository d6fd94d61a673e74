"""Staged pipeline runner: checkpoint-per-stage, per-partition lineage +
row/byte metrics, resume-from-latest-valid.

North-rule requirement: "every stage checkpoints to Iceberg snapshots with
per-partition lineage and row/byte metrics so runs resume mid-pipeline".
Reference analogues: the table-name cache that lets GeoClimate reuse
already-computed intermediates (`/root/reference/geoindicators/.../
Geoindicators.groovy:76-134`, reused surface fractions
`RsuIndicators.groovy:454-470, 1740`) and the per-zone error log + catch-and-
continue loop (`osm/.../WorkflowOSM.groovy:642-694`).

This container has no Iceberg runtime, so a stage checkpoint is a parquet
snapshot directory plus a JSONL manifest; the mapping to Iceberg is 1:1 and
noted inline:

  parquet dir per stage            -> ``df.writeTo(tbl).createOrReplace()``
                                       (snapshot commit)
  manifest.jsonl row per stage     -> Iceberg snapshot summary / metadata tbl
  per-file rows+bytes (lineage)    -> Iceberg manifest-file entries
  _SUCCESS + manifest "ok" check   -> snapshot validity (atomic commit)
  resume = read stage parquet      -> time-travel read of last good snapshot

Failure model: a stage that dies mid-write leaves no _SUCCESS and no
manifest row → next run recomputes it; completed stages are never recomputed
(resume test: tests/test_pipeline.py kills between stages and asserts
identical final output with zero stage-1 recomputation).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Stage:
    """One named pipeline step. ``fn(spark, upstream)`` gets every prior
    stage's DataFrame by name and returns this stage's output.

    ``quarantine=True`` declares the output carries a ``_err`` string column
    (the :func:`quarantined_apply` contract): rows with ``_err`` set are
    DIVERTED to a ``<name>__errors`` snapshot + manifest record and the run
    continues — the per-zone catch-and-continue loop of the reference
    (`osm/WorkflowOSM.groovy:642-694`: failed zones land in an error table,
    the workflow moves on)."""
    name: str
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    quarantine: bool = False


def quarantined_apply(df: DataFrame, keys: list[str],
                      fn: Callable, schema: str) -> DataFrame:
    """Group-wise apply with per-GROUP error isolation, executor-side.

    ``fn(pdf) -> pdf`` runs per ``keys``-group inside the Arrow batch; a
    group that raises yields ONE quarantine row (key columns + ``_err`` =
    "Type: message", payload columns NULL) instead of failing the stage —
    a poison zone costs one error row, not the job. ``schema`` is the
    success schema; the returned frame appends ``_err string``. Pair with
    ``Stage(..., quarantine=True)`` to land the error rows in the manifest.
    """
    import pandas as pd

    full_schema = schema + ", _err string"
    out_cols = [c.strip().split()[0] for c in full_schema.split(",")]

    def run(g: "pd.DataFrame") -> "pd.DataFrame":
        try:
            out = fn(g)
            out = out.copy()
            out["_err"] = None
            return out[out_cols]
        except Exception as e:  # noqa: BLE001 — quarantine IS the contract
            row = {c: None for c in out_cols}
            for k in keys:
                row[k] = g[k].iloc[0]
            row["_err"] = f"{type(e).__name__}: {e}"
            return pd.DataFrame([row], columns=out_cols)

    return df.groupBy(*keys).applyInPandas(run, full_schema)


def _file_lineage(df_read: DataFrame) -> list[dict]:
    """Per-file row counts of a written snapshot — the manifest-entry
    analogue. One tiny aggregation over the checkpoint, not the input."""
    rows = (df_read.groupBy(F.input_file_name().alias("file"))
            .count().collect())
    out = []
    for r in rows:
        p = Path(r["file"].replace("file://", ""))
        out.append({"file": p.name, "rows": r["count"],
                    "bytes": p.stat().st_size if p.exists() else None})
    return sorted(out, key=lambda d: d["file"])


class PipelineRunner:
    def __init__(self, spark: SparkSession, root: str | Path,
                 stages: list[Stage]):
        self.spark = spark
        self.root = Path(root)
        self.stages = stages
        self.root.mkdir(parents=True, exist_ok=True)
        self.manifest_path = self.root / "manifest.jsonl"

    # ------------------------------------------------------------ manifest
    def _manifest(self) -> dict[str, dict]:
        done = {}
        if self.manifest_path.exists():
            for line in self.manifest_path.read_text().splitlines():
                if line.strip():
                    rec = json.loads(line)
                    if rec.get("status") == "ok":
                        done[rec["stage"]] = rec
        return done

    def _append_manifest(self, rec: dict) -> None:
        with self.manifest_path.open("a") as f:
            f.write(json.dumps(rec) + "\n")

    def _stage_dir(self, name: str) -> Path:
        return self.root / name

    def _is_complete(self, name: str, manifest: dict[str, dict]) -> bool:
        return (name in manifest
                and (self._stage_dir(name) / "_SUCCESS").exists())

    # ----------------------------------------------------------------- run
    def run(self, resume: bool = True,
            on_stage: Callable[[str, str], None] | None = None
            ) -> dict[str, DataFrame]:
        """Execute all stages; returns {stage_name: DataFrame} of snapshot
        reads. Completed stages are loaded, not recomputed, when resume."""
        manifest = self._manifest() if resume else {}
        outputs: dict[str, DataFrame] = {}
        for st in self.stages:
            sdir = self._stage_dir(st.name)
            if resume and self._is_complete(st.name, manifest):
                outputs[st.name] = self.spark.read.parquet(str(sdir))
                if on_stage:
                    on_stage(st.name, "resumed")
                continue
            t0 = time.perf_counter()
            df = st.fn(self.spark, dict(outputs))
            n_quarantined = 0
            if st.quarantine:
                # split the _err channel: bad groups land in the error
                # snapshot (the reference's error TABLE) and the run goes on
                edir = self._stage_dir(f"{st.name}__errors")
                errs = df.where(F.col("_err").isNotNull())
                errs.write.mode("overwrite").parquet(str(edir))
                esnap = self.spark.read.parquet(str(edir))
                n_quarantined = esnap.count()
                if n_quarantined:
                    self._append_manifest({
                        "stage": f"{st.name}__errors", "status": "ok",
                        "rows": n_quarantined, "ts": time.time()})
                df = df.where(F.col("_err").isNull()).drop("_err")
            # Iceberg: df.writeTo(...).createOrReplace() — atomic snapshot
            df.write.mode("overwrite").parquet(str(sdir))
            snap = self.spark.read.parquet(str(sdir))
            lineage = _file_lineage(snap)
            rec = {
                "stage": st.name, "status": "ok",
                "rows": sum(e["rows"] for e in lineage),
                "bytes": sum(e["bytes"] or 0 for e in lineage),
                "n_files": len(lineage),
                "wall_s": round(time.perf_counter() - t0, 3),
                "ts": time.time(),
                "quarantined": n_quarantined,
                "partitions": lineage,
            }
            self._append_manifest(rec)
            outputs[st.name] = snap
            if on_stage:
                on_stage(st.name, "computed")
        return outputs

    def errors(self, stage: str) -> DataFrame | None:
        """The quarantined-group error table of a stage (None when the
        stage quarantined nothing)."""
        edir = self._stage_dir(f"{stage}__errors")
        if not (edir / "_SUCCESS").exists():
            return None
        df = self.spark.read.parquet(str(edir))
        return df if df.head(1) else None

    def metrics(self) -> list[dict]:
        """All successful stage records (the run-metrics table the reference
        keeps as zone logs, `WorkflowGeoIndicators.groovy:1512-1540`)."""
        return list(self._manifest().values())


def flagship_stages(sf_dir: str, tile_res: int | None = None) -> list[Stage]:
    """The flagship query (plans/flagship.py) as a resumable 3-stage
    pipeline: extract → pip_join → zone_tile_agg."""
    from ..operators.tile import TILE_RES
    from ..sources.pages import pages_from_documents
    from . import flagship

    return [
        Stage("extract", lambda spark, up: flagship.page_chars(
            pages_from_documents(spark, sf_dir))),
        Stage("pip_join", lambda spark, up: flagship.pip_join(up["extract"])),
        Stage("zone_tile_agg", lambda spark, up: flagship.zone_tile_agg(
            up["pip_join"], tile_res or TILE_RES)),
    ]
