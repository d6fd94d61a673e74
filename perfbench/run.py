#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload geotile_rect --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One process is one closed-loop client: it
starts a ``local[nproc]`` Spark session, builds the workload's inputs from
the seed, runs the warm-up repetitions (first executions, first-call driver
builds, JIT), then repeats the workload's fixed unit of work until
``--seconds`` have passed. Outputs are checked against the repository's
oracles, and every timed repetition must reproduce the checked output.

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``. ``--trace 0`` reports the end-to-end metrics named in the root
``BENCHMARK.json``. ``--trace 1`` interleaves untraced and traced
repetitions, then runs the layer probes, and reports the per-layer metrics
instead. The line before it records the pinned host settings and every
repetition's time. See README.md beside this file.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import traceback
from pathlib import Path
from statistics import median

import probes

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEM = "4g"  # well below the 15 GiB host, which has no swap


def pin_environment(work: Path, cores: int) -> dict:
    """Host settings the run depends on, fixed before the JVM starts: cores,
    driver memory, scratch space inside the checkout, the repository on the
    Python workers' path, no console progress bar."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.local.dir={tmp}"),
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}"),
        "pyspark-shell"])
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"cores": cores, "driver_memory": DRIVER_MEM,
            "host_mem_gib": round(mem_kb / 2**20, 1),
            "python_workers_path": "checkout root", "console_progress": False}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it forked, and
    wait until every one of them has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = probes.descendants(proc.pid) if proc else []
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # e.g. a gateway call cut by SIGTERM; still stop the JVM
        traceback.print_exc()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def digest(pdf) -> tuple:
    """Order-insensitive digest of a collected result: columns, row count
    and the wrapping sum of per-row hashes."""
    import pandas as pd
    cols = sorted(pdf.columns)
    try:
        h = pd.util.hash_pandas_object(pdf[cols], index=False)
    except TypeError:  # list or struct cells
        h = pd.util.hash_pandas_object(pdf[cols].astype(str), index=False)
    return tuple(cols), len(pdf), int(h.to_numpy().sum())


def repetition(spark, w, tr, ops: dict, storage: list) -> dict:
    """One fixed unit of work: every query of the workload, each fully
    collected. Traced repetitions also resolve the physical plan as its own
    step and keep each query's operator metrics and the cache left behind."""
    outs = {}
    for name, make in w.queries():
        before = tr.last_execution_id() if tr.enabled else -1
        with tr.span(f"query.{name}"):
            with tr.span("plans.build"):
                df = make()
            if tr.enabled:
                with tr.span("plans.plan"):
                    df._jdf.queryExecution().executedPlan()
            outs[name] = df.toPandas()
        if tr.enabled:
            ops[name] = tr.operators(before)
            storage.append(probes.storage_after(spark))
        spark.catalog.clearCache()
    return outs


class Phase:
    """Outcome of a run of repetitions: wall times of the good ones (split by
    whether the repetition was traced), counts, and what traced ones saw."""

    def __init__(self):
        self.times: list[float] = []
        self.traced_times: list[float] = []
        self.attempted = self.failed = 0
        self.ops: dict[str, list[dict]] = {}
        self.storage: list[tuple[int, int]] = []
        self.counts: list[tuple[int, int]] = []
        self.steal: list[float] = []


def repeat(spark, w, tr, ph: Phase, expect: dict, stop, traced=lambda i: False) -> None:
    """Closed loop: run repetitions until ``stop(i)``. A repetition fails when
    it raises or its output digest differs from ``expect``."""
    i = 0
    while not stop(i):
        gid = f"rep-{ph.attempted}"
        spark.sparkContext.setJobGroup(gid, gid)
        tr.enabled, tr.rep = traced(i), ph.attempted
        ph.attempted += 1
        cpu0 = probes.cpu_sample()
        t0 = time.perf_counter()
        try:
            with tr.span("repetition"):
                outs = repetition(spark, w, tr, ph.ops, ph.storage)
            dt = time.perf_counter() - t0
            bad = [q for q in expect if digest(outs[q]) != expect[q]]
        except Exception:
            traceback.print_exc()
            bad = ["raised"]
        if bad:
            print(f"# repetition {ph.attempted - 1} failed: {bad}", file=sys.stderr)
            ph.failed += 1
        else:
            (ph.traced_times if tr.enabled else ph.times).append(dt)
            ph.steal.append(round(probes.steal_pct(cpu0, probes.cpu_sample()), 2))
            if tr.enabled:
                ph.counts.append(probes.stages_and_tasks(spark, gid))
        tr.enabled = False
        i += 1


def per_rep_median(tr, span: str) -> float:
    sums: dict[int, float] = {}
    for name, start, end, _, rep in tr.spans:
        if name == span:
            sums[rep] = sums.get(rep, 0.0) + end - start
    return median(sums.values()) if sums else 0.0


def run(args, work: Path, cores: int, settings: dict, spec: dict) -> dict:
    sys.path.insert(0, str(ROOT))
    from geoclimate_spark.session import get_spark
    from workloads import WORKLOADS

    spark = get_spark(app="perfbench", cores=cores)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_START
        tr = probes.Tracer(spark, enabled=False)
        w = WORKLOADS[args.workload]()
        setup_parts = w.setup(spark, args.seed, work)

        # Warm-up belongs to set-up: first executions run 2-3x slower and the
        # JIT keeps improving for a few more repetitions. Its first output is
        # the one checked against the oracle; every later repetition must
        # reproduce that output's digest.
        warm = repetition(spark, w, tr, {}, [])
        expect = {q: digest(df) for q, df in warm.items()}
        ph = Phase()
        ph.attempted = 1
        repeat(spark, w, tr, ph, expect, lambda i: i >= w.WARMUP - 1)
        ph.times.clear()
        ph.steal.clear()
        setup_s = time.perf_counter() - T_START

        cpu0, gc0 = probes.cpu_sample(), probes.jvm_gc_ms(spark)
        t_end = time.perf_counter() + args.seconds
        # Traced runs interleave untraced and traced repetitions in ABBA
        # order, at least one block, so a linear warm-up drift cancels out of
        # the tracing overhead.
        repeat(spark, w, tr, ph, expect,
               lambda i: time.perf_counter() >= t_end and (i >= 4 or not args.trace),
               (lambda i: i % 4 in (1, 2)) if args.trace else (lambda i: False))
        cpu1, gc1 = probes.cpu_sample(), probes.jvm_gc_ms(spark)

        problems = w.check(warm)
        for p in problems:
            print(f"# oracle mismatch: {p}", file=sys.stderr)
        if problems:  # every repetition reproduced a wrong output
            ph.failed = ph.attempted
        if not ph.times:
            raise RuntimeError("no timed repetition succeeded")
        run_s = median(ph.times)
        settings.update(workload=w.name, seed=args.seed, input_rows=w.rows(),
                        setup_s=round(setup_s, 4),
                        rep_s=[round(t, 4) for t in ph.times],
                        traced_rep_s=[round(t, 4) for t in ph.traced_times],
                        rep_steal_pct=ph.steal)
        metrics = {"setup_s": setup_s, "run_s": run_s, "pages_per_s": w.rows() / run_s}

        if args.trace:
            per_layer = [m["name"] for m in spec["per_layer"]]
            layer = dict.fromkeys(per_layer, 0.0)
            layer.update(setup_parts)
            tr.enabled = True
            layer.update(w.layers(tr, ph.ops, warm, args.seconds))
            tr.enabled = False
            n_reps = len(ph.times) + len(ph.traced_times)
            layer.update({
                "session.start_s": session_s,
                "plans.build_s": per_rep_median(tr, "plans.build"),
                "plans.plan_s": per_rep_median(tr, "plans.plan"),
                "spark.stages": float(median([c[0] for c in ph.counts] or [0])),
                "spark.tasks": float(median([c[1] for c in ph.counts] or [0])),
                "jvm.gc_ms": (gc1 - gc0) / max(1, n_reps),
                "jvm.peak_rss_mb": probes.jvm_peak_rss_mb(spark),
                "python.peak_rss_mb": probes.python_peak_rss_mb(spark),
                "cache.rdd_blocks_after": float(max((s[0] for s in ph.storage), default=0)),
                "cache.storage_bytes_after": float(max((s[1] for s in ph.storage), default=0)),
                "host.steal_pct": probes.steal_pct(cpu0, cpu1),
                "host.nproc": float(cores),
                "trace.overhead_s": (median(ph.traced_times) - run_s
                                     if ph.traced_times else 0.0),
            })
            metrics = {k: layer[k] for k in per_layer}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        return {"correct": not problems and ph.failed == 0, "attempted": ph.attempted,
                "failed": ph.failed,
                "metrics": {k: {"value": float(v), "unit": units[k]}
                            for k, v in metrics.items()}}
    finally:
        stop_spark(spark)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not ((ROOT / "geoclimate_spark" / "__init__.py").is_file()
            and (ROOT / "__spark_entry__.py").is_file()):
        print(f"error: {ROOT} holds no geoclimate_spark checkout", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    settings = pin_environment(work, cores)
    try:
        result = run(args, work, cores, settings, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps({"settings": settings}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
