#!/usr/bin/env python3
"""Benchmark of ``index_spark``: one seeded workload per run.

    python3 perfbench/run.py --workload txn_mixed --seed 1 --seconds 10 --trace 0

Prints a table of every metric, then, as the last line of standard output,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
metrics with ``--trace 1``. Exits 1 when any op failed its check, 2 when
the checkout holds no ``index_spark`` package. Everything the run writes
(data, stores, Spark scratch) lives in ``.perfbench_work/`` in the checkout
and is removed at exit; a traced run writes its spans to ``--out``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import loop, tracing  # noqa: E402
from perfbench.loop import pct  # noqa: E402

WARMUP_S = 1.0
COMPACT_EVERY = 3  # txn_mixed: successful commits between compactions
WRITE_KINDS = ("commit", "rejected", "compact")
SCAN_KINDS = ("range", "asof", "inorder", "getall", "fullagg")
CORPUS_KINDS = ("pipeline_end_to_end", "near_dedup_survivors", "text_quality", "lang_id")
# The op kinds whose median latencies kind_p50_gmean_ms combines: kinds
# every run samples (rare writer ops such as compaction are left out, so
# one no-op compaction cannot swing the figure).
GMEAN_KINDS = {
    "txn_mixed": ("point", "range", "commit"),
    "scan_corpus": SCAN_KINDS + CORPUS_KINDS,
}


@dataclass
class Prepared:
    clients: list
    builds: list[float]  # timed set-ups of the program; setup_s adds their median
    warmup: Optional[list] = None  # clients run for WARMUP_S before measuring; None: all
    stores: list[str] = field(default_factory=list)  # SnapshotStore dirs
    writer: Any = None
    docs: int = 0


def _configure_env(work: str) -> None:
    """Keep every file Spark and Python write inside the run directory."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM spark-submit starts (its launcher too): no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _start_spark():
    from index_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the session started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _timed(n: int, build: Callable[[int], Any]) -> tuple[list[float], Any]:
    """Run ``build(i)`` for i < n; return the wall times and the last result."""
    times, out = [], None
    for i in range(n):
        t0 = time.perf_counter()
        out = build(i)
        times.append(time.perf_counter() - t0)
    return times, out


# ------------------------------------------------------------- workloads
# Each workload has a data step (no Spark: inputs, models, oracle answers;
# it runs before the session starts, off the set-up clock) and a set-up
# step that builds the program's stores and the clients.
def data_orders(work: str, seed: int):
    from perfbench import datagen, kv

    table, base_version = kv.orders_table(seed)
    src = datagen.write(table, os.path.join(work, "data", "orders.parquet"))
    return src, kv.OrdersModel(table, base_version), kv.Zipf(kv.N, kv.ZIPF_S, seed)


def setup_txn_mixed(spark, work: str, data, rng_for) -> Prepared:
    from perfbench import kv

    src, model, zipf = data
    builds, store = _timed(3, lambda i: kv.build_store(spark, os.path.join(work, f"txn_{i}"), src))
    writer = kv.TxnWriter(store, model, rng_for(0), COMPACT_EVERY)
    writer.reject_each_kind()
    readers = [kv.TxnReader(store, model, zipf, writer, rng_for(c)) for c in (1, 2)]
    return Prepared([writer, *readers], builds, stores=[store.base_path], writer=writer)


def data_scan_corpus(work: str, seed: int):
    from perfbench import corpus, datagen, scan

    table = datagen.lineitem(seed)
    src = datagen.write(table, os.path.join(work, "data", "lineitem.parquet"))
    docs = os.path.join(work, "data")
    datagen.write(datagen.documents(seed), os.path.join(docs, "documents.parquet"))
    return src, scan.HistoryModel(table), docs, corpus.oracle_answers(docs)


def setup_scan_corpus(spark, work: str, data, rng_for) -> Prepared:
    """One analytics session on a fresh process: the scan ops interleaved
    with one pass of the corpus queries. A corpus pipeline is a batch job
    on a fresh session whose users pay each query's first-run costs
    (Python workers, code generation) every time, so the run is cold: no
    warm-up (one would cost a whole cycle). One build per run: the bulk
    load plus the history commit take ~20 s, too much to repeat inside the
    per-run time budget. The corpus queries read parquet directly and need
    no build."""
    from perfbench import corpus, datagen, scan

    src, model, docs, oracle = data
    builds, (si, stamps) = _timed(1, lambda i: scan.build(spark, os.path.join(work, "sharded"), src,
                                                          model, rng_for(100)))
    shard_dirs = sorted(os.path.join(si.base_path, d) for d in os.listdir(si.base_path)
                        if d.startswith("shard_"))
    both = loop.Interleave(corpus.CorpusClient(spark, docs, oracle),
                           scan.HistoryClient(si, stamps, model, rng_for(0)))
    return Prepared([both], builds, warmup=[], stores=shard_dirs, docs=datagen.DOCUMENTS)


WORKLOAD_STEPS = {
    "txn_mixed": (data_orders, setup_txn_mixed),
    "scan_corpus": (data_scan_corpus, setup_scan_corpus),
}


# --------------------------------------------------------------- metrics
def focus_ms(workload: str, run: loop.Run) -> float:
    """Latency of one unit of the work the workload exists to measure: a
    commit on ``txn_mixed``, averaged over the run's commits (3-4, which
    follow the same insert, update, remove order in every run, so the mean
    weighs each kind alike where a median of so few picks one); on
    ``scan_corpus`` one pass of the corpus queries (the four back to back),
    averaged over the run's passes. NaN when the run has none."""
    if workload == "txn_mixed":
        return statistics.fmean(run.ms("commit")) if run.ms("commit") else math.nan
    passes = len(run.ms(CORPUS_KINDS[0]))
    return sum(run.ms(*CORPUS_KINDS)) / passes if passes else math.nan


def end_to_end(workload: str, run: loop.Run, prep: Prepared, setup_s: float, rss_mb: float) -> dict[str, tuple]:
    """name -> (value, unit, samples); NaN marks a metric the workload does
    not exercise."""
    ok_ops = run.completed()
    all_ms = run.ms()
    kinds = GMEAN_KINDS[workload]
    gmean = (math.exp(statistics.fmean(math.log(statistics.median(run.ms(k))) for k in kinds))
             if all(run.ms(k) for k in kinds) else math.nan)
    point, multi, rng_ = run.ms("point"), run.ms("multiget", "getall"), run.ms("range")
    asof, commit = run.ms("asof"), run.ms("commit")
    w = prep.writer
    passes = len(run.ms(CORPUS_KINDS[0]))
    return {
        "setup_s": (setup_s, "s", len(prep.builds)),
        "ops_per_s": (ok_ops / run.elapsed, "1/s", round(ok_ops)),
        "op_p50_ms": (pct(all_ms, 50), "ms", len(all_ms)),
        "op_p90_ms": (pct(all_ms, 90), "ms", len(all_ms)),
        "kind_p50_gmean_ms": (gmean, "ms", len(kinds)),
        "focus_ms": (focus_ms(workload, run), "ms", len(commit) or passes),
        "point_p50_ms": (pct(point, 50), "ms", len(point)),
        "point_p95_ms": (pct(point, 95), "ms", len(point)),
        "multiget_p50_ms": (pct(multi, 50), "ms", len(multi)),
        "range_p50_ms": (pct(rng_, 50), "ms", len(rng_)),
        "range_p95_ms": (pct(rng_, 95), "ms", len(rng_)),
        "asof_p50_ms": (pct(asof, 50), "ms", len(asof)),
        "commit_p50_ms": (pct(commit, 50), "ms", len(commit)),
        "commit_p90_ms": (pct(commit, 90), "ms", len(commit)),
        "bytes_written_per_row": (w.stats.bytes / w.stats.rows if w and w.stats.rows else math.nan,
                                  "B/row", w.stats.rows if w else 0),
        "docs_per_s": (passes * prep.docs / run.elapsed if prep.docs else math.nan, "1/s", passes),
        "error_rate": (run.failed / max(run.attempted, 1), "ratio", run.attempted),
        "rss_peak_mb": (rss_mb, "MB", 1),
    }


def _manifest_stats(stores: list[str]) -> tuple[float, float]:
    """Mean newest-manifest size (KiB) and mean head file count."""
    from perfbench.kv import MANIFEST, read_latest

    if not stores:
        return 0.0, 0.0
    kb, files = [], []
    for s in stores:
        m, stamp = read_latest(s, MANIFEST)
        kb.append(os.path.getsize(os.path.join(s, f"{MANIFEST}.v{stamp}.json")) / 1024.0)
        files.append(len(m["versions"][-1]["files"] or []))
    return statistics.mean(kb), statistics.mean(files)


def per_layer(tracer: tracing.Tracer, traced: loop.Run, untraced: loop.Run, warmup: loop.Run,
              prep: Prepared, session_s: float) -> dict[str, tuple]:
    def med(values):
        return statistics.median(values) if values else 0.0

    def mean(values):
        return statistics.mean(values) if values else 0.0

    ops = max(traced.attempted, 1)
    reads = [s for s in traced.samples if s.kind not in WRITE_KINDS]
    commits = [s for s in traced.samples if s.kind == "commit"]
    kb, files = _manifest_stats(prep.stores)
    sharded_reads = tracer.by_name("sharded.range", "sharded.get_all", "sharded.in_order")
    w = prep.writer
    traced_rate = traced.completed() / traced.elapsed
    untraced_rate = untraced.completed() / untraced.elapsed
    return {
        "session.start_s": (session_s, "s"),
        "catalog.read_latest_ms": (tracer.median_ms("catalog.read_latest"), "ms"),
        "catalog.reads_per_op": (len(tracer.by_name("catalog.read_latest")) / ops, "count"),
        "catalog.manifest_kb": (kb, "KiB"),
        "catalog.commit_ms": (tracer.median_ms("catalog.commit"), "ms"),
        "catalog.commit_conflicts": (float(sum("CommitConflict" in e for e in traced.errors)), "count"),
        "snapshots.open_ms": (tracer.median_ms("snapshots.latest", "snapshots.at_version"), "ms"),
        "snapshots.read_plan_ms": (tracer.median_ms("snapshots.read_point", "snapshots.read_points",
                                                    "snapshots.read_range"), "ms"),
        "snapshots.files_per_version": (files, "count"),
        "snapshots.files_scanned_per_point": (mean(tracer.files["point"]), "count"),
        "snapshots.files_scanned_per_range": (mean(tracer.files["range"]), "count"),
        "snapshots.execute_ms": (tracer.median_ms("snapshots.execute", self_time=True), "ms"),
        "snapshots.commit_ms": (tracer.median_ms("snapshots.store_commit"), "ms"),
        "snapshots.rows_rewritten_per_row": (w.stats.rows_rewritten / w.stats.rows if w and w.stats.rows else 0.0,
                                             "rows/row"),
        "snapshots.compact_ms": (tracer.median_ms("snapshots.compact"), "ms"),
        # over the whole run: the warm-up rejects one transaction of each kind
        "snapshots.rejected_txns": (float(sum(s.kind == "rejected" and s.ok for r in (warmup, untraced, traced)
                                              for s in r.samples)), "count"),
        "index.plan_ms": (tracer.median_ms(*[f"index.{a}" for a in (
            "get", "get_all", "in_order", "gt", "lt", "range", "next_key", "previous_key")]), "ms"),
        "sharded.route_ms": (med([sp.ms for sp in sharded_reads]), "ms"),
        "sharded.shards_per_read": (mean([tracer.descendants_named(sp, "snapshots.at_version")
                                          for sp in sharded_reads]), "count"),
        "sharded.as_of_ms": (tracer.median_ms("sharded.as_of"), "ms"),
        "spark.jobs_per_read": (mean([s.jobs for s in reads]), "count"),
        "spark.tasks_per_read": (mean([s.tasks for s in reads]), "count"),
        "spark.jobs_per_commit": (mean([s.jobs for s in commits]), "count"),
        "spark.collect_ms": (tracer.median_ms("spark.collect"), "ms"),
        "operators.exact_dedup_ms": (med(traced.ms("pipeline_end_to_end")), "ms"),
        "operators.near_dup_ms": (med(traced.ms("near_dedup_survivors")), "ms"),
        "functions.quality_ms": (med(traced.ms("text_quality")), "ms"),
        "functions.lang_ms": (med(traced.ms("lang_id")), "ms"),
        "trace.ops_per_s_untraced": (untraced_rate, "1/s"),
        "trace.ops_per_s_traced": (traced_rate, "1/s"),
        "trace.overhead_pct": (100.0 * (1.0 - traced_rate / untraced_rate) if untraced_rate else 0.0, "%"),
    }


# ------------------------------------------------------------------ main
def _fmt(v: float) -> str:
    return "n/a" if isinstance(v, float) and math.isnan(v) else f"{v:.6g}"


def _print_table(runs: list[loop.Run], metrics: dict[str, tuple]) -> None:
    warm, measured = runs[0], runs[1:]
    print(f"# ops: {sum(r.attempted for r in runs)} attempted, {sum(r.failed for r in runs)} failed; "
          f"warm-up {warm.elapsed:.1f}s, measured " + " + ".join(f"{r.elapsed:.1f}s" for r in measured))
    for label, group in (("warm-up", [warm]), ("measured", measured)):
        kinds: dict[str, list[float]] = {}
        for r in group:
            for s in r.samples:
                kinds.setdefault(s.kind, []).append(s.ms)
        for k, v in sorted(kinds.items()):
            print(f"#   {label:8s} {k:22s} n={len(v):4d} p50={pct(v, 50):9.1f} ms p90={pct(v, 90):9.1f} ms")
    for r in runs:
        for e in r.errors[:5]:
            print(f"# FAILED {e}")
    print(f"# {'metric':34s} {'value':>12s} {'unit':8s} samples")
    for name, (v, unit, n) in metrics.items():
        print(f"# {name:34s} {_fmt(v):>12s} {unit:8s} {n}")


def run(args, work: str, reported: set[str]) -> dict:
    import numpy as np

    make_data, setup = WORKLOAD_STEPS[args.workload]
    data = make_data(work, args.seed)
    spark, session_s = _start_spark()
    try:
        jvm_pid = loop.find_jvm_pid(spark)

        def rng_for(client: int):
            return np.random.default_rng([args.seed, 1000 + client])

        prep = setup(spark, work, data, rng_for)
        setup_s = session_s + (statistics.median(prep.builds) if prep.builds else 0.0)
        print(f"# {args.workload} seed={args.seed}: session {session_s:.2f}s, builds "
              + (", ".join(f"{b:.2f}s" for b in prep.builds) or "none"), flush=True)
        warmup = loop.closed_loop(prep.clients if prep.warmup is None else prep.warmup, WARMUP_S)
        if prep.writer is not None:
            prep.writer.stats = type(prep.writer.stats)()

        if not args.trace:
            measured = loop.closed_loop(prep.clients, args.seconds)
            metrics = end_to_end(args.workload, measured, prep, setup_s, loop.rss_peak_mb(jvm_pid))
            runs = [warmup, measured]
        else:
            untraced = loop.closed_loop(prep.clients, args.seconds / 2)
            if prep.writer is not None:
                prep.writer.stats = type(prep.writer.stats)()
            tracer = tracing.Tracer()
            tracer.install(type(spark.range(1)))
            try:
                traced = loop.closed_loop(prep.clients, args.seconds / 2, tracer,
                                          tracing.JobCounter(spark.sparkContext))
            finally:
                tracer.uninstall()
            os.makedirs(args.out, exist_ok=True)
            tracer.dump(os.path.join(args.out, f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = {k: (v, u, traced.attempted)
                       for k, (v, u) in per_layer(tracer, traced, untraced, warmup, prep, session_s).items()}
            runs = [warmup, untraced, traced]
    finally:
        _stop_spark(spark)

    _print_table(runs, metrics)
    failed = sum(r.failed for r in runs)
    # warm-up ops are checked too: they count as attempted (and failed)
    attempted = sum(r.attempted for r in runs)
    out = {name: {"value": v, "unit": unit} for name, (v, unit, _n) in metrics.items() if name in reported}
    missing = sorted(reported - {k for k, v in out.items() if not math.isnan(v["value"])})
    if missing:
        # a gated metric without samples is a failed run, never a NaN in the JSON
        print(f"# FAILED no value for {missing}")
        failed += 1
        out = {k: v for k, v in out.items() if k not in missing}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def main(argv: Optional[list[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_STEPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out"),
                    help="where the traced run writes its spans")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "index_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no index_spark package in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    reported = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "data"), exist_ok=True)
    _configure_env(work)
    try:
        out = run(args, work, reported)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
