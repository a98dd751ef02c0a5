#!/usr/bin/env python3
"""Benchmark of the parquet_index_spark engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload needle_lookup --seed 1 \
        --seconds 16 --trace 0

Each run starts a fresh JVM (``local[<cores>]``), builds its seeded
inputs under a temporary directory in the checkout, measures a closed
loop of single-client calls for ``--seconds`` seconds, checks every
result, and prints two lines: ``PERFBENCH_REPORT <json>`` with the full
record (inputs, per-op counters, failures) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. See README.md
in this directory.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from sparkmetrics import ProcessSampler, children, group_metrics  # noqa: E402
from tracing import Tracer, calls, inclusive_ms, self_time_ms  # noqa: E402

# untimed steps before the window: lookup latencies keep falling for
# about the first 50 calls while the JVM's JIT compiles the lookup path;
# maintenance warms up on one whole cycle (five writes, each with a read)
WARMUP_STEPS = {"needle_lookup": 50, "index_maintenance": 10}
# traced runs only: after the window, this many steps (plus one warm-up
# step) replay with the fold forced onto the Spark-job route
SPARK_FOLD_STEPS = 4
# the per-layer metrics of BENCHMARK.json: every traced run prints these,
# since each applies to every workload. The rest of layer_metrics() (the
# write path's sources.* and ckpt.*, per-kind op.<kind>.*, self time of
# layers a workload's window does not enter) goes to the report line only,
# for the workloads where it applies.
PER_LAYER = (
    "predicates.parse_ms", "metastore.load_ms", "metastore.cache_hit_ratio",
    "metastore.context_build_ms", "statistics.membership_build_ms",
    "pruning.fold_ms", "pruning.files_kept_ratio", "pruning_spark.fold_ms",
    "pruning_spark.jobs_per_fold", "manager.filter_ms",
    "manager.scan_plan_ms", "manager.reader_paths", "collector.stats_job_s",
    "collector.list_files_s", "collector.files_scanned", "pyworker.cpu_s",
    "mem.peak_rss_mb", "spark.jobs_per_op", "spark.tasks_per_op",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.input_mb",
    "spark.shuffle_write_mb", "spark.driver_only_ms",
    "op.spark_fold.p50_ms", "op.spark_fold.jobs", "op.spark_fold.tasks",
    "op.spark_fold.cpu_ms", "self.predicates_ms", "self.metastore_ms",
    "self.pruning_ms", "self.pruning_spark_ms", "self.manager_ms",
    "setup.session_s", "setup.layout_s", "setup.build_s", "setup.warmup_s",
    "trace.op_p50_ms", "trace.read_p50_ms", "trace.op_cpu_ms",
    "trace.read_cpu_ms", "trace.spans_per_op", "trace.est_overhead_ms")
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
TMP_DIR = os.path.join(ROOT, ".perfbench_tmp")


def start_session(cores: int, tmp: str):
    """Fresh JVM with the session confs of ``bench.py`` (AQE on, shuffle
    partitions = cores, UI off) except its 8g driver heap: the heap is
    capped at 2g, which the inputs fit, so that a run's memory stays
    small on a shared host. Beyond those: a UTC session time zone, an
    in-memory catalog (no Derby files), and every scratch path Spark or
    the JVM writes pointing into ``tmp``."""
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first takes its options
    # from here, not from the session conf
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                         "-XX:-UsePerfData")
    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "2g")
             .config("spark.sql.catalogImplementation", "in-memory")
             .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
             .config("spark.local.dir", os.path.join(tmp, "spark-local"))
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it is gone. ``spark`` is
    None when start-up was interrupted. The JVM's Python workers outlive
    it by a moment; :func:`end_children` waits for them."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    try:
        if gateway is not None:
            gateway.shutdown()
    except Py4JError:  # the JVM side may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def adopt_orphans() -> None:
    """Make this process the reaper of everything it starts: a process
    whose parent ends first (a Spark Python worker once its JVM is gone)
    becomes a child of this one, so :func:`end_children` can wait for
    it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): "
                           f"{os.strerror(err)}")


def end_children(grace: float = 10.0) -> None:
    """Wait until every child of this process has ended: first for
    ``grace`` seconds, then after a SIGTERM for ``grace`` more, then
    after a SIGKILL."""
    deadline = time.monotonic() + grace
    terminated = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # none left
            return
        if pid:
            continue
        now = time.monotonic()
        if now >= deadline:
            sig = signal.SIGKILL if terminated else signal.SIGTERM
            for kid in children(os.getpid()):
                try:
                    os.kill(kid, sig)
                except ProcessLookupError:
                    pass
            # after a SIGKILL, again each second for late orphans
            deadline = now + (1.0 if terminated else grace)
            terminated = True
        time.sleep(0.05)


def install_tracing(tracer: Tracer, state: dict) -> None:
    """Wrap the public entry points of each layer of the program."""
    from parquet_index_spark import (collector, manager, metastore,
                                     predicates, pruning, pruning_spark,
                                     sources, statistics as st)
    from parquet_index_spark.operators import _ckpt

    def jobs_now():
        sc, group = state.get("sc"), state.get("group")
        if sc is None or group is None:
            return 0
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def cache_hit(args, _kw):
        ms, spec = args[0], args[1]
        return {"hit": ms.index_dir(spec) in getattr(ms, "_cache", {})}

    def ctx_build(args, _kw):
        return {"build": getattr(args[0], "_ctx", None) is None}

    def n_files(args, kw):
        files = args[2] if len(args) > 2 else kw.get("files", ())
        return {"files": len(files)}

    w = tracer.wrap
    w(predicates, "parse_sql_predicate", "predicates",
      "predicates.parse_sql_predicate")
    w(metastore.Metastore, "load", "metastore", "metastore.load",
      before=cache_hit)
    w(metastore.IndexMetadata, "context", "metastore", "metastore.context",
      before=ctx_build)
    w(st.ColumnMembership, "build", "statistics", "statistics.build")
    for mod in (pruning, manager):  # manager imports prune_files by name
        w(mod, "prune_files", "pruning", "pruning.prune_files")
    w(pruning, "evaluate", "pruning", "pruning.evaluate")
    w(pruning, "evaluate_full", "pruning", "pruning.evaluate_full")
    for fn in ("prune_files_with_spark", "count_files_with_spark",
               "min_max_files_with_spark"):
        w(pruning_spark, fn, "pruning_spark", f"pruning_spark.{fn}",
          before=lambda a, k: {"jobs0": jobs_now()},
          after=lambda r, a, k: {"jobs1": jobs_now()})
    for fn in ("filter", "count_where", "contains_term"):
        w(manager.IndexedDataFrame, fn, "manager", f"manager.{fn}")
    w(manager.RefreshIndexCommand, "parquet", "manager", "manager.refresh")
    w(manager.CreateIndexCommand, "parquet", "manager", "manager.create")
    w(collector, "run_stats_job", "collector", "collector.run_stats_job",
      before=n_files)
    w(collector, "list_table_files", "collector", "collector.list_table_files")
    for fn in ("delete_where", "update_where", "merge_into",
               "acquire_writer_lease", "_require_index_current"):
        w(sources, fn, "sources", f"sources.{fn}")
    for fn in ("observation_get_bounded", "checkpoint_corpus",
               "checkpoint_corpus_observed"):
        w(_ckpt, fn, "ckpt", f"ckpt.{fn}")


def span_cost_us(n: int = 20000) -> float:
    """Cost of one traced call over an untraced one, in microseconds."""
    class Probe:
        @staticmethod
        def f():
            return None
    t = Tracer()
    plain = time.perf_counter()
    for _ in range(n):
        Probe.f()
    plain = time.perf_counter() - plain
    t.wrap(Probe, "f", "probe")
    traced = time.perf_counter()
    for _ in range(n):
        Probe.f()
    traced = time.perf_counter() - traced
    return max(0.0, (traced - plain) / n * 1e6)


def execute_step(w, step, sc, state, records, tracer, idx) -> bool:
    """Time one call; then, untimed, read its Spark counters, check its
    result and record it. Returns whether the result was correct."""
    w.prepare(step)
    group = f"perfbench-{idx}"
    state["group"] = group
    sc.setJobGroup(group, step.kind, False)
    if tracer is not None:
        tracer.request = idx
    err = result = None
    cpu = state.get("cpu")
    cpu0 = cpu() if cpu else 0.0
    wall0 = time.time() * 1000.0
    t0 = time.perf_counter()
    try:
        result = w.execute(step)
    except Exception as e:  # an op that raises is a failed op
        err = f"{type(e).__name__}: {e}"[:500]
    lat = time.perf_counter() - t0
    wall1 = time.time() * 1000.0
    cpu_ms = max(0.0, (cpu() - cpu0) * 1000.0) if cpu else 0.0
    if tracer is not None:
        tracer.request = None
    counters = group_metrics(sc, group, wall0, wall1)
    got = None
    if err is None:
        w.apply_model(step)
        try:
            got = w.summarize(step, result)
        except Exception as e:
            err = f"{type(e).__name__}: {e}"[:500]
    ok = err is None and (step.expected is None or got == step.expected)
    info = result if isinstance(result, dict) else {}
    prune = None
    if step.read:
        pi = w.ctx.index.last_prune_info
        if pi is not None:
            prune = (pi.total_files, pi.selected_files)
    records.append({
        "i": idx, "kind": step.kind, "role": step.role, "read": step.read,
        "lat_ms": lat * 1000.0, "cpu_ms": cpu_ms, "cycle": step.cycle,
        "ok": ok, "err": err,
        "got": None if ok else got, "want": None if ok else step.expected,
        "prune": prune, "spark": counters,
        "info": {k: v for k, v in info.items()
                 if isinstance(v, (int, float, str))},
        "rows_per_file": step.info.get("rows_per_file"),
        "arg": step.describe()})
    return ok


def run(args, tmp: str) -> tuple:
    from workloads import WORKLOADS
    name, seed, seconds = args.workload, args.seed, args.seconds
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer() if args.trace else None
    state: dict = {}
    if tracer is not None:
        install_tracing(tracer, state)
        tracer.request = "setup"

    spark = sampler = w = None
    try:
        t0 = time.perf_counter()
        spark = start_session(cores, tmp)
        session_s = time.perf_counter() - t0
        sc = spark.sparkContext
        state["sc"] = sc
        jvm = getattr(sc._gateway, "proc", None)
        sampler = ProcessSampler(jvm.pid if jvm is not None else None).start()
        state["cpu"] = sampler.cpu_s
        w = WORKLOADS[name](spark, seed, tmp)
        layout_s = w.layout()
        # the driver's memory before the first program call, once the
        # generated tables are freed (DuckDB runs in a child process)
        rss0 = driver_rss_mb()
        build_s = w.build()
        warm = []
        t0 = time.perf_counter()
        for j, step in enumerate(w.warmup_steps(WARMUP_STEPS[name])):
            execute_step(w, step, sc, state, warm, tracer, f"warmup-{j}")
        warmup_s = time.perf_counter() - t0
        setup = {"session_s": session_s, "layout_s": layout_s,
                 "build_s": build_s, "warmup_s": warmup_s}
        setup_s = sum(setup.values())

        records: list = []
        cpu0 = sampler.worker_cpu_s()
        start = time.perf_counter()
        for idx, step in enumerate(w.stream()):
            execute_step(w, step, sc, state, records, tracer, idx)
            if step.end_of_cycle and time.perf_counter() - start >= seconds:
                break
        window_s = time.perf_counter() - start
        worker_cpu_s = sampler.worker_cpu_s() - cpu0
        memory = {"jvm_live_mb": jvm_live_mb(sc),
                  "driver_rss_growth_mb": driver_rss_mb() - rss0}
        retained = sum(memory.values())
        ratio = w.index_bytes_ratio()

        fold_records: list = []
        fold_warm: list = []
        if tracer is not None:
            fold = w.spark_fold_steps(SPARK_FOLD_STEPS + 1)
            w.spark_fold(True)
            for j, step in enumerate(fold):
                execute_step(w, step, sc, state,
                             fold_records if j else fold_warm, tracer,
                             f"spark-fold-{j}")
            w.spark_fold(False)
        sc.setLocalProperty("spark.jobGroup.id", None)

        finals = []
        for label, got, want in w.final_checks():
            finals.append({"check": label, "ok": got == want,
                           "got": got, "want": want})
    finally:
        if sampler is not None:
            sampler.stop()
        if w is not None:
            w.close()
        stop_session(spark)

    steps = warm + records + fold_warm + fold_records
    failed = [r for r in steps if not r["ok"]] + \
        [f for f in finals if not f["ok"]]
    attempted = len(steps) + len(finals)
    e2e = end_to_end(records, setup_s, retained, ratio)
    report = {
        "workload": name, "seed": seed, "seconds": seconds,
        "trace": args.trace, "cores": cores,
        "testdata": "generated from --seed by perfbench/data.py "
                    "(no external files)",
        "inputs": inputs_record(name),
        "setup": {**setup, "warmup_lat_ms": [r["lat_ms"] for r in warm]},
        "window_s": window_s,
        "end_to_end": e2e,
        "cpu": cpu(records),
        "named": named_metrics(name, records),
        "counts": counts(records, worker_cpu_s),
        "peak_rss_mb": sampler.peak_rss / 2**20,
        "retained": memory,
        "failed_frac": len(failed) / attempted,
        "failures": failed[:20],
        "steps": [{k: r[k] for k in ("i", "kind", "lat_ms", "cpu_ms", "ok",
                                     "arg", "spark", "prune", "info")}
                  for r in records],
    }
    if tracer is not None:
        report["layers"] = layer_metrics(tracer, records, fold_records,
                                         setup, worker_cpu_s,
                                         report["peak_rss_mb"])
        report["spark_fold_steps"] = [
            {k: r[k] for k in ("i", "kind", "lat_ms", "ok", "arg", "spark")}
            for r in fold_records]
        metrics = {k: report["layers"][k] for k in PER_LAYER
                   if k in report["layers"]}
    else:
        metrics = {k: {"value": v["value"], "unit": v["unit"]}
                   for k, v in e2e.items()}
    return report, tracer, {
        "correct": not failed, "attempted": attempted,
        "failed": len(failed), "metrics": metrics}


UNITS = {"setup_s": "s", "op_p50_ms": "ms", "read_p50_ms": "ms",
         "retained_mb": "MB", "index_bytes_ratio": "ratio"}


def jvm_live_mb(sc) -> float:
    """The JVM heap still live after a full GC. Peak RSS follows the
    JVM's heap sizing and varies by a quarter between runs of the same
    code; the live heap does not."""
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def driver_rss_mb() -> float:
    """RSS of this Python process once freed memory has gone back to the
    OS (Python GC, Arrow's pool, the C heap), so that memory the
    benchmark freed is neither counted nor reused unseen."""
    import pyarrow as pa
    gc.collect()
    pa.default_memory_pool().release_unused()
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/statm") as fh:
        return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def per_op(records, key: str = "lat_ms") -> list:
    """``key`` of each op: one lookup, or summed over the writes of one
    maintenance cycle."""
    out, cycles = [], {}
    for r in records:
        if r["role"] != "op":
            continue
        if r["cycle"] is None:
            out.append(r[key])
        else:
            cycles[r["cycle"]] = cycles.get(r["cycle"], 0.0) + r[key]
    return out + list(cycles.values())


def cpu(records) -> dict:
    """Mean CPU time (driver main thread + JVM + Python workers) of an op
    and of a read, with sample counts."""
    ops = per_op(records, "cpu_ms")
    reads = [r["cpu_ms"] for r in records if r["read"]]
    return {"op_cpu_ms": {"mean": stats.mean(ops), "n": len(ops)},
            "read_cpu_ms": {"mean": stats.mean(reads), "n": len(reads)}}


def end_to_end(records, setup_s, retained, ratio) -> dict:
    ops = per_op(records)
    reads = [r["lat_ms"] for r in records if r["read"]]
    vals = {
        "setup_s": (setup_s, 1),
        "op_p50_ms": (stats.percentile(ops, 50), len(ops)),
        "read_p50_ms": (stats.percentile(reads, 50), len(reads)),
        "retained_mb": (retained, 1),
        "index_bytes_ratio": (ratio, 1),
    }
    return {k: {"value": v, "unit": UNITS[k], "n": n}
            for k, (v, n) in vals.items()}


def _p50_by_kind(records) -> dict:
    by = defaultdict(list)
    for r in records:
        by[r["kind"]].append(r["lat_ms"])
    return {k: stats.summary(v) for k, v in by.items()}


def named_metrics(name: str, records) -> dict:
    """The workload's metrics under the names ROADMAP.md uses, each with
    its sample count."""
    by = _p50_by_kind(records)
    if name != "index_maintenance":
        lat = [r["lat_ms"] for r in records]
        s = stats.summary(lat)
        return {"lookup_p50_ms": s["p50"], "lookup_p90_ms": s["p90"],
                "lookup_tail_ms": s["tail"],
                "lookups_per_s": len(lat) / (sum(lat) / 1000.0),
                "n": s["n"], "by_kind": by}

    def sec(kind):
        s = by.get(kind)
        return None if s is None else {"p50_s": s["p50"] / 1000.0,
                                       "n": s["n"]}
    return {"append_refresh_p50_s": sec("append_refresh"),
            "delete_p50_s": sec("delete"), "update_p50_s": sec("update"),
            "merge_p50_s": sec("merge"), "index_build_s": sec("rebuild"),
            "read_after_write_p50_ms": by.get("read_after_write")}


def counts(records, worker_cpu_s) -> dict:
    """Host-independent counters next to the timings, per op."""
    n = max(1, len(records))
    tot = defaultdict(float)
    for r in records:
        for k, v in r["spark"].items():
            tot[k] += v
    kept = [r["prune"][1] for r in records if r["prune"]]
    return {"ops": len(records),
            "jobs_per_op": tot["jobs"] / n, "tasks_per_op": tot["tasks"] / n,
            "executor_cpu_s_per_op": tot["executor_cpu_ms"] / n / 1000.0,
            "files_kept_per_read": stats.mean(kept),
            "files_rewritten": sum(r["info"].get("files_rewritten", 0)
                                   for r in records),
            "pyworker_cpu_s": worker_cpu_s}


def layer_metrics(tracer, records, fold_records, setup, worker_cpu_s,
                  peak_rss_mb) -> dict:
    """Per-layer metrics from the spans, per measured step unless named
    otherwise. A metric the run recorded nothing for is left out, so a
    layer the workload does not enter never reads as a perfect 0."""
    sp = tracer.spans
    req = {r["i"] for r in records}
    freq = {r["i"] for r in fold_records}
    n = len(records)
    incl = inclusive_ms(sp, req)
    m = {}

    def per_step(ms):
        return None if ms is None else ms / n

    def ms_of(spans):
        return [(s[3] - s[2]) * 1000.0 for s in spans]

    m["predicates.parse_ms"] = per_step(incl.get("predicates"))
    loads = calls(sp, "metastore.load", req)
    m["metastore.load_ms"] = per_step(sum(ms_of(loads)) if loads else None)
    m["metastore.cache_hit_ratio"] = stats.mean(
        [1.0 if s[6]["hit"] else 0.0 for s in loads])
    # per build, over the whole run: a workload whose cache holds builds
    # its contexts and filters in set-up and warm-up only
    m["metastore.context_build_ms"] = stats.mean(ms_of(
        [s for s in calls(sp, "metastore.context") if s[6]["build"]]))
    m["statistics.membership_build_ms"] = stats.mean(
        ms_of(calls(sp, "statistics.build")))
    m["pruning.fold_ms"] = per_step(incl.get("pruning"))
    m["pruning.files_kept_ratio"] = stats.mean(
        [r["prune"][1] / r["prune"][0] for r in records
         if r["prune"] and r["prune"][0]])
    # the Spark-job route is measured on its own replayed steps
    folds = [sp[i] for i in range(len(sp)) if sp[i][3] is not None
             and sp[i][5] in freq and sp[i][1] == "pruning_spark"]
    if folds:
        m["pruning_spark.fold_ms"] = (inclusive_ms(sp, freq)["pruning_spark"]
                                      / len(fold_records))
        m["pruning_spark.jobs_per_fold"] = stats.mean(
            [s[6]["jobs1"] - s[6]["jobs0"] for s in folds])
    filters = calls(sp, "manager.filter", req)
    if filters:
        m["manager.filter_ms"] = per_step(sum(ms_of(filters)))
        # filter time minus the parse, metadata and fold calls it made
        child = defaultdict(float)
        for s in sp:
            if s[3] is not None and s[4] is not None:
                child[s[4]] += s[3] - s[2]
        m["manager.scan_plan_ms"] = per_step(sum(
            (s[3] - s[2] - child[i]) * 1000.0 for i, s in enumerate(sp)
            if s[0] == "manager.filter" and s[3] is not None and s[5] in req))
    m["manager.reader_paths"] = stats.mean(
        [r["prune"][1] for r in records if r["prune"]])

    # per call, set-up included
    stats_jobs = calls(sp, "collector.run_stats_job")
    m["collector.stats_job_s"] = stats.mean([s[3] - s[2] for s in stats_jobs])
    m["collector.list_files_s"] = stats.mean(
        [s[3] - s[2] for s in calls(sp, "collector.list_table_files")])
    m["collector.files_scanned"] = stats.mean(
        [s[6]["files"] for s in stats_jobs])

    dml = [r for r in records if r["kind"] in ("delete", "update", "merge")]
    m["sources.lease_ms"] = stats.mean(
        ms_of(calls(sp, "sources.acquire_writer_lease", req)))
    m["sources.staleness_ms"] = stats.mean(
        ms_of(calls(sp, "sources._require_index_current", req)))
    if dml:
        m["sources.files_rewritten"] = stats.mean(
            [r["info"].get("files_rewritten", 0) for r in dml])
        changed = sum(r["info"].get(k, 0) for r in dml
                      for k in ("rows_deleted", "rows_updated",
                                "rows_inserted"))
        touched = sum(r["info"].get("files_rewritten", 0) *
                      r["rows_per_file"] for r in dml)
        m["sources.rewrite_yield"] = changed / touched if touched else None
        waits = calls(sp, "ckpt.observation_get_bounded", req)
        if waits:
            m["ckpt.observation_wait_s"] = sum(
                s[3] - s[2] for s in waits) / len(dml)
        ckpt = inclusive_ms(sp, req, {"ckpt.checkpoint_corpus",
                                      "ckpt.checkpoint_corpus_observed"})
        if ckpt:
            m["ckpt.checkpoint_s"] = sum(ckpt.values()) / 1000.0 / len(dml)
    m["pyworker.cpu_s"] = worker_cpu_s / n
    m["mem.peak_rss_mb"] = peak_rss_mb

    tot = defaultdict(float)
    for r in records:
        for k, v in r["spark"].items():
            tot[k] += v
    m["spark.jobs_per_op"] = tot["jobs"] / n
    m["spark.tasks_per_op"] = tot["tasks"] / n
    for k in ("executor_run_ms", "executor_cpu_ms", "input_mb",
              "shuffle_write_mb", "driver_only_ms"):
        m[f"spark.{k}"] = tot[k] / n

    by = defaultdict(list)
    for r in records:
        by[r["kind"]].append(r)
    if fold_records:
        by["spark_fold"] = fold_records
    for kind, rs in by.items():
        m[f"op.{kind}.p50_ms"] = stats.percentile(
            [r["lat_ms"] for r in rs], 50)
        m[f"op.{kind}.jobs"] = stats.mean([r["spark"]["jobs"] for r in rs])
        m[f"op.{kind}.tasks"] = stats.mean([r["spark"]["tasks"] for r in rs])
        m[f"op.{kind}.cpu_ms"] = stats.mean(
            [r["spark"]["executor_cpu_ms"] for r in rs])

    for layer, ms in self_time_ms(sp, req).items():
        m[f"self.{layer}_ms"] = per_step(ms)
    if fold_records:  # per replayed step
        m["self.pruning_spark_ms"] = self_time_ms(sp, freq).get(
            "pruning_spark", 0.0) / len(fold_records)

    for k, v in setup.items():
        m[f"setup.{k}"] = v
    reads = [r for r in records if r["read"]]
    m["trace.op_p50_ms"] = stats.percentile(per_op(records), 50)
    m["trace.read_p50_ms"] = stats.percentile([r["lat_ms"] for r in reads],
                                              50)
    m["trace.op_cpu_ms"] = stats.mean(per_op(records, "cpu_ms"))
    m["trace.read_cpu_ms"] = stats.mean([r["cpu_ms"] for r in reads])
    spans_per_op = sum(1 for s in sp if s[5] in req) / n
    m["trace.spans_per_op"] = spans_per_op
    m["trace.est_overhead_ms"] = spans_per_op * span_cost_us() / 1000.0
    return {k: {"value": float(v), "unit": layer_unit(k)}
            for k, v in m.items() if v is not None}


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "yield")):
        return "ratio"
    return "count"


def inputs_record(name: str) -> dict:
    import data
    import workloads as W
    common = {"generator": "perfbench/data.py", "n_lineitem": data.N_LINEITEM,
              "n_orders": data.N_ORDERS, "bloom_fpp": W.BLOOM_FPP,
              "index_columns": list(W.LINEITEM_INDEX)}
    if name == "index_maintenance":
        return {**common, "files": W.MAINT_FILES,
                "cycle": ["rebuild", {"seeded order": list(W.MAINT_KINDS)}],
                "merge_rows": W.MERGE_ROWS,
                "append_orders": W.APPEND_ORDERS,
                "append_key0": W.APPEND_KEY0}
    return {**common, "files": W.LOOKUP_FILES, "n_docs": data.N_DOCS,
            "doc_files": W.DOC_FILES, "block": W.LOOKUP_BLOCK,
            "stream_len": W.STREAM_LEN}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "parquet_index_spark",
                                       "__init__.py")):
        print(f"no parquet_index_spark package under {ROOT}: run from the "
              "root of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    adopt_orphans()
    # SIGTERM unwinds through the finally blocks that remove scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(TMP_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=TMP_DIR)
    try:
        report, tracer, result = run(args, tmp)
    finally:
        end_children()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(TMP_DIR)
        except OSError:
            pass
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    if tracer is not None:
        tracer.dump(stem + "-spans.jsonl")
    print("PERFBENCH_REPORT " + json.dumps(
        {k: v for k, v in report.items() if k != "steps"}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
