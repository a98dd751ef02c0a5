"""Spark-job fold: the driver's fold (pruning.py) run on executors, one
task per stats shard, for indexes whose metadata outgrows driver memory.

Each task reads its shard with pyarrow (only the rows of the columns the
predicate references), builds a ``BlockStatsContext`` with the driver's
own builder (metastore.build_context: orphan filtering, partition
pseudo-stats, lazy membership decoding), runs the same pruning
functions, and returns small per-file results that the driver merges by
path. Shard compaction keeps a file's blocks in one shard, so each
task's fold is as precise as the driver's; a file split across shards
(an index compacted by an older release) still folds soundly, but may be
kept or scanned needlessly until the next compaction or rebuild. The
engine takes this route above
``spark.sql.index.pruning.sparkThreshold`` blocks.
"""

from __future__ import annotations

import hashlib
import os
import pickle
from typing import List

from pyspark.sql import SparkSession

from parquet_index_spark import predicates as P
from parquet_index_spark import pruning

SPARK_PRUNING_THRESHOLD = "spark.sql.index.pruning.sparkThreshold"
DEFAULT_THRESHOLD = 5_000_000

# (applicationId, pickled-predicate digest) -> Broadcast, insertion-
# ordered for eviction: re-folding the same predicate (retries, explain +
# prune, repeated joins on one dim's multi-MB InBloom) must not
# re-broadcast it, and a long-lived session must not accumulate one
# broadcast per call (round-9 review). Keyed by the context's
# applicationId, NOT the CPython id of the session: ids are reused after
# GC, so a new session could hit a dead session's entry and hand its
# tasks a broadcast from a stopped SparkContext (round-9 ADVICE). A dead
# app's entries simply age out of the bounded cache. Evicted entries are
# unpersisted (executor copies drop; the driver can still re-serve an
# in-flight task).
_BLOB_BROADCASTS: dict = {}
_BLOB_BROADCASTS_MAX = 4


def _broadcast(sc, pred: P.Predicate):
    blob = pickle.dumps(pred)
    key = (sc.applicationId, hashlib.sha1(blob).hexdigest())
    bc = _BLOB_BROADCASTS.get(key)
    if bc is None:
        bc = sc.broadcast(blob)
        _BLOB_BROADCASTS[key] = bc
        while len(_BLOB_BROADCASTS) > _BLOB_BROADCASTS_MAX:
            old = _BLOB_BROADCASTS.pop(next(iter(_BLOB_BROADCASTS)))
            try:
                old.unpersist(blocking=False)
            except Exception:  # noqa: BLE001 — stopped context
                pass
    return bc


def _shippable(pred: P.Predicate) -> P.Predicate:
    """The fold-relevant tree: NOT pushed down and every Unsupported
    leaf stripped of its residual builder (a Spark Column closure that
    cannot leave the driver and that the fold never calls)."""
    if isinstance(pred, (P.And, P.Or)):
        return type(pred)(tuple(_shippable(c) for c in pred.children))
    if isinstance(pred, P.Unsupported):
        return P.Unsupported(None, pred.description)
    return pred


def _fold_shard(shard: str, paths: list, partition_json: list,
                index_columns: dict, partition_columns: dict,
                block_rows_of: list, blob, tz: str, column,
                bands: bool) -> list:
    """Executor side: one stats shard through the driver's fold, over
    the stats rows of the ``block_rows_of`` columns only.
    -> surviving paths, or per-file partials when ``bands``."""
    import pyarrow.parquet as pq

    from parquet_index_spark.metastore import build_context

    read_cols = None if index_columns else ["path", "block", "rows",
                                            "column"]
    stats = pq.read_table(shard, columns=read_cols,
                          filters=[("column", "in", block_rows_of)]
                          ).to_pandas()
    ctx = build_context(stats, index_columns, partition_columns, paths,
                        partition_json)
    pred = None if blob is None else pickle.loads(blob.value)
    if bands:
        return pruning.file_partials(pred, ctx, tz, column)
    return pruning.prune_files(pred, ctx, tz)


def _run(spark: SparkSession, metadata, pred, tz, column=None,
         bands=True) -> list:
    """One task per stats shard; the tasks' results concatenated."""
    from parquet_index_spark import collector

    stats_dir = os.path.join(metadata.index_dir, "stats")
    shards = sorted(os.path.join(stats_dir, f)
                    for f in (os.listdir(stats_dir)
                              if os.path.isdir(stats_dir) else ())
                    if f.endswith(".parquet"))
    if not shards:
        return []  # empty table: no stats shards written
    if pred is not None:
        pred = _shippable(P.push_not_down(pred))
    ref = P.referenced_columns(pred) if pred is not None else set()
    if column:
        ref.add(column)
    idx = {c: k for c, k in metadata.index_columns.items() if c in ref}
    parts = {c: k for c, k in metadata.partition_columns.items()
             if c in ref}
    # one stats row per block per indexed column: a partition-only
    # predicate still reads one indexed column's rows for the blocks
    block_rows_of = list(idx) or sorted(metadata.index_columns)[:1]
    paths = list(metadata.files["path"])
    pjson = list(metadata.files["partition_json"]) if parts else None
    sc = spark.sparkContext
    collector._ensure_package_shipped(spark)
    blob = None if pred is None else _broadcast(sc, pred)
    return sc.parallelize(shards, len(shards)).flatMap(
        lambda s: _fold_shard(s, paths, pjson, idx, parts, block_rows_of,
                              blob, tz, column, bands)).collect()


def prune_files_with_spark(spark: SparkSession, metadata,
                           pred: P.Predicate, tz: str = None) -> List[str]:
    """Distributed pruning.prune_files: surviving files, manifest order."""
    keep = set(_run(spark, metadata, pred, tz, bands=False))
    return [p for p in metadata.files["path"] if p in keep]


def count_files_with_spark(spark: SparkSession, metadata,
                           pred: P.Predicate, tz: str = None):
    """Distributed three-band count decomposition -> (meta_count,
    boundary_paths): rows of files proven all-FULL, plus the files to
    scan with the residual predicate."""
    rows, _lo, _hi, scan = pruning.finish_partials(
        pruning.merge_partials(_run(spark, metadata, pred, tz)))
    return rows, scan


def min_max_files_with_spark(spark: SparkSession, metadata, column: str,
                             pred: P.Predicate = None, tz: str = None):
    """Distributed three-band min/max decomposition for ``column`` ->
    (lo, hi, scan_paths), lo/hi in stat space (None when metadata alone
    proves nothing)."""
    _rows, lo, hi, scan = pruning.finish_partials(
        pruning.merge_partials(_run(spark, metadata, pred, tz, column)))
    return lo, hi, scan
