"""Vectorized predicate fold over block statistics — the file-skipping core.

Reproduces the semantics of the reference's fold algebra
(ParquetIndexFilters.scala:52-137) and per-type statistics boundary rules
(ColumnStatistics.scala:26-159):

- a file survives iff ANY of its blocks might match (per-block OR,
  ParquetIndexFilters.scala:29-46);
- a file with zero blocks (empty parquet) is always skipped (ibid:42-45);
- Eq/In consult min/max then, if present, the membership filter
  (ibid:54-75);
- Gt matches iff max > v; Ge iff max >= v; Lt iff min < v; Le iff min <= v
  (the open/closed boundary rules of ibid:80-101);
- blocks known to be all-null (`has_stats == False` AND `nulls == rows`)
  fail every comparison (ColumnStatistics.scala:165-206, the `isSet`
  guard — the reference's stats always come from data scans, so isSet
  False *means* all-null there);
- blocks with NO stats but possibly non-null data (`has_stats == False`,
  `nulls != rows` — e.g. a parquet file written with statistics disabled,
  seen only by the footer fast path) pass every comparison: pruning them
  would be unsound;
- predicates on unindexed columns and unsupported shapes fold to
  "scan" (ibid:128-136).

Unlike the reference this fold is *vectorized*: one numpy pass over all
blocks of all files instead of a per-file future pool
(ParquetIndex.scala:158-185) — at 100 TB the metadata is millions of rows
and per-file Python loops would dominate query latency.

Negation is handled soundly by push-down (see predicates.push_not_down) —
deliberate divergence from ParquetIndexFilters.scala:118-123.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional

import numpy as np

from parquet_index_spark import predicates as P
from parquet_index_spark import types as ityp
from parquet_index_spark.statistics import MembershipFilter


class ColumnBlockStats:
    """Aligned per-block stats arrays for one indexed (or partition) column."""

    __slots__ = ("kind", "has", "nulls", "min_l", "max_l", "min_s", "max_s")

    def __init__(self, kind: str, has: np.ndarray, nulls: np.ndarray,
                 min_l: Optional[np.ndarray], max_l: Optional[np.ndarray],
                 min_s: Optional[np.ndarray], max_s: Optional[np.ndarray]):
        self.kind = kind
        self.has = has          # bool[n]: min/max present (not all-null)
        self.nulls = nulls      # int64[n]: null count, -1 => unknown
        self.min_l = min_l      # int64[n] (long-space) or None for strings
        self.max_l = max_l
        self.min_s = min_s      # object[n] of str or None for numerics
        self.max_s = max_s


class BlockStatsContext:
    """All blocks of a table, columnar; the pruner's evaluation context."""

    def __init__(self, n_blocks: int, rows: np.ndarray, file_ids: np.ndarray,
                 file_paths: List[str],
                 columns: Dict[str, ColumnBlockStats],
                 membership_loader: Optional[Callable[[str], Optional[list]]] = None):
        self.n = n_blocks
        self.rows = rows            # int64[n]
        self.file_ids = file_ids    # int64[n] index into file_paths
        self.file_paths = file_paths
        self.columns = columns
        # membership_loader(col) -> list[MembershipFilter|None] aligned with
        # blocks, or None when the column has no filter statistics. Lazy:
        # only invoked when an Eq/In actually needs it (reference lazy
        # readData, ColumnFilterStatistics.scala:122-135).
        self._membership_loader = membership_loader
        self._membership_cache: Dict[str, Optional[list]] = {}

    def membership(self, column: str):
        """-> ColumnMembership | None. Loader results are normalized: a
        per-block MembershipFilter list (test fixtures) converts once."""
        if column not in self._membership_cache:
            loader = self._membership_loader
            loaded = loader(column) if loader else None
            if isinstance(loaded, list):
                from parquet_index_spark.statistics import ColumnMembership
                loaded = ColumnMembership.from_filters(loaded)
                if not loaded.has_filter.any():
                    loaded = None
            self._membership_cache[column] = loaded
        return self._membership_cache[column]


def _true(ctx: BlockStatsContext) -> np.ndarray:
    return np.ones(ctx.n, dtype=bool)


def _false(ctx: BlockStatsContext) -> np.ndarray:
    return np.zeros(ctx.n, dtype=bool)


def _norm_literal(value, kind: str, tz: str = None):
    """Literal → stat space; None on un-coercible literal (=> scan).

    ``tz`` is the Spark session timezone: TIMESTAMP-kind (instant) naive
    literals are localized through it so the fold compares the same instant
    the residual filter evaluates (sound under any session timezone)."""
    try:
        return ityp.literal_to_stat_value(value, kind, tz)
    except (TypeError, ValueError, KeyError):
        return None


def _cmp_arrays(stats: ColumnBlockStats, v, op: str) -> np.ndarray:
    """Elementwise op between a block-stats bound and a normalized literal."""
    if stats.kind == ityp.STRING:
        src = stats.min_s if op in ("min_lt", "min_le") else stats.max_s
        # object array with None where has_stats is False; fill then compare
        # elementwise in numpy's C loop (~10x a python listcomp at 1M blocks)
        filled = np.where(np.equal(src, None), "", src)
        if op == "min_lt":
            return (filled < v).astype(bool, copy=False)
        if op == "min_le":
            return (filled <= v).astype(bool, copy=False)
        if op == "max_gt":
            return (filled > v).astype(bool, copy=False)
        return (filled >= v).astype(bool, copy=False)
    if op == "min_lt":
        return stats.min_l < v
    if op == "min_le":
        return stats.min_l <= v
    if op == "max_gt":
        return stats.max_l > v
    return stats.max_l >= v


def _statless_maybe(stats: ColumnBlockStats, ctx: "BlockStatsContext") -> np.ndarray:
    """Blocks with no min/max that are NOT known all-null: footer-path files
    written with statistics disabled (nulls == -1), or footers carrying a
    null count but no min/max (0 <= nulls < rows). Pruning these would drop
    real rows; every comparison keeps them."""
    return ~stats.has & (stats.nulls != ctx.rows)


def _contains(stats: ColumnBlockStats, ctx: "BlockStatsContext", v) -> np.ndarray:
    """Null-tolerant contains: (has_stats && min <= v <= max), or no stats
    at all (ColumnStatistics.scala:97-107; statless blocks keep)."""
    return (stats.has & _cmp_arrays(stats, v, "min_le")
            & _cmp_arrays(stats, v, "max_ge")) | _statless_maybe(stats, ctx)


def _apply_membership(ctx: BlockStatsContext, column: str, kind: str,
                      result: np.ndarray, values: list) -> np.ndarray:
    """Refine an Eq/In range-match with membership filters where available.

    Fully vectorized (ColumnMembership.refine): numpy column ops over the
    packed dict/bloom arrays — no per-block Python in the query path."""
    if not result.any():
        return result
    memb = ctx.membership(column)
    if memb is None:
        return result
    return memb.refine(result, values, kind)


def evaluate(pred: P.Predicate, ctx: BlockStatsContext,
             tz: str = None) -> np.ndarray:
    """Fold predicate → bool[n_blocks] "block might contain a matching row".

    ``tz``: spark.sql.session.timeZone, for instant-timestamp literals."""
    pred = P.push_not_down(pred)
    return _eval(pred, ctx, tz)


def _eval(pred: P.Predicate, ctx: BlockStatsContext, tz: str = None) -> np.ndarray:
    if isinstance(pred, P.And):
        out = _true(ctx)
        for c in pred.children:
            out &= _eval(c, ctx, tz)
            if not out.any():
                break
        return out
    if isinstance(pred, P.Or):
        out = _false(ctx)
        for c in pred.children:
            out |= _eval(c, ctx, tz)
            if out.all():
                break
        return out
    if isinstance(pred, P.Trivial):
        return _true(ctx) if pred.value else _false(ctx)
    if isinstance(pred, P.Unsupported):
        return _true(ctx)
    if isinstance(pred, P.Not):
        # push_not_down leaves Not only above Unsupported leaves
        return _true(ctx)
    if isinstance(pred, P.TermMatch):
        # term index: per-block membership over the column's distinct
        # tokens; blocks (or tables) without a term filter soundly scan.
        # Empty/whitespace terms are not stored in the filter (the
        # residual's split can emit "" tokens at trim edges) => may-match
        if not pred.term.strip():
            return _true(ctx)
        for suf in (P.TERMS2_SUFFIX, P.TERMS_SUFFIX):
            if pred.column + suf in ctx.columns:
                return _apply_membership(ctx, pred.column + suf,
                                         ityp.STRING, _true(ctx),
                                         [pred.term])
        return _true(ctx)
    if isinstance(pred, P.TermPrefixMatch):
        # token-prefix probe: only DICT term filters carry prefix
        # evidence (refine_prefix); bloom blocks and tables without a
        # term index soundly scan
        if not pred.prefix.strip():
            return _true(ctx)
        for suf in (P.TERMS2_SUFFIX, P.TERMS_SUFFIX):
            if pred.column + suf in ctx.columns:
                memb = ctx.membership(pred.column + suf)
                if memb is None:
                    return _true(ctx)
                return memb.refine_prefix(_true(ctx), pred.prefix)
        return _true(ctx)

    stats = ctx.columns.get(pred.column)
    if stats is None:
        return _true(ctx)  # unindexed column => scan (ParquetIndexFilters.scala:37-39)
    kind = stats.kind

    if isinstance(pred, P.InBloom):
        # reverse membership probe (dpp_join's big-dim tier): refute a
        # block when its exact DICT values all miss the dim-key bloom;
        # blocks without dict evidence soundly scan
        memb = ctx.membership(pred.column)
        if memb is None:
            return _true(ctx)
        from parquet_index_spark.statistics import BloomFilter
        try:
            probe = BloomFilter.from_bytes(pred.blob)
        except Exception:  # noqa: BLE001 — unknown blob => scan (sound)
            return _true(ctx)
        return memb.refine_against_filter(_true(ctx), probe, kind)
    if isinstance(pred, P.Eq):
        v = _norm_literal(pred.value, kind, tz)
        if v is None:
            return _true(ctx)
        out = _contains(stats, ctx, v)
        return _apply_membership(ctx, pred.column, kind, out, [v])
    if isinstance(pred, P.In):
        vs = [nv for nv in (_norm_literal(x, kind, tz) for x in pred.values) if nv is not None]
        if len(vs) != len(pred.values):
            return _true(ctx)  # some literal un-coercible => conservative
        if not vs:
            return _false(ctx)
        out = _false(ctx)
        for v in vs:
            out |= _contains(stats, ctx, v)
        return _apply_membership(ctx, pred.column, kind, out, vs)
    if isinstance(pred, P.Ne):
        v = _norm_literal(pred.value, kind, tz)
        if v is None:
            return _true(ctx)
        # a block matches `c != v` iff it has a non-null value different
        # from v: not(min == max == v)
        if kind == ityp.STRING:
            min_eq = np.equal(stats.min_s, v)
            max_eq = np.equal(stats.max_s, v)
        else:
            min_eq = stats.min_l == v
            max_eq = stats.max_l == v
        return (stats.has & ~(min_eq & max_eq)) | _statless_maybe(stats, ctx)
    if isinstance(pred, P.IsNull):
        return (stats.nulls > 0) | (stats.nulls == -1)
    if isinstance(pred, P.IsNotNull):
        known = stats.nulls >= 0
        return np.where(known, ctx.rows - np.maximum(stats.nulls, 0) > 0, ctx.rows > 0)
    if isinstance(pred, P.Gt):
        v = _norm_literal(pred.value, kind, tz)
        return _true(ctx) if v is None else \
            (stats.has & _cmp_arrays(stats, v, "max_gt")) | _statless_maybe(stats, ctx)
    if isinstance(pred, P.Ge):
        v = _norm_literal(pred.value, kind, tz)
        return _true(ctx) if v is None else \
            (stats.has & _cmp_arrays(stats, v, "max_ge")) | _statless_maybe(stats, ctx)
    if isinstance(pred, P.Lt):
        v = _norm_literal(pred.value, kind, tz)
        return _true(ctx) if v is None else \
            (stats.has & _cmp_arrays(stats, v, "min_lt")) | _statless_maybe(stats, ctx)
    if isinstance(pred, P.Le):
        v = _norm_literal(pred.value, kind, tz)
        return _true(ctx) if v is None else \
            (stats.has & _cmp_arrays(stats, v, "min_le")) | _statless_maybe(stats, ctx)
    if isinstance(pred, P.StartsWith):
        # beyond-reference: strings with prefix p form the interval
        # [p, prefix_upper_bound(p)) under the same lexicographic order
        # min/max are stored in, so the may-match test is interval
        # intersection (sound vs truncated footer bounds — truncation
        # only widens [min, max]). Dict filters refine: a stored
        # distinct set with no member starting with p refutes the block.
        if kind != ityp.STRING:
            return _true(ctx)  # prefix probe on non-string stats => scan
        p = pred.prefix
        hi = P.prefix_upper_bound(p)
        out = stats.has & _cmp_arrays(stats, p, "max_ge")
        if hi is not None:
            out &= _cmp_arrays(stats, hi, "min_lt")
        out = out | _statless_maybe(stats, ctx)
        if p and out.any():
            memb = ctx.membership(pred.column)
            if memb is not None:
                out = memb.refine_prefix(out, p)
        return out
    return _true(ctx)


def prune_files(pred: P.Predicate, ctx: BlockStatsContext,
                tz: str = None) -> List[str]:
    """Files whose ANY block might match. Empty files (no blocks) skipped."""
    block_match = evaluate(pred, ctx, tz)
    if ctx.n == 0:
        return []
    matched = np.zeros(len(ctx.file_paths), dtype=bool)
    matched[ctx.file_ids[block_match]] = True
    return [p for p, m in zip(ctx.file_paths, matched) if m]


# ---------------------------------------------------------------------------
# Full-match fold: "EVERY row of this block satisfies the predicate"
# ---------------------------------------------------------------------------
# The dual of `evaluate` (which answers "might ANY row match"). Where the
# may-match fold must err toward True, this one must err toward False: a
# block is full-match only when the stored stats PROVE the predicate for
# all rows. min/max in the metastore are exact (footer values, or data-
# recomputed where footers are distrusted — collector._footer_str_trusted),
# so min >= v proves `col > v-1` etc. Any null row fails every comparison
# predicate, hence comparisons also require a known zero null count.
#
# This enables metadata-only aggregation (IndexedDataFrame.count_where):
# full blocks contribute their exact footer row counts with no data IO;
# only blocks in the PARTIAL band (may-match but not full-match) force a
# scan of their file. No reference analog — the reference only prunes.


def _cmp_full(stats: ColumnBlockStats, v, op: str) -> np.ndarray:
    """Elementwise bound comparisons needed only by the full-match fold."""
    if stats.kind == ityp.STRING:
        src = stats.min_s if op.startswith("min") else stats.max_s
        filled = np.where(np.equal(src, None), "", src)
        if op == "min_gt":
            return (filled > v).astype(bool, copy=False)
        if op == "min_ge":
            return (filled >= v).astype(bool, copy=False)
        if op == "max_lt":
            return (filled < v).astype(bool, copy=False)
        if op == "max_le":
            return (filled <= v).astype(bool, copy=False)
        if op == "min_eq":
            return np.equal(stats.min_s, v).astype(bool, copy=False)
        return np.equal(stats.max_s, v).astype(bool, copy=False)
    if op == "min_gt":
        return stats.min_l > v
    if op == "min_ge":
        return stats.min_l >= v
    if op == "max_lt":
        return stats.max_l < v
    if op == "max_le":
        return stats.max_l <= v
    if op == "min_eq":
        return stats.min_l == v
    return stats.max_l == v


def evaluate_full(pred: P.Predicate, ctx: BlockStatsContext,
                  tz: str = None) -> np.ndarray:
    """Fold predicate → bool[n_blocks] "every row satisfies the predicate".

    Sound in the downward direction: False whenever the stats cannot
    prove the predicate (unindexed column, unsupported shape, unknown
    null count, statless block)."""
    pred = P.push_not_down(pred)
    return _eval_full(pred, ctx, tz)


def _eval_full(pred: P.Predicate, ctx: BlockStatsContext,
               tz: str = None) -> np.ndarray:
    if isinstance(pred, P.And):
        out = _true(ctx)
        for c in pred.children:
            out &= _eval_full(c, ctx, tz)
            if not out.any():
                break
        return out
    if isinstance(pred, P.Or):
        # every row satisfies (a OR b) if every row satisfies a, or every
        # row satisfies b; a mixed block (some rows via a, others via b)
        # is NOT provable from min/max alone and stays partial
        out = _false(ctx)
        for c in pred.children:
            out |= _eval_full(c, ctx, tz)
            if out.all():
                break
        return out
    if isinstance(pred, P.Trivial):
        return _true(ctx) if pred.value else _false(ctx)
    if isinstance(pred, (P.Unsupported, P.Not, P.TermMatch,
                         P.TermPrefixMatch)):
        # a membership filter can prove absence-of-evidence, never that
        # EVERY row contains the term
        return _false(ctx)

    stats = ctx.columns.get(getattr(pred, "column", None))
    if stats is None:
        return _false(ctx)
    kind = stats.kind

    if isinstance(pred, P.IsNull):
        # all-null blocks may legitimately lack min/max (has=False)
        return ctx.rows == stats.nulls  # nulls == -1 never equals rows >= 0
    if isinstance(pred, P.IsNotNull):
        return stats.nulls == 0

    # every comparison below fails on a null row => require known 0 nulls
    nn0 = stats.has & (stats.nulls == 0)
    if not nn0.any():
        return _false(ctx)

    if isinstance(pred, P.Eq):
        v = _norm_literal(pred.value, kind, tz)
        if v is None:
            return _false(ctx)
        # constant block: min == max == v means every (non-null) row == v
        return nn0 & _cmp_full(stats, v, "min_eq") & _cmp_full(stats, v, "max_eq")
    if isinstance(pred, P.In):
        vs = [nv for nv in (_norm_literal(x, kind, tz) for x in pred.values)
              if nv is not None]
        if not vs:
            return _false(ctx)
        out = _false(ctx)
        for v in vs:
            out |= _cmp_full(stats, v, "min_eq") & _cmp_full(stats, v, "max_eq")
        return nn0 & out
    if isinstance(pred, P.Ne):
        v = _norm_literal(pred.value, kind, tz)
        if v is None:
            return _false(ctx)
        return nn0 & (_cmp_full(stats, v, "max_lt")
                      | _cmp_full(stats, v, "min_gt"))
    if isinstance(pred, P.Gt):
        v = _norm_literal(pred.value, kind, tz)
        return _false(ctx) if v is None else nn0 & _cmp_full(stats, v, "min_gt")
    if isinstance(pred, P.Ge):
        v = _norm_literal(pred.value, kind, tz)
        return _false(ctx) if v is None else nn0 & _cmp_full(stats, v, "min_ge")
    if isinstance(pred, P.Lt):
        v = _norm_literal(pred.value, kind, tz)
        return _false(ctx) if v is None else nn0 & _cmp_full(stats, v, "max_lt")
    if isinstance(pred, P.Le):
        v = _norm_literal(pred.value, kind, tz)
        return _false(ctx) if v is None else nn0 & _cmp_full(stats, v, "max_le")
    if isinstance(pred, P.StartsWith):
        # every row has the prefix iff the whole [min, max] range sits
        # inside [p, prefix_upper_bound(p)) — and no row is null
        if kind != ityp.STRING:
            return _false(ctx)
        hi = P.prefix_upper_bound(pred.prefix)
        out = nn0 & _cmp_full(stats, pred.prefix, "min_ge")
        if hi is not None:
            out &= _cmp_full(stats, hi, "max_lt")
        return out
    return _false(ctx)


# ---------------------------------------------------------------------------
# Per-file bands: the metadata answer of count_where / min_max_where
# ---------------------------------------------------------------------------
# Both fold routes compute per-file partials with `file_partials` (the
# driver over the whole context, the Spark-job route per stats shard),
# and finish them with `finish_partials`. Partials are tuples
#   (path, may, boundary, full_rows, lo, hi);
# the Spark-job route first merges its shards' partials per path
# (`merge_partials`).


def _per_file(ctx: BlockStatsContext, mask: np.ndarray) -> np.ndarray:
    """bool[n_blocks] -> bool[n_files]: the file holds a masked block."""
    out = np.zeros(len(ctx.file_paths), dtype=bool)
    out[ctx.file_ids[mask]] = True
    return out


def _file_extremes(ctx: BlockStatsContext, mask: np.ndarray,
                   values: np.ndarray, lowest: bool) -> np.ndarray:
    """object[n_files]: each file's smallest (``lowest``) or largest
    value over its masked blocks, None for files with none."""
    out = np.full(len(ctx.file_paths), None, dtype=object)
    fid, vals = ctx.file_ids[mask], values[mask]
    order = np.argsort(vals, kind="stable")
    order = order[np.argsort(fid[order], kind="stable")]
    f = fid[order]
    if len(f):
        edge = (np.r_[True, f[1:] != f[:-1]] if lowest
                else np.r_[f[1:] != f[:-1], True])
        out[f[edge]] = vals[order][edge].tolist()
    return out


def file_partials(pred: Optional[P.Predicate], ctx: BlockStatsContext,
                  tz: str = None, column: Optional[str] = None) -> list:
    """Per-file partials of the three-band fold, for every file with a
    block that may or fully matches: (path, may, boundary, full_rows,
    lo, hi).

    - may: some block might match (the prune survivor flag);
    - boundary: the file must be scanned — it holds a block that may
      but is not proven to fully match, or (with ``column``) a full
      block whose ``column`` stats are absent yet possibly non-null,
      whose extremes metadata cannot give;
    - full_rows: rows of the blocks proven to fully match;
    - lo / hi: ``column``'s stored extremes over the full blocks that
      carry stats (stat space), None without.

    ``pred`` None matches every row (a bare min/max); a ``column`` the
    context does not index proves nothing, so every may-file scans."""
    if pred is None:
        may = full = _true(ctx)
    else:
        may = evaluate(pred, ctx, tz)
        full = evaluate_full(pred, ctx, tz)
    boundary = may & ~full
    lo = hi = np.full(len(ctx.file_paths), None, dtype=object)
    if column is not None:
        stats = ctx.columns.get(column)
        if stats is None:
            boundary = may
        else:
            boundary = boundary | (full & _statless_maybe(stats, ctx))
            meta = full & stats.has
            if stats.kind == ityp.STRING:
                mn, mx = stats.min_s, stats.max_s
            else:
                mn, mx = stats.min_l, stats.max_l
            lo = _file_extremes(ctx, meta, mn, lowest=True)
            hi = _file_extremes(ctx, meta, mx, lowest=False)
    may_f, full_f = _per_file(ctx, may), _per_file(ctx, full)
    rows_f = np.bincount(ctx.file_ids[full], weights=ctx.rows[full],
                         minlength=len(ctx.file_paths)).astype(np.int64)
    bnd_f = _per_file(ctx, boundary)
    return [(ctx.file_paths[i], bool(may_f[i]), bool(bnd_f[i]),
             int(rows_f[i]), lo[i], hi[i])
            for i in np.flatnonzero(may_f | full_f)]


def merge_partials(partials) -> list:
    """One partial per path from the partials of several stats shards.

    A path seen in one shard keeps its partial. A path seen in several
    (an index whose shards were written before compaction kept each
    file in one shard) may have one block's column rows split between
    shards, so each shard's full-match fold can claim the same block:
    its may flags OR together and the file is scanned, which is exact."""
    merged: Dict[str, tuple] = {}
    for part in partials:
        prev = merged.get(part[0])
        merged[part[0]] = part if prev is None else \
            (part[0], prev[1] or part[1], True, 0, None, None)
    return list(merged.values())


def finish_partials(partials) -> tuple:
    """-> (full_rows, lo, hi, scan_paths): the metadata-proven row count
    and extremes over files needing no scan, plus the files that do
    (their full blocks are counted by the scan, not by metadata)."""
    rows, lo, hi, scan = 0, None, None, []
    for path, _may, bnd, r, l, h in partials:
        if bnd:
            scan.append(path)
            continue
        rows += r
        if l is not None and (lo is None or l < lo):
            lo = l
        if h is not None and (hi is None or h > hi):
            hi = h
    return rows, lo, hi, scan
