"""Distributed DDSketch aggregation over Spark DataFrames.

The sketch is a distributive aggregate (partial = per-partition build, merge =
store add, final = rank walk — ``DDSketch.java:218-229,268-273,353-388``),
expressed here as a two-stage Arrow-vectorized pipeline:

    stage 1  df.mapInPandas(build)         — no shuffle; one sketch row per
                                             (task, group); pure NumPy inside
    stage 2  groupBy(keys).applyInPandas   — shuffles only sketch rows;
             (merge + finalize)              per-key fold + quantile walk

For global aggregations the group key is a constant; an optional intermediate
tree stage bounds the fan-in of the final merge task. All per-row work
(value derivation, filters) should be done with Catalyst expressions *before*
calling these functions so pushdown/pruning apply to the scan.
"""

from __future__ import annotations

import math
from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd

from ..config import SketchConfig
from ..serde import SKETCH_ROW_FIELDS, merge_rows, row_to_sketch, sketch_to_row, spark_sketch_schema
from ..store import BucketStore, _group_sum

__all__ = [
    "quantiles",
    "build_partial_sketches",
    "merge_partials_to_sketch_rows",
    "quantile_column_name",
    "ddsketch_spark_sql",
]


def quantile_column_name(q: float) -> str:
    """0.5 -> q50, 0.95 -> q95, 0.999 -> q99_9, 0.0 -> q0, 1.0 -> q100."""
    pct = q * 100.0
    if abs(pct - round(pct)) < 1e-9:
        return f"q{int(round(pct))}"
    return "q" + f"{pct:.6f}".rstrip("0").replace(".", "_")


def _sketch_rows_df(rows: list[dict], key_cols: Sequence[str]) -> pd.DataFrame:
    cols = list(key_cols) + SKETCH_ROW_FIELDS
    if not rows:
        # object dtype so Arrow can map empty columns onto list/str types
        return pd.DataFrame({c: pd.Series([], dtype=object) for c in cols})
    return pd.DataFrame(rows, columns=cols)


def _partial_schema(df, key_cols: Sequence[str]):
    from pyspark.sql import types as T

    key_fields = [df.schema[c] for c in key_cols]
    return T.StructType(key_fields + list(spark_sketch_schema().fields))


def build_partial_sketches(
    df,
    value_col: str,
    key_cols: Sequence[str] = (),
    config: Optional[SketchConfig] = None,
    weight_col: Optional[str] = None,
    max_groups_per_task: int = 200_000,
):
    """Stage 1: per-task, per-group sketch build via ``mapInPandas``.

    Consumes only ``key_cols + [value_col, weight_col]`` (column pruning
    reaches the scan). Nulls and NaNs in the value column are skipped, like
    SQL aggregates. Returns a DataFrame of ``key_cols`` + sketch struct
    fields, with at most (#tasks x #groups-per-task) rows and NO shuffle.

    Bounded memory under high-cardinality keys: when a task's in-flight group
    dictionary exceeds ``max_groups_per_task``, it is flushed as sketch rows
    mid-stream (a spill of *mergeable partials*, not raw rows) — stage 2
    merges duplicates, so results are unchanged and task memory stays
    ~max_groups_per_task x sketch-size regardless of key cardinality.
    """
    config = config or SketchConfig()
    key_cols = list(key_cols)
    cols = key_cols + [value_col] + ([weight_col] if weight_col else [])
    projected = df.select(*cols)
    schema = _partial_schema(projected, key_cols)
    cfg = config  # capture a picklable dataclass, not self

    def _rows_frame(sketches: dict) -> pd.DataFrame:
        rows = []
        for key, sk in sketches.items():
            row = dict(zip(key_cols, key))
            row.update(sketch_to_row(sk))
            for f in ("neg_idx", "neg_cnt", "pos_idx", "pos_cnt"):
                row[f] = row[f].tolist()
            rows.append(row)
        return _sketch_rows_df(rows, key_cols)

    if key_cols:
        build = _make_grouped_builder(
            cfg, key_cols, value_col, weight_col, max_groups_per_task
        )
    else:

        def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            sketches: dict[tuple, object] = {}
            for pdf in batches:
                values = pdf[value_col].to_numpy(np.float64, na_value=np.nan)
                weights = (
                    pdf[weight_col].to_numpy(np.float64, na_value=np.nan) if weight_col else None
                )
                valid = ~np.isnan(values)
                if weights is not None:
                    valid &= ~np.isnan(weights)
                v = values[valid]
                if v.size == 0:
                    continue
                sk = sketches.get(())
                if sk is None:
                    sk = sketches[()] = cfg.new_sketch()
                sk.accept(v, None if weights is None else weights[valid])
            yield _rows_frame(sketches)

    return projected.mapInPandas(build, schema=schema)


_INT32_MIN = -(2**31)


def _make_grouped_builder(cfg, key_cols, value_col, weight_col, max_groups_per_task):
    """Fully vectorized multi-group stage 1: one packed-key aggregation per
    Arrow batch instead of per-group accept() calls — the difference between
    O(groups) Python overhead and O(1) per batch when groups are small (e.g.
    grouping by conv_id where each conversation has ~10 turns).

    Bucket counts accumulate as a packed COO stream
    ``(key_id << 34) | (store_part << 32) | uint32(bucket_index)`` aggregated
    with the same bincount/reduceat kernel the stores use; exact stats
    accumulate as parallel per-key arrays. Memory stays bounded: if the
    aggregated tuple stream exceeds the cap, all current groups flush as
    mergeable sketch rows.
    """
    mapping = cfg.mapping()
    min_idx_value = max(mapping.min_indexable_value, 0.0)
    max_idx_value = mapping.max_indexable_value
    track_stats = cfg.track_exact_stats
    tuple_cap = max(max_groups_per_task * 4, 1 << 21)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        key_to_id: dict = {}
        key_list: list = []
        acc_packed = np.empty(0, np.int64)
        acc_counts = np.empty(0, np.float64)
        # exact-stat accumulators indexed by key id
        st_count: list[float] = []
        st_sum: list[float] = []
        st_min: list[float] = []
        st_max: list[float] = []

        def new_key(key) -> int:
            kid = len(key_list)
            if kid >= 1 << 29:
                # packed COO reserves 29 bits for the key id; flush thresholds
                # keep us far below this, but fail loudly rather than wrap
                raise RuntimeError(
                    "too many in-flight groups in one task; lower max_groups_per_task"
                )
            key_to_id[key] = kid
            key_list.append(key)
            if track_stats:
                st_count.append(0.0)
                st_sum.append(0.0)
                st_min.append(math.inf)
                st_max.append(-math.inf)
            return kid

        def emit() -> pd.DataFrame:
            nonlocal acc_packed, acc_counts, key_to_id, key_list
            nonlocal st_count, st_sum, st_min, st_max
            rows = []
            # bucket runs per kid (acc_packed sorted -> kids contiguous)
            runs: dict[int, tuple[int, int]] = {}
            if acc_packed.size:
                kid_arr = (acc_packed >> 34).astype(np.int64)
                part_arr = ((acc_packed >> 32) & 3).astype(np.int64)
                idx_arr = (acc_packed & 0xFFFFFFFF).astype(np.int64) + _INT32_MIN
                boundaries = np.nonzero(np.diff(kid_arr))[0] + 1
                starts = np.concatenate([[0], boundaries])
                ends = np.concatenate([boundaries, [kid_arr.size]])
                for s, e in zip(starts, ends):
                    runs[int(kid_arr[s])] = (int(s), int(e))
            # one row per REGISTERED key — groups whose values were all
            # null/NaN still appear (count 0), matching SQL group semantics
            for kid, key in enumerate(key_list):
                if kid in runs:
                    s, e = runs[kid]
                    parts = part_arr[s:e]
                    idxs = idx_arr[s:e]
                    cnts = acc_counts[s:e]
                    neg_sel = parts == 0
                    pos_sel = parts == 2
                    neg = BucketStore(cfg.store_policy, cfg.max_bins)
                    pos = BucketStore(cfg.store_policy, cfg.max_bins)
                    if neg_sel.any():
                        neg.add(idxs[neg_sel], cnts[neg_sel])
                    if pos_sel.any():
                        pos.add(idxs[pos_sel], cnts[pos_sel])
                    zero_sel = parts == 1
                    zero_count = float(cnts[zero_sel].sum()) if zero_sel.any() else 0.0
                else:
                    neg = BucketStore(cfg.store_policy, cfg.max_bins)
                    pos = BucketStore(cfg.store_policy, cfg.max_bins)
                    zero_count = 0.0
                row = dict(zip(key_cols, key))
                row.update(
                    mapping_kind=mapping.kind,
                    gamma=mapping.gamma,
                    index_offset=mapping.index_offset,
                    store_policy=cfg.store_policy,
                    max_bins=int(cfg.max_bins),
                    zero_count=zero_count,
                    neg_idx=neg.indexes.tolist(),
                    neg_cnt=neg.counts.tolist(),
                    pos_idx=pos.indexes.tolist(),
                    pos_cnt=pos.counts.tolist(),
                    stat_count=st_count[kid] if track_stats else 0.0,
                    stat_sum=st_sum[kid] if track_stats else 0.0,
                    stat_sum_comp=0.0,
                    stat_simple_sum=st_sum[kid] if track_stats else 0.0,
                    stat_min=st_min[kid] if track_stats else math.inf,
                    stat_max=st_max[kid] if track_stats else -math.inf,
                    has_exact=track_stats,
                )
                rows.append(row)
            key_to_id, key_list = {}, []
            acc_packed = np.empty(0, np.int64)
            acc_counts = np.empty(0, np.float64)
            st_count, st_sum, st_min, st_max = [], [], [], []
            if not rows:
                return pd.DataFrame(
                    {c: pd.Series([], dtype=object) for c in list(key_cols) + SKETCH_ROW_FIELDS}
                )
            return pd.DataFrame(rows, columns=list(key_cols) + SKETCH_ROW_FIELDS)

        for pdf in batches:
            values = pdf[value_col].to_numpy(np.float64, na_value=np.nan)
            weights = (
                pdf[weight_col].to_numpy(np.float64, na_value=np.nan)
                if weight_col
                else np.ones(values.shape)
            )
            if weight_col and np.any(weights < 0):
                raise ValueError("The count cannot be negative.")
            valid = ~(np.isnan(values) | np.isnan(weights)) & (weights > 0)
            # batch-local factorize -> task-global key ids; keys register even
            # when every row is null so all-null groups survive (SQL groups)
            if len(key_cols) == 1:
                codes, uniques = pd.factorize(pdf[key_cols[0]], use_na_sentinel=False)
                uniq_keys = [(u,) for u in uniques]
            else:
                codes, uniques = pd.factorize(
                    pd.MultiIndex.from_frame(pdf[key_cols]), use_na_sentinel=False
                )
                uniq_keys = list(uniques)
            local_to_global = np.empty(len(uniq_keys), np.int64)
            for j, key in enumerate(uniq_keys):
                kid = key_to_id.get(key)
                local_to_global[j] = new_key(key) if kid is None else kid
            if not valid.any():
                continue
            kid_rows = local_to_global[codes][valid]
            v = values[valid]
            w = weights[valid]
            if np.any(np.abs(v) > max_idx_value):
                raise ValueError(
                    "The input value is outside the range that is tracked by the sketch."
                )
            pos = v > min_idx_value
            neg = v < -min_idx_value
            zero = ~(pos | neg)
            packed_parts = []
            count_parts = []
            if pos.any():
                bidx = mapping.index(v[pos]).astype(np.int64)
                packed_parts.append(
                    (kid_rows[pos] << 34) | (np.int64(2) << 32) | (bidx - _INT32_MIN)
                )
                count_parts.append(w[pos])
            if neg.any():
                bidx = mapping.index(-v[neg]).astype(np.int64)
                packed_parts.append(
                    (kid_rows[neg] << 34) | (np.int64(0) << 32) | (bidx - _INT32_MIN)
                )
                count_parts.append(w[neg])
            if zero.any():
                packed_parts.append(
                    (kid_rows[zero] << 34) | (np.int64(1) << 32) | np.int64(-_INT32_MIN)
                )
                count_parts.append(w[zero])
            batch_packed = np.concatenate(packed_parts)
            batch_counts = np.concatenate(count_parts)
            if acc_packed.size:
                batch_packed = np.concatenate([acc_packed, batch_packed])
                batch_counts = np.concatenate([acc_counts, batch_counts])
            acc_packed, acc_counts = _group_sum(batch_packed, batch_counts)
            if track_stats:
                # per-key exact stats for this batch: ONE sort and four
                # reduceat passes over the same segmentation, so all arrays
                # align by construction. (_group_sum is NOT usable here: it
                # drops zero-SUM groups — bucket semantics — so a group
                # whose batch-local sum(w*v) is 0 (zero values, or positive/
                # negative cancellation) would truncate/misalign the zip and
                # silently corrupt exact stats of later groups.)
                order = np.argsort(kid_rows, kind="stable")
                sk_sorted = kid_rows[order]
                v_sorted = v[order]
                w_sorted = w[order]
                b_start = np.nonzero(
                    np.concatenate([[True], sk_sorted[1:] != sk_sorted[:-1]])
                )[0]
                bk = sk_sorted[b_start]
                bcnt = np.add.reduceat(w_sorted, b_start)
                bsum = np.add.reduceat(w_sorted * v_sorted, b_start)
                bmin = np.minimum.reduceat(v_sorted, b_start)
                bmax = np.maximum.reduceat(v_sorted, b_start)
                for kid, c, s_, mn, mx in zip(bk, bcnt, bsum, bmin, bmax):
                    kid = int(kid)
                    st_count[kid] += float(c)
                    st_sum[kid] += float(s_)
                    if mn < st_min[kid]:
                        st_min[kid] = float(mn)
                    if mx > st_max[kid]:
                        st_max[kid] = float(mx)
            if acc_packed.size > tuple_cap or len(key_list) > max_groups_per_task:
                yield emit()
        yield emit()

    return build


def merge_partials_to_sketch_rows(partials, key_cols: Sequence[str] = ()):
    """Merge partial sketch rows down to ONE sketch row per key (shuffle of
    sketch rows only). Useful for checkpointing merged state.

    Implemented as repartition-by-key + ONE ``mapInPandas`` pass with
    pandas-side grouping rather than ``applyInPandas``: grouped-map pays a
    per-group Python apply (~1 ms each — dominant when most cells are fine
    e.g. a rollup's hourly x dimension grid), while here keys that already
    have a single partial row pass through with NO sketch reconstruction at
    all and only genuinely-split keys pay a merge."""
    key_cols = list(key_cols)
    spark_keys = key_cols or ["__g"]
    src = partials if key_cols else partials.withColumn("__g", _lit0())
    schema = _partial_schema(src, spark_keys)
    cols = list(schema.fieldNames())

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        dup = pdf.duplicated(spark_keys, keep=False)
        singles = pdf[~dup]
        if len(singles):
            yield singles[cols]
        if not dup.any():
            return
        rows = []
        for key, grp in pdf[dup].groupby(spark_keys, sort=False, dropna=False):
            sk = merge_rows(grp[SKETCH_ROW_FIELDS].iloc[i] for i in range(len(grp)))
            key_t = key if isinstance(key, tuple) else (key,)
            row = dict(zip(spark_keys, key_t))
            row.update(sketch_to_row(sk))
            for f in ("neg_idx", "neg_cnt", "pos_idx", "pos_cnt"):
                row[f] = row[f].tolist()
            rows.append(row)
        yield pd.DataFrame(rows, columns=cols)

    parted = src.repartition(*[src[c] for c in spark_keys])
    out = parted.mapInPandas(fold, schema=schema)
    return out.drop("__g") if not key_cols else out


def _lit0():
    from pyspark.sql import functions as F

    return F.lit(0)


def _finalize_schema(src, key_cols: Sequence[str], q_names: Sequence[str]):
    from pyspark.sql import types as T

    key_fields = [src.schema[c] for c in key_cols]
    stat_fields = [
        T.StructField(name, T.DoubleType())
        for name in list(q_names) + ["count", "sum", "min", "max", "avg"]
    ]
    return T.StructType(key_fields + stat_fields)


def quantiles(
    df,
    value_col: str,
    by: Sequence[str] | str | None = None,
    qs: Sequence[float] = (0.5, 0.95, 0.99),
    config: Optional[SketchConfig] = None,
    weight_col: Optional[str] = None,
    q_names: Optional[Sequence[str]] = None,
    tree_fanin: int = 4096,
    merge_salt: Optional[int] = None,
    mode: str = "auto",
    lazy: bool = False,
):
    """Sketch-based quantiles of ``value_col``, optionally grouped by ``by``.

    Returns a DataFrame with columns ``[*by, *q_names, count, sum, min, max,
    avg]``. count/sum/min/max/avg are exact when
    ``config.track_exact_stats`` (the default), in which case quantiles are
    also clamped into [min, max] — matching the reference's
    ``DDSketchWithExactSummaryStatistics``.

    Scale notes: raw rows never shuffle — stage 1 reduces each task to one
    sketch row per group. A global aggregation (by=None) whose stage-1 output
    exceeds ``tree_fanin`` rows gets an intermediate tree-merge stage so the
    final task folds at most ~tree_fanin sketch rows; the final fold then
    runs on the driver and the call RETURNS AN ALREADY-EXECUTED local
    result (``lazy=True`` restores a deferred plan — see the global branch
    below). For grouped
    aggregations on very wide scans (#tasks so large that one group's partial
    rows overwhelm a single merge task), ``merge_salt=S`` inserts a salted
    pre-merge — groupBy(keys, salt) with S deterministic salt buckets — so
    each final task folds at most S rows per group. Merge associativity makes
    any salt assignment produce identical results (tested).

    ``mode``: choose by the ratio rows-per-group-per-task R:
    - 'sql' (the 'auto' default for log-mapping configs): the whole
      aggregation as a pure-Catalyst plan — hash aggregate on (keys, sign,
      bucket index) with map-side combine, per-group window cumsum walk.
      Zero Python stages; the shuffle carries bucket rows (≤ #groups ×
      ~900 buckets at α=0.01) no matter the input size. Requires
      mapping_kind='log' (closed-form index math); other mappings and
      custom finalizes use the kernel paths below. ``merge_salt``,
      ``tree_fanin`` and ``lazy`` are no-ops for this mode (there is no
      Python merge stage to bound, and the plan is always lazy).
    - 'wide' (the 'auto' default for grouped aggs on non-log mappings):
      partial sketches per
      task, then ONE vectorized finalize pass per partition of sketch rows.
      Same shuffle shape as 'grouped' (only sketch rows move) but the
      finalize is a single segmented-cumsum pass instead of one pandas
      apply per key — faster at EVERY cardinality (measured: 5 groups
      0.69s -> 0.60s, 1500 groups 73s -> 1.8s at sf0.1).
    - 'grouped': partial sketches per task, then ``applyInPandas`` per key.
      Kept for per-key custom finalizes and as the parity reference.
    - 'shuffle': repartition the RAW (key, value) rows by key once, then a
      fused vectorized build+finalize in a single ``mapInPandas`` pass — no
      sketch-row shuffle at all. Right when R ~ 1 (ultra-high cardinality,
      tiny groups), where partial sketch rows would be FATTER than the raw
      rows they summarize. (It also wins on small benchmarks at ANY
      cardinality because it has one fewer Python stage — but shuffling raw
      rows by a low-cardinality key is exactly the plan that dies at 100 TB,
      so it is never auto-selected.) Task memory is O(groups per partition).
    - 'sorted': like 'shuffle' plus sortWithinPartitions(keys) and a
      STREAMING finalize — completed keys emit per Arrow batch, only the
      trailing key carries over, task memory O(one batch). The variant for
      group counts so extreme that even one retained sketch row per group
      per task is too much; pays Spark's (spill-safe) sort for it.
    """
    config = config or SketchConfig()
    key_cols = [by] if isinstance(by, str) else list(by or [])
    if mode not in ("auto", "grouped", "wide", "shuffle", "sorted", "sql"):
        raise ValueError(
            f"unknown mode {mode!r}; one of auto|grouped|wide|shuffle|sorted|sql"
        )
    if mode in ("wide", "shuffle", "sorted") and not key_cols:
        raise ValueError(f"mode={mode!r} requires a group key (by=...)")
    if mode == "auto":
        # the log mapping's index math is closed-form in SQL, so the whole
        # aggregation can stay inside whole-stage codegen with map-side
        # partial aggregation — strictly better than any Python-stage plan
        # (validated hash-identical vs the kernel paths across the driver
        # suite; see _catalyst_quantiles). Interpolated mappings need frexp
        # bit access, so they keep the Arrow-vectorized kernel path.
        if sql_mode_eligible(config, stats_final=True):
            mode = "sql"
        else:
            mode = "wide" if key_cols else "grouped"
    qs = [float(q) for q in qs]
    if any(not 0.0 <= q <= 1.0 for q in qs):
        # uniform early guard (DDSketch.java:355-361 throws IAE); the kernel
        # paths would raise at finalize time, the sql path not at all
        raise ValueError("The quantile must be between 0 and 1.")
    if q_names is None:
        q_names = [quantile_column_name(q) for q in qs]
    q_names = list(q_names)

    if mode == "sql":
        return _catalyst_quantiles(
            df, value_col, key_cols, qs, q_names, config, weight_col
        )

    if mode == "shuffle":
        return _shuffle_fused_quantiles(
            df, value_col, key_cols, qs, q_names, config, weight_col
        )
    if mode == "sorted":
        return _sorted_fused_quantiles(
            df, value_col, key_cols, qs, q_names, config, weight_col
        )

    partials = build_partial_sketches(df, value_col, key_cols, config, weight_col)

    if not key_cols:
        n_parts = partials.rdd.getNumPartitions()
        if n_parts > tree_fanin:
            # intermediate tree level: bound final fan-in
            partials = partials.repartition(max(1, math.isqrt(n_parts)))
            partials = merge_partials_within_partitions(partials, [])
        if lazy:
            src = partials.withColumn("__g", _lit0())
            return finalize_sketch_rows(src, ["__g"], qs, q_names).drop("__g")
        # bounded driver finalize (the default): the tree level caps the
        # surviving partial rows at ~max(tree_fanin, isqrt(#tasks)), the
        # same fan-in the final merge task would fold — doing that fold on
        # the driver removes a whole single-task shuffle + Python stage
        # from every global query. NOTE this executes the pipeline NOW and
        # returns a sealed local-relation snapshot: re-collecting it will
        # not observe source-data changes. Pass lazy=True for a deferred
        # plan with classic DataFrame semantics. The snapshot is built from
        # an Arrow table, which Spark keeps as a LocalRelation: collecting
        # it runs no job (a list of rows would become an RDD scan), and
        # NaN stays NaN (a pandas frame would turn it into null).
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = _finalize_schema(partials, [], q_names)
        rows = partials.collect()
        out = [finalize_row(merge_rows(rows), {}, qs, q_names)] if rows else []
        table = pa.Table.from_pylist(out, schema=to_arrow_schema(schema))
        return df.sparkSession.createDataFrame(table, schema)
    else:
        if merge_salt and merge_salt > 1:
            partials = _salted_pre_merge(partials, key_cols, merge_salt)
        src = partials
        group_keys = key_cols

    if mode == "wide" and key_cols:
        # all partials of a key land in one partition; every group of the
        # partition finalizes in ONE vectorized pass (segmented cumsum +
        # global searchsorted), so per-group Python cost is ~zero
        schema = _finalize_schema(src, group_keys, q_names)
        parted = src.repartition(*[src[c] for c in group_keys])
        out_cols = group_keys + q_names + ["count", "sum", "min", "max", "avg"]

        def finalize_wide(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            pdfs = [p for p in batches if len(p)]
            if not pdfs:
                yield pd.DataFrame({c: pd.Series([], dtype=object) for c in out_cols})
                return
            yield _vectorized_grouped_finalize(
                pd.concat(pdfs, ignore_index=True), group_keys, qs, q_names, out_cols
            )

        return parted.mapInPandas(finalize_wide, schema=schema)

    return finalize_sketch_rows(src, group_keys, qs, q_names)


def finalize_row(sk, key_values: dict, qs: Sequence[float], q_names: Sequence[str]) -> dict:
    """One result row from a merged sketch: the shared contract for every
    finalize path (quantiles(), jobs.finalize_from_checkpoint)."""
    row = dict(key_values)
    if sk is None or sk.count == 0:
        for name in q_names:
            row[name] = math.nan
        row.update(count=0.0, sum=math.nan, min=math.nan, max=math.nan, avg=math.nan)
    else:
        qvals = sk.values_at_quantiles(list(qs))
        for name, qv in zip(q_names, qvals):
            row[name] = float(qv)
        row.update(
            count=float(sk.count),
            sum=float(sk.sum),
            min=float(sk.min),
            max=float(sk.max),
            avg=float(sk.avg),
        )
    return row


def finalize_sketch_rows(src, group_keys: Sequence[str], qs: Sequence[float], q_names: Sequence[str]):
    """applyInPandas merge+finalize of sketch rows grouped by ``group_keys``."""
    group_keys = list(group_keys)
    schema = _finalize_schema(src, group_keys, q_names)
    qs = [float(q) for q in qs]
    q_names = list(q_names)

    def finalize(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = merge_rows(pdf[SKETCH_ROW_FIELDS].iloc[i] for i in range(len(pdf)))
        return pd.DataFrame(
            [finalize_row(sk, {c: pdf[c].iloc[0] for c in group_keys}, qs, q_names)]
        )

    return src.groupBy(*group_keys).applyInPandas(finalize, schema=schema)


def _salted_pre_merge(partials, key_cols: Sequence[str], n_salt: int):
    """Salted tree level for grouped merges: assign each partial row a
    deterministic salt bucket and merge within (keys, salt) first. The salt
    value assignment is irrelevant to correctness (merge is associative and
    commutative); it only bounds the final per-group fan-in to n_salt."""
    from pyspark.sql import functions as F

    salted = partials.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salt)).cast("int")
    )
    merged = merge_partials_to_sketch_rows(salted, [*key_cols, "__salt"])
    return merged.drop("__salt")


def merge_partials_within_partitions(partials, key_cols: Sequence[str]):
    """mapInPandas tree level: fold sketch rows within each partition (no
    shuffle), one output row per (partition, key)."""
    key_cols = list(key_cols)
    schema = partials.schema

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple, object] = {}
        for pdf in batches:
            for i in range(len(pdf)):
                key = tuple(pdf[c].iloc[i] for c in key_cols)
                sk = row_to_sketch(pdf[SKETCH_ROW_FIELDS].iloc[i])
                if key in acc:
                    acc[key].merge(sk)
                else:
                    acc[key] = sk
        rows = []
        for key, sk in acc.items():
            row = dict(zip(key_cols, key))
            row.update(sketch_to_row(sk))
            for f in ("neg_idx", "neg_cnt", "pos_idx", "pos_cnt"):
                row[f] = row[f].tolist()
            rows.append(row)
        yield _sketch_rows_df(rows, key_cols)

    return partials.mapInPandas(fold, schema=schema)


def _vectorized_grouped_finalize(pdf, key_cols, qs, q_names, out_cols):
    """Merge + quantile-finalize EVERY group of a partition in one vectorized
    pass over the flattened bucket arrays.

    Walk order per group is (negative store by descending index, zero bucket,
    positive store by ascending index) — encoded as a packed sort key
    (key_id, part, ord) where ord = -index for the negative part. The rank
    walk 'first bucket whose cumulative exceeds q*(n-1)' becomes one global
    np.searchsorted over the partition-wide cumulative-count array with
    per-group base offsets. Collapsing-store policies re-clamp per (group,
    store) with segmented extremes. Matches DDSketch.java:353-388 semantics
    exactly (verified against the scalar path in tests).
    """
    from ..mapping import mapping_from_kind

    n_rows = len(pdf)
    # the vectorized path assumes one sketch config; heterogeneous partials
    # (e.g. checkpoints from two alphas unioned) must fail loudly like the
    # scalar merge path does, not silently mix bucket spaces
    for c in ("mapping_kind", "gamma", "index_offset", "store_policy", "max_bins", "has_exact"):
        if pdf[c].nunique(dropna=False) > 1:
            raise ValueError(
                f"sketch rows are not mergeable: heterogeneous {c!r} values "
                f"{pdf[c].unique()[:4].tolist()}"
            )
    mapping = mapping_from_kind(
        pdf["mapping_kind"].iloc[0], float(pdf["gamma"].iloc[0]), float(pdf["index_offset"].iloc[0])
    )
    policy = pdf["store_policy"].iloc[0]
    max_bins = int(pdf["max_bins"].iloc[0])
    track_stats = bool(pdf["has_exact"].iloc[0])
    alpha = mapping.relative_accuracy

    if len(key_cols) == 1:
        codes, uniques = pd.factorize(pdf[key_cols[0]], use_na_sentinel=False)
        key_frame = {key_cols[0]: np.asarray(uniques)}
    else:
        codes, uniques = pd.factorize(
            pd.MultiIndex.from_frame(pdf[key_cols]), use_na_sentinel=False
        )
        key_frame = {
            c: np.asarray([u[i] for u in uniques]) for i, c in enumerate(key_cols)
        }
    codes = codes.astype(np.int64)
    n_keys = len(next(iter(key_frame.values())))

    # flatten bucket arrays: (kid, part, idx, cnt) streams
    def flat(col_idx, col_cnt, part):
        lens = np.fromiter((len(x) for x in pdf[col_idx]), np.int64, n_rows)
        if lens.sum() == 0:
            return (np.empty(0, np.int64),) * 2 + (np.empty(0, np.float64),)
        kid = np.repeat(codes, lens)
        idx = np.concatenate([np.asarray(x, np.int64) for x in pdf[col_idx] if len(x)])
        cnt = np.concatenate([np.asarray(x, np.float64) for x in pdf[col_cnt] if len(x)])
        return kid, idx, cnt

    kid_n, idx_n, cnt_n = flat("neg_idx", "neg_cnt", 0)
    kid_p, idx_p, cnt_p = flat("pos_idx", "pos_cnt", 2)
    zc = pdf["zero_count"].to_numpy(np.float64)
    zc_sel = zc > 0

    if policy in ("collapsing_lowest", "collapsing_highest"):
        idx_n = _clamp_per_group(kid_n, idx_n, policy, max_bins)
        idx_p = _clamp_per_group(kid_p, idx_p, policy, max_bins)

    packed_parts, cnt_parts = [], []
    if idx_n.size:
        packed_parts.append((kid_n << 34) | (np.int64(0) << 32) | ((-idx_n) - _INT32_MIN))
        cnt_parts.append(cnt_n)
    if zc_sel.any():
        packed_parts.append(
            (codes[zc_sel] << 34) | (np.int64(1) << 32) | np.int64(-_INT32_MIN)
        )
        cnt_parts.append(zc[zc_sel])
    if idx_p.size:
        packed_parts.append((kid_p << 34) | (np.int64(2) << 32) | (idx_p - _INT32_MIN))
        cnt_parts.append(cnt_p)

    qs_arr = np.asarray(qs, np.float64)
    out = dict(key_frame)
    if not packed_parts:
        for n in q_names:
            out[n] = np.full(n_keys, math.nan)
        out.update(
            count=np.zeros(n_keys), sum=np.full(n_keys, math.nan),
            min=np.full(n_keys, math.nan), max=np.full(n_keys, math.nan),
            avg=np.full(n_keys, math.nan),
        )
        return pd.DataFrame(out, columns=out_cols)

    packed, counts = _group_sum(np.concatenate(packed_parts), np.concatenate(cnt_parts))
    kid_row = (packed >> 34).astype(np.int64)
    part_row = ((packed >> 32) & 3).astype(np.int64)
    ord_row = (packed & 0xFFFFFFFF).astype(np.int64) + _INT32_MIN

    values = np.zeros(packed.size)
    neg_rows = part_row == 0
    pos_rows = part_row == 2
    if neg_rows.any():
        values[neg_rows] = -np.asarray(mapping.value(-ord_row[neg_rows]), np.float64)
    if pos_rows.any():
        values[pos_rows] = np.asarray(mapping.value(ord_row[pos_rows]), np.float64)

    # segment layout per key (packed sorted => kid contiguous ascending, but
    # keys with no buckets are absent — map segments back to kid)
    seg_change = np.nonzero(np.diff(kid_row))[0] + 1
    seg_starts = np.concatenate([[0], seg_change])
    seg_kids = kid_row[seg_starts]
    cum = np.cumsum(counts)
    base = np.zeros(n_keys)
    seg_base = np.where(seg_starts > 0, cum[seg_starts - 1], 0.0)
    base[seg_kids] = seg_base
    seg_ends_idx = np.concatenate([seg_change, [packed.size]]) - 1
    totals = np.zeros(n_keys)
    totals[seg_kids] = cum[seg_ends_idx] - seg_base
    seg_start_of = np.zeros(n_keys, np.int64)
    seg_start_of[seg_kids] = seg_starts
    seg_end_of = np.zeros(n_keys, np.int64)
    seg_end_of[seg_kids] = seg_ends_idx

    # ranks: (n_keys, Q); global targets = base + q*(n-1)
    ranks = qs_arr.reshape(1, -1) * (totals.reshape(-1, 1) - 1.0)
    targets = base.reshape(-1, 1) + ranks
    pos_idx = np.searchsorted(cum, targets.ravel(), side="right").reshape(n_keys, -1)
    pos_idx = np.clip(
        pos_idx, seg_start_of.reshape(-1, 1), seg_end_of.reshape(-1, 1)
    )
    qvals = values[pos_idx]  # (n_keys, Q)
    empty = totals <= 0
    if empty.any():
        qvals[empty, :] = math.nan

    if track_stats:
        st_count = np.zeros(n_keys)
        st_sum = np.zeros(n_keys)
        st_min = np.full(n_keys, math.inf)
        st_max = np.full(n_keys, -math.inf)
        np.add.at(st_count, codes, pdf["stat_count"].to_numpy(np.float64))
        np.add.at(st_sum, codes, pdf["stat_sum"].to_numpy(np.float64))
        np.add.at(st_sum, codes, -pdf["stat_sum_comp"].to_numpy(np.float64))
        np.minimum.at(st_min, codes, pdf["stat_min"].to_numpy(np.float64))
        np.maximum.at(st_max, codes, pdf["stat_max"].to_numpy(np.float64))
        qvals = np.clip(qvals, st_min.reshape(-1, 1), st_max.reshape(-1, 1))
        # empty groups (all-null values): count 0, NaN stats like SQL aggs
        none = st_count <= 0
        if none.any():
            st_sum[none] = math.nan
            st_min[none] = math.nan
            st_max[none] = math.nan
        count_out, sum_out, min_out, max_out = st_count, st_sum, st_min, st_max
    else:
        count_out = totals
        # bucket-approx sum/min/max, vectorized per key
        sum_out = np.zeros(n_keys)
        np.add.at(sum_out, kid_row, values * counts)
        min_out = np.full(n_keys, math.nan)
        max_out = np.full(n_keys, math.nan)
        min_out[seg_kids] = values[seg_starts]
        max_out[seg_kids] = values[seg_ends_idx]
        sum_out[totals <= 0] = math.nan  # empty groups: NaN like finalize_row

    for j, name in enumerate(q_names):
        out[name] = qvals[:, j]
    with np.errstate(invalid="ignore", divide="ignore"):
        out.update(
            count=count_out,
            sum=sum_out,
            min=min_out,
            max=max_out,
            avg=sum_out / count_out,
        )
    return pd.DataFrame(out, columns=out_cols)


def _clamp_per_group(kid, idx, policy, max_bins):
    """Segmented collapse clamp: per (group, store) bound from the group's
    extreme index."""
    if idx.size == 0:
        return idx
    order = np.argsort(kid, kind="stable")
    k_sorted = kid[order]
    starts = np.nonzero(np.concatenate([[True], k_sorted[1:] != k_sorted[:-1]]))[0]
    if policy == "collapsing_lowest":
        seg_ext = np.maximum.reduceat(idx[order], starts)
    else:
        seg_ext = np.minimum.reduceat(idx[order], starts)
    seg_keys = k_sorted[starts]
    lookup = np.zeros(int(kid.max()) + 1, np.int64)
    lookup[seg_keys] = seg_ext
    ext = lookup[kid]
    if policy == "collapsing_lowest":
        return np.maximum(idx, ext - max_bins + 1)
    return np.minimum(idx, ext + max_bins - 1)


def quantiles_multi(
    df,
    value_cols: Sequence[str],
    by: Sequence[str] | str | None = None,
    qs: Sequence[float] = (0.5, 0.95, 0.99),
    config: Optional[SketchConfig] = None,
    **kwargs,
):
    """Quantiles of SEVERAL value columns in ONE scan: the columns are
    stacked into (metric, value) long format JVM-side, and the metric name
    joins the group key — so a 100 TB table is read once for any number of
    measures. Returns [metric, *by, *qXX, count, sum, min, max, avg]."""
    from pyspark.sql import functions as F

    keys = [by] if isinstance(by, str) else list(by or [])
    stack_expr = ", ".join(f"'{c}', cast(`{c}` as double)" for c in value_cols)
    long_df = df.select(
        *keys,
        F.expr(f"stack({len(value_cols)}, {stack_expr}) as (metric, __value)"),
    )
    return quantiles(
        long_df, "__value", by=["metric", *keys], qs=qs, config=config, **kwargs
    )


def quantiles_grouping_sets(
    df,
    value_col: str,
    by: Sequence[str],
    sets: Optional[Sequence[Sequence[str]]] = None,
    qs: Sequence[float] = (0.5, 0.95, 0.99),
    config: Optional[SketchConfig] = None,
):
    """Quantiles at SEVERAL grouping sets from ONE scan — the mergeability
    dividend: partial sketches are built once at the FINEST grouping
    (``by``), merged to one sketch row per finest group, and every coarser
    set (including the grand total) folds from those KB-scale rows by
    sketch MERGE — never a second corpus scan, never a re-aggregation of
    raw rows. Merge associativity makes each rolled-up sketch IDENTICAL
    (bucket-exact) to one built directly at that grouping, which is what
    the ``events_quantile_rollup_sets`` gate pins cross-engine: the twin
    recomputes each set from the raw rows and every quantile hash-matches.

    ``sets`` defaults to the rollup chain (finest, each prefix, total).
    Every set must be a subset of ``by``. Finest-group cardinality must be
    bounded (dashboard dimensions, not ids) — the merged rows are
    localCheckpointed (KB per group) so the per-set folds don't re-run the
    scan.

    Returns [*by (NULL where the set omits a key), gset, *q_names, count];
    ``gset`` labels the set ("event_type,day", "event_type", "total").
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    config = config or SketchConfig()
    by = list(by)
    if sets is None:
        sets = [by[:i] for i in range(len(by), -1, -1)]
    sets = [list(s) for s in sets]
    for s in sets:
        if not set(s) <= set(by):
            raise ValueError(f"grouping set {s!r} is not a subset of by={by!r}")
    qs = [float(q) for q in qs]
    q_names = [quantile_column_name(q) for q in qs]

    partials = build_partial_sketches(df, value_col, by, config, None)
    finest = merge_partials_to_sketch_rows(partials, by).localCheckpoint()
    key_types = {c: finest.schema[c].dataType for c in by}

    outs = []
    for s in sets:
        rows = finest.select(*s, *SKETCH_ROW_FIELDS)
        merged = merge_partials_to_sketch_rows(rows, s) if len(s) < len(by) else rows
        fin = finalize_sketch_rows(merged, s, qs, q_names)
        label = ",".join(s) if s else "total"
        cols = [
            (F.col(c) if c in s else F.lit(None).cast(key_types[c])).alias(c)
            for c in by
        ]
        outs.append(fin.select(*cols, F.lit(label).alias("gset"), *q_names, "count"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def cdf_column_name(x: float) -> str:
    """42.0 -> cdf_42, 0.5 -> cdf_0_5, -3 -> cdf_m3, 1.5e300 -> cdf_1_5ep300.

    Uses repr (full double precision, unlike %g's 6 significant digits — two
    distinct probes must never collide into one column name) and sanitizes
    every non-identifier character."""
    s = repr(float(x))
    if s.endswith(".0"):
        s = s[:-2]
    s = s.replace(".", "_").replace("-", "m").replace("+", "p")
    return f"cdf_{s}"


def cdf_at_values(
    df,
    value_col: str,
    xs: Sequence[float],
    by: Sequence[str] | str | None = None,
    config: Optional[SketchConfig] = None,
    weight_col: Optional[str] = None,
    x_names: Optional[Sequence[str]] = None,
    mode: str = "auto",
):
    """Inverse-quantile (value -> rank) aggregation: for each probe x in
    ``xs``, the estimated fraction of rows with ``value_col <= x`` — the
    same sketch, same two-stage no-raw-shuffle plan as ``quantiles``, but
    the finalize reads the rank walk in the opposite direction
    (``DDSketch.cdf_at_values``). Answers "what share of requests beat the
    250 ms SLO per service" in one scan at any group cardinality.

    ``mode``: 'sql' (the 'auto' default for stats-less log configs) runs
    the whole thing as a pure-Catalyst plan — two hash aggregates, no
    window, no Python (``ddsketch_cdf_spark_sql``); 'kernel' is the
    Arrow-vectorized partial-sketch path (required for interpolated
    mappings and exact-stats configs, whose count column is the exact
    count rather than the bucket total).

    Returns [*by, *x_names, count]. CDF estimates are in [0, 1] with the
    mapping's relative-accuracy contract on the VALUE axis (the estimate is
    the exact CDF evaluated within relative distance ~2*alpha of x).
    """
    from pyspark.sql import types as T

    config = config or SketchConfig()
    key_cols = [by] if isinstance(by, str) else list(by or [])
    xs = [float(x) for x in xs]
    if x_names is None:
        x_names = [cdf_column_name(x) for x in xs]
    x_names = list(x_names)
    if len(set(x_names)) != len(x_names):
        raise ValueError(f"duplicate cdf column names: {x_names}")  # sql mode; kernel re-checks
    if mode not in ("auto", "kernel", "sql"):
        raise ValueError(f"unknown mode {mode!r}; one of auto|kernel|sql")
    if mode == "auto":
        # NaN-data caveat rides along with the routing: the kernel path
        # skips NaN values, the sql path's comparisons route NaN into the
        # positive store (Spark NaN > x is TRUE) — filter NaNs upstream if
        # they can occur, or pin mode='kernel'. Exact-stats configs route
        # to SQL too: the CDF final reproduces the exact count via a stats
        # join (same as quantiles' auto routing).
        mode = "sql" if sql_mode_eligible(config, stats_final=True) else "kernel"
    if mode == "sql":
        sql = ddsketch_cdf_spark_sql(
            "{__ddsparkle_src__}", value_col, xs,
            config=config, by=key_cols, weight_col=weight_col, x_names=x_names,
        )
        return df.sparkSession.sql(sql, __ddsparkle_src__=df)

    partials = build_partial_sketches(df, value_col, key_cols, config, weight_col)
    # one merged sketch row per group through the vectorized merge pass
    # (singleton groups free), then a single mapInPandas finalize over the
    # merged rows — no per-group Python apply anywhere
    merged = merge_partials_to_sketch_rows(partials, key_cols)
    return cdf_finalize_sketch_rows(merged, key_cols, xs, x_names)


def percentile_rank_scores(
    df,
    value_col: str,
    by: Sequence[str] | str | None = None,
    config: Optional[SketchConfig] = None,
    out_col: str = "pct_rank",
    reference_df=None,
):
    """Per-ROW percentile scoring: append ``out_col`` = the DDSketch CDF
    evaluated at each row's OWN value within its ``by`` group — "what
    percentile is this turn's latency within its event type" without a
    per-group window sort, with the capability a window percent_rank
    CANNOT express at all: pass ``reference_df`` to rank rows against a
    FROZEN reference distribution (last week's latencies, the training
    corpus) instead of the batch itself — the anomaly-scoring /
    train-serve-consistent formulation, one sketch build on the reference
    and row-local scoring forever after.

    Single-node honesty (BENCH/ab_r05_pctrank*.json): against a window
    percent_rank over a handful of roles on 2.9M-14M NARROW rows, this
    path measured 0.77-0.8x — the JVM sort of packed ints is
    cache-friendly while the two extra Arrow passes are not. The window
    formulation's costs bite elsewhere: it shuffles every payload byte
    into #groups sort tasks (28 of 32 cores idle at 4 roles, per-group
    memory unbounded — at 10^12 rows per-group sorts spill), it re-sorts
    per query, and it cannot score against anything but the batch at
    hand. Pick by those axes, not by the small-fixture wall clock.

    Plan shape: (1) the usual two-stage sketch build (scan-local partials,
    sketch rows only on the wire), (2) the merged per-group rows collect to
    the driver and BROADCAST (bounded by group cardinality — the same
    contract as temperature_mix / IVF centroids: ``by`` must be a
    dimension, not an id), (3) ONE Arrow-batched ``mapInPandas`` pass
    scores every row against its group's deserialized sketch with the
    vectorized ``DDSketch.cdf_at_values`` rank walk — raw rows NEVER
    shuffle, the scoring pass is linear and partition-local.

    Estimates carry the mapping's relative-accuracy contract on the value
    axis (the estimate equals the exact CDF evaluated within relative
    distance ~2*alpha of the row's value). NULL (and NaN) values score
    NULL; a group whose values were all NULL has no sketch mass and scores
    NULL. The ``events_value_percentile`` gate twin replays the identical
    bucket walk in SQL and resolves each row with an ASOF join on the
    representative values (same val <= x comparison as the kernel's
    searchsorted), so scores hash-match at round-4.
    """
    from pyspark.sql import types as T

    config = config or SketchConfig()
    key_cols = [by] if isinstance(by, str) else list(by or [])
    src = reference_df if reference_df is not None else df
    partials = build_partial_sketches(src, value_col, key_cols, config, None)
    merged = merge_partials_to_sketch_rows(partials, key_cols).collect()
    state = {
        tuple(r[c] for c in key_cols): {f: r[f] for f in SKETCH_ROW_FIELDS}
        for r in merged
    }
    bc = df.sparkSession.sparkContext.broadcast(state)
    schema = T.StructType(list(df.schema) + [T.StructField(out_col, T.DoubleType())])
    cols = [f.name for f in schema]

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}

        def sketch_for(key):
            sk = cache.get(key, _MISSING)
            if sk is _MISSING:
                rowd = bc.value.get(key)
                sk = row_to_sketch(rowd) if rowd is not None else None
                cache[key] = sk
            return sk

        for pdf in batches:
            if not len(pdf):
                continue
            vals = pd.to_numeric(pdf[value_col], errors="coerce").to_numpy(
                np.float64, na_value=np.nan
            )
            out = np.full(len(pdf), np.nan)
            if key_cols:
                groups = pdf.groupby(key_cols, dropna=False, sort=False).indices
                for gk, idx in groups.items():
                    key = gk if isinstance(gk, tuple) else (gk,)
                    sk = sketch_for(key)
                    if sk is not None and sk.count > 0:
                        out[idx] = sk.cdf_at_values(vals[idx])
            else:
                sk = sketch_for(())
                if sk is not None and sk.count > 0:
                    out = np.asarray(sk.cdf_at_values(vals), np.float64)
            res = pdf.copy()
            # NaN -> NULL (NULL/NaN inputs score NULL, matching the twin)
            res[out_col] = pd.array(
                np.where(np.isnan(out), None, out), dtype="Float64"
            )
            yield res[cols]

    return df.mapInPandas(score, schema=schema)


_MISSING = object()


def cdf_finalize_sketch_rows(merged, key_cols, xs, x_names=None):
    """CDF finalize over pre-merged sketch rows (one row per key): one
    mapInPandas pass emitting [*key_cols, *x_names, count]. Shared by
    ``cdf_at_values``' kernel mode and ``rollup.rollup_cdf`` (persisted
    cells answering windowed SLO-attainment queries)."""
    from pyspark.sql import types as T

    key_cols = list(key_cols)
    xs = [float(x) for x in xs]
    if x_names is None:
        x_names = [cdf_column_name(x) for x in xs]
    x_names = list(x_names)
    if len(set(x_names)) != len(x_names):
        raise ValueError(f"duplicate cdf column names: {x_names}")
    key_fields = [merged.schema[c] for c in key_cols]
    schema = T.StructType(
        key_fields
        + [T.StructField(n, T.DoubleType()) for n in x_names]
        + [T.StructField("count", T.DoubleType())]
    )
    out_cols = key_cols + x_names + ["count"]

    def fin(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for i in range(len(pdf)):
                sk = row_to_sketch(pdf[SKETCH_ROW_FIELDS].iloc[i])
                row = {c: pdf[c].iloc[i] for c in key_cols}
                if sk.count > 0:
                    row.update(
                        {n: float(v) for n, v in zip(x_names, sk.cdf_at_values(xs))}
                    )
                else:
                    # count-0 groups (all-NULL values) survive with NULL cdf
                    # columns, matching mode='sql' — not a LookupError crash
                    row.update({n: None for n in x_names})
                row["count"] = float(sk.count)
                rows.append(row)
            yield pd.DataFrame(rows, columns=out_cols)

    return merged.mapInPandas(fin, schema=schema)


def ddsketch_trimmed_spark_sql(
    source: str,
    value_col: str,
    lo: float,
    hi: float,
    config=None,
    by=None,
    weight_col=None,
):
    """``trimmed_means`` as ONE Spark-SQL string (the ``mode='sql'``
    surface): the same scan -> map-side-combined bucket aggregate ->
    per-group window cumsum physical shape as ``ddsketch_spark_sql``, with
    the trimmed/winsorized finals computed by a DETERMINISTIC left fold —
    ``aggregate(array_sort(collect_list(struct(part, ord, kept*val))),
    0.0D, (acc, x) -> acc + x.t)`` — over the ascending-value bucket walk,
    starting from 0.0: the identical IEEE expression tree the kernel's
    Python loop and the DuckDB twin's ``list_reduce`` evaluate, so all
    three paths agree at round-4. The HOF evaluates interpretively, but
    only over per-group BUCKET arrays (~hundreds of elements at
    alpha=0.01), never per input row — the packing-fold cost class, not
    the per-shingle one.

    Stats-less log configs only (``sql_mode_eligible(config)``); the
    winsorize boundary values resolve as the first ascending bucket whose
    cumulative count exceeds the rank (the kernel's searchsorted-right).
    Returns [*by, trimmed_mean, winsorized_mean, count]."""
    config = config or SketchConfig(mapping_kind="log", track_exact_stats=False)
    if not sql_mode_eligible(config):
        raise ValueError(
            "trimmed_means mode='sql' requires a stats-less log config "
            "(exact-stats clamping has no bucket-only SQL form)"
        )
    if not (0.0 <= lo and 0.0 <= hi and lo + hi < 1.0):
        raise ValueError("trim fractions must satisfy 0 <= lo, hi and lo + hi < 1")
    key_cols = [by] if isinstance(by, str) else list(by or [])

    fr = _sql_store_fragments(config, key_cols, value_col, weight_col)
    _d = fr["d"]
    g, gby, g_part = fr["g"], fr["gby"], fr["g_part"]
    w_src, bucket_val = fr["w_src"], fr["bucket_val"]
    buckets_cte, store_rel = fr["buckets_cte"], fr["store_rel"]
    lo_d, hi_d = _d(float(lo)), _d(float(hi))

    live = "__n > 0 AND __c > 0"
    fold = (
        "aggregate(array_sort(collect_list(CASE WHEN __c > 0 THEN "
        "struct(__part AS p, __ord AS o, __kept * __val AS t) END)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.t)"
    )
    vlo = f"MIN(CASE WHEN {live} AND __cum > __klo THEN __val END)"
    vhi = f"MIN(CASE WHEN {live} AND __cum > __n - __khi - 1 THEN __val END)"

    sql = f"""
WITH vals AS (
  SELECT {g}CAST(`{value_col}` AS DOUBLE) AS __v, {w_src} AS __w
  FROM {source}
),{buckets_cte},
walk AS (
  SELECT {g}__part,
         CASE WHEN __part = 0 THEN -__i WHEN __part = 1 THEN 0 ELSE __i END AS __ord,
         CASE WHEN __part = 1 THEN CAST(0.0 AS DOUBLE)
              WHEN __part = 0 THEN -{bucket_val}
              ELSE {bucket_val} END AS __val,
         __c
  FROM {store_rel}
),
cumw AS (
  SELECT {g}__part, __ord, __val, __c,
         SUM(__c) OVER ({g_part} ORDER BY __part, __ord ROWS UNBOUNDED PRECEDING) AS __cum,
         SUM(__c) OVER ({g_part}) AS __n
  FROM walk
),
kept AS (
  SELECT {g}__part, __ord, __val, __c, __cum, __n, __klo, __khi,
         GREATEST(LEAST(__cum, __n - __khi) - GREATEST(__cum - __c, __klo),
                  CAST(0.0 AS DOUBLE)) AS __kept
  FROM (
    SELECT *, FLOOR({lo_d} * __n) AS __klo, FLOOR({hi_d} * __n) AS __khi
    FROM cumw
  )
)
SELECT {g}
  CASE WHEN MAX(__n) > 0
       THEN {fold} / (MAX(__n) - MAX(__klo) - MAX(__khi)) END AS trimmed_mean,
  CASE WHEN MAX(__n) > 0
       THEN ((MAX(__klo) * {vlo} + {fold}) + MAX(__khi) * {vhi}) / MAX(__n)
       END AS winsorized_mean,
  CAST(MAX(__n) AS DOUBLE) AS count
FROM kept {gby}"""

    if not key_cols:
        sql = f"SELECT * FROM ({sql}\n) WHERE count IS NOT NULL"
    return sql


def trimmed_means(
    df,
    value_col: str,
    lo: float,
    hi: float,
    by: Sequence[str] | str | None = None,
    config: Optional[SketchConfig] = None,
    weight_col: Optional[str] = None,
    mode: str = "auto",
):
    """Robust location estimates per group from ONE sketch build: the
    trimmed mean (drop the lowest ``floor(lo*n)`` and highest
    ``floor(hi*n)`` observations) and the winsorized mean (clamp them to
    the boundary-rank values) of ``value_col``, read off the merged
    DDSketch's bucket walk (``DDSketch.trimmed_means``). The exact
    computation needs a per-group sort; this needs the same two-stage
    no-raw-shuffle plan as ``quantiles`` — scan-local partial sketches,
    KB-sized sketch rows on the wire, one mapInPandas finalize — so it
    holds at any group cardinality and 10^12 rows.

    Returns [*by, trimmed_mean, winsorized_mean, count], unrounded
    doubles (gates round). Count-0 groups (all-NULL values) yield NULL
    means like the CDF finalize. Estimates are within relative ~alpha of
    the exact means over the same rank cuts (every bucket representative
    is within alpha of the values it stands for).

    ``mode``: 'sql' (the 'auto' default for stats-less log configs) runs
    the whole thing as a pure-Catalyst plan — bucket hash aggregate +
    window cumsum + a deterministic left fold over per-group BUCKET
    arrays (``ddsketch_trimmed_spark_sql``), no Python anywhere; 'kernel'
    is the Arrow partial-sketch path (required for interpolated mappings
    and exact-stats configs, whose means clamp into the exact [min, max]).
    Both paths and the DuckDB twin evaluate the identical fold TREE; the
    leaf representative values are exp() of the two runtimes (JVM vs
    numpy), so kernel and sql agree at round-4, not bit-level — the same
    reassociation-dust caveat ``ddsketch_spark_sql`` documents."""
    from pyspark.sql import types as T

    config = config or SketchConfig()
    if not (0.0 <= lo and 0.0 <= hi and lo + hi < 1.0):
        raise ValueError("trim fractions must satisfy 0 <= lo, hi and lo + hi < 1")
    key_cols = [by] if isinstance(by, str) else list(by or [])
    if mode not in ("auto", "kernel", "sql"):
        raise ValueError(f"unknown mode {mode!r}; one of auto|kernel|sql")
    if mode == "auto":
        mode = "sql" if sql_mode_eligible(config) else "kernel"
    if mode == "sql":
        sql = ddsketch_trimmed_spark_sql(
            "{__ddsparkle_src__}", value_col, lo, hi,
            config=config, by=key_cols, weight_col=weight_col,
        )
        return df.sparkSession.sql(sql, __ddsparkle_src__=df)
    partials = build_partial_sketches(df, value_col, key_cols, config, weight_col)
    merged = merge_partials_to_sketch_rows(partials, key_cols)
    key_fields = [merged.schema[c] for c in key_cols]
    schema = T.StructType(
        key_fields
        + [
            T.StructField("trimmed_mean", T.DoubleType()),
            T.StructField("winsorized_mean", T.DoubleType()),
            T.StructField("count", T.DoubleType()),
        ]
    )
    out_cols = key_cols + ["trimmed_mean", "winsorized_mean", "count"]

    def fin(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for i in range(len(pdf)):
                sk = row_to_sketch(pdf[SKETCH_ROW_FIELDS].iloc[i])
                row = {c: pdf[c].iloc[i] for c in key_cols}
                if sk.count > 0:
                    tm, wm = sk.trimmed_means(lo, hi)
                    row["trimmed_mean"] = tm
                    row["winsorized_mean"] = wm
                else:
                    row["trimmed_mean"] = None
                    row["winsorized_mean"] = None
                row["count"] = float(sk.count)
                rows.append(row)
            yield pd.DataFrame(rows, columns=out_cols)

    return merged.mapInPandas(fin, schema=schema)


def _sorted_fused_quantiles(df, value_col, key_cols, qs, q_names, config, weight_col):
    """mode='sorted': repartition by key + sortWithinPartitions, then a
    STREAMING fused build+finalize — each Arrow batch's completed keys
    finalize immediately and only the partition's trailing key carries over
    to the next batch, so task memory is O(one batch + one group) no matter
    how many distinct groups the partition holds. This removes mode=
    'shuffle''s O(groups-per-partition) retained-frame footprint at the
    cost of Spark's (disk-backed, spill-safe) sort. Right for 10^8-10^9
    groups per partition where even one sketch row per group is too much."""
    cols = list(key_cols) + [value_col] + ([weight_col] if weight_col else [])
    projected = (
        df.select(*cols).repartition(*key_cols).sortWithinPartitions(*key_cols)
    )
    out_cols = list(key_cols) + list(q_names) + ["count", "sum", "min", "max", "avg"]
    schema = _finalize_schema(projected, key_cols, q_names)
    builder = _make_grouped_builder(config, list(key_cols), value_col, weight_col, 2_000_000)

    def _compact(rows: pd.DataFrame) -> pd.DataFrame:
        """Merge a trailing key's partial rows down to ONE row, so a hot key
        spanning B Arrow batches carries O(1) state, not O(B) rows."""
        if len(rows) <= 1:
            return rows
        sk = merge_rows(rows[SKETCH_ROW_FIELDS].iloc[i] for i in range(len(rows)))
        row = {k: rows.iloc[0][k] for k in key_cols}
        row.update(sketch_to_row(sk))
        for f in ("neg_idx", "neg_cnt", "pos_idx", "pos_cnt"):
            row[f] = row[f].tolist()
        return pd.DataFrame([row], columns=list(key_cols) + SKETCH_ROW_FIELDS)

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: Optional[pd.DataFrame] = None  # trailing key's ONE partial row
        saw_any = False
        for pdf in batches:
            if not len(pdf):
                continue
            saw_any = True
            # one frame of sketch rows for THIS batch (keys sorted, so the
            # frame's row order is sorted first-seen order)
            frames = [f for f in builder(iter([pdf])) if len(f)]
            if not frames:
                continue
            frame = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
            if carry is not None:
                frame = pd.concat([carry, frame], ignore_index=True)
            # rows sharing the trailing key may still continue into the next
            # batch; everything before the last key is complete
            last_key = tuple(frame.iloc[-1][k] for k in key_cols)
            is_last = pd.Series(True, index=frame.index)
            for k, v in zip(key_cols, last_key):
                is_last &= frame[k].eq(v) | (frame[k].isna() & pd.isna(v))
            done = frame[~is_last]
            carry = _compact(frame[is_last].reset_index(drop=True))
            if len(done):
                yield _vectorized_grouped_finalize(
                    done.reset_index(drop=True), list(key_cols), qs, q_names, out_cols
                )
        if carry is not None and len(carry):
            yield _vectorized_grouped_finalize(carry, list(key_cols), qs, q_names, out_cols)
        elif not saw_any:
            yield pd.DataFrame({c: pd.Series([], dtype=object) for c in out_cols})

    return projected.mapInPandas(fused, schema=schema)


def _shuffle_fused_quantiles(df, value_col, key_cols, qs, q_names, config, weight_col):
    """mode='shuffle': one raw-row repartition by key, then vectorized
    build + finalize fused in a single mapInPandas pass per partition (all
    of a key's rows are co-located, so no merge stage exists at all)."""
    cols = list(key_cols) + [value_col] + ([weight_col] if weight_col else [])
    projected = df.select(*cols).repartition(*key_cols)
    out_cols = list(key_cols) + list(q_names) + ["count", "sum", "min", "max", "avg"]
    schema = _finalize_schema(projected, key_cols, q_names)
    # flush every ~2M groups: keeps the packed-key id space far below its
    # 2^29 cap and bounds the builder's in-flight dictionaries. NOTE: the
    # flushed sketch-row frames are all retained until the final vectorized
    # finalize, so task memory is O(distinct groups in the partition) — size
    # the repartition so groups-per-partition stays in the tens of millions
    # at most (sketch rows for tiny groups are ~100 B each)
    builder = _make_grouped_builder(config, list(key_cols), value_col, weight_col, 2_000_000)

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [f for f in builder(batches) if len(f)]
        if not frames:
            yield pd.DataFrame({c: pd.Series([], dtype=object) for c in out_cols})
            return
        yield _vectorized_grouped_finalize(
            pd.concat(frames, ignore_index=True), list(key_cols), qs, q_names, out_cols
        )

    return projected.mapInPandas(fused, schema=schema)


def _catalyst_quantiles(df, value_col, key_cols, qs, q_names, config, weight_col):
    """mode='sql' executor: generate the one-string Catalyst plan (see
    ``ddsketch_spark_sql``) and submit it through ONE parameterized
    ``spark.sql`` call — building the same tree out of Column objects costs
    hundreds of py4j round trips (~0.5 s per query of pure driver chatter);
    parsing one string is a single round trip."""
    sql = ddsketch_spark_sql(
        "{__ddsparkle_src__}", value_col, qs,
        config=config, by=key_cols, weight_col=weight_col, q_names=q_names,
    )
    return df.sparkSession.sql(sql, __ddsparkle_src__=df)


def sql_mode_eligible(config, stats_final: bool = False) -> bool:
    """True when an aggregation over ``config`` can run as a pure-Catalyst
    plan with kernel-identical semantics: log mapping (closed-form index
    math) and a supported store policy. ``stats_final=True`` is for callers
    whose SQL final reproduces exact summary statistics via a stats join
    (``quantiles``, ``cdf_at_values``) — they route exact-stats configs to
    SQL too. The default (``stats_final=False``) additionally requires NO
    exact-stats tracking; it is the predicate for ``build_rollup``, whose
    persisted cells carry bucket state only (Kahan compensation state has
    no cell column)."""
    return (
        config.mapping().kind == "log"
        and (stats_final or not config.track_exact_stats)
        and config.store_policy
        in ("unbounded", "sparse", "collapsing_lowest", "collapsing_highest")
    )


def _sql_store_fragments(config, key_cols, value_col, weight_col) -> dict:
    """Shared SQL-mode scaffolding: validates the config, and builds the
    grouping fragments plus the ``vals``->``buckets``(->``collapsed``) CTE
    chain that turns raw rows into per-(group, sign-part, bucket-index)
    count rows — identical for every sketch query shape (quantile rank
    walk, CDF sum); only the final select differs per caller."""

    mapping = config.mapping()
    if mapping.kind != "log":
        raise ValueError(
            f"mode='sql' requires mapping_kind='log' (got {config.mapping_kind!r}); "
            "the interpolated mappings need frexp bit access that Catalyst lacks"
        )
    if config.store_policy not in ("unbounded", "sparse", "collapsing_lowest", "collapsing_highest"):
        raise ValueError(f"mode='sql' does not support store_policy={config.store_policy!r}")
    reserved = {"__v", "__w", "__x", "__part", "__i", "__c", "__ord", "__val", "__cum", "__n"}
    if reserved & set(key_cols):
        raise ValueError(f"group keys collide with mode='sql' internals: {reserved & set(key_cols)}")

    def _d(x: float) -> str:
        # Spark SQL parses a bare decimal literal as DECIMAL, and DECIMAL
        # arithmetic silently truncates scale (BIGINT/DECIMAL keeps 6 digits)
        # — every float constant must be an explicit DOUBLE (string cast is
        # correctly rounded and constant-folded once)
        return f"CAST('{x!r}' AS DOUBLE)"

    mult = _d(mapping.multiplier)
    a = _d(mapping.relative_accuracy)
    off = mapping.index_offset
    mi = _d(mapping.min_indexable_value)
    mb = config.max_bins

    g = "".join(f"`{k}`, " for k in key_cols)          # trailing-comma select list
    g_group = ", ".join(f"`{k}`" for k in key_cols)     # group-by list
    gby = f"GROUP BY {g_group}" if key_cols else ""
    g_part = f"PARTITION BY {g_group}" if key_cols else ""

    w_src = f"CAST(`{weight_col}` AS DOUBLE)" if weight_col else "CAST(1.0 AS DOUBLE)"
    # NULL values (and NULL weights — the kernel's valid-mask drops the row
    # when EITHER is NaN) contribute 0 to every bucket count but keep their
    # group alive — all-NULL groups emit a count-0 result row like the
    # kernel paths
    c_agg = (
        "SUM(CASE WHEN __v IS NULL OR __w IS NULL THEN CAST(0.0 AS DOUBLE) ELSE __w END)"
    )

    # _java_floor (LogLikeIndexMapping.java:113-116): floor, except exact
    # negative integers land one lower (truncation-toward-zero minus one)
    jfloor = "CAST(FLOOR(__x) AS BIGINT) - (CASE WHEN __x < 0 AND __x = FLOOR(__x) THEN 1 ELSE 0 END)"
    x_expr = f"LN(ABS(__v)) * {mult}"
    if off != 0.0:
        x_expr = f"{x_expr} + {_d(off)}"
    i_term = f"(CAST(__i AS DOUBLE) - {_d(off)})" if off != 0.0 else "__i"
    bucket_val = f"EXP({i_term} / {mult}) * (1.0 + {a})"

    buckets_cte = f"""
buckets AS (
  SELECT {g}__part,
         CASE WHEN __part <> 1 THEN {jfloor} ELSE 0 END AS __i,
         {c_agg} AS __c
  FROM (
    SELECT {g}__v, __w,
           CASE WHEN __v > {mi} THEN 2 WHEN __v < -{mi} THEN 0 ELSE 1 END AS __part,
           {x_expr} AS __x
    FROM vals
  ) GROUP BY {g}__part, __i
)"""

    if config.store_policy in ("collapsing_lowest", "collapsing_highest"):
        # global clamp model; extremes ignore zero-count buckets (they never
        # exist in the kernel: Store.add no-ops on count 0)
        if config.store_policy == "collapsing_lowest":
            clamp = (
                f"GREATEST(__i, MAX(CASE WHEN __c > 0 THEN __i END) "
                f"OVER ({g_part}{', ' if key_cols else ''}PARTITION BY __part) - {mb - 1})"
            ) if not key_cols else (
                f"GREATEST(__i, MAX(CASE WHEN __c > 0 THEN __i END) "
                f"OVER (PARTITION BY {g_group}, __part) - {mb - 1})"
            )
        else:
            clamp = (
                f"LEAST(__i, MIN(CASE WHEN __c > 0 THEN __i END) "
                f"OVER ({g_part}{', ' if key_cols else ''}PARTITION BY __part) + {mb - 1})"
            ) if not key_cols else (
                f"LEAST(__i, MIN(CASE WHEN __c > 0 THEN __i END) "
                f"OVER (PARTITION BY {g_group}, __part) + {mb - 1})"
            )
        buckets_cte += f""",
collapsed AS (
  SELECT {g}__part, __i2 AS __i, SUM(__c) AS __c FROM (
    SELECT {g}__part, __c,
           CASE WHEN __part <> 1 AND __c > 0 THEN {clamp} ELSE __i END AS __i2
    FROM buckets
  ) GROUP BY {g}__part, __i2
)"""
        store_rel = "collapsed"
    else:
        store_rel = "buckets"

    return {
        "d": _d, "mult": mult, "a": a, "mi": mi,
        "g": g, "g_group": g_group, "gby": gby, "g_part": g_part,
        "w_src": w_src, "c_agg": c_agg, "bucket_val": bucket_val,
        "buckets_cte": buckets_cte, "store_rel": store_rel,
    }


def ddsketch_spark_sql(
    source: str,
    value_col: str,
    qs,
    config=None,
    by=None,
    weight_col=None,
    q_names=None,
):
    """The DDSketch aggregation as ONE Spark-SQL string over ``source`` (a
    table name, a parenthesized subquery, or a ``{param}`` placeholder for
    parameterized ``spark.sql``) — the pure-SQL surface of ``mode='sql'``,
    usable from any SQL-first pipeline with no Python at execution time.

    Only for ``mapping_kind='log'``, whose index math is closed-form in SQL:
    ``index = java_floor(ln(v)*multiplier + offset)``
    (``LogLikeIndexMapping.java:113-116``), ``value(i) =
    exp((i-offset)/multiplier)*(1+alpha)`` (``LogLikeIndexMapping.java:119-121``),
    rank walk ``first bucket with cum > q*(n-1)`` (``DDSketch.java:353-388``).

    Physical shape (the 100-TB plan): scan -> hash aggregate on
    (keys, sign-part, bucket index) with MAP-SIDE partial aggregation (the
    shuffle carries at most #groups x #buckets rows, ~hundreds per group at
    alpha=0.01, regardless of input rows) -> per-group window cumsum over the
    bucket rows -> one final hash aggregate. Everything stays inside
    whole-stage codegen; no Arrow boundary, no Python workers.

    Semantics notes vs the kernel paths:
    - counts/quantiles/min/max replicate the kernel bit-for-bit on non-NaN
      data (same float constants, same operand order as ddsparkle/oracle.py,
      which hash-matches the kernel across the driver suite); empty and
      all-NULL groups survive with count 0 like the kernel paths (their
      quantiles/stats are SQL NULL rather than float NaN); a GLOBAL
      aggregate over zero input rows returns zero rows (outer filter), like
      the kernel paths;
    - stats-less ``sum``/``avg`` sum bucket contributions in unspecified
      order (Spark SUM) vs the kernel's index-ordered np.dot — equal within
      float reassociation dust; exact-stats sum uses Spark SUM vs the
      kernel's Kahan — same caveat. Both are exact on integer-valued data.
    - NaN values: Spark comparison semantics route NaN to the positive
      store (NaN > x is TRUE in Spark SQL); the kernel routes them to the
      zero bucket. Filter NaNs upstream if they can occur.
    - collapse replicates the global clamp model
      (``CollapsingLowestDenseStoreTest.java:23-37``), like the kernel and
      the oracle.
    """
    # the SQL surface defaults to the log preset (the only SQL-expressible
    # mapping); quantiles() keeps the reference's cubic default and routes
    # non-log configs to the kernel paths
    config = config or SketchConfig(mapping_kind="log")
    key_cols = [by] if isinstance(by, str) else list(by or [])
    qs = [float(q) for q in qs]
    if any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError("The quantile must be between 0 and 1.")
    if q_names is None:
        q_names = [quantile_column_name(q) for q in qs]
    q_names = list(q_names)

    fr = _sql_store_fragments(config, key_cols, value_col, weight_col)
    _d = fr["d"]
    g, g_group, gby, g_part = fr["g"], fr["g_group"], fr["gby"], fr["g_part"]
    w_src, c_agg, bucket_val = fr["w_src"], fr["c_agg"], fr["bucket_val"]
    buckets_cte, store_rel = fr["buckets_cte"], fr["store_rel"]

    live = "__n > 0 AND __c > 0"
    q_sel, clamp_sel = [], []
    for q, name in zip(qs, q_names):
        qv = f"MIN(CASE WHEN __n > 0 AND __cum > {_d(float(q))} * (__n - 1) THEN __val END)"
        q_sel.append(f"{qv} AS `{name}`")
        clamp_sel.append(f"LEAST(GREATEST({qv}, MIN(__mn)), MAX(__mx)) AS `{name}`")

    if config.track_exact_stats:
        # exact stats from the raw rows: NULLs never reach the kernel accept,
        # but zero-weight non-NULL values DO move the exact extremes
        # (sketch.py accept note), so min/max skip only NULLs
        if key_cols:
            # null-safe (<=>) join: a NULL group key is a real group for the
            # kernel paths and for GROUP BY, but plain equality would drop it
            on = " AND ".join(f"cumw.`{k}` <=> stats.`{k}`" for k in key_cols)
            join = f"JOIN stats ON {on}"
            g_out = "".join(f"cumw.`{k}`, " for k in key_cols)
            gby_out = "GROUP BY " + ", ".join(f"cumw.`{k}`" for k in key_cols)
        else:
            join = "CROSS JOIN stats"
            g_out = ""
            gby_out = ""
        final = f""",
stats AS (
  SELECT {g}{c_agg} AS __cnt,
         SUM(__v * __w) AS __sm, MIN(__v) AS __mn, MAX(__v) AS __mx
  FROM (SELECT {g}__v, __w FROM vals) {gby}
)
SELECT {g_out}{", ".join(clamp_sel)},
  MAX(__cnt) AS count, MAX(__sm) AS sum, MIN(__mn) AS min, MAX(__mx) AS max,
  MAX(__sm) / MAX(__cnt) AS avg
FROM cumw {join} {gby_out}"""
    else:
        sum_expr = f"SUM(CASE WHEN {live} THEN __val * __c END)"
        final = f"""
SELECT {g}{", ".join(q_sel)},
  CAST(MAX(__n) AS DOUBLE) AS count,
  {sum_expr} AS sum,
  MIN(CASE WHEN {live} THEN __val END) AS min,
  MAX(CASE WHEN {live} THEN __val END) AS max,
  {sum_expr} / MAX(CASE WHEN __n > 0 THEN __n END) AS avg
FROM cumw {gby}"""

    sql = f"""
WITH vals AS (
  SELECT {g}CAST(`{value_col}` AS DOUBLE) AS __v, {w_src} AS __w
  FROM {source}
),{buckets_cte},
walk AS (
  SELECT {g}__part,
         CASE WHEN __part = 0 THEN -__i WHEN __part = 1 THEN 0 ELSE __i END AS __ord,
         CASE WHEN __part = 1 THEN CAST(0.0 AS DOUBLE)
              WHEN __part = 0 THEN -{bucket_val}
              ELSE {bucket_val} END AS __val,
         __c
  FROM {store_rel}
),
cumw AS (
  SELECT {g}__val, __c,
         SUM(__c) OVER ({g_part} ORDER BY __part, __ord ROWS UNBOUNDED PRECEDING) AS __cum,
         SUM(__c) OVER ({g_part}) AS __n
  FROM walk
){final}"""

    if not key_cols:
        # a global aggregate over ZERO input rows yields one all-NULL row in
        # SQL; the kernel paths return an empty frame — align on the latter.
        # (all-NULL *groups* keep their count-0 row: their count is 0.0, not
        # NULL, because the zero-part bucket row always exists for them.)
        sql = f"SELECT * FROM ({sql}\n) WHERE count IS NOT NULL"
    return sql


def ddsketch_cdf_spark_sql(
    source: str,
    value_col: str,
    xs,
    config=None,
    by=None,
    weight_col=None,
    x_names=None,
):
    """The DDSketch value->rank (CDF) aggregation as ONE Spark-SQL string —
    the pure-Catalyst surface of ``cdf_at_values`` for log mappings, sharing
    the vals->buckets CTE chain with ``ddsketch_spark_sql``.

    An even better physical shape than the quantile plan: after the bucket
    hash aggregate (map-side combined; at most #groups x #buckets shuffle
    rows) the CDF needs NO window function at all — cdf(x) is one more hash
    aggregate ``SUM(c WHERE bucket_value <= x) / SUM(c)`` over the bucket
    rows. Two hash aggregates, zero sorts, zero Python, whole-stage codegen
    end to end.

    Stats-less configs read ``count`` off the bucket totals; exact-stats
    configs add a ``stats`` CTE over the raw rows and a null-safe group
    join (the same final shape as ``ddsketch_spark_sql``), so the count
    column carries the exact-summary semantics — still two hash aggregates
    for the CDF itself, plus the stats join. Empty global input returns
    zero rows like the kernel paths; a count-0 group's cdf columns are
    NULL.
    """
    config = config or SketchConfig(mapping_kind="log")
    key_cols = [by] if isinstance(by, str) else list(by or [])
    xs = [float(x) for x in xs]
    if any(math.isnan(x) for x in xs):
        raise ValueError("NaN is not a valid CDF probe")
    if x_names is None:
        x_names = [cdf_column_name(x) for x in xs]
    x_names = list(x_names)
    if len(set(x_names)) != len(x_names):
        raise ValueError(f"duplicate cdf column names: {x_names}")

    fr = _sql_store_fragments(config, key_cols, value_col, weight_col)
    _d = fr["d"]
    g, gby = fr["g"], fr["gby"]
    w_src, c_agg, bucket_val = fr["w_src"], fr["c_agg"], fr["bucket_val"]
    buckets_cte, store_rel = fr["buckets_cte"], fr["store_rel"]

    sels = [
        f"SUM(CASE WHEN __val <= {_d(x)} THEN __c ELSE CAST(0.0 AS DOUBLE) END)"
        f" / SUM(__c) AS `{name}`"
        for x, name in zip(xs, x_names)
    ]
    if config.track_exact_stats:
        # exact count from the raw rows via a stats CTE + null-safe group
        # join (mirrors ddsketch_spark_sql's exact-stats final); the cdf
        # estimates themselves stay pure bucket math
        if key_cols:
            on = " AND ".join(f"agg.`{k}` <=> stats.`{k}`" for k in key_cols)
            join = f"JOIN stats ON {on}"
            g_out = "".join(f"agg.`{k}`, " for k in key_cols)
        else:
            join = "CROSS JOIN stats"
            g_out = ""
        x_out = ", ".join(f"agg.`{n}`" for n in x_names)
        final = f""",
agg AS (
  SELECT {g}{", ".join(sels)}
  FROM walk {gby}
),
stats AS (
  SELECT {g}{c_agg} AS __cnt
  FROM (SELECT {g}__v, __w FROM vals) {gby}
)
SELECT {g_out}{x_out},
  CAST(stats.__cnt AS DOUBLE) AS count
FROM agg {join}"""
    else:
        final = f"""
SELECT {g}{", ".join(sels)},
  CAST(SUM(__c) AS DOUBLE) AS count
FROM walk {gby}"""
    sql = f"""
WITH vals AS (
  SELECT {g}CAST(`{value_col}` AS DOUBLE) AS __v, {w_src} AS __w
  FROM {source}
),{buckets_cte},
walk AS (
  SELECT {g}CASE WHEN __part = 1 THEN CAST(0.0 AS DOUBLE)
              WHEN __part = 0 THEN -{bucket_val}
              ELSE {bucket_val} END AS __val,
         __c
  FROM {store_rel}
){final}"""
    if not key_cols:
        # align the zero-input global case on the kernel paths' empty frame
        sql = f"SELECT * FROM ({sql}\n) WHERE count IS NOT NULL"
    return sql


def sketch_rows_spark_sql(
    source: str,
    value_col: str,
    config=None,
    by=None,
    weight_col=None,
):
    """Mergeable sketch ROWS (the ``serde.spark_sketch_schema`` layout) as
    ONE Catalyst plan — the pure-JVM build stage for persisted rollups: at
    10^12 rows the rollup BUILD is the big scan, and this keeps it entirely
    inside whole-stage codegen (bucket hash aggregate with map-side combine,
    then per-cell ``collect_list``/``sort_array`` of at most ~#buckets tiny
    struct rows — no Arrow boundary, no Python workers anywhere).

    The emitted rows round-trip through ``serde.row_to_sketch`` and merge
    with kernel-built rows (same mapping identity, same store layout:
    ascending indexes, zero-count bins dropped like ``Store.add`` no-ops).

    Restrictions: log mappings, ``track_exact_stats=False`` configs (Kahan
    compensation state has no SQL equivalent), and non-NaN data (same
    routing note as ``ddsketch_spark_sql``). Row-existence semantics match
    the kernel builder: a cell with rows but only NULL values/weights emits
    a count-0 sketch row (empty stores, zero_count 0), like the kernel's
    all-NULL-group rows; a cell with zero rows does not exist in either.
    """
    config = config or SketchConfig(mapping_kind="log")
    if config.track_exact_stats:
        raise ValueError(
            "sketch_rows_spark_sql requires track_exact_stats=False "
            "(exact-stats Kahan state has no SQL equivalent); use the "
            "kernel builder for exact-stats configs"
        )
    key_cols = [by] if isinstance(by, str) else list(by or [])
    fr = _sql_store_fragments(config, key_cols, value_col, weight_col)
    _d = fr["d"]
    g, gby = fr["g"], fr["gby"]
    w_src = fr["w_src"]
    buckets_cte, store_rel = fr["buckets_cte"], fr["store_rel"]
    mapping = config.mapping()

    def collect(part: int) -> str:
        return (
            f"sort_array(collect_list(CASE WHEN __part = {part} AND __c > 0 "
            f"THEN struct(__i AS i, __c AS c) END))"
        )

    return f"""
WITH vals AS (
  SELECT {g}CAST(`{value_col}` AS DOUBLE) AS __v, {w_src} AS __w
  FROM {source}
),{buckets_cte},
cells AS (
  SELECT {g}
    {collect(0)} AS __neg,
    {collect(2)} AS __pos,
    COALESCE(SUM(CASE WHEN __part = 1 THEN __c END), CAST(0.0 AS DOUBLE)) AS zero_count
  FROM {store_rel} {gby}
)
SELECT {g}
  '{mapping.kind}' AS mapping_kind,
  {_d(mapping.gamma)} AS gamma,
  {_d(mapping.index_offset)} AS index_offset,
  '{config.store_policy}' AS store_policy,
  {int(config.max_bins)} AS max_bins,
  zero_count,
  transform(__neg, x -> x.i) AS neg_idx,
  transform(__neg, x -> x.c) AS neg_cnt,
  transform(__pos, x -> x.i) AS pos_idx,
  transform(__pos, x -> x.c) AS pos_cnt,
  CAST(0.0 AS DOUBLE) AS stat_count,
  CAST(0.0 AS DOUBLE) AS stat_sum,
  CAST(0.0 AS DOUBLE) AS stat_sum_comp,
  CAST(0.0 AS DOUBLE) AS stat_simple_sum,
  CAST('Infinity' AS DOUBLE) AS stat_min,
  CAST('-Infinity' AS DOUBLE) AS stat_max,
  false AS has_exact
FROM cells"""


def catalyst_sketch_rows(df, value_col, key_cols, config, weight_col=None):
    """DataFrame form of ``sketch_rows_spark_sql`` (parameterized
    ``spark.sql`` — one py4j round trip, like ``_catalyst_quantiles``)."""
    sql = sketch_rows_spark_sql(
        "{__ddsparkle_src__}", value_col,
        config=config, by=list(key_cols), weight_col=weight_col,
    )
    return df.sparkSession.sql(sql, __ddsparkle_src__=df)
