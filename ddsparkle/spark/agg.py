"""Distributed DDSketch aggregation over Spark DataFrames.

The sketch is a distributive aggregate (partial = per-partition build, merge =
store add, final = rank walk — ``DDSketch.java:218-229,268-273,353-388``),
expressed here as a two-stage Arrow-vectorized pipeline:

    stage 1  df.mapInArrow(build)           — no shuffle; one sketch row per
                                              (task, group); pure NumPy inside
    stage 2  repartition(keys).mapInArrow   — shuffles only sketch rows; every
             (merge [+ finalize])             group of a partition merges (and
                                              rank-walks) in one vectorized pass

Every stage reads and writes sketch rows as Arrow record batches through
one reader (``_merge_sketch_rows``: list columns flattened with their row
lengths, only the key columns through pandas) and one writer
(``_sketch_rows_batch``: each list column one ``ListArray`` over a slice of
the merged bucket stream), so no sketch row is converted cell by cell.

Every Spark-side merge of sketch rows (the stage-1 flush, the merge down to
one row per key, the global tree level and the finalize) runs one kernel,
``_merge_buckets``, over a flattened (key, store, bucket index, count)
stream. ``serde.merge_rows`` and ``DDSketch.merge`` remain the scalar
reference it is tested against.

Every kernel sketch query finalizes in the same stage-2 pass (``_finalize``):
the merged buckets of all keys of a partition are laid out once in rank-walk
order (``_Walk``), and one of three walks reads them — quantiles, CDF at
probe values, or trimmed and winsorized means. A keyless finalize runs in
one partition.

For global aggregations ``quantiles`` runs stage 2 on the driver instead,
over the collected partial rows; an intermediate tree stage bounds how many
rows it folds. All per-row work (value derivation, filters) should be done with
Catalyst expressions *before* calling these functions so pushdown/pruning
apply to the scan.
"""

from __future__ import annotations

import math
from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from ..config import SketchConfig
from ..serde import SKETCH_ROW_FIELDS, merge_rows, spark_sketch_schema
from ..store import _group_sum

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


def _partial_schema(df, key_cols: Sequence[str]):
    from pyspark.sql import types as T

    key_fields = [df.schema[c] for c in key_cols]
    return T.StructType(key_fields + list(spark_sketch_schema().fields))


# A stage-1 task flushes its groups as sketch rows once it holds more than
# this many, so task memory stays ~cap x sketch-size at any key cardinality.
_MAX_GROUPS_PER_TASK = 200_000


def build_partial_sketches(
    df,
    value_col: str,
    key_cols: Sequence[str] = (),
    config: Optional[SketchConfig] = None,
    weight_col: Optional[str] = None,
):
    """Stage 1: per-task, per-group sketch build via ``mapInArrow``.

    Consumes only ``key_cols + [value_col, weight_col]`` (column pruning
    reaches the scan). NULLs and NaNs in the value column are skipped, like
    SQL aggregates, and so are rows whose weight is NULL, NaN or zero.
    Returns a DataFrame of ``key_cols`` + sketch struct
    fields, with at most (#tasks x #groups-per-task) rows and NO shuffle.

    One vectorized builder serves every shape; a keyless build is a single
    constant key. Every group a task sees gets a row, so a group whose
    values are all NULL (or a keyless input of only NULLs) has a count-0
    row, while an empty input has none.

    Bounded memory under high-cardinality keys: when a task's in-flight
    groups exceed ``_MAX_GROUPS_PER_TASK``, they are flushed as sketch rows
    mid-stream (a spill of *mergeable partials*, not raw rows) — stage 2
    merges duplicates, so results are unchanged.
    """
    config = config or SketchConfig()
    key_cols = list(key_cols)
    cols = key_cols + [value_col] + ([weight_col] if weight_col else [])
    projected = df.select(*cols)
    schema = _partial_schema(projected, key_cols)
    build = _make_builder(config, key_cols, value_col, weight_col, _arrow_schema(schema))
    return projected.mapInArrow(build, schema)


_INT32_MIN = -(2**31)
# the sketch-identity fields every row of one merge must share
_IDENTITY = ("mapping_kind", "gamma", "index_offset", "store_policy", "max_bins", "has_exact")
# exact stats of a key with no values: count, sum, simple sum, min, max
_EMPTY_STATS = np.array([[0.0], [0.0], [0.0], [math.inf], [-math.inf]])
_STAT_FIELDS = ("stat_count", "stat_sum", "stat_simple_sum", "stat_min", "stat_max")


def _pack(kid, part, idx):
    """(key id, store part, bucket index) -> one sortable int64: 29 bits of
    key id, 2 of part (0 negative, 1 zero bucket, 2 positive) and the index
    as uint32."""
    return (kid << 34) | (part << 32) | (idx - _INT32_MIN)


def _unpack(packed):
    return packed >> 34, (packed >> 32) & 3, (packed & 0xFFFFFFFF) + _INT32_MIN


def _arrow_schema(schema):
    """The Arrow form of a declared Spark schema: a ``mapInArrow`` stage
    must emit exactly these types (Spark reads each column back by its
    declared type, e.g. ``max_bins`` as int32)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


def _doubles(col):
    """A numeric Arrow column as float64 NumPy, NULL as NaN: Arrow keeps
    NULL apart from NaN, where pandas merged them. Decimals go through
    their exact digits, a correctly rounded parse like ``float(Decimal)``
    (Arrow's direct cast can miss by an ulp)."""
    if pa.types.is_decimal(col.type):
        col = col.cast(pa.string())
    return np.asarray(pc.fill_null(col.cast(pa.float64(), safe=False), math.nan))


def _per_partition(df, schema, fn):
    """``df.mapInArrow`` with declared ``schema``: all non-empty record
    batches of a partition joined into one table, and ``fn(table,
    arrow_schema)`` returns the partition's one output batch (an empty
    partition gives none)."""
    out = _arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = [b for b in batches if b.num_rows]
        if batches:
            yield fn(pa.Table.from_batches(batches), out)

    return df.mapInArrow(run, schema)


def _factorize_keys(table, key_cols):
    """Per-row key ids, in order of first appearance, and the row at which
    each key first appears; NULL keys are a group. Each key column goes
    through ``pd.factorize``, several are combined pairwise. No key
    columns: every row is key 0."""
    codes = np.zeros(table.num_rows, np.int64)
    for i, c in enumerate(key_cols):
        col_codes, uniques = pd.factorize(table.column(c).to_pandas(), use_na_sentinel=False)
        codes = pd.factorize(codes * len(uniques) + col_codes)[0] if i else col_codes
    # a key appears first where the running maximum of the ids grows
    first = np.flatnonzero(np.diff(np.maximum.accumulate(codes), prepend=-1))
    return codes.astype(np.int64), first


def _merge_buckets(kid, part, idx, cnt, policy, max_bins):
    """The sketch merge for every key at once: clamp each collapsing
    (key, store) at its own extreme index, then sum counts per (key, part,
    index). Returns ``(kid, part, idx, cnt)`` sorted by (key, part, index),
    zero counts dropped — ``BucketStore.add`` semantics per key."""
    keep = cnt != 0
    kid, part, idx, cnt = kid[keep], part[keep], idx[keep], cnt[keep]
    if policy in ("collapsing_lowest", "collapsing_highest"):
        # the zero bucket (part 1, index 0) is its own group: a no-op clamp
        idx = _clamp_per_group((kid << 2) | part, idx, policy, max_bins)
    packed, cnt = _group_sum(_pack(kid, part, idx), cnt)
    return (*_unpack(packed), cnt)


def _bucket_streams(table, codes):
    """The reader's bucket half: the negative stores, zero buckets and
    positive stores of every sketch row as one (key id, part, index, count)
    stream, each list column read with ``list_flatten`` and its row lengths
    with ``list_value_length``; row i carries key id ``codes[i]``."""

    def store(part, name):
        lists = table.column(f"{name}_idx")
        kid = np.repeat(codes, np.asarray(pc.list_value_length(lists)))
        idx = np.asarray(pc.list_flatten(lists), np.int64)
        cnt = _doubles(pc.list_flatten(table.column(f"{name}_cnt")))
        return kid, np.full(kid.size, part), idx, cnt

    zero = (codes, np.ones_like(codes), np.zeros_like(codes), _doubles(table.column("zero_count")))
    return tuple(np.concatenate(s) for s in zip(store(0, "neg"), zero, store(2, "pos")))


def _merge_sketch_rows(table, key_cols):
    """The reader: merge a table of sketch rows to one sketch per key (one
    sketch when ``key_cols`` is empty). Returns the arguments of
    ``_sketch_rows_batch``: each key column's value at the key's first row,
    the shared sketch identity, the ``_merge_buckets`` arrays and the (5,
    n_keys) exact stats (count, sum, simple sum, min, max). The sum folds
    ``stat_sum - stat_sum_comp`` plainly, no Kahan."""
    # one sketch config per merge: heterogeneous rows (e.g. checkpoints from
    # two alphas unioned) fail loudly instead of mixing bucket spaces
    ident = {}
    for c in _IDENTITY:
        distinct = pc.unique(table.column(c))
        if len(distinct) > 1:
            raise ValueError(
                f"sketch rows are not mergeable: heterogeneous {c!r} values "
                f"{distinct[:4].to_pylist()}"
            )
        ident[c] = distinct[0].as_py()
    codes, first = _factorize_keys(table, key_cols)
    keys = {c: table.column(c).take(first).combine_chunks() for c in key_cols}
    streams = _bucket_streams(table, codes)
    buckets = _merge_buckets(*streams, ident["store_policy"], ident["max_bins"])

    def col(c):
        return _doubles(table.column(c))

    stats = np.repeat(_EMPTY_STATS, len(first), axis=1)
    np.add.at(stats[0], codes, col("stat_count"))
    np.add.at(stats[1], codes, col("stat_sum") - col("stat_sum_comp"))
    np.add.at(stats[2], codes, col("stat_simple_sum"))
    np.minimum.at(stats[3], codes, col("stat_min"))
    np.maximum.at(stats[4], codes, col("stat_max"))
    return keys, ident, *buckets, stats


def _record_batch(schema, n, cols):
    """One record batch of ``schema`` (``n`` rows) from ``cols``: name ->
    Arrow array, NumPy array or scalar. Every float NaN leaves as NULL, as
    it did on the way out of pandas (a float key that merged NULL and NaN
    rows reads NULL, whichever came first)."""
    arrays = []
    for f in schema:
        v = cols[f.name]
        if isinstance(v, pa.Array) and pa.types.is_floating(v.type):
            v = v.to_numpy(zero_copy_only=False)
        if isinstance(v, np.ndarray):
            v = pa.array(v, f.type, from_pandas=True)
        elif not isinstance(v, pa.Array):
            v = pa.repeat(pa.scalar(v, f.type), n)
        arrays.append(v.cast(f.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _sketch_rows_batch(schema, keys, ident, kid, part, idx, cnt, stats):
    """The writer: one sketch row per key id, as a record batch of
    ``schema``. ``keys`` maps each carried column to its Arrow array (a
    carried sketch field replaces the one built here) and ``ident`` gives
    the sketch identity; ``zero_count`` and the four list columns come
    from the sorted ``_merge_buckets`` streams, each list column one
    ``ListArray`` over its part's slice, with offsets from one
    ``searchsorted`` of that part's key ids."""
    n = stats.shape[1]
    cols = dict(ident, zero_count=np.zeros(n), stat_sum_comp=0.0)
    cols.update(zip(_STAT_FIELDS, stats))
    is_zero = part == 1
    cols["zero_count"][kid[is_zero]] = cnt[is_zero]
    for p, store in ((0, "neg"), (2, "pos")):
        rows = part == p
        offsets = pa.array(np.searchsorted(kid[rows], np.arange(n + 1)), pa.int32())
        for c, values in ((f"{store}_idx", idx[rows]), (f"{store}_cnt", cnt[rows])):
            cols[c] = pa.ListArray.from_arrays(offsets, values, type=schema.field(c).type)
    return _record_batch(schema, n, {**cols, **keys})


def _make_builder(cfg, key_cols, value_col, weight_col, schema):
    """Vectorized stage 1: one packed-key aggregation per Arrow batch instead
    of per-group accept() calls, so Python cost is O(1) per batch however
    small the groups (e.g. grouping by conv_id, ~10 turns per conversation).

    Bucket counts accumulate as a ``_pack``ed stream summed with the same
    bincount/reduceat kernel the stores use; exact stats accumulate in a
    (5, n_keys) array, and each key's columns are taken from the row where
    the task first saw it. A flush is ``_merge_buckets`` (the collapse
    clamp) plus ``_sketch_rows_batch``. Memory stays bounded: if the stream
    or the key count exceeds its cap, all current groups flush as mergeable
    rows. NULL and NaN values, and NULL, NaN and zero weights, are skipped.
    """
    mapping = cfg.mapping()
    min_idx_value = max(mapping.min_indexable_value, 0.0)
    max_idx_value = mapping.max_indexable_value
    track_stats = cfg.track_exact_stats
    policy, max_bins = cfg.store_policy, int(cfg.max_bins)
    max_groups = _MAX_GROUPS_PER_TASK  # read here, so tasks get the driver's value
    tuple_cap = max(max_groups * 4, 1 << 21)
    ident = dict(
        mapping_kind=mapping.kind, gamma=mapping.gamma, index_offset=mapping.index_offset,
        store_policy=policy, max_bins=max_bins, has_exact=track_stats,
    )

    def empty_state():
        # key -> key id, the key rows in id order, summed packed buckets and
        # their counts, exact stats
        return {}, [], np.empty(0, np.int64), np.empty(0, np.float64), _EMPTY_STATS[:, :0]

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        key_to_id, key_rows, acc_packed, acc_counts, stats = empty_state()

        def emit() -> pa.RecordBatch:
            keys = {c: pa.concat_arrays([b.column(c) for b in key_rows]) for c in key_cols}
            stats[2] = stats[1]
            buckets = _merge_buckets(*_unpack(acc_packed), acc_counts, policy, max_bins)
            return _sketch_rows_batch(schema, keys, ident, *buckets, stats)

        for batch in batches:
            if not batch.num_rows:
                continue
            values = _doubles(batch.column(value_col))
            weights = _doubles(batch.column(weight_col)) if weight_col else np.ones(values.shape)
            if weight_col and np.any(weights < 0):
                raise ValueError("The count cannot be negative.")
            # batch-local factorize -> task-global key ids; keys register even
            # when every row is null so all-null groups survive (SQL groups)
            codes, first = _factorize_keys(batch, key_cols)
            local = batch.select(key_cols).take(first)
            uniq = zip(*(c.to_pylist() for c in local.columns)) if key_cols else [()]
            n_before = len(key_to_id)
            local_to_global = np.fromiter(
                (key_to_id.setdefault(k, len(key_to_id)) for k in uniq), np.int64, len(first)
            )
            # each new id's first row, in id order
            ids, at = np.unique(local_to_global, return_index=True)
            if ids[-1] >= n_before:
                key_rows.append(local.take(at[ids >= n_before]))
            if len(key_to_id) > 1 << 29:
                # _pack reserves 29 bits for the key id; the flush cap keeps
                # tasks far below this, but fail loudly rather than wrap
                raise RuntimeError("too many in-flight groups in one task")
            if stats.shape[1] < len(key_to_id):
                fresh = np.repeat(_EMPTY_STATS, len(key_to_id) - stats.shape[1], axis=1)
                stats = np.concatenate([stats, fresh], axis=1)
            valid = ~(np.isnan(values) | np.isnan(weights)) & (weights > 0)
            if valid.any():
                kid = local_to_global[codes][valid]
                v = values[valid]
                w = weights[valid]
                if np.any(np.abs(v) > max_idx_value):
                    raise ValueError(
                        "The input value is outside the range that is tracked by the sketch."
                    )
                # both stores index |v|; the zero bucket is part 1, index 0
                part = np.where(v > min_idx_value, 2, np.where(v < -min_idx_value, 0, 1))
                idx = np.zeros(v.size, np.int64)
                idx[part != 1] = mapping.index(np.abs(v[part != 1]))
                acc_packed, acc_counts = _group_sum(
                    np.concatenate([acc_packed, _pack(kid, part, idx)]),
                    np.concatenate([acc_counts, w]),
                )
                if track_stats:
                    np.add.at(stats[0], kid, w)
                    np.add.at(stats[1], kid, w * v)
                    np.minimum.at(stats[3], kid, v)
                    np.maximum.at(stats[4], kid, v)
            if acc_packed.size > tuple_cap or len(key_to_id) > max_groups:
                yield emit()
                key_to_id, key_rows, acc_packed, acc_counts, stats = empty_state()
        if key_to_id:
            yield emit()

    return build


def merge_partials_to_sketch_rows(partials, key_cols: Sequence[str] = ()):
    """Merge partial sketch rows down to ONE sketch row per key (shuffle of
    sketch rows only). Useful for checkpointing merged state.

    A repartition by key (to one partition when keyless), then
    ``merge_partials_within_partitions``: every key of a partition merges
    in one vectorized pass, so there is no per-group Python apply and no
    per-key sketch object. Returns ``[*key_cols, *SKETCH_ROW_FIELDS]``."""
    key_cols = list(key_cols)
    return merge_partials_within_partitions(_by_key(partials, key_cols), key_cols)


def _by_key(src, key_cols: Sequence[str]):
    """The key columns and sketch fields of ``src``, repartitioned by the
    keys (to one partition when there are none)."""
    src = src.select(*key_cols, *SKETCH_ROW_FIELDS)
    return src.repartition(*[src[c] for c in key_cols]) if key_cols else src.repartition(1)


# the columns a quantile finalize appends after the quantiles
_STAT_COLS = ["count", "sum", "min", "max", "avg"]


def _finalize_schema(src, key_cols: Sequence[str], cols: Sequence[str]):
    from pyspark.sql import types as T

    key_fields = [src.schema[c] for c in key_cols]
    return T.StructType(key_fields + [T.StructField(c, T.DoubleType()) for c in cols])


# Above this many stage-1 partitions, a global kernel aggregation first folds
# its partial rows in ~isqrt(#partitions) tasks, so the driver finalize folds
# at most ~max(_TREE_FANIN, isqrt(#partitions)) rows.
_TREE_FANIN = 4096


def quantiles(
    df,
    value_col: str,
    by: Sequence[str] | str | None = None,
    qs: Sequence[float] = (0.5, 0.95, 0.99),
    config: Optional[SketchConfig] = None,
    weight_col: Optional[str] = None,
    q_names: Optional[Sequence[str]] = None,
    mode: str = "auto",
):
    """Sketch-based quantiles of ``value_col``, optionally grouped by ``by``.

    Returns a DataFrame with columns ``[*by, *q_names, count, sum, min, max,
    avg]``. count/sum/min/max/avg are exact when
    ``config.track_exact_stats`` (the default), in which case quantiles are
    also clamped into [min, max] — matching the reference's
    ``DDSketchWithExactSummaryStatistics``.

    ``mode``:
    - 'sql' (the 'auto' default for log-mapping configs): the whole
      aggregation as a pure-Catalyst plan — hash aggregate on (keys, sign,
      bucket index) with map-side combine, per-group window cumsum walk.
      Zero Python stages; the shuffle carries bucket rows (≤ #groups ×
      ~900 buckets at α=0.01) no matter the input size. Requires
      mapping_kind='log' (closed-form index math).
    - 'kernel' (the 'auto' default otherwise): partial sketches per task
      (raw rows never shuffle), then ``finalize_sketch_rows`` — one
      vectorized merge-and-walk pass per partition of sketch rows. A global
      aggregation (by=None) folds its partials on the driver instead: it
      RETURNS AN ALREADY-EXECUTED local result, and re-collecting it will
      not observe source-data changes.
    """
    config = config or SketchConfig()
    key_cols = [by] if isinstance(by, str) else list(by or [])
    if mode not in ("auto", "kernel", "sql"):
        raise ValueError(f"unknown mode {mode!r}; one of auto|kernel|sql")
    if mode == "auto":
        # the log mapping's index math is closed-form in SQL, so the whole
        # aggregation runs as one Catalyst plan with no Python worker
        # (hash-identical to the kernel path across the oracle gate suite;
        # see _catalyst_quantiles). It is not faster at every shape. On a
        # 4-core host (local[4], one log config, value = text length, mode
        # pinned, one session) the kernel took 0.22-0.37 s global and
        # 0.32-0.38 s by 4 groups at 50k rows, against sql's 0.45-0.62 s
        # and 0.44-0.61 s. At 1M rows the two tie globally (kernel
        # 1.06-1.25 s, sql 1.08-1.44 s), sql wins by 4 groups (1.16-1.22 s
        # against 1.27-1.40 s) and the kernel by 100k groups (2.8-3.0 s
        # against 3.1-3.5 s). The rule stays "log mapping -> sql" until a
        # measured crossover replaces it.
        # Interpolated mappings need frexp bit access, so they keep the
        # Arrow-vectorized kernel path.
        mode = "sql" if sql_mode_eligible(config, stats_final=True) else "kernel"
    qs = [float(q) for q in qs]
    if any(not 0.0 <= q <= 1.0 for q in qs):
        # uniform early guard (DDSketch.java:355-361 throws IAE); the kernel
        # path would raise at finalize time, the sql path not at all
        raise ValueError("The quantile must be between 0 and 1.")
    if q_names is None:
        q_names = [quantile_column_name(q) for q in qs]
    q_names = list(q_names)

    if mode == "sql":
        return _catalyst_quantiles(
            df, value_col, key_cols, qs, q_names, config, weight_col
        )

    partials = build_partial_sketches(df, value_col, key_cols, config, weight_col)
    if key_cols:
        return finalize_sketch_rows(partials, key_cols, qs, q_names)

    n_parts = partials.rdd.getNumPartitions()
    if n_parts > _TREE_FANIN:
        # intermediate tree level: bound the driver's fan-in
        partials = partials.repartition(max(1, math.isqrt(n_parts)))
        partials = merge_partials_within_partitions(partials, [])
    # driver finalize: the fold a single final merge task would do, without
    # its shuffle and Python stage. The snapshot is built from an Arrow
    # table, which Spark keeps as a LocalRelation: collecting it runs no
    # job (a list of rows would become an RDD scan), and NaN stays NaN (a
    # pandas frame would turn it into null).
    schema = _finalize_schema(partials, [], [*q_names, *_STAT_COLS])
    rows = partials.collect()
    out = [finalize_row(merge_rows(rows), {}, qs, q_names)] if rows else []
    table = pa.Table.from_pylist(out, schema=_arrow_schema(schema))
    return df.sparkSession.createDataFrame(table, schema)


def finalize_row(sk, key_values: dict, qs: Sequence[float], q_names: Sequence[str]) -> dict:
    """One result row from a merged sketch: the global driver finalize of
    ``quantiles``, and the scalar reference for ``finalize_sketch_rows``'
    vectorized pass (equal quantiles, count, min and max; sum and avg up to
    float reassociation)."""
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
    """Merge + quantile-finalize sketch rows (partials, merged rows or
    rollup cells) per ``group_keys``, all rows when empty: the shared
    ``_finalize`` pass with the quantile walk. Returns ``[*group_keys,
    *q_names, count, sum, min, max, avg]``."""
    qs = [float(q) for q in qs]
    q_names = list(q_names)
    return _finalize(
        src, group_keys, [*q_names, *_STAT_COLS], lambda w: _quantile_walk(w, qs, q_names)
    )


def _finalize(src, group_keys: Sequence[str], cols: Sequence[str], walk):
    """The one kernel finalize: repartition sketch rows by ``group_keys``
    (to one partition when there are none), then ONE ``mapInArrow`` in
    which every key of a partition merges and is laid out in walk order
    (``_Walk``) at once, and ``walk`` reads every key's answer off those
    arrays — so per-key Python cost is ~zero. ``walk`` maps a ``_Walk`` to
    one array per output column; the keys and those columns leave as one
    record batch (NaN answers as NULL). Returns ``[*group_keys, *cols]``."""
    group_keys = list(group_keys)
    cols = list(cols)
    parted = _by_key(src, group_keys)

    def finalize(table, out):
        w = _Walk(table, group_keys)
        return _record_batch(out, len(w.totals), {**w.keys, **walk(w)})

    return _per_partition(parted, _finalize_schema(parted, group_keys, cols), finalize)


def merge_partials_within_partitions(partials, key_cols: Sequence[str]):
    """Fold the sketch rows of each partition (no shuffle) to one row per
    (partition, key) with the vectorized merge (``_merge_sketch_rows``).
    Returns ``[*key_cols, *SKETCH_ROW_FIELDS]``."""
    key_cols = list(key_cols)

    def fold(table, out):
        return _sketch_rows_batch(out, *_merge_sketch_rows(table, key_cols))

    return _per_partition(partials, _partial_schema(partials, key_cols), fold)


class _Walk:
    """Every key of a sketch-row table merged (``_merge_sketch_rows``) and
    laid out for the rank walk: one partition-wide array per bucket field,
    each key's buckets contiguous in walk order — negative store by
    descending index, zero bucket, positive store by ascending index, i.e.
    ascending values (``DDSketch._walk_arrays``). Per key: ``base`` (the
    cumulative count before its first bucket), ``totals`` (its bucket
    count), ``count`` (the exact count when tracked, else ``totals``) and
    the index range ``first``..``last`` of its buckets. A key with no
    bucket mass has ``totals`` 0; every walk gives it NaN (NULL) answers.
    """

    def __init__(self, table, key_cols):
        from ..mapping import mapping_from_kind

        self.keys, ident, kid, part, idx, counts, self.stats = _merge_sketch_rows(table, key_cols)
        self.has_exact = bool(ident["has_exact"])
        mapping = mapping_from_kind(
            ident["mapping_kind"], float(ident["gamma"]), float(ident["index_offset"])
        )
        # _merge_buckets sorts every store by ascending index; the walk reads
        # the negative one descending
        order = np.argsort(_pack(kid, part, np.where(part == 0, -idx, idx)), kind="stable")
        kid, part, idx, counts = kid[order], part[order], idx[order], counts[order]
        values = np.zeros(kid.size)
        for p, sign in ((0, -1.0), (2, 1.0)):
            rows = part == p
            if rows.any():
                values[rows] = sign * np.asarray(mapping.value(idx[rows]), np.float64)
        self.kid, self.values, self.counts = kid, values, counts

        # one segment per key that has buckets; keys without any are absent
        n_keys = self.stats.shape[1]
        self.seg_starts = np.flatnonzero(np.diff(kid, prepend=-1))
        self.seg_kids = kid[self.seg_starts]
        self.seg_ends = np.append(self.seg_starts, kid.size)[1:] - 1
        self.cum = np.cumsum(counts)
        seg_base = np.where(self.seg_starts > 0, self.cum[self.seg_starts - 1], 0.0)
        self.base, self.totals = np.zeros(n_keys), np.zeros(n_keys)
        self.first, self.last = np.zeros(n_keys, np.int64), np.zeros(n_keys, np.int64)
        self.base[self.seg_kids] = seg_base
        self.totals[self.seg_kids] = self.cum[self.seg_ends] - seg_base
        self.first[self.seg_kids] = self.seg_starts
        self.last[self.seg_kids] = self.seg_ends
        self.count = self.stats[0] if self.has_exact else self.totals

    def at_ranks(self, ranks):
        """(n_keys, R) values at per-key ``ranks``: the first bucket of the
        key whose cumulative count exceeds the rank (``DDSketch.java:353-388``),
        one global ``searchsorted`` over the partition-wide cumulative
        counts, offset by each key's ``base``."""
        if not self.values.size:
            return np.full(ranks.shape, math.nan)
        targets = self.base.reshape(-1, 1) + ranks
        pos = np.searchsorted(self.cum, targets.ravel(), side="right").reshape(ranks.shape)
        pos = np.clip(pos, self.first.reshape(-1, 1), self.last.reshape(-1, 1))
        return self.values[pos]


def _quantile_walk(w, qs, q_names):
    """Quantiles at ``qs`` plus count, sum, min, max and avg per key, like
    ``finalize_row``: exact stats (and quantiles clamped into the exact
    [min, max]) when tracked, bucket estimates otherwise."""
    n_keys = len(w.totals)
    qs_arr = np.asarray(qs, np.float64)
    qvals = w.at_ranks(qs_arr.reshape(1, -1) * (w.totals.reshape(-1, 1) - 1.0))
    qvals[w.totals <= 0, :] = math.nan
    if w.has_exact:
        count, total, _, lo, hi = w.stats
        qvals = np.clip(qvals, lo.reshape(-1, 1), hi.reshape(-1, 1))
        # empty groups (all-null values): count 0, NaN stats like SQL aggs
        none = count <= 0
        total[none] = lo[none] = hi[none] = math.nan
    else:
        count = w.totals
        # bucket-approx sum/min/max, vectorized per key
        total = np.zeros(n_keys)
        np.add.at(total, w.kid, w.values * w.counts)
        total[count <= 0] = math.nan  # empty groups: NaN like finalize_row
        lo, hi = np.full(n_keys, math.nan), np.full(n_keys, math.nan)
        lo[w.seg_kids] = w.values[w.seg_starts]
        hi[w.seg_kids] = w.values[w.seg_ends]
    out = dict(zip(q_names, qvals.T))
    with np.errstate(invalid="ignore", divide="ignore"):
        out.update(count=count, sum=total, min=lo, max=hi, avg=total / count)
    return out


def _cdf_walk(w, xs, x_names):
    """``DDSketch.cdf_at_values`` per key: the mass at or below each probe
    (a weighted ``np.bincount`` over the walk-ordered buckets, so each
    key's sum folds left to right like the scalar cumsum) over the bucket
    total, plus ``count``. Count-0 keys get NaN (NULL) estimates."""
    out = {}
    with np.errstate(invalid="ignore", divide="ignore"):
        for x, name in zip(xs, x_names):
            below = w.values <= x
            mass = np.bincount(w.kid[below], w.counts[below], minlength=len(w.totals))
            out[name] = np.where(w.count > 0, mass / w.totals, math.nan)
    out["count"] = w.count
    return out


def _trimmed_walk(w, lo, hi):
    """``DDSketch.trimmed_means`` per key: each bucket keeps its count
    clipped to the rank window ``[k_lo, n - k_hi)`` of the key's segment
    cumsum, the trimmed sum folds ``kept * value`` left to right (a
    weighted ``np.bincount``), and the winsorized mean re-adds the cut
    tails at the boundary-rank values from ``_Walk.at_ranks``. Exact stats
    clamp both means into [min, max]; count-0 keys get NaN (NULL) means."""
    n = w.totals
    k_lo, k_hi = np.floor(lo * n), np.floor(hi * n)
    cum = w.cum - w.base[w.kid]
    kept = np.maximum(
        np.minimum(cum, (n - k_hi)[w.kid]) - np.maximum(cum - w.counts, k_lo[w.kid]), 0.0
    )
    t = np.bincount(w.kid, kept * w.values, minlength=n.size)
    v_lo, v_hi = w.at_ranks(np.stack([k_lo, n - k_hi - 1.0], axis=1)).T
    with np.errstate(invalid="ignore", divide="ignore"):
        means = [t / (n - k_lo - k_hi), ((k_lo * v_lo + t) + k_hi * v_hi) / n]
    if w.has_exact:
        means = [np.clip(m, w.stats[3], w.stats[4]) for m in means]
    live = w.count > 0
    trimmed, winsorized = (np.where(live, m, math.nan) for m in means)
    return {"trimmed_mean": trimmed, "winsorized_mean": winsorized, "count": w.count}


def _clamp_per_group(kid, idx, policy, max_bins):
    """Segmented collapse clamp: per (group, store) bound from the group's
    extreme index (one ``ufunc.at`` over a lookup indexed by group)."""
    if idx.size == 0:
        return idx
    lowest = policy == "collapsing_lowest"
    ext = np.full(int(kid.max()) + 1, _INT32_MIN if lowest else -_INT32_MIN)
    (np.maximum if lowest else np.minimum).at(ext, kid, idx)
    if lowest:
        return np.maximum(idx, ext[kid] - max_bins + 1)
    return np.minimum(idx, ext[kid] + max_bins - 1)


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
    Each set is one ``finalize_sketch_rows`` over the finest rows (it
    repartitions by the set's keys and merges), so the plan holds one
    exchange per set.
    """
    from pyspark.sql import functions as F

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
        fin = finalize_sketch_rows(finest, s, qs, q_names)
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


def _cdf_probes(xs, x_names=None):
    """The probes as floats and their column names (``cdf_column_name``
    by default) — the one probe check of every CDF path, kernel, SQL and
    rollup: a NaN probe and a repeated column name raise."""
    xs = [float(x) for x in xs]
    if any(math.isnan(x) for x in xs):
        raise ValueError("NaN is not a valid CDF probe")
    x_names = [cdf_column_name(x) for x in xs] if x_names is None else list(x_names)
    if len(set(x_names)) != len(x_names):
        raise ValueError(f"duplicate cdf column names: {x_names}")
    return xs, x_names


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

    ``mode``: 'sql' (the 'auto' default for log configs, with or without
    exact stats) runs the whole thing as a pure-Catalyst plan — one scan,
    two hash aggregates, no Python (``ddsketch_cdf_spark_sql``); 'kernel'
    is the Arrow-vectorized partial-sketch path (required for interpolated
    mappings): partial sketches per task, then the quantile path's finalize
    pass (one exchange, one ``mapInArrow``) reading every key's CDF off
    the merged bucket arrays (``_cdf_walk``).

    Returns [*by, *x_names, count]; a count-0 group's cdf columns are NULL.
    CDF estimates are in [0, 1] with the mapping's relative-accuracy
    contract on the VALUE axis (the estimate is the exact CDF evaluated
    within relative distance ~2*alpha of x). A NaN probe raises
    ``ValueError`` in every mode.
    """
    config = config or SketchConfig()
    key_cols = [by] if isinstance(by, str) else list(by or [])
    xs, x_names = _cdf_probes(xs, x_names)
    if mode not in ("auto", "kernel", "sql"):
        raise ValueError(f"unknown mode {mode!r}; one of auto|kernel|sql")
    if mode == "auto":
        # NaN-data caveat rides along with the routing: the kernel path
        # skips NaN values, the sql path's comparisons route NaN into the
        # positive store (Spark NaN > x is TRUE) — filter NaNs upstream if
        # they can occur, or pin mode='kernel'. Exact-stats configs route
        # to SQL too: the bucket total is the exact count (same as
        # quantiles' auto routing).
        mode = "sql" if sql_mode_eligible(config, stats_final=True) else "kernel"
    if mode == "sql":
        sql = ddsketch_cdf_spark_sql(
            "{__ddsparkle_src__}", value_col, xs,
            config=config, by=key_cols, weight_col=weight_col, x_names=x_names,
        )
        return df.sparkSession.sql(sql, __ddsparkle_src__=df)

    partials = build_partial_sketches(df, value_col, key_cols, config, weight_col)
    return _finalize(partials, key_cols, [*x_names, "count"], lambda w: _cdf_walk(w, xs, x_names))


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

    from ..serde import row_to_sketch

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
    left-to-right ``np.bincount`` fold and the DuckDB twin's
    ``list_reduce`` evaluate, so all three paths agree at round-4. The HOF evaluates interpretively, but
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
    KB-sized sketch rows on the wire, then the quantile path's finalize
    pass reading every group's means off the merged bucket arrays
    (``_trimmed_walk``) — so it holds at any group cardinality and 10^12
    rows.

    Returns [*by, trimmed_mean, winsorized_mean, count], unrounded
    doubles (gates round). Count-0 groups (all-NULL values) yield NULL
    means and count 0, like the CDF finalize. Estimates are within relative ~alpha of
    the exact means over the same rank cuts (every bucket representative
    is within alpha of the values it stands for).

    With fractional weights the total ``n`` is a float sum whose last bits
    depend on summation order (partial merge order, partitioning), so
    where ``lo*n`` or ``hi*n`` should be a whole number the cuts
    ``floor(lo*n)`` and ``floor(hi*n)`` can move by one rank and the means
    by a whole bucket: on sf0.01 ``events`` with weights in thirds they
    moved by up to 10.6% between two merge orders. Integer weights cut
    exactly.

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
    return _finalize(
        partials, key_cols, ["trimmed_mean", "winsorized_mean", "count"],
        lambda w: _trimmed_walk(w, lo, hi),
    )


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


# every internal column the SQL-mode generators emit; a group key with one
# of these names would be an ambiguous reference inside the plan
_SQL_RESERVED = frozenset({
    "__v", "__w", "__x", "__part", "__i", "__i2", "__c", "__sm", "__mn", "__mx",
    "__ord", "__val", "__cum", "__n", "__klo", "__khi", "__kept", "__neg", "__pos",
})


def sql_mode_eligible(config, stats_final: bool = False) -> bool:
    """True when an aggregation over ``config`` can run as a pure-Catalyst
    plan with kernel-identical semantics: log mapping (closed-form index
    math) and a supported store policy. ``stats_final=True`` is for callers
    whose SQL final reproduces exact summary statistics (``quantiles``,
    ``cdf_at_values``) — they route exact-stats configs to SQL too. The
    default (``stats_final=False``) additionally requires NO exact-stats
    tracking; it is the predicate for ``build_rollup``, whose persisted
    cells carry bucket state only (Kahan compensation state has no cell
    column)."""
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
    if _SQL_RESERVED & set(key_cols):
        raise ValueError(f"group keys collide with mode='sql' internals: {_SQL_RESERVED & set(key_cols)}")

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

    # exact stats ride along in the bucket aggregate (count, sum, min and
    # max are distributive). Like the kernel builder, min/max see only rows
    # that carry weight: a zero- or NULL-weight value is a no-op (sketch.py
    # module note), and a NULL value has no weight to carry
    if config.track_exact_stats:
        stats = ", __sm, __mn, __mx"
        live_v = "CASE WHEN __w > 0 THEN __v END"
        leaf_stats = f", SUM(__v * __w) AS __sm, MIN({live_v}) AS __mn, MAX({live_v}) AS __mx"
        fold_stats = ", SUM(__sm) AS __sm, MIN(__mn) AS __mn, MAX(__mx) AS __mx"
    else:
        stats = leaf_stats = fold_stats = ""
    buckets_cte = f"""
buckets AS (
  SELECT {g}__part,
         CASE WHEN __part <> 1 THEN {jfloor} ELSE 0 END AS __i,
         {c_agg} AS __c{leaf_stats}
  FROM (
    SELECT {g}__v, __w,
           CASE WHEN __v > {mi} THEN 2 WHEN __v < -{mi} THEN 0 ELSE 1 END AS __part,
           {x_expr} AS __x
    FROM vals
  ) GROUP BY {g}__part, __i
)"""

    if config.store_policy in ("collapsing_lowest", "collapsing_highest"):
        # global clamp model; extremes ignore zero-count buckets (they never
        # exist in the kernel: Store.add no-ops on count 0). One window per
        # group holds both stores' extremes, so the clamp, the regroup and
        # the walk's windows share one exchange on the group keys; the
        # regroup keeps bucket indexes unique per (group, part)
        ext, pick, op = (
            ("MAX", "GREATEST", "-") if config.store_policy == "collapsing_lowest"
            else ("MIN", "LEAST", "+")
        )

        def extreme(part: int) -> str:
            return f"{ext}(CASE WHEN __c > 0 AND __part = {part} THEN __i END) OVER ({g_part})"

        clamp = (
            f"{pick}(__i, CASE WHEN __part = 0 THEN {extreme(0)} ELSE {extreme(2)} END"
            f" {op} {mb - 1})"
        )
        buckets_cte += f""",
collapsed AS (
  SELECT {g}__part, __i2 AS __i, SUM(__c) AS __c{fold_stats} FROM (
    SELECT {g}__part, __c{stats},
           CASE WHEN __part <> 1 AND __c > 0 THEN {clamp} ELSE __i END AS __i2
    FROM buckets
  ) GROUP BY {g}__part, __i2
)"""
        store_rel = "collapsed"
    else:
        store_rel = "buckets"

    return {
        "d": _d, "g": g, "gby": gby, "g_part": g_part,
        "w_src": w_src, "bucket_val": bucket_val,
        "buckets_cte": buckets_cte, "store_rel": store_rel, "stats": stats,
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

    Physical shape (the 100-TB plan): ONE scan -> hash aggregate on
    (keys, sign-part, bucket index) with MAP-SIDE partial aggregation (the
    shuffle carries at most #groups x #buckets rows, ~hundreds per group at
    alpha=0.01, regardless of input rows) -> per-group window cumsum over the
    bucket rows -> one final hash aggregate: two exchanges in all. Exact
    stats are per-bucket columns of the same aggregate, and a collapsing
    store's clamp windows on the group keys, so it shares the walk's
    exchange. Everything stays inside whole-stage codegen; no Arrow
    boundary, no Python workers.

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
      float reassociation dust; exact-stats sum folds per-bucket partial
      sums with Spark SUM vs the kernel's Kahan — same caveat. Both are
      exact on integer-valued data.
    - NaN values: Spark comparison semantics route NaN to the positive
      store (NaN > x is TRUE in Spark SQL); the kernel drops them like NULL
      (``_make_builder``'s valid mask). Filter NaNs upstream if they can
      occur.
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
    g, gby, g_part = fr["g"], fr["gby"], fr["g_part"]
    w_src, bucket_val = fr["w_src"], fr["bucket_val"]
    buckets_cte, store_rel, stats = fr["buckets_cte"], fr["store_rel"], fr["stats"]

    live = "__n > 0 AND __c > 0"
    q_sel, clamp_sel = [], []
    for q, name in zip(qs, q_names):
        qv = f"MIN(CASE WHEN __n > 0 AND __cum > {_d(float(q))} * (__n - 1) THEN __val END)"
        q_sel.append(f"{qv} AS `{name}`")
        clamp_sel.append(
            f"CASE WHEN MAX(__n) > 0 THEN LEAST(GREATEST({qv}, MIN(__mn)), MAX(__mx)) END AS `{name}`"
        )

    if config.track_exact_stats:
        # the exact stats were folded per bucket row; __n is the exact count.
        # A count-0 group (only NULL values or zero weights) gets NULL stats
        # and quantiles like the kernel paths, and never divides by zero
        final = f"""
SELECT {g}{", ".join(clamp_sel)},
  CAST(MAX(__n) AS DOUBLE) AS count,
  CASE WHEN MAX(__n) > 0 THEN SUM(__sm) END AS sum,
  CASE WHEN MAX(__n) > 0 THEN MIN(__mn) END AS min,
  CASE WHEN MAX(__n) > 0 THEN MAX(__mx) END AS max,
  CASE WHEN MAX(__n) > 0 THEN SUM(__sm) / MAX(__n) END AS avg
FROM cumw {gby}"""
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
         __c{stats}
  FROM {store_rel}
),
cumw AS (
  SELECT {g}__val, __c{stats},
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

    ``count`` is the bucket total, which is also the exact count, so
    exact-stats configs run the same plan: one scan, no stats CTE, no join.
    A collapsing store adds the clamp window and the regroup, which share
    the final aggregate's exchange. Empty global input returns zero rows
    like the kernel paths; a count-0 group's cdf columns are NULL.
    """
    config = config or SketchConfig(mapping_kind="log")
    key_cols = [by] if isinstance(by, str) else list(by or [])
    xs, x_names = _cdf_probes(xs, x_names)

    fr = _sql_store_fragments(config, key_cols, value_col, weight_col)
    _d = fr["d"]
    g, gby = fr["g"], fr["gby"]
    w_src, bucket_val = fr["w_src"], fr["bucket_val"]
    buckets_cte, store_rel = fr["buckets_cte"], fr["store_rel"]

    sels = [
        f"SUM(CASE WHEN __val <= {_d(x)} THEN __c ELSE CAST(0.0 AS DOUBLE) END)"
        f" / NULLIF(SUM(__c), CAST(0.0 AS DOUBLE)) AS `{name}`"
        for x, name in zip(xs, x_names)
    ]
    # SUM(__c) is the exact count too, so exact-stats configs share the plan
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
)
SELECT {g}{", ".join(sels)},
  CAST(SUM(__c) AS DOUBLE) AS count
FROM walk {gby}"""
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

    The emitted rows deserialize with the ``serde`` readers and merge
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
