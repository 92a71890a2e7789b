"""Persisted sketch rollups: pre-aggregated DDSketch rows per time bucket.

This is the production pattern the reference library exists to serve (its
sketches are stored per time window by the backend and merged at query time —
mergeability is the whole point of `DDSketch.java:268-281` ``mergeWith`` and
of the wire formats in `DDSketch.proto:17-69`): ingest once into one sketch
row per (time bucket, dimension...) cell, persist those rows, and answer any
later time-range quantile query by merging only the covered cells — never
re-reading raw data.

Scale shape (the reason this wins at 100 TB):

- Build is the standard two-stage aggregation (`agg.build_partial_sketches`
  -> per-cell merge): raw rows NEVER shuffle, the exchange carries one sketch
  row per (task, cell).
- The rollup table is ~#cells rows regardless of raw volume (10^12 raw turns
  -> 24*30*#groups rows for a month of hourly cells), written as parquet
  partitioned by day so time-range queries are partition-pruned at the file
  level before a single byte is scanned.
- Query-time merge folds #hours x #groups sketch rows — milliseconds for
  what would be a full raw re-scan, and exact: merge associativity makes
  rollup-then-merge produce the identical sketch to a direct build over the
  same rows (same bucket counts; count sums are integral doubles), which is
  what the driver oracle verifies.
- Incremental ingest: append new days' cells with ``mode="append"``; a cell
  split across multiple appended partial rows (e.g. a backfill plus a late
  batch over DISJOINT raw slices) is re-merged transparently at query time.
  Re-appending the same raw slice double-counts, as in any pre-aggregated
  store — idempotent re-ingest is the job layer's concern
  (`jobs.build_with_checkpoint` tracks completed source files).
"""

from __future__ import annotations

from typing import Optional, Sequence

from ..config import SketchConfig
from ..serde import SKETCH_ROW_FIELDS
from .agg import (
    build_partial_sketches,
    finalize_sketch_rows,
    merge_partials_to_sketch_rows,
    quantile_column_name,
)

__all__ = [
    "build_rollup",
    "write_rollup",
    "read_rollup",
    "rollup_quantiles",
    "compact_rollup",
    "stream_to_rollup",
    "build_payload_rollup",
    "hll_rollup",
    "rollup_distinct",
    "cms_rollup",
    "rollup_frequencies",
    "tdigest_rollup",
    "rollup_tdigest_quantiles",
    "rollup_cdf",
    "compact_payload_rollup",
    "rollup_anomaly_flags",
    "rollup_distinct_sliding",
]

BUCKET_COL = "bucket_ts"
DAY_COL = "day"
BATCH_COL = "ingest_batch"

_GRANULARITIES = ("minute", "hour", "day", "week", "month")


def build_rollup(
    df,
    value_col: str,
    time_col: str = "ts",
    granularity: str = "hour",
    by: Sequence[str] | str | None = None,
    config: Optional[SketchConfig] = None,
    weight_col: Optional[str] = None,
    mode: str = "auto",
):
    """One merged sketch row per (``bucket_ts``, *by) cell, where
    ``bucket_ts = date_trunc(granularity, time_col)``.

    Raw rows never shuffle. ``mode='sql'`` (the 'auto' default for
    stats-less log configs) assembles the cells entirely in Catalyst
    (``agg.sketch_rows_spark_sql``: bucket hash aggregate with map-side
    combine, then per-cell collect/sort of ~#buckets struct rows — no
    Python anywhere on the ingest scan, which at 10^12 rows IS the job).
    ``mode='kernel'`` is the Arrow-vectorized two-stage path (required for
    interpolated mappings and exact-stats configs). Both emit the same
    mergeable sketch-row layout; outputs interoperate.

    NaN caveat (same as ``cdf_at_values`` / ``ddsketch_spark_sql``): under
    ``mode='sql'`` NaN values are bucketed by ``CAST(FLOOR(NaN) AS BIGINT)``
    into the positive store, while ``mode='kernel'`` drops them — a silent
    cross-mode count/quantile divergence. Filter NaNs upstream or pin
    ``mode='kernel'`` if the value column can contain them.

    Output columns: [bucket_ts, *by, <sketch row fields>].
    """
    from pyspark.sql import functions as F

    if granularity not in _GRANULARITIES:
        raise ValueError(f"granularity {granularity!r}; one of {_GRANULARITIES}")
    if mode not in ("auto", "kernel", "sql"):
        raise ValueError(f"unknown mode {mode!r}; one of auto|kernel|sql")
    config = config or SketchConfig()
    key_cols = [by] if isinstance(by, str) else list(by or [])
    sel = df.select(
        F.date_trunc(granularity, F.col(time_col)).alias(BUCKET_COL),
        *key_cols,
        value_col,
        *([weight_col] if weight_col else []),
    )
    if mode == "auto":
        from .agg import sql_mode_eligible

        mode = "sql" if sql_mode_eligible(config) else "kernel"
    if mode == "sql":
        from .agg import catalyst_sketch_rows

        return catalyst_sketch_rows(
            sel, value_col, [BUCKET_COL, *key_cols], config, weight_col
        )
    partials = build_partial_sketches(
        sel, value_col, [BUCKET_COL, *key_cols], config, weight_col
    )
    return merge_partials_to_sketch_rows(partials, [BUCKET_COL, *key_cols])


def write_rollup(rollup, path: str, mode: str = "overwrite"):
    """Persist a rollup as parquet partitioned by calendar day.

    The day directory layout is what makes time-range queries cheap: a
    ``day >= .. AND day <= ..`` filter prunes partitions before any file is
    opened, so querying one week of a year-long rollup touches 7/365 of the
    files. ``mode="append"`` supports incremental daily ingest.
    """
    from pyspark.sql import functions as F

    out = rollup.withColumn(DAY_COL, F.date_format(BUCKET_COL, "yyyy-MM-dd"))
    # cluster rows by day before the partitioned write: each task then emits
    # whole day-files instead of every task opening a file in every day
    # directory (tasks x days tiny files — the classic partitioned-write
    # explosion; at 1000 executors x 365 days that is 365k files of a few
    # KB). Sketch rows are small, so one file per day is the right shape.
    out.repartition(F.col(DAY_COL)).write.mode(mode).partitionBy(DAY_COL).parquet(path)


def read_rollup(spark, path: str):
    """Read a persisted rollup. The ``day`` partition column comes back as a
    DATE column (Spark's default partition type inference parses the
    yyyy-MM-dd directory names); ``rollup_quantiles``'s pruning filters
    compare it against date strings, which Spark casts implicitly."""
    return spark.read.parquet(path)


def stream_to_rollup(
    stream_df,
    path: str,
    value_col: str,
    time_col: str = "ts",
    granularity: str = "hour",
    by: Sequence[str] | str | None = None,
    config: Optional[SketchConfig] = None,
    weight_col: Optional[str] = None,
    checkpoint: Optional[str] = None,
    trigger: Optional[dict] = None,
):
    """Continuous rollup ingest: every micro-batch's rows are reduced to
    merged sketch cells and appended to the rollup table — the agent/metrics
    pipeline pattern (events stream in, only sketch cells ever hit storage,
    any later time-range quantile is a cell merge).

    Exactly-once under replay: Structured Streaming may re-run a micro-batch
    after recovery, and blind appends would double-count it. Each batch's
    cells are therefore written under an ``ingest_batch=<epoch id>``
    partition with dynamic partition overwrite — a replayed batch OVERWRITES
    its own partitions instead of appending twice, making the sink
    idempotent per batch id. ``rollup_quantiles`` merges cells across
    batch partitions transparently (the same multiple-rows-per-cell
    semantics as ``write_rollup(mode='append')``); run ``compact_rollup``
    periodically to fold them down.

    Layout warning: this sink partitions by ``(ingest_batch, day)`` while
    ``write_rollup`` partitions by ``(day)`` only — a rollup table must be
    written exclusively by ONE writer shape. Pointing both writers at the
    same path produces a mixed partition layout Spark cannot read; to move
    a streamed table under batch ownership, ``compact_rollup`` it into a
    fresh path first.

    Returns the started StreamingQuery. ``trigger`` kwargs pass through
    (e.g. ``{"availableNow": True}`` to drain a backlog and stop,
    ``{"processingTime": "1 minute"}`` for continuous ingest).
    """
    from pyspark.sql import functions as F

    def write_batch(bdf, batch_id: int):
        roll = build_rollup(
            bdf, value_col, time_col=time_col, granularity=granularity,
            by=by, config=config, weight_col=weight_col,
        )
        out = (
            roll.withColumn(DAY_COL, F.date_format(BUCKET_COL, "yyyy-MM-dd"))
            .withColumn(BATCH_COL, F.lit(int(batch_id)))
        )
        (
            out.repartition(F.col(DAY_COL))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BATCH_COL, DAY_COL)
            .parquet(path)
        )

    writer = stream_df.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def _apply_time_filter(sel, start, end):
    """The shared [start, end) cell filter: exact selection on ``bucket_ts``
    plus pruning-only ``day`` bounds widened one day each side (cross-
    timezone safety — see rollup_quantiles)."""
    from pyspark.sql import functions as F

    has_day = DAY_COL in sel.columns
    if start is not None:
        sel = sel.filter(F.col(BUCKET_COL) >= F.lit(start).cast("timestamp"))
        if has_day:
            day_lo = F.date_format(
                F.lit(start).cast("timestamp") - F.expr("INTERVAL 1 DAY"), "yyyy-MM-dd"
            )
            sel = sel.filter(F.col(DAY_COL) >= day_lo)
    if end is not None:
        sel = sel.filter(F.col(BUCKET_COL) < F.lit(end).cast("timestamp"))
        if has_day:
            day_hi = F.date_format(
                F.lit(end).cast("timestamp") + F.expr("INTERVAL 1 DAY"), "yyyy-MM-dd"
            )
            sel = sel.filter(F.col(DAY_COL) <= day_hi)
    return sel


def build_payload_rollup(
    df,
    value_col: str,
    make,
    update,
    from_payload,
    time_col: str = "ts",
    granularity: str = "hour",
    by: Sequence[str] | str | None = None,
):
    """One merged sketch PAYLOAD per (``bucket_ts``, *by) cell — the
    approx-family analogue of ``build_rollup`` for any sketch on the payload
    chassis (HLL, CMS, KLL, t-digest, KMV...): distinct users per hour,
    frequency sketches per day, etc., persisted once and unioned at query
    time over any range. ``make``/``update``/``from_payload`` are the same
    plugin triple ``approx`` uses. Output: [bucket_ts, *by, payload], one
    row per cell. The plan depends on the input's partition count:

    - fewer partitions than the default parallelism (a small or single-file
      scan): the narrow raw rows are repartitioned by cell key, so each cell
      is built by exactly one task. A task folds every Arrow batch of its
      partition into one payload per cell, so these partials are already
      the final cells and no merge stage runs.
    - otherwise the DDSketch rollup's shape: raw rows never shuffle
      (stage-1 per-task payloads keyed by cell), the exchange carries one
      payload row per (task, cell), and cells merge in
      ``approx._fold_payloads`` (repartition by cell + one mapInPandas,
      a cell with one partial passing through unparsed)."""
    from pyspark.sql import functions as F

    from .approx import _build_payload_partials, _fold_payloads

    if granularity not in _GRANULARITIES:
        raise ValueError(f"granularity {granularity!r}; one of {_GRANULARITIES}")
    key_cols = [by] if isinstance(by, str) else list(by or [])
    sel = df.select(
        F.date_trunc(granularity, F.col(time_col)).alias(BUCKET_COL),
        *key_cols,
        value_col,
    )
    cell_keys = [BUCKET_COL, *key_cols]
    # r6 (guide §2.3/§2.5): a single-split scan runs the WHOLE per-cell
    # build on one task (measured 3.1 s inside the cms rollup write at
    # sf0.1) — but round-robin spreading is the WRONG parallelism here:
    # every task then sees every cell, so partial payload rows multiply by
    # the task count (a 5x8192 CMS cell is 320 KB; 28 tasks x ~720 hourly
    # cells measured ~6 GB of partials, 29.5 s in the write job). Instead
    # repartition the narrow raw rows BY CELL KEY: each cell is built by
    # exactly one task, partials per cell stay 1 regardless of task count,
    # and the per-cell frame needs no second exchange or merge fold at all
    # (cells are task-disjoint, so the partial rows ARE the final cells —
    # counter/register-exact for CMS/HLL/KMV; t-digest/KLL cells see a
    # different intra-cell row order, inside the same rank budget their
    # gates bound). Parallelism = min(cells, cores); a pathological single
    # hot cell degrades to the one task the pre-r6 build used for ALL
    # cells, never worse. At 100 TB the input already scans as >= cores
    # splits and the original shape (per-task partials + cell-keyed merge,
    # raw rows never shuffled) is kept unchanged.
    target = sel.sparkSession.sparkContext.defaultParallelism
    if sel.rdd.getNumPartitions() < target:
        sel = sel.repartition(target, *[F.col(c) for c in cell_keys])
        return _build_payload_partials(sel, value_col, cell_keys, make, update)
    partials = _build_payload_partials(sel, value_col, cell_keys, make, update)
    return _fold_payloads(partials, cell_keys, from_payload)


def hll_rollup(
    df,
    value_col: str,
    time_col: str = "ts",
    granularity: str = "hour",
    by: Sequence[str] | str | None = None,
    p: int = 14,
    seed: int = 0,
):
    """HyperLogLog rollup cells: distinct ``value_col`` per (time bucket,
    *by). Persist with ``write_rollup``; answer any window with
    ``rollup_distinct`` — HLL union is exact over merges, so the windowed
    estimate is IDENTICAL to running HLL directly over the window's raw
    rows (same registers), with the usual ~1.04/sqrt(2^p) rse vs truth."""
    from ..sketches.hll import HyperLogLog

    return build_payload_rollup(
        df,
        value_col,
        make=lambda: HyperLogLog(p=p, seed=seed),
        update=lambda sk, v: sk.update(v),
        from_payload=lambda b: HyperLogLog.from_bytes(b, p, seed),
        time_col=time_col,
        granularity=granularity,
        by=by,
    )


def rollup_distinct(
    rollup,
    by: Sequence[str] | str | None = None,
    start=None,
    end=None,
    p: int = 14,
    seed: int = 0,
):
    """Merge the HLL cells covering ``[start, end)`` and estimate distincts,
    optionally re-grouped by ``by``. Returns [*by, distinct_est, rse].
    Register-wise union makes the result independent of how the range was
    cut into cells (hourly vs daily vs appended batches)."""
    from pyspark.sql import types as T

    from ..sketches.hll import HyperLogLog
    from .approx import _fold_payloads

    key_cols = [by] if isinstance(by, str) else list(by or [])
    sel = _apply_time_filter(rollup, start, end)
    out_fields = [
        T.StructField("distinct_est", T.DoubleType()),
        T.StructField("rse", T.DoubleType()),
    ]

    def finalize(sk):
        return [{"distinct_est": float(sk.estimate()), "rse": sk.relative_standard_error}]

    return _fold_payloads(
        sel, key_cols, lambda b: HyperLogLog.from_bytes(b, p, seed), finalize, out_fields
    )


def cms_rollup(
    df,
    value_col: str,
    time_col: str = "ts",
    granularity: str = "hour",
    by: Sequence[str] | str | None = None,
    depth: int = 5,
    width: int = 8192,
    seed: int = 0,
):
    """Count-min rollup cells: a frequency sketch of ``value_col`` per
    (time bucket, *by). CMS merge is counter-wise addition — exact over any
    cell split — so a windowed union answers 'how often did X occur last
    week' identically to sketching the window's raw rows directly."""
    from ..sketches.countmin import CountMinSketch

    return build_payload_rollup(
        df,
        value_col,
        make=lambda: CountMinSketch(depth=depth, width=width, seed=seed),
        update=lambda sk, v: sk.update(v),
        from_payload=lambda b: CountMinSketch.from_bytes(b, depth, width, seed),
        time_col=time_col,
        granularity=granularity,
        by=by,
    )


def rollup_frequencies(
    rollup,
    probes: Sequence,
    by: Sequence[str] | str | None = None,
    start=None,
    end=None,
    depth: int = 5,
    width: int = 8192,
    seed: int = 0,
):
    """Merge the CMS cells covering ``[start, end)`` and estimate each
    probe's frequency in the window (exact-or-overestimate with the usual
    eps*N bound). Returns [*by, freq_<probe>...] — one column per probe."""
    from pyspark.sql import types as T

    from ..sketches.countmin import CountMinSketch
    from .approx import _fold_payloads

    # Query with the ORIGINAL probe values: hash_pandas_object canonicalizes
    # numerics and strings differently, so coercing probes to str before
    # sk.query() would silently return ~0 for numeric value_col rollups
    # (cells are built from the raw column values). str(p) is only for the
    # output column names.
    probes = list(probes)
    names = [f"freq_{p}" for p in probes]
    key_cols = [by] if isinstance(by, str) else list(by or [])
    sel = _apply_time_filter(rollup, start, end)
    out_fields = [T.StructField(n, T.DoubleType()) for n in names]

    def finalize(sk):
        import pandas as pd

        ests = sk.query(pd.Series(probes))
        return [{n: float(e) for n, e in zip(names, ests)}]

    return _fold_payloads(
        sel, key_cols,
        lambda b: CountMinSketch.from_bytes(b, depth, width, seed),
        finalize,
        out_fields,
    )


def tdigest_rollup(
    df,
    value_col: str,
    time_col: str = "ts",
    granularity: str = "hour",
    by: Sequence[str] | str | None = None,
    delta: float = 200.0,
):
    """t-digest rollup cells: a rank-error quantile sketch of ``value_col``
    per (time bucket, *by) — the payload-chassis quantile alternative to
    the DDSketch cells when RANK error (uniform eps on quantile position,
    tails tighter by the scale function) is the contract wanted, rather
    than DDSketch's relative VALUE error. Cell merge is the standard
    t-digest centroid merge; unlike HLL/CMS it is not bit-identical to a
    direct build over the window (merge order moves centroids within the
    accuracy budget), so windowed answers carry the sketch's rank-error
    bound, not hash equality — gate accordingly (bound booleans)."""
    from ..sketches.tdigest import TDigest

    return build_payload_rollup(
        df,
        value_col,
        make=lambda: TDigest(delta=delta),
        update=lambda sk, v: sk.update(v.to_numpy("float64")),
        from_payload=TDigest.from_bytes,
        time_col=time_col,
        granularity=granularity,
        by=by,
    )


def rollup_tdigest_quantiles(
    rollup,
    qs: Sequence[float],
    by: Sequence[str] | str | None = None,
    start=None,
    end=None,
):
    """Merge the t-digest cells covering ``[start, end)`` and read
    quantiles. Returns [*by, *qXX, count]; count (total weight) is exact
    over merges even though centroid positions are order-dependent."""
    from pyspark.sql import types as T

    from ..sketches.tdigest import TDigest
    from .agg import quantile_column_name
    from .approx import _fold_payloads

    qs = [float(q) for q in qs]
    q_names = [quantile_column_name(q) for q in qs]
    key_cols = [by] if isinstance(by, str) else list(by or [])
    sel = _apply_time_filter(rollup, start, end)
    out_fields = [T.StructField(n, T.DoubleType()) for n in q_names] + [
        T.StructField("count", T.DoubleType())
    ]

    def finalize(sk):
        vals = sk.values_at_quantiles(qs)
        return [{**{n: float(v) for n, v in zip(q_names, vals)}, "count": float(sk.n)}]

    return _fold_payloads(sel, key_cols, TDigest.from_bytes, finalize, out_fields)


def rollup_cdf(
    rollup,
    xs: Sequence[float],
    by: Sequence[str] | str | None = None,
    start=None,
    end=None,
    x_names=None,
):
    """Inverse quantiles over the pruned cells of ``[start, end)``: the
    share of the window's values at or below each probe, per ``by`` group —
    'what fraction of last week's requests beat the 250 ms SLO per service'
    answered from the persisted rollup without touching raw data. Returns
    [*by, *x_names, count] like ``agg.cdf_at_values``: the cells go
    straight into the kernel finalize pass (one exchange by ``by``, one
    ``mapInArrow`` that merges and reads the CDF walk). A NaN probe
    raises ``ValueError``."""
    from .agg import _cdf_probes, _cdf_walk, _finalize

    key_cols = [by] if isinstance(by, str) else list(by or [])
    xs, x_names = _cdf_probes(xs, x_names)
    sel = _apply_time_filter(rollup, start, end)
    return _finalize(sel, key_cols, [*x_names, "count"], lambda w: _cdf_walk(w, xs, x_names))


def compact_payload_rollup(rollup, from_payload, granularity: str = "day"):
    """Payload-cell analogue of ``compact_rollup``: re-roll e.g. hourly HLL
    cells into daily ones by merging payloads — no raw data touched, and
    register-exactness makes the compacted table answer identically."""
    from pyspark.sql import functions as F

    from .approx import _fold_payloads

    if granularity not in _GRANULARITIES:
        raise ValueError(f"granularity {granularity!r}; one of {_GRANULARITIES}")
    key_cols = [
        c
        for c in rollup.columns
        if c not in ("payload", BUCKET_COL, DAY_COL, BATCH_COL)
    ]
    src = rollup.select(
        F.date_trunc(granularity, F.col(BUCKET_COL)).alias(BUCKET_COL),
        *key_cols,
        "payload",
    )
    return _fold_payloads(src, [BUCKET_COL, *key_cols], from_payload)


def compact_rollup(rollup, granularity: str = "day"):
    """Re-roll existing cells into a coarser granularity by merging their
    sketch rows — no raw data is touched, so compacting a year of hourly
    cells into daily cells costs one pass over ~#cells sketch rows (the
    retention pattern: keep hourly cells for the hot week, daily beyond).
    Merge associativity makes the compacted rollup answer queries
    identically to one built at the coarser granularity directly (tested).

    Dimension columns are preserved (every non-bucket, non-day, non-sketch
    column); the ``day`` partition column, if present from a read-back, is
    dropped and re-derived on the next ``write_rollup``.
    """
    from pyspark.sql import functions as F

    if granularity not in _GRANULARITIES:
        raise ValueError(f"granularity {granularity!r}; one of {_GRANULARITIES}")
    key_cols = [
        c
        for c in rollup.columns
        if c not in SKETCH_ROW_FIELDS and c not in (BUCKET_COL, DAY_COL, BATCH_COL)
    ]
    src = rollup.select(
        F.date_trunc(granularity, F.col(BUCKET_COL)).alias(BUCKET_COL),
        *key_cols,
        *SKETCH_ROW_FIELDS,
    )
    return merge_partials_to_sketch_rows(src, [BUCKET_COL, *key_cols])


def rollup_quantiles(
    rollup,
    qs: Sequence[float] = (0.5, 0.95, 0.99),
    by: Sequence[str] | str | None = None,
    start=None,
    end=None,
    q_names: Optional[Sequence[str]] = None,
):
    """Merge the rollup cells covering ``[start, end)`` and finalize
    quantiles, optionally re-grouped by ``by`` (a subset of the rollup's
    dimension columns; omit for a global answer).

    ``start``/``end`` are anything Spark casts to timestamp (strings fine).
    They should align to the rollup granularity: cells are selected by their
    bucket timestamp, so a query boundary inside a bucket includes/excludes
    that whole bucket. The time filter is applied to BOTH the day partition
    column (file-level pruning, when present) and ``bucket_ts``.

    Exactness: merging per-cell sketches is associative and lossless (bucket
    counts add; the stores are identical to a direct build over the same raw
    rows), so the result equals running the aggregation directly on the raw
    rows of the range — the property the driver oracle checks.
    """
    key_cols = [by] if isinstance(by, str) else list(by or [])
    qs = [float(q) for q in qs]
    if q_names is None:
        q_names = [quantile_column_name(q) for q in qs]
    # day bounds are PRUNING-ONLY and widened one day each side: the stored
    # day strings carry the WRITER session's timezone, the bounds evaluate
    # in the READER's — a tight bound could silently drop edge cells under
    # a tz mismatch. One spare day-partition read is noise; a dropped cell
    # is a wrong quantile. Exact selection stays on bucket_ts.
    sel = _apply_time_filter(rollup, start, end)
    return finalize_sketch_rows(sel, key_cols, qs, list(q_names))


def rollup_anomaly_flags(
    rollup,
    q: float = 0.99,
    trailing: int = 7,
    threshold: float = 1.02,
    round_digits: int = 4,
):
    """Latency-anomaly monitoring over a DAY-granularity rollup — the
    product query DDSketch rollups exist for at Datadog: finalize the
    chosen quantile PER DAY from the stored cells (merge-only, raw data
    never re-read), compare each day against a trailing baseline, and flag
    regressions. Returns one row per day:
    [day, qXX, baseline, ratio, is_anomaly] where ``baseline`` is the lower
    median of the previous ``trailing`` days' (rounded) quantiles, ``ratio``
    = qXX / baseline, and ``is_anomaly`` = ratio > threshold (false while
    the trailing frame is empty).

    Determinism/cross-engine: the per-day quantile is the standard sketch
    walk (hash-gated class); it is ROUNDED first, then the baseline is an
    ORDER-STATISTIC pick (sorted trailing array, element (n+1) DIV 2) —
    never a float mean — and the ratio/compare are single IEEE ops, so the
    DuckDB twin replays the whole chain bit-exactly. The window is global
    but over #days rows (post-aggregation, ~30 here; years are still
    thousands) — trivially driver-safe, the corpus never enters it.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    qc = quantile_column_name(q)
    per_day = rollup_quantiles(rollup, (q,), by=BUCKET_COL)
    per_day = per_day.select(
        F.to_date(BUCKET_COL).cast("string").alias("day"),
        F.round(qc, round_digits).alias(qc),
    )
    w = Window.orderBy("day").rowsBetween(-trailing, -1)
    prev = F.array_sort(F.collect_list(qc).over(w))
    out = (
        per_day.withColumn("__prev", prev)
        .withColumn(
            "baseline",
            F.when(
                F.size("__prev") > 0,
                F.element_at(
                    "__prev", F.expr("CAST((size(__prev) + 1) DIV 2 AS INT)")
                ),
            ),
        )
        .withColumn("ratio", F.round(F.col(qc) / F.col("baseline"), round_digits))
        .withColumn(
            "is_anomaly",
            F.coalesce(
                F.col(qc) / F.col("baseline") > F.lit(float(threshold)),
                F.lit(False),
            ),
        )
        .drop("__prev")
    )
    return out


def rollup_distinct_sliding(
    rollup,
    window_buckets: int = 7,
    p: int = 14,
    seed: int = 0,
):
    """Rolling-window distinct counts from persisted HLL cells — "distinct
    users over the trailing N days, for every day" computed WITHOUT ever
    re-reading raw data and WITHOUT N overlapping scans: each stored cell
    is register-unioned into ``window_buckets`` overlapping windows
    (the overlap is free — merges happen on the ~#buckets cell rows, a
    post-reduce driver fold like every sketch finalize, never the corpus).
    Register union is exact over merges, so every windowed estimate is
    IDENTICAL to running HLL directly over that window's raw rows.
    Returns [bucket_ts, distinct_est, rse], one row per stored bucket,
    window = that bucket and the ``window_buckets - 1`` preceding ones
    (shorter at the head of the series).
    """
    from ..sketches.hll import HyperLogLog
    from .approx import _fold_payloads

    def from_payload(b):
        return HyperLogLog.from_bytes(b, p, seed)

    # one payload per bucket first: a rollup with dimensions or appended
    # batches stores several cells per bucket
    per_bucket = _fold_payloads(rollup.select(BUCKET_COL, "payload"), [BUCKET_COL], from_payload)
    rows = sorted(
        ((r[BUCKET_COL], bytes(r["payload"])) for r in per_bucket.collect()),
        key=lambda t: t[0],
    )
    spark_rows = []
    sketches = [from_payload(b) for _, b in rows]
    for i, (bucket, _) in enumerate(rows):
        merged = HyperLogLog(p=p, seed=seed)
        for sk in sketches[max(0, i - window_buckets + 1) : i + 1]:
            merged.merge(sk)
        spark_rows.append(
            (bucket, float(merged.estimate()), merged.relative_standard_error)
        )
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField(BUCKET_COL, T.TimestampType()),
            T.StructField("distinct_est", T.DoubleType()),
            T.StructField("rse", T.DoubleType()),
        ]
    )
    # the driver holds one payload per bucket; sliding unions over them are
    # the standard sketch-finalize class, not a corpus collect
    return rollup.sparkSession.createDataFrame(spark_rows, schema)
