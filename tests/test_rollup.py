"""Persisted sketch-rollup tests: rollup+query-time merge must equal a direct
aggregation over the same raw rows (merge exactness, `DDSketch.java:268-281`),
incremental appends must re-merge transparently, and the day-partitioned
layout must actually prune at the file level."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ddsparkle.config import SketchConfig
from ddsparkle.spark.agg import quantiles
from ddsparkle.spark.rollup import (
    build_rollup,
    read_rollup,
    rollup_quantiles,
    write_rollup,
)

pytestmark = pytest.mark.spark

QS = (0.5, 0.95, 0.99)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _pdf(df):
    out = df.toPandas()
    cols = sorted(out.columns)
    return out.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)


def assert_matches_direct(roll_res, direct_res):
    a, b = _pdf(roll_res), _pdf(direct_res)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    for c in a.columns:
        if a[c].dtype.kind == "f":
            # bucket counts and min/max merge exactly; sums are Kahan folds
            # whose association differs between the two plans -> tiny ulp play
            assert a[c].to_numpy() == pytest.approx(b[c].to_numpy(), rel=1e-9, abs=1e-9)
        else:
            assert a[c].tolist() == b[c].tolist()


def test_rollup_full_range_matches_direct_grouped(events):
    roll = build_rollup(events, "value", time_col="ts", granularity="hour", by="event_type")
    res = rollup_quantiles(roll, QS, by="event_type")
    direct = quantiles(events, "value", by="event_type", qs=QS)
    assert_matches_direct(res, direct)


def test_rollup_time_range_matches_filtered_direct(events):
    lo, hi = "2024-01-05 00:00:00", "2024-01-15 00:00:00"
    roll = build_rollup(events, "value", time_col="ts", granularity="hour", by="event_type")
    res = rollup_quantiles(roll, QS, by="event_type", start=lo, end=hi)
    direct = quantiles(
        events.filter((F.col("ts") >= lo) & (F.col("ts") < hi)),
        "value",
        by="event_type",
        qs=QS,
    )
    assert_matches_direct(res, direct)


def test_rollup_global_and_regroup(events):
    # a rollup built WITH a dimension answers coarser (global) queries too:
    # merging across the dimension is the same associative fold
    roll = build_rollup(events, "value", time_col="ts", granularity="day", by="event_type")
    res = rollup_quantiles(roll, QS)
    direct = quantiles(events, "value", qs=QS, lazy=True)
    assert_matches_direct(res, direct)


def test_rollup_weighted_and_config(events):
    cfg = SketchConfig(relative_accuracy=0.02, store_policy="collapsing_lowest", max_bins=256)
    roll = build_rollup(
        events.withColumn("w", (F.col("user_id") % 3 + 1).cast("double")),
        "value",
        time_col="ts",
        granularity="day",
        by="event_type",
        config=cfg,
        weight_col="w",
    )
    res = rollup_quantiles(roll, QS, by="event_type")
    direct = quantiles(
        events.withColumn("w", (F.col("user_id") % 3 + 1).cast("double")),
        "value",
        by="event_type",
        qs=QS,
        config=cfg,
        weight_col="w",
    )
    assert_matches_direct(res, direct)


def _sql_cfg(policy="unbounded", max_bins=0):
    return SketchConfig(mapping_kind="log", relative_accuracy=0.01,
                        store_policy=policy, max_bins=max_bins,
                        track_exact_stats=False)


def test_build_rollup_sql_mode_cells_equal_kernel(events):
    """mode='sql' (pure-Catalyst cell assembly) must emit the IDENTICAL
    sketch rows as the kernel builder for unbounded stores: same cells,
    same sorted index arrays, same counts."""
    cfg = _sql_cfg()
    kw = dict(time_col="ts", granularity="day", by="event_type", config=cfg)
    cols = ["bucket_ts", "event_type", "zero_count",
            "neg_idx", "neg_cnt", "pos_idx", "pos_cnt"]

    def rows(df):
        pdf = df.select(cols).toPandas()
        for c in ("neg_idx", "neg_cnt", "pos_idx", "pos_cnt"):
            pdf[c] = pdf[c].map(lambda v: [float(x) for x in v])
        return sorted(map(str, pdf.to_dict("records")))

    a = rows(build_rollup(events, "value", mode="sql", **kw))
    b = rows(build_rollup(events, "value", mode="kernel", **kw))
    assert len(a) == len(b)
    assert a == b


def test_build_rollup_sql_mode_all_null_cell_matches_kernel(events, spark):
    """A cell whose rows are all NULL-valued must emit the same count-0
    sketch row in both modes (kernel registers the key; sql keeps the
    zero-part bucket row) — the row-existence contract."""
    from pyspark.sql import functions as F

    cfg = _sql_cfg()
    df = events.limit(200).withColumn(
        "value",
        F.when(F.col("event_type") == "click", F.lit(None).cast("double"))
        .otherwise(F.col("value")),
    )
    kw = dict(time_col="ts", granularity="month", by="event_type", config=cfg)
    a = build_rollup(df, "value", mode="sql", **kw)
    b = build_rollup(df, "value", mode="kernel", **kw)
    rows_a = {(r["event_type"]): r for r in a.collect()}
    rows_b = {(r["event_type"]): r for r in b.collect()}
    assert set(rows_a) == set(rows_b)
    assert "click" in rows_a
    for k in rows_a:
        za, zb = rows_a[k], rows_b[k]
        assert za["zero_count"] == zb["zero_count"]
        assert list(za["pos_idx"]) == list(zb["pos_idx"])
        assert list(za["pos_cnt"]) == list(zb["pos_cnt"])


def test_build_rollup_sql_mode_queries_match_kernel(events):
    """Collapsed + weighted sql-mode builds answer identically to kernel
    builds through the whole query path (merge across cells included)."""
    from pyspark.sql import functions as F

    wdf = events.withColumn("w", (F.col("user_id") % 3 + 1).cast("double"))
    cfg = _sql_cfg("collapsing_lowest", 64)
    kw = dict(time_col="ts", granularity="hour", by="event_type",
              config=cfg, weight_col="w")
    res_sql = rollup_quantiles(build_rollup(wdf, "value", mode="sql", **kw),
                               QS, by="event_type")
    res_ker = rollup_quantiles(build_rollup(wdf, "value", mode="kernel", **kw),
                               QS, by="event_type")
    assert_matches_direct(res_sql, res_ker)


def test_build_rollup_sql_mode_plan_pure_jvm(events):
    """The sql-mode build plan must contain no Python stages."""
    cfg = _sql_cfg()
    plan = (
        build_rollup(events, "value", time_col="ts", granularity="hour",
                     by="event_type", config=cfg, mode="sql")
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("Python", "ArrowEval", "FlatMapGroups", "MapInPandas"):
        assert bad not in plan, f"{bad} in sql-mode rollup build plan"


def test_build_rollup_sql_and_kernel_rows_interoperate(events):
    """Cells built by the two modes merge together (append half-and-half,
    query across) — the layout contract, not just per-mode correctness."""
    from pyspark.sql import functions as F

    cfg = _sql_cfg()
    cut = "2024-01-10 00:00:00"
    kw = dict(time_col="ts", granularity="hour", by="event_type", config=cfg)
    first = build_rollup(events.filter(F.col("ts") < cut), "value", mode="sql", **kw)
    second = build_rollup(events.filter(F.col("ts") >= cut), "value", mode="kernel", **kw)
    mixed = first.unionByName(second)
    direct = quantiles(events, "value", by="event_type", qs=QS, config=cfg)
    assert_matches_direct(rollup_quantiles(mixed, QS, by="event_type"), direct)


def test_compact_rollup_matches_direct_coarse(events):
    """Hourly cells compacted to daily must answer exactly like a rollup
    built daily from raw — merge associativity end-to-end."""
    from ddsparkle.spark.rollup import compact_rollup

    hourly = build_rollup(events, "value", time_col="ts", granularity="hour", by="event_type")
    compacted = compact_rollup(hourly, "day")
    direct = build_rollup(events, "value", time_col="ts", granularity="day", by="event_type")
    assert sorted(compacted.columns) == sorted(direct.columns)
    lo, hi = "2024-01-03 00:00:00", "2024-01-20 00:00:00"
    assert_matches_direct(
        rollup_quantiles(compacted, QS, by="event_type", start=lo, end=hi),
        rollup_quantiles(direct, QS, by="event_type", start=lo, end=hi),
    )


def test_rollup_write_read_append_roundtrip(events, spark):
    """Two disjoint appended ingests == one full build; the reread table
    carries the day partition column and still answers exactly."""
    cut = "2024-01-10 00:00:00"
    tmp = tempfile.mkdtemp(prefix="rollup-")
    path = f"{tmp}/t"
    try:
        first = build_rollup(
            events.filter(F.col("ts") < cut), "value", time_col="ts",
            granularity="hour", by="event_type",
        )
        write_rollup(first, path, mode="overwrite")
        second = build_rollup(
            events.filter(F.col("ts") >= cut), "value", time_col="ts",
            granularity="hour", by="event_type",
        )
        write_rollup(second, path, mode="append")
        back = read_rollup(spark, path)
        assert "day" in back.columns
        res = rollup_quantiles(back, QS, by="event_type")
        direct = quantiles(events, "value", by="event_type", qs=QS)
        assert_matches_direct(res, direct)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_to_rollup_matches_batch_and_replay_idempotent(events, spark):
    """File-source micro-batches streamed into the rollup must answer
    exactly like a batch build; a replayed batch (same epoch id, fresh
    checkpoint) overwrites its own partitions instead of double-counting."""
    from ddsparkle.spark.rollup import stream_to_rollup

    tmp = tempfile.mkdtemp(prefix="rollup-stream-")
    src_dir, roll_dir = f"{tmp}/src", f"{tmp}/roll"
    try:
        events.repartition(4).write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema

        def run(ckpt, max_files=None):
            reader = spark.readStream.schema(schema)
            if max_files:
                reader = reader.option("maxFilesPerTrigger", max_files)
            stream = reader.parquet(src_dir)
            q = stream_to_rollup(
                stream, roll_dir, "value", time_col="ts", granularity="hour",
                by="event_type", checkpoint=ckpt, trigger={"availableNow": True},
            )
            q.awaitTermination(120)

        run(f"{tmp}/ck1", max_files=2)  # several batches
        back = read_rollup(spark, roll_dir)
        assert "ingest_batch" in back.columns
        assert back.select("ingest_batch").distinct().count() > 1
        direct = quantiles(events, "value", by="event_type", qs=QS)
        assert_matches_direct(rollup_quantiles(back, QS, by="event_type"), direct)

        # replay: recovery re-runs a batch with the SAME id and content;
        # simulate by re-streaming the whole source as batch 0 twice (fresh
        # checkpoints, no maxFiles -> one batch each). Dynamic partition
        # overwrite must leave one copy, not two.
        roll_dir = f"{tmp}/roll2"
        run(f"{tmp}/ck2")
        n_once = read_rollup(spark, roll_dir).count()
        run(f"{tmp}/ck3")
        back2 = read_rollup(spark, roll_dir)
        assert back2.count() == n_once
        assert_matches_direct(rollup_quantiles(back2, QS, by="event_type"), direct)

        # and time-range queries prune + merge across batch partitions
        lo, hi = "2024-01-05 00:00:00", "2024-01-15 00:00:00"
        assert_matches_direct(
            rollup_quantiles(back2, QS, by="event_type", start=lo, end=hi),
            quantiles(
                events.filter((F.col("ts") >= lo) & (F.col("ts") < hi)),
                "value", by="event_type", qs=QS,
            ),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_hll_rollup_matches_direct_hll(events):
    """HLL union over cells is register-exact, so the rollup answer equals
    running HLL directly on the same rows — full range and windowed."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.approx import hll_distinct
    from ddsparkle.spark.rollup import hll_rollup, rollup_distinct

    roll = hll_rollup(events, "user_id", time_col="ts", granularity="day",
                      by="event_type", p=12, seed=0)
    got = _pdf(rollup_distinct(roll, by="event_type", p=12, seed=0))
    want = _pdf(hll_distinct(events, "user_id", by="event_type", p=12, seed=0))
    assert got.equals(want), (got, want)

    lo, hi = "2024-01-05 00:00:00", "2024-01-15 00:00:00"
    got_w = _pdf(rollup_distinct(roll, by="event_type", start=lo, end=hi, p=12, seed=0))
    want_w = _pdf(hll_distinct(
        events.filter((F.col("ts") >= lo) & (F.col("ts") < hi)),
        "user_id", by="event_type", p=12, seed=0,
    ))
    assert got_w.equals(want_w)


def test_payload_rollup_small_input_one_row_per_cell(spark):
    """An input with fewer partitions than the default parallelism takes the
    repartition-by-cell-key path, which skips the merge stage. Each task
    must still fold all the Arrow batches of its partition into one payload
    per cell."""
    from ddsparkle.spark.rollup import hll_rollup

    df = spark.range(2000, numPartitions=1).select(
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        (F.col("id") % 3).alias("k"),
        (F.col("id") % 50).alias("user_id"),
    )
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        cells = [
            (r["bucket_ts"], r["k"])
            for r in hll_rollup(df, "user_id", granularity="hour", by="k", p=12).collect()
        ]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    want = df.select(F.date_trunc("hour", "ts").alias("bucket_ts"), "k").distinct()
    assert len(cells) == len(set(cells)) == want.count()
    assert set(cells) == {(r["bucket_ts"], r["k"]) for r in want.collect()}


def test_cms_rollup_window_frequencies(events, spark):
    """CMS cell union is counter-wise addition: the windowed frequency
    answer from hourly cells must equal exact windowed counts at a
    collision-free depth x width, through a write/read round-trip, and be
    independent of the cell granularity."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.rollup import cms_rollup, read_rollup, rollup_frequencies

    probes = ["click", "error", "purchase", "signup", "view"]
    lo, hi = "2024-01-05 00:00:00", "2024-01-15 00:00:00"
    exact = {
        f"freq_{r['event_type']}": float(r["n"])
        for r in events.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    tmp = tempfile.mkdtemp(prefix="rollup-cms-")
    try:
        for gran in ("hour", "day"):
            roll = cms_rollup(events, "event_type", time_col="ts", granularity=gran)
            write_rollup(roll, f"{tmp}/{gran}")
            back = read_rollup(spark, f"{tmp}/{gran}")
            got = rollup_frequencies(back, probes, start=lo, end=hi).collect()[0].asDict()
            assert got == exact, (gran, got, exact)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cms_rollup_numeric_probes(events, spark):
    """Probes must be hashed with their ORIGINAL type: cells built from a
    numeric value_col are updated with numeric pandas values, and
    hash_pandas_object canonicalizes numerics differently from their str()
    forms — a str-coerced probe would silently return ~0. Regression test
    for the r3 advice finding (rollup_frequencies probe coercion)."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.rollup import cms_rollup, rollup_frequencies

    ev = events.withColumn("code", (F.xxhash64("event_type") % 7).cast("long"))
    probes = [r["code"] for r in ev.select("code").distinct().collect()]
    exact = {
        f"freq_{r['code']}": float(r["n"])
        for r in ev.groupBy("code").agg(F.count("*").alias("n")).collect()
    }
    roll = cms_rollup(ev, "code", time_col="ts", granularity="day")
    got = rollup_frequencies(roll, probes).collect()[0].asDict()
    assert got == exact, (got, exact)


def test_hll_rollup_write_read_global(events, spark):
    from ddsparkle.spark.approx import hll_distinct
    from ddsparkle.spark.rollup import hll_rollup, rollup_distinct

    tmp = tempfile.mkdtemp(prefix="rollup-hll-")
    try:
        roll = hll_rollup(events, "user_id", time_col="ts", granularity="hour", p=12)
        write_rollup(roll, f"{tmp}/t")
        back = read_rollup(spark, f"{tmp}/t")
        got = _pdf(rollup_distinct(back, p=12))
        want = _pdf(hll_distinct(events, "user_id", p=12))
        assert got.equals(want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_rollup_cdf_matches_direct(events):
    """Windowed SLO-attainment over persisted cells == cdf_at_values over
    the raw rows of the window (merge exactness on the rank axis too)."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.agg import cdf_at_values
    from ddsparkle.spark.rollup import rollup_cdf

    cfg = _sql_cfg()
    lo, hi = "2024-01-05 00:00:00", "2024-01-15 00:00:00"
    roll = build_rollup(events, "value", time_col="ts", granularity="hour",
                        by="event_type", config=cfg)
    got = _pdf(rollup_cdf(roll, [50.0, 500.0], by="event_type", start=lo, end=hi))
    want = _pdf(cdf_at_values(
        events.filter((F.col("ts") >= lo) & (F.col("ts") < hi)),
        "value", [50.0, 500.0], by="event_type", config=cfg,
    ))
    assert got.equals(want), (got, want)
    # global form too
    gg = _pdf(rollup_cdf(roll, [100.0], start=lo, end=hi))
    gw = _pdf(cdf_at_values(
        events.filter((F.col("ts") >= lo) & (F.col("ts") < hi)),
        "value", [100.0], config=cfg,
    ))
    assert gg.equals(gw)


def test_compact_payload_rollup_matches_direct_coarse(events):
    from ddsparkle.sketches.hll import HyperLogLog

    from ddsparkle.spark.rollup import (
        compact_payload_rollup,
        hll_rollup,
        rollup_distinct,
    )

    hourly = hll_rollup(events, "user_id", time_col="ts", granularity="hour",
                        by="event_type", p=12, seed=0)
    compacted = compact_payload_rollup(
        hourly, lambda b: HyperLogLog.from_bytes(b, 12, 0), "day"
    )
    direct = hll_rollup(events, "user_id", time_col="ts", granularity="day",
                        by="event_type", p=12, seed=0)
    a = _pdf(rollup_distinct(compacted, by="event_type", p=12, seed=0))
    b = _pdf(rollup_distinct(direct, by="event_type", p=12, seed=0))
    assert a.equals(b)
    assert compacted.count() == direct.count()


def test_rollup_day_partition_pruning(events, spark):
    """The time-range filter must reach the parquet source as a partition
    filter on `day` — file-level pruning, the property that makes querying a
    week of a year-long rollup cheap."""
    tmp = tempfile.mkdtemp(prefix="rollup-")
    path = f"{tmp}/t"
    try:
        roll = build_rollup(events, "value", time_col="ts", granularity="hour", by="event_type")
        write_rollup(roll, path)
        back = read_rollup(spark, path)
        res = rollup_quantiles(
            back, QS, by="event_type",
            start="2024-01-05 00:00:00", end="2024-01-08 00:00:00",
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        # the day bounds appear inside the PartitionFilters clause
        pf = plan[plan.index("PartitionFilters"):].split("]", 1)[0]
        # bounds are widened one day each side for cross-timezone safety
        assert "day" in pf and "2024-01-04" in pf and "2024-01-09" in pf
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_rollup_day_pruning_cms_and_tdigest(events, spark):
    """The CMS and t-digest window readers must prune on the `day`
    partition column exactly like the DDSketch reader — a refactor that
    drops the pruning would silently full-scan a year-long cell table for
    a one-week window. Same pin as test_rollup_day_partition_pruning,
    extended to the two r3 cell families (VERDICT r3 #7)."""
    from ddsparkle.spark.rollup import (
        cms_rollup, read_rollup, rollup_frequencies,
        rollup_tdigest_quantiles, tdigest_rollup,
    )

    lo, hi = "2024-01-05 00:00:00", "2024-01-08 00:00:00"
    tmp = tempfile.mkdtemp(prefix="rollup-prune-")
    try:
        cms = cms_rollup(events, "event_type", time_col="ts", granularity="hour")
        write_rollup(cms, f"{tmp}/cms")
        td = tdigest_rollup(events, "value", granularity="hour", delta=200.0)
        write_rollup(td, f"{tmp}/td")
        reads = {
            "cms": rollup_frequencies(
                read_rollup(spark, f"{tmp}/cms"), ["click"], start=lo, end=hi
            ),
            "td": rollup_tdigest_quantiles(
                read_rollup(spark, f"{tmp}/td"), (0.5,), start=lo, end=hi
            ),
        }
        for name, res in reads.items():
            plan = res._jdf.queryExecution().executedPlan().toString()
            assert "PartitionFilters" in plan, name
            pf = plan[plan.index("PartitionFilters"):].split("]", 1)[0]
            # bounds widened one day each side for cross-timezone safety
            assert "day" in pf and "2024-01-04" in pf and "2024-01-09" in pf, (name, pf)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_tdigest_rollup_window_bound(events, spark):
    """t-digest cells merged over a window: count (total weight) is exact,
    and every windowed quantile's exact rank stays within the rank-error
    budget, through a write/read round-trip."""
    import numpy as np
    from pyspark.sql import functions as F

    from ddsparkle.spark.rollup import (
        read_rollup, rollup_tdigest_quantiles, tdigest_rollup,
    )

    lo, hi = "2024-01-05 00:00:00", "2024-01-15 00:00:00"
    tmp = tempfile.mkdtemp(prefix="rollup-td-")
    try:
        roll = tdigest_rollup(events, "value", granularity="hour", delta=200.0)
        write_rollup(roll, f"{tmp}/t")
        back = read_rollup(spark, f"{tmp}/t")
        row = rollup_tdigest_quantiles(back, (0.5, 0.95, 0.99), start=lo, end=hi).collect()[0]
        window = events.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        vals = np.sort(window.select("value").toPandas()["value"].to_numpy())
        assert row["count"] == float(len(vals))
        for q, c in ((0.5, "q50"), (0.95, "q95"), (0.99, "q99")):
            rank = np.searchsorted(vals, row[c], side="right") / len(vals)
            assert abs(rank - q) <= 0.02, (c, rank)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_rollup_anomaly_flags_semantics(spark):
    from ddsparkle.spark.rollup import build_rollup, rollup_anomaly_flags

    # 10 days of stable values, one spiked day 9 (values 10x)
    rows = []
    for d in range(1, 11):
        v = 1000.0 if d == 9 else 100.0
        rows += [(f"2024-03-{d:02d} 12:00:00", v + i * 0.01) for i in range(50)]
    df = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    roll = build_rollup(df, "value", time_col="ts", granularity="day")
    out = (
        rollup_anomaly_flags(roll, q=0.99, trailing=7, threshold=1.5)
        .orderBy("day")
        .collect()
    )
    assert len(out) == 10
    assert out[0]["baseline"] is None and out[0]["is_anomaly"] is False
    flagged = [r["day"] for r in out if r["is_anomaly"]]
    assert flagged == ["2024-03-09"]
    # baseline is the lower median of the trailing ROUNDED q99s
    assert abs(out[5]["baseline"] - out[5]["q99"]) / out[5]["q99"] < 0.03
    # day 10 compares against a window containing the spike, still sane
    assert out[9]["is_anomaly"] is False
