"""Spark aggregation layer tests: sketch-UDAF vs exact percentiles within
alpha; partition-count invariance; grouped and weighted paths; sketch-row
merge stage.
"""

import math

import numpy as np
import pytest

from ddsparkle.config import SketchConfig, logarithmic_unbounded_dense
from ddsparkle.spark.agg import (
    build_partial_sketches,
    merge_partials_to_sketch_rows,
    quantile_column_name,
    quantiles,
)
from ddsparkle.serde import SKETCH_ROW_FIELDS, merge_rows

pytestmark = pytest.mark.spark

ALPHA = 0.01
EPS = 1e-10


def rank_interval_error(sorted_vals, q, actual):
    n = len(sorted_vals)
    lo = sorted_vals[int(math.floor(q * (n - 1)))]
    hi = sorted_vals[int(math.ceil(q * (n - 1)))]
    if lo <= actual <= hi:
        return 0.0
    if actual < lo:
        return (lo - actual) / abs(lo) if lo != 0 else math.inf
    return (actual - hi) / abs(hi) if hi != 0 else math.inf


def test_quantile_column_name():
    assert quantile_column_name(0.5) == "q50"
    assert quantile_column_name(0.95) == "q95"
    assert quantile_column_name(0.999) == "q99_9"
    assert quantile_column_name(0.0) == "q0"
    assert quantile_column_name(1.0) == "q100"


def test_global_quantiles_vs_exact(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = quantiles(df, "value", qs=(0.5, 0.95, 0.99)).collect()[0]
    vals = np.sort(
        np.array([r.value for r in df.select("value").collect() if r.value is not None])
    )
    for q, col in [(0.5, "q50"), (0.95, "q95"), (0.99, "q99")]:
        assert rank_interval_error(vals, q, res[col]) <= ALPHA + EPS
    assert res["count"] == len(vals)  # exact
    assert res["min"] == vals.min() and res["max"] == vals.max()
    assert res["sum"] == pytest.approx(math.fsum(vals), rel=1e-9)


def test_global_lazy_matches_eager(spark, sf_dir):
    """lazy=True returns a deferred plan (shuffle-based finalize) with the
    SAME result as the default eager driver finalize."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    eager = quantiles(df, "value", qs=(0.5, 0.95)).collect()[0]
    lazy_df = quantiles(df, "value", qs=(0.5, 0.95), lazy=True)
    # deferred: the plan still contains the pipeline, not a sealed snapshot
    plan = lazy_df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan and "MapInPandas" in plan
    lazy = lazy_df.collect()[0]
    assert lazy.asDict() == eager.asDict()


def test_global_result_is_a_local_relation(spark):
    """The eager global result is an Arrow-built LocalRelation: collecting
    it runs no Spark job, NaN (a zero-weight input) and +-inf (an
    overflowing sum) come back as they are, and an empty input gives an
    empty frame with the same schema."""
    from pyspark.sql import types as T

    sc = spark.sparkContext
    schema = T.StructType(
        [T.StructField(n, T.DoubleType()) for n in ("q50", "count", "sum", "min", "max", "avg")]
    )
    nan = math.nan
    cases = [
        ([(1.0, 0.0)], [(nan, 0.0, nan, nan, nan, nan)]),
        ([(1e308, 1.0)] * 2, [(1e308, 2.0, math.inf, 1e308, 1e308, math.inf)]),
        ([(-1e308, 1.0)] * 2, [(-1e308, 2.0, -math.inf, -1e308, -1e308, -math.inf)]),
        ([], []),
    ]
    for data, want in cases:
        df = spark.createDataFrame(data, "v double, w double")
        res = quantiles(df, "v", qs=(0.5,), weight_col="w", mode="grouped")
        assert res.schema == schema
        sc.setJobGroup("global-result-collect", "collect a global quantiles() result")
        try:
            rows = [tuple(r) for r in res.collect()]
            assert sc.statusTracker().getJobIdsForGroup("global-result-collect") == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == len(want)
        for got, exp in zip(rows, want):
            np.testing.assert_array_equal(got, exp)  # NaN == NaN, inf == inf


def test_grouped_quantiles_vs_exact(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    res = {
        r["l_returnflag"]: r
        for r in quantiles(df, "l_extendedprice", by="l_returnflag", qs=(0.5, 0.99)).collect()
    }
    pdf = df.select("l_returnflag", "l_extendedprice").toPandas()
    for flag, group in pdf.groupby("l_returnflag"):
        vals = np.sort(group["l_extendedprice"].to_numpy(np.float64))
        row = res[flag]
        assert row["count"] == len(vals)
        for q, col in [(0.5, "q50"), (0.99, "q99")]:
            assert rank_interval_error(vals, q, row[col]) <= ALPHA + EPS


def test_partition_count_invariance(spark, sf_dir):
    """The aggregate must be independent of physical partitioning (merge
    associativity under Spark's split) modulo float tolerance."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    r1 = quantiles(df.repartition(1), "value").collect()[0]
    r13 = quantiles(df.repartition(13), "value").collect()[0]
    for col in ("q50", "q95", "q99", "count", "min", "max"):
        assert r1[col] == pytest.approx(r13[col], rel=1e-12)
    assert r1["sum"] == pytest.approx(r13["sum"], rel=1e-9)


def test_weighted_quantiles(spark, sf_dir):
    """Weighted accept path: quantiles of value weighted by an integer count
    column equal quantiles of the value repeated count times."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    counts = df.groupBy("o_custkey").count()
    res = quantiles(counts, "count", qs=(0.5, 0.95)).collect()[0]
    from pyspark.sql import functions as F

    w = (
        counts.withColumnRenamed("count", "v")
        .groupBy("v")
        .agg(F.count("*").cast("double").alias("w"))
    )
    # w has columns (v, w): distinct value + how many customers have it
    res_w = quantiles(w, "v", weight_col="w", qs=(0.5, 0.95)).collect()[0]
    assert res_w["q50"] == pytest.approx(res["q50"], rel=1e-12)
    assert res_w["q95"] == pytest.approx(res["q95"], rel=1e-12)
    assert res_w["count"] == res["count"]


def test_partials_then_merge_equals_direct(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(7)
    cfg = logarithmic_unbounded_dense(0.02)
    partials = build_partial_sketches(df, "value", config=cfg)
    assert partials.count() >= 1
    merged_df = merge_partials_to_sketch_rows(partials)
    rows = merged_df.collect()
    assert len(rows) == 1
    sk = merge_rows([r.asDict() for r in rows])
    vals = np.sort(
        np.array([r.value for r in df.select("value").collect() if r.value is not None])
    )
    for q in (0.5, 0.95, 0.99):
        assert rank_interval_error(vals, q, sk.value_at_quantile(q)) <= 0.02 + EPS
    assert sk.count == len(vals)


def test_nulls_skipped(spark):
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id").cast("double")).alias("v")
    )
    res = quantiles(df, "v", qs=(0.5,)).collect()[0]
    assert res["count"] == 90


def test_empty_input(spark):
    """Empty input produces an empty result (documented semantics: no groups,
    like a grouped SQL aggregate — stage 1 emits no sketch rows)."""
    from pyspark.sql import functions as F

    df = spark.range(10).select(F.col("id").cast("double").alias("v")).filter("v < 0")
    res = quantiles(df, "v", qs=(0.5,)).collect()
    assert res == []


def test_collapsing_config_bounded_rows(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    cfg = SketchConfig(store_policy="collapsing_lowest", max_bins=64)
    partials = build_partial_sketches(df, "value", config=cfg)
    pdf = partials.toPandas()
    assert ((pdf["pos_idx"].apply(len) + pdf["neg_idx"].apply(len)) <= 64 * 2).all()
    res = quantiles(df, "value", config=cfg, qs=(0.99,)).collect()[0]
    vals = np.sort(
        np.array([r.value for r in df.select("value").collect() if r.value is not None])
    )
    # high quantiles unaffected by lowest-collapse
    assert rank_interval_error(vals, 0.99, res["q99"]) <= ALPHA + EPS


def test_spill_flush_same_results(spark, sf_dir):
    """A tiny max_groups_per_task forces mid-stream flushes of mergeable
    partials; results must be identical to the unbounded path."""
    from ddsparkle.spark.agg import _finalize_schema  # noqa: F401 (import check)
    from ddsparkle.config import SketchConfig

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cfg = SketchConfig(mapping_kind="log")
    a = build_partial_sketches(df, "o_totalprice", ["o_custkey"], cfg)
    b = build_partial_sketches(df, "o_totalprice", ["o_custkey"], cfg, max_groups_per_task=5)
    assert b.count() >= a.count()  # spills create extra mergeable rows
    ra = {r["o_custkey"]: r for r in merge_rows_df(spark, a)}
    rb = {r["o_custkey"]: r for r in merge_rows_df(spark, b)}
    assert set(ra) == set(rb)
    for k in ra:
        assert ra[k]["stat_count"] == rb[k]["stat_count"]
        assert ra[k]["pos_idx"] == rb[k]["pos_idx"]


def merge_rows_df(spark, partials):
    return merge_partials_to_sketch_rows(partials, ["o_custkey"]).collect()


def test_salted_pre_merge_same_results(spark, sf_dir):
    """merge_salt bounds per-group fan-in; any salt assignment yields
    identical results (merge associativity/commutativity)."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(9)
    plain = {
        r["l_returnflag"]: r
        for r in quantiles(df, "l_extendedprice", by="l_returnflag", qs=(0.5, 0.99)).collect()
    }
    salted = {
        r["l_returnflag"]: r
        for r in quantiles(
            df, "l_extendedprice", by="l_returnflag", qs=(0.5, 0.99), merge_salt=4
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        for c in ("q50", "q99", "count", "min", "max"):
            assert plain[k][c] == pytest.approx(salted[k][c], rel=1e-12)


def test_wide_mode_matches_grouped(spark, sf_dir):
    """High-cardinality finalize path: mode='wide' (repartition + in-batch
    fold) must produce the same rows as the applyInPandas path."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    a = {
        r["o_custkey"]: r
        for r in quantiles(df, "o_totalprice", by="o_custkey", qs=(0.5,)).collect()
    }
    b = {
        r["o_custkey"]: r
        for r in quantiles(df, "o_totalprice", by="o_custkey", qs=(0.5,), mode="wide").collect()
    }
    assert set(a) == set(b) and len(a) > 100
    for k in a:
        for c in ("q50", "count", "min", "max"):
            assert a[k][c] == pytest.approx(b[k][c], rel=1e-12)


@pytest.mark.parametrize(
    "cfg",
    [
        SketchConfig(mapping_kind="log"),
        SketchConfig(mapping_kind="cubic", track_exact_stats=False),
        SketchConfig(mapping_kind="log", store_policy="collapsing_lowest", max_bins=32),
        SketchConfig(mapping_kind="log", store_policy="collapsing_highest", max_bins=32),
    ],
    ids=["exact-stats", "no-stats-cubic", "collapse-low", "collapse-high"],
)
def test_wide_finalize_parity_matrix(spark, cfg):
    """The vectorized wide finalize must agree with the scalar applyInPandas
    path across configs, mixed signs, and zeros."""
    from pyspark.sql import functions as F

    df = (
        spark.range(20000)
        .select(
            (F.col("id") % 97).cast("string").alias("k"),
            F.when(F.col("id") % 11 == 0, 0.0)
            .otherwise((F.col("id") % 1000) - 300.0)
            .alias("v"),
        )
        .repartition(7)
    )
    a = {r["k"]: r for r in quantiles(df, "v", by="k", qs=(0.1, 0.5, 0.9), config=cfg).collect()}
    b = {
        r["k"]: r
        for r in quantiles(df, "v", by="k", qs=(0.1, 0.5, 0.9), config=cfg, mode="wide").collect()
    }
    assert set(a) == set(b) and len(a) == 97
    for k in a:
        for c in ("q10", "q50", "q90", "count", "min", "max"):
            av, bv = a[k][c], b[k][c]
            assert av == pytest.approx(bv, rel=1e-12), (k, c, av, bv)
        assert a[k]["sum"] == pytest.approx(b[k]["sum"], rel=1e-9)


def test_relative_error_beats_native_approx_percentile_on_tails(spark):
    """Why DDSketch and not Spark's KLL-based approx_percentile: rank-error
    sketches blow up on tail quantiles of heavy-tailed data, while the
    relative-error guarantee holds uniformly (SURVEY section 2.1 — the
    built-in is a sanity comparator, never the implementation)."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(0)
    vals = rng.lognormal(0, 2.5, 500_000)  # ~7 decades of range
    df = spark.createDataFrame(pd.DataFrame({"v": vals})).repartition(8)
    qs = (0.99, 0.999, 0.9999)
    exact = np.quantile(np.sort(vals), qs)
    ours_row = quantiles(df, "v", qs=qs).collect()[0]
    ours = [ours_row["q99"], ours_row["q99_9"], ours_row["q99_99"]]
    native = df.agg(F.percentile_approx("v", list(qs), 10000)).collect()[0][0]
    our_errs = [abs(o - e) / e for o, e in zip(ours, exact)]
    native_errs = [abs(n - e) / e for n, e in zip(native, exact)]
    assert max(our_errs) <= 0.01 + 1e-9  # alpha guarantee holds at every tail
    # the rank-error sketch is catastrophically off at the extreme tail
    assert native_errs[-1] > 0.5
    assert max(our_errs) < native_errs[-1] / 50


def test_quantiles_multi_single_scan(spark, sf_dir):
    """Multi-measure aggregation: one scan, per-metric results equal to
    separate single-column runs."""
    from ddsparkle.spark.agg import quantiles_multi

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    multi = {
        r["metric"]: r
        for r in quantiles_multi(
            df, ["l_extendedprice", "l_quantity"], qs=(0.5, 0.99)
        ).collect()
    }
    assert set(multi) == {"l_extendedprice", "l_quantity"}
    for col in ("l_extendedprice", "l_quantity"):
        single = quantiles(df, col, qs=(0.5, 0.99)).collect()[0]
        for c in ("q50", "q99", "count", "min", "max"):
            assert multi[col][c] == pytest.approx(single[c], rel=1e-12)


def test_convert_sketch_rows_spark(spark, sf_dir):
    """Checkpoint-migration path: re-bin existing sketch rows onto a new
    mapping without rescanning data; quantiles stay within the degraded
    conversion bound."""
    import math as m

    from ddsparkle.convert import convert_sketch_rows, converted_relative_accuracy
    from ddsparkle.mapping import CubicallyInterpolatedMapping
    from ddsparkle.serde import merge_rows

    df = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(5)
    cfg = SketchConfig(mapping_kind="log", relative_accuracy=0.02, track_exact_stats=False)
    partials = build_partial_sketches(df, "value", config=cfg)
    new_mapping = CubicallyInterpolatedMapping.from_relative_accuracy(0.01)
    converted = convert_sketch_rows(partials, new_mapping)
    sk = merge_rows([r.asDict() for r in converted.collect()])
    assert sk.mapping == new_mapping
    vals = np.sort(df.select("value").toPandas()["value"].to_numpy(np.float64))
    bound = converted_relative_accuracy(0.02, 0.01) + 1e-10
    for q in (0.5, 0.95, 0.99):
        n = len(vals)
        lo = vals[int(m.floor(q * (n - 1)))]
        hi = vals[int(m.ceil(q * (n - 1)))]
        est = sk.value_at_quantile(q)
        err = 0.0 if lo <= est <= hi else min(abs(est - lo) / lo, abs(est - hi) / hi)
        assert err <= bound
    assert sk.count == pytest.approx(len(vals), rel=1e-9)


def test_composite_group_keys(spark, sf_dir):
    """Multi-column by: the vectorized builder's MultiIndex factorize path
    and both finalize modes."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys = ["l_returnflag", "l_linestatus"]
    res = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in quantiles(df, "l_extendedprice", by=keys, qs=(0.5,)).collect()
    }
    pdf = df.select(*keys, "l_extendedprice").toPandas()
    truth = pdf.groupby(keys)["l_extendedprice"]
    assert set(res) == set(truth.groups)
    for key, grp in truth:
        assert res[key]["count"] == len(grp)
        assert res[key]["min"] == grp.min() and res[key]["max"] == grp.max()
    wide = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in quantiles(df, "l_extendedprice", by=keys, qs=(0.5,), mode="wide").collect()
    }
    for k in res:
        assert wide[k]["q50"] == pytest.approx(res[k]["q50"], rel=1e-12)
        assert wide[k]["count"] == res[k]["count"]


def test_shuffle_mode_matches_grouped(spark, sf_dir):
    """mode='shuffle' (raw repartition + fused build/finalize) must agree
    with the partial-sketch paths."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    a = {
        r["o_custkey"]: r
        for r in quantiles(df, "o_totalprice", by="o_custkey", qs=(0.5, 0.99)).collect()
    }
    c = {
        r["o_custkey"]: r
        for r in quantiles(
            df, "o_totalprice", by="o_custkey", qs=(0.5, 0.99), mode="shuffle"
        ).collect()
    }
    assert set(a) == set(c)
    for k in a:
        for col in ("q50", "q99", "count", "min", "max"):
            assert a[k][col] == pytest.approx(c[k][col], rel=1e-12)


def test_sorted_mode_matches_grouped(spark, sf_dir):
    """mode='sorted' (repartition + sortWithinPartitions + STREAMING fused
    finalize: completed keys emit per batch, only the trailing key carries)
    must agree with the partial-sketch paths — including across Arrow batch
    boundaries (small maxRecordsPerBatch would be ideal; the orders table
    at sf0.01 spans multiple batches at the default size already)."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    a = {
        r["o_custkey"]: r
        for r in quantiles(df, "o_totalprice", by="o_custkey", qs=(0.5, 0.99)).collect()
    }
    s = {
        r["o_custkey"]: r
        for r in quantiles(
            df, "o_totalprice", by="o_custkey", qs=(0.5, 0.99), mode="sorted"
        ).collect()
    }
    assert set(a) == set(s)
    for k in a:
        for col in ("q50", "q99", "count", "min", "max"):
            assert a[k][col] == pytest.approx(s[k][col], rel=1e-12)


def test_sorted_mode_carry_across_batches(spark):
    """Force tiny Arrow batches so keys straddle batch boundaries: the
    carried trailing partial must merge exactly (no key lost or split)."""
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.range(1000).select(
            (F.col("id") % 13).alias("k"), (F.col("id") % 97).cast("double").alias("v")
        )
        a = {r["k"]: r for r in quantiles(df, "v", by="k", qs=(0.5,)).collect()}
        s = {
            r["k"]: r
            for r in quantiles(df, "v", by="k", qs=(0.5,), mode="sorted").collect()
        }
        assert set(a) == set(s) and len(s) == 13
        for k in a:
            assert a[k]["count"] == s[k]["count"] == pytest.approx(1000 / 13, abs=1)
            assert a[k]["q50"] == pytest.approx(s[k]["q50"], rel=1e-12)
            assert a[k]["sum"] == pytest.approx(s[k]["sum"], rel=1e-12)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_grouped_exact_stats_with_zero_and_cancelling_values(spark):
    """Regression: a group whose batch-local sum(w*v) is 0 (zero values, or
    +x/-x cancellation) must not truncate or misattribute the exact stats of
    OTHER groups (_group_sum drops zero-sum entries by bucket semantics and
    must not be used for stats alignment). Tiny Arrow batches maximize the
    number of affected batches."""
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        # v: id%97 == 0 rows are exactly 0.0; also plant a +5/-5 cancelling
        # pair inside one group
        df = spark.range(1000).select(
            (F.col("id") % 13).alias("k"), (F.col("id") % 97).cast("double").alias("v")
        )
        extra = spark.createDataFrame([(0, 5.0), (0, -5.0)], "k long, v double")
        df = df.unionByName(extra)
        got = {r["k"]: r for r in quantiles(df, "v", by="k", qs=(0.5,)).collect()}
        import pandas as pd

        truth = df.groupBy("k").agg(
            F.count("v").alias("n"), F.sum("v").alias("s"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        ).collect()
        for t in truth:
            r = got[t["k"]]
            assert r["count"] == t["n"], (t["k"], r["count"], t["n"])
            assert r["sum"] == pytest.approx(t["s"], abs=1e-9)
            assert r["min"] == t["mn"] and r["max"] == t["mx"]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_all_null_groups_survive(spark):
    """A group whose values are all NULL appears with count 0 and NaN stats,
    like a SQL grouped aggregate — in every mode."""
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        (F.col("id") % 4).cast("string").alias("k"),
        F.when(F.col("id") % 4 == 3, None).otherwise(F.col("id").cast("double")).alias("v"),
    )
    for mode in ("auto", "wide", "shuffle", "sorted"):
        rows = {r["k"]: r for r in quantiles(df, "v", by="k", qs=(0.5,), mode=mode).collect()}
        assert set(rows) == {"0", "1", "2", "3"}, mode
        assert rows["3"]["count"] == 0.0, mode

        def _nullish(x):
            return x is None or (isinstance(x, float) and math.isnan(x))

        assert _nullish(rows["3"]["q50"]) and _nullish(rows["3"]["min"]), mode
        assert rows["0"]["count"] == 25.0, mode


def test_wide_finalize_rejects_heterogeneous_configs(spark, sf_dir):
    """Unioned partials built with different alphas must fail loudly in the
    vectorized finalize, matching the scalar merge path."""
    from ddsparkle.spark.agg import finalize_sketch_rows
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = build_partial_sketches(df, "value", ["event_type"], SketchConfig(mapping_kind="log", relative_accuracy=0.01))
    b = build_partial_sketches(df, "value", ["event_type"], SketchConfig(mapping_kind="log", relative_accuracy=0.02))
    mixed = a.unionByName(b)
    from ddsparkle.spark.agg import _vectorized_grouped_finalize
    pdf = mixed.toPandas()
    with pytest.raises(ValueError, match="not mergeable"):
        _vectorized_grouped_finalize(pdf, ["event_type"], [0.5], ["q50"],
                                     ["event_type", "q50", "count", "sum", "min", "max", "avg"])


# ---------------------------------------------------------------------------
# mode='sql' (pure-Catalyst log-mapping path)
# ---------------------------------------------------------------------------


def _cmp_sql_vs_kernel(df, col, by=None, w=None, cfg=None, qs=(0.5, 0.95, 0.99)):
    """mode='sql' must agree with the kernel paths: quantiles/min/max to
    <=1-ulp (JVM exp vs NumPy exp on the identical bucket index — asserted
    via round-4, the driver-gate precision), count exactly, sum/avg to float
    reassociation tolerance."""
    import numpy as np

    cfg = cfg or SketchConfig(
        mapping_kind="log", store_policy="unbounded", max_bins=0, track_exact_stats=False
    )
    kernel_mode = "wide" if by else "grouped"
    a = quantiles(df, col, by=by, weight_col=w, qs=qs, config=cfg, mode=kernel_mode).toPandas()
    b = quantiles(df, col, by=by, weight_col=w, qs=qs, config=cfg, mode="sql").toPandas()
    keys = [by] if isinstance(by, str) else list(by or [])
    if keys:
        a = a.sort_values(keys).reset_index(drop=True)
        b = b.sort_values(keys).reset_index(drop=True)
    assert len(a) == len(b) and list(a.columns) == list(b.columns)
    for c in a.columns:
        if c in keys:
            assert (a[c].values == b[c].values).all(), c
            continue
        av = a[c].values.astype(float)
        bv = b[c].values.astype(float)
        if c in ("sum", "avg"):
            assert np.allclose(av, bv, rtol=1e-9, equal_nan=True), c
        elif c == "count":
            assert (av == bv).all(), c
        else:
            both_nan = np.isnan(av) & np.isnan(bv)
            assert ((np.round(av, 4) == np.round(bv, 4)) | both_nan).all(), (c, av, bv)


def test_sql_mode_parity_global_grouped_mixed(spark, sf_dir):
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    _cmp_sql_vs_kernel(ev, "value")
    _cmp_sql_vs_kernel(ev, "value", by="event_type")
    _cmp_sql_vs_kernel(
        ev.select((F.col("value") - 100.0).alias("v")), "v", qs=(0.25, 0.5, 0.9)
    )


def test_sql_mode_parity_collapsing_and_exact_stats(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    _cmp_sql_vs_kernel(
        ev, "value", qs=(0.5, 0.99),
        cfg=SketchConfig(mapping_kind="log", store_policy="collapsing_lowest",
                         max_bins=64, track_exact_stats=False),
    )
    _cmp_sql_vs_kernel(
        ev, "value", qs=(0.01, 0.5),
        cfg=SketchConfig(mapping_kind="log", store_policy="collapsing_highest",
                         max_bins=64, track_exact_stats=False),
    )
    _cmp_sql_vs_kernel(ev, "value", cfg=SketchConfig(mapping_kind="log"))
    _cmp_sql_vs_kernel(ev, "value", by="event_type", cfg=SketchConfig(mapping_kind="log"))


def test_sql_mode_parity_weighted_and_highcard(spark, sf_dir):
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w_ev = ev.select(
        "event_type", "value", (F.pmod(F.col("user_id"), F.lit(3)) + 1).cast("double").alias("w")
    )
    _cmp_sql_vs_kernel(w_ev, "value", w="w")
    _cmp_sql_vs_kernel(
        w_ev, "value", by="event_type", w="w", qs=(0.5, 0.99),
        cfg=SketchConfig(mapping_kind="log", store_policy="collapsing_lowest",
                         max_bins=48, track_exact_stats=False),
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    _cmp_sql_vs_kernel(orders, "o_totalprice", by="o_custkey", qs=(0.5,))


def test_sql_mode_rejects_non_log_mapping(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    with pytest.raises(ValueError, match="mapping_kind='log'"):
        quantiles(ev, "value", qs=(0.5,), config=SketchConfig(mapping_kind="cubic"),
                  mode="sql").collect()


def test_sql_mode_null_group_key_survives(spark):
    """A NULL group key is a real group (SQL GROUP BY semantics, and the
    kernel paths keep it) — the exact-stats join must be null-safe."""
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.when(F.col("id") % 4 == 3, None)
        .otherwise((F.col("id") % 4).cast("string"))
        .alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    for cfg in (
        SketchConfig(mapping_kind="log"),  # exact stats (joined path)
        SketchConfig(mapping_kind="log", store_policy="unbounded", max_bins=0,
                     track_exact_stats=False),
    ):
        a = {r["k"]: r for r in quantiles(df, "v", by="k", qs=(0.5,), config=cfg, mode="wide").collect()}
        b = {r["k"]: r for r in quantiles(df, "v", by="k", qs=(0.5,), config=cfg, mode="sql").collect()}
        assert set(a) == set(b) == {"0", "1", "2", None}
        for k in a:
            assert a[k]["count"] == b[k]["count"]
            assert round(a[k]["q50"], 4) == round(b[k]["q50"], 4)


def test_ddsketch_spark_sql_public_generator(spark, sf_dir):
    """The public SQL-string surface must run standalone over a temp view
    and agree with quantiles() exactly."""
    from ddsparkle.spark.agg import ddsketch_spark_sql

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    df.createOrReplaceTempView("events_sql_test")
    cfg = SketchConfig(mapping_kind="log", store_policy="unbounded", max_bins=0,
                       track_exact_stats=False)
    sql = ddsketch_spark_sql("events_sql_test", "value", [0.5, 0.95],
                             config=cfg, by="event_type")
    a = {r["event_type"]: r for r in spark.sql(sql).collect()}
    b = {r["event_type"]: r for r in
         quantiles(df, "value", by="event_type", qs=(0.5, 0.95), config=cfg).collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k]["q50"] == b[k]["q50"] and a[k]["q95"] == b[k]["q95"]
        assert a[k]["count"] == b[k]["count"]
    spark.catalog.dropTempView("events_sql_test")


def test_quantiles_grouping_sets_match_direct_builds(spark):
    """Every rolled-up set's quantiles equal a DIRECT quantiles() build at
    that grouping (merge associativity — bucket-exact), and the output is
    one row per group per set with correct NULL patterns."""
    import numpy as np
    from pyspark.sql import functions as F

    from ddsparkle.config import SketchConfig
    from ddsparkle.spark.agg import quantiles, quantiles_grouping_sets

    rng = np.random.default_rng(21)
    rows = [
        (f"t{i % 3}", f"d{i % 2}", float(rng.lognormal(2.0, 1.0))) for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "a string, b string, v double").repartition(5)
    cfg = SketchConfig(mapping_kind="log", relative_accuracy=0.01,
                       store_policy="unbounded", max_bins=0,
                       track_exact_stats=False)
    out = quantiles_grouping_sets(df, "v", by=["a", "b"], config=cfg)
    got = out.collect()
    assert {r["gset"] for r in got} == {"a,b", "a", "total"}

    def key(r, s):
        return tuple(r[c] for c in s)

    for s, label in ([["a", "b"], "a,b"], [["a"], "a"], [[], "total"]):
        # mode='grouped' (kernel path): the rolled-up sets finalize through the
        # kernel, and SQL-mode rep values differ by ~1 ulp (Spark EXP vs numpy)
        direct = {
            key(r, s): r
            for r in quantiles(df, "v", by=s, config=cfg, mode="grouped").collect()
        }
        mine = {key(r, s): r for r in got if r["gset"] == label}
        assert set(mine) == set(direct)
        for k, r in mine.items():
            for q in ("q50", "q95", "q99", "count"):
                assert r[q] == direct[k][q], (label, k, q)
            # keys outside the set are NULL
            for c in ("a", "b"):
                if c not in s:
                    assert r[c] is None

    with pytest.raises(ValueError, match="subset"):
        quantiles_grouping_sets(df, "v", by=["a"], sets=[["b"]], config=cfg)
