"""Spark aggregation layer tests: sketch-UDAF vs exact percentiles within
alpha; partition-count invariance; grouped and weighted paths; sketch-row
merge stage.
"""

import math

import numpy as np
import pytest

from ddsparkle.config import (
    SketchConfig,
    logarithmic_collapsing_lowest_dense,
    logarithmic_unbounded_dense,
)
from ddsparkle.spark.agg import (
    build_partial_sketches,
    finalize_row,
    merge_partials_to_sketch_rows,
    quantile_column_name,
    quantiles,
)
from ddsparkle.serde import SKETCH_ROW_FIELDS, merge_rows

pytestmark = pytest.mark.spark

ALPHA = 0.01
EPS = 1e-10


def scalar_finalize(partials, key_cols, qs):
    """Reference answer: ``finalize_row(merge_rows(...))`` per key over the
    collected partial sketch rows."""
    q_names = [quantile_column_name(q) for q in qs]
    groups: dict = {}
    for r in partials.collect():
        groups.setdefault(tuple(r[c] for c in key_cols), []).append(r)
    return {
        k: finalize_row(merge_rows(rows), dict(zip(key_cols, k)), qs, q_names)
        for k, rows in groups.items()
    }


def assert_kernel_matches_scalar(df, value_col, key_cols, qs, cfg=None):
    """mode='kernel' equals the scalar reference exactly on quantiles,
    count, min and max; sum/avg only to float reassociation (the scalar
    merge is a Kahan fold, the vectorized one a plain segmented sum).
    NaN (an all-NULL group) counts as equal to NaN."""
    cfg = cfg or SketchConfig()
    got = {
        tuple(r[c] for c in key_cols): r.asDict()
        for r in quantiles(df, value_col, by=key_cols, qs=qs, config=cfg, mode="kernel").collect()
    }
    want = scalar_finalize(build_partial_sketches(df, value_col, key_cols, cfg), key_cols, qs)
    assert set(got) == set(want)
    exact = [quantile_column_name(q) for q in qs] + ["count", "min", "max"]
    for k, w in want.items():
        g = got[k]
        np.testing.assert_array_equal([g[c] for c in exact], [w[c] for c in exact], err_msg=str(k))
        for c in ("sum", "avg"):
            assert g[c] == pytest.approx(w[c], rel=1e-9, nan_ok=True), (k, c)
    return got


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
        res = quantiles(df, "v", qs=(0.5,), weight_col="w", mode="kernel")
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


def test_global_tree_level_matches_driver_fold(spark, monkeypatch):
    """Above _TREE_FANIN stage-1 partitions a global kernel aggregation
    folds its partials in ~isqrt(#partitions) tasks before the driver
    finalize. With the fan-in at 2, a 9-partition input takes that path
    (3 tree tasks), and the answer equals the untreed driver fold exactly."""
    from pyspark.sql import functions as F

    from ddsparkle.spark import agg

    df = spark.range(5000).select(
        ((F.col("id") * 7919) % 1013 - 300).cast("double").alias("v")
    ).repartition(9)
    qs = (0.1, 0.5, 0.99)
    want = scalar_finalize(build_partial_sketches(df, "v"), [], qs)[()]
    tree_parts = []
    fold = agg.merge_partials_within_partitions

    def spy(partials, key_cols):
        tree_parts.append(partials.rdd.getNumPartitions())
        return fold(partials, key_cols)

    monkeypatch.setattr(agg, "merge_partials_within_partitions", spy)
    monkeypatch.setattr(agg, "_TREE_FANIN", 2)
    got = quantiles(df, "v", qs=qs, mode="kernel").collect()
    assert tree_parts == [3]
    assert [r.asDict() for r in got] == [want]


def test_removed_mode_names_raise(spark):
    from pyspark.sql import functions as F

    df = spark.range(3).select(F.lit("a").alias("k"), F.col("id").cast("double").alias("v"))
    for mode in ("wide", "grouped", "shuffle", "sorted"):
        with pytest.raises(ValueError, match=r"auto\|kernel\|sql"):
            quantiles(df, "v", by="k", mode=mode)


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
    """NULL and NaN values, NULL, NaN and zero weights are skipped on the
    Arrow input of every kernel build, while their groups (a NULL key, an
    all-NULL group) survive with count 0: kernel quantiles, cdf_at_values,
    trimmed_means and build_rollup + rollup_quantiles, keyless and by key,
    equal a scalar sketch of the rows that carry weight; an empty input
    gives no rows. A float key's NULL and NaN rows are one group whose key
    reads NULL, as on the pandas path."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.agg import cdf_at_values, cdf_column_name, trimmed_means
    from ddsparkle.spark.rollup import build_rollup, rollup_quantiles

    df = spark.range(100).select(
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id").cast("double")).alias("v")
    )
    res = quantiles(df, "v", qs=(0.5,)).collect()[0]
    assert res["count"] == 90

    nan = math.nan
    # a float key's NaN and NULL rows are one group whose key reads NULL
    fk = spark.createDataFrame([(nan, 1.0), (None, 2.0), (1.0, 3.0)], "fk double, v double")
    got = quantiles(fk.coalesce(1), "v", by="fk", qs=(0.5,), mode="kernel").collect()
    assert {r["fk"]: r["count"] for r in got} == {None: 2.0, 1.0: 1.0}
    rng = np.random.default_rng(5)
    rows = [
        (k, float(v), float(w))
        for k in ("a", "b", None)
        for v, w in zip(rng.normal(0.0, 50.0, 40).round(2), rng.integers(1, 4, 40))
    ]
    rows += [("a", nan, 1.0), ("b", None, 2.0), (None, 3.5, None), ("a", 7.0, nan), ("b", 9.0, 0.0)]
    rows += [("n", None, 1.0), ("n", nan, 1.0), ("n", 4.0, 0.0), ("n", 5.0, None)]
    schema = "k string, v double, w double"
    data = spark.createDataFrame(rows, schema).withColumn("ts", F.lit("2024-01-01").cast("timestamp"))
    empty = data.where(F.lit(False))
    cfg = SketchConfig()
    qs, xs = (0.1, 0.5, 0.9), [-20.0, 0.0, 35.5]
    q_names, x_names = [quantile_column_name(q) for q in qs], [cdf_column_name(x) for x in xs]
    for by in (["k"], []):
        want = {}
        for key in {r[0] for r in rows} if by else [None]:
            kept = [
                (v, w) for k, v, w in rows
                if (not by or k == key) and v is not None and w is not None
                and not (math.isnan(v) or math.isnan(w)) and w > 0
            ]
            sk = cfg.new_sketch()
            if kept:
                sk.accept(*map(np.array, zip(*kept)))
            exp = finalize_row(sk, {}, qs, q_names)
            if sk.count > 0:
                exp.update(zip(x_names, sk.cdf_at_values(xs)))
                exp["trimmed_mean"], exp["winsorized_mean"] = sk.trimmed_means(0.1, 0.2)
            else:
                exp = {c: (0.0 if c == "count" else None) for c in exp}
                exp.update(dict.fromkeys([*x_names, "trimmed_mean", "winsorized_mean"]))
            want[(key,) if by else ()] = exp
        roll = build_rollup(data, "v", time_col="ts", granularity="day", by=by, config=cfg,
                            weight_col="w", mode="kernel")
        for res, cols in (
            (quantiles(data, "v", by=by, qs=qs, config=cfg, weight_col="w", mode="kernel"),
             [*q_names, "count", "min", "max"]),
            (rollup_quantiles(roll, qs, by=by), [*q_names, "count", "min", "max"]),
            (cdf_at_values(data, "v", xs, by=by, config=cfg, weight_col="w", mode="kernel"),
             [*x_names, "count"]),
            (trimmed_means(data, "v", 0.1, 0.2, by=by, config=cfg, weight_col="w", mode="kernel"),
             ["trimmed_mean", "winsorized_mean", "count"]),
        ):
            got = {tuple(r[c] for c in by): r.asDict() for r in res.collect()}
            assert set(got) == set(want), (by, cols)
            for key, exp in want.items():
                for c in cols:
                    g = got[key][c]
                    assert g == exp[c] or (exp[c] is None and (g is None or math.isnan(g))), (
                        by, key, c, g, exp[c]
                    )
            for key, exp in want.items():
                if "sum" in got[key] and exp["count"] > 0:
                    assert got[key]["sum"] == pytest.approx(exp["sum"], rel=1e-12), (by, key)
        for res in (
            quantiles(empty, "v", by=by, qs=qs, config=cfg, weight_col="w", mode="kernel"),
            cdf_at_values(empty, "v", xs, by=by, config=cfg, weight_col="w", mode="kernel"),
            trimmed_means(empty, "v", 0.1, 0.2, by=by, config=cfg, weight_col="w", mode="kernel"),
            rollup_quantiles(build_rollup(empty, "v", time_col="ts", granularity="day", by=by,
                                          config=cfg, weight_col="w", mode="kernel"), qs, by=by),
        ):
            assert res.collect() == [], by


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


def test_spill_flush_same_results(spark, sf_dir, monkeypatch):
    """A tiny _MAX_GROUPS_PER_TASK forces mid-stream flushes of mergeable
    partials; results must be identical to the unbounded path."""
    from ddsparkle.spark import agg
    from ddsparkle.spark.agg import _finalize_schema  # noqa: F401 (import check)
    from ddsparkle.config import SketchConfig

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cfg = SketchConfig(mapping_kind="log")
    a = build_partial_sketches(df, "o_totalprice", ["o_custkey"], cfg)
    monkeypatch.setattr(agg, "_MAX_GROUPS_PER_TASK", 5)
    b = build_partial_sketches(df, "o_totalprice", ["o_custkey"], cfg)
    assert b.count() >= a.count()  # spills create extra mergeable rows
    ra = {r["o_custkey"]: r for r in merge_rows_df(spark, a)}
    rb = {r["o_custkey"]: r for r in merge_rows_df(spark, b)}
    assert set(ra) == set(rb)
    for k in ra:
        assert ra[k]["stat_count"] == rb[k]["stat_count"]
        assert ra[k]["pos_idx"] == rb[k]["pos_idx"]


def merge_rows_df(spark, partials):
    return merge_partials_to_sketch_rows(partials, ["o_custkey"]).collect()


def test_wide_mode_matches_grouped(spark, sf_dir):
    """High-cardinality grouped finalize: mode='kernel' (repartition + one
    vectorized merge-and-walk pass) must equal the scalar per-key fold."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    got = assert_kernel_matches_scalar(df, "o_totalprice", ["o_custkey"], (0.5,))
    assert len(got) > 100


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
    """The vectorized kernel finalize must agree with the scalar per-key
    fold across configs, mixed signs, and zeros."""
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
    got = assert_kernel_matches_scalar(df, "v", ["k"], (0.1, 0.5, 0.9), cfg)
    assert len(got) == 97


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


def test_convert_sketch_rows_equals_per_row_convert(spark):
    """convert_sketch_rows converts every row like the scalar
    ``convert_sketch(row_to_sketch(row), ...)`` and carries every other
    column through: a keyed frame with a NULL key, mixed signs and zeros,
    with and without exact stats, under collapsing policies that clamp
    after the re-binning, and two sketch identities in one frame. Indexes,
    zero counts, identity and stats are exact, counts within rel 1e-12
    (the clamp sums collapsed shares in another order)."""
    from pyspark.sql import functions as F

    from ddsparkle.convert import convert_sketch, convert_sketch_rows
    from ddsparkle.mapping import CubicallyInterpolatedMapping
    from ddsparkle.serde import row_to_sketch, sketch_to_row

    df = _mixed_sign_groups(spark)
    frames = []
    for name, cfg in (
        ("low", SketchConfig(mapping_kind="log", store_policy="collapsing_lowest", max_bins=8)),
        ("high", SketchConfig(mapping_kind="quad", store_policy="collapsing_highest", max_bins=8,
                              track_exact_stats=False)),
        ("unbounded", SketchConfig(mapping_kind="log", relative_accuracy=0.05,
                                   store_policy="unbounded", max_bins=0)),
    ):
        partials = build_partial_sketches(df, "v", ["k"], cfg, "w")
        frames.append(merge_partials_to_sketch_rows(partials, ["k"]).withColumn("src", F.lit(name)))
    rows = frames[0].unionByName(frames[1]).unionByName(frames[2]).repartition(2).localCheckpoint()
    new_mapping = CubicallyInterpolatedMapping.from_relative_accuracy(0.01)
    converted = convert_sketch_rows(rows, new_mapping)
    assert converted.schema == rows.schema
    got = {(r["src"], r["k"]): r.asDict() for r in converted.collect()}
    want = {(r["src"], r["k"]): r.asDict() for r in rows.collect()}
    assert set(got) == set(want) and (None in {k for _, k in got})
    for key, r in want.items():
        exp = sketch_to_row(convert_sketch(row_to_sketch(r), new_mapping, r["store_policy"], r["max_bins"]))
        g = got[key]
        for f in SKETCH_ROW_FIELDS:
            if f in ("neg_cnt", "pos_cnt"):
                assert g[f] == pytest.approx(np.asarray(exp[f]).tolist(), rel=1e-12, abs=0.0), (key, f)
            elif f in ("neg_idx", "pos_idx"):
                assert g[f] == np.asarray(exp[f]).tolist(), (key, f)
            else:
                assert g[f] == exp[f], (key, f)
    # the clamp really acts: some collapsing store re-bins to more than 8 bins
    assert any(
        max(len(st.indexes) for st in (sk.negative_store, sk.positive_store)) > 8
        for (src, _), r in want.items() if src != "unbounded"
        for sk in [convert_sketch(row_to_sketch(r), new_mapping)]
    )


def test_composite_group_keys(spark, sf_dir):
    """Multi-column by: the MultiIndex factorize paths of the vectorized
    builder and finalize."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys = ["l_returnflag", "l_linestatus"]
    res = assert_kernel_matches_scalar(df, "l_extendedprice", keys, (0.5,))
    pdf = df.select(*keys, "l_extendedprice").toPandas()
    truth = pdf.groupby(keys)["l_extendedprice"]
    assert set(res) == set(truth.groups)
    for key, grp in truth:
        assert res[key]["count"] == len(grp)
        assert res[key]["min"] == grp.min() and res[key]["max"] == grp.max()


def test_sorted_mode_carry_across_batches(spark):
    """Force tiny Arrow batches so a key's partial rows straddle batch
    boundaries in both the build and the finalize: mode='kernel' and
    rollup_quantiles must merge them exactly (no key lost or split)."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.rollup import build_rollup, rollup_quantiles

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.range(1000).select(
            (F.col("id") % 13).alias("k"),
            (F.col("id") % 97).cast("double").alias("v"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 60).alias("ts"),
        )
        got = assert_kernel_matches_scalar(df, "v", ["k"], (0.5,))
        assert len(got) == 13
        for r in got.values():
            assert r["count"] == pytest.approx(1000 / 13, abs=1)
        roll = build_rollup(df, "v", time_col="ts", granularity="hour", by="k")
        assert roll.count() > 13  # several cells per key to merge
        rolled = {r["k"]: r.asDict() for r in rollup_quantiles(roll, (0.5,), by="k").collect()}
        assert set(rolled) == {k for (k,) in got}
        for (k,), r in got.items():
            for c in ("q50", "count", "min", "max"):
                assert rolled[k][c] == r[c], (k, c)
            assert rolled[k]["sum"] == pytest.approx(r["sum"], rel=1e-12)
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
    like a SQL grouped aggregate."""
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        (F.col("id") % 4).cast("string").alias("k"),
        F.when(F.col("id") % 4 == 3, None).otherwise(F.col("id").cast("double")).alias("v"),
    )
    for mode in ("auto", "kernel"):
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
    from ddsparkle.spark.agg import _Walk
    with pytest.raises(ValueError, match="not mergeable"):
        _Walk(mixed.toArrow(), ["event_type"])


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
    a = quantiles(df, col, by=by, weight_col=w, qs=qs, config=cfg, mode="kernel").toPandas()
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


def _mixed_sign_groups(spark):
    """Five groups whose negative and positive stores each span several
    decades with different extremes, so ``max_bins=8`` collapses both
    stores of every group at a different index: "a".."c", a NULL key, and
    an all-NULL group "n". Zeros and NULL values are mixed in; weights are
    integral (exact counts), and group "z" has only zero weights."""
    import pandas as pd

    rng = np.random.default_rng(11)
    rows = []
    for gi, k in enumerate(["a", "b", "c", None]):
        pos = np.exp(rng.uniform(-2.0 + gi, 3.0 + 2 * gi, 120))
        neg = -np.exp(rng.uniform(-1.0 - gi, 4.0 - gi, 90))
        vals = np.concatenate([pos, neg, np.zeros(5), np.full(5, np.nan)])
        ws = rng.integers(1, 4, len(vals)).astype(float)
        rows += [(k, None if np.isnan(v) else float(v), float(w)) for v, w in zip(vals, ws)]
    rows += [("n", None, 1.0)] * 4
    rows += [("z", float(v), 0.0) for v in (-3.0, 2.0, 7.0)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "v", "w"]), "k string, v double, w double"
    )


@pytest.mark.parametrize("policy", ["collapsing_lowest", "collapsing_highest"])
@pytest.mark.parametrize("stats", [True, False])
def test_sql_mode_grouped_collapse_parity(spark, policy, stats):
    """Per-group collapse with both stores active: mode='sql' clamps each
    group's negative and positive store at that store's own extreme, like
    the kernel, for quantiles and for cdf_at_values. Count-0 groups ("n"
    and, weighted, "z") get NULL estimates and stats, not DIVIDE_BY_ZERO."""
    from ddsparkle.spark.agg import cdf_at_values

    df = _mixed_sign_groups(spark)
    cfg = SketchConfig(mapping_kind="log", store_policy=policy, max_bins=8,
                       track_exact_stats=stats)
    for w in (None, "w"):
        _cmp_sql_vs_kernel(df, "v", by="k", w=w, cfg=cfg, qs=(0.01, 0.25, 0.5, 0.75, 0.99))
        xs = [-50.0, -1.0, 0.0, 0.5, 20.0, 1000.0]
        a, b = (
            cdf_at_values(df, "v", xs, by="k", config=cfg, weight_col=w, mode=m)
            .toPandas().sort_values("k", na_position="last").reset_index(drop=True)
            for m in ("sql", "kernel")
        )
        assert a.equals(b), (w, a, b)
        assert a["k"].isna().sum() == 1 and set(a["k"].dropna()) == {"a", "b", "c", "n", "z"}



@pytest.mark.parametrize(
    "cfg",
    [SketchConfig(mapping_kind="log"), logarithmic_collapsing_lowest_dense()],
    ids=["log-unbounded", "log-collapsing-lowest"],
)
def test_sql_mode_exact_stats_skip_weightless_rows(spark, cfg):
    """A zero- or NULL-weight value moves neither exact extreme in either
    mode: mode='sql' equals the kernel exactly, globally and by key. (The
    extreme quantiles are exact-stat clamps or the index-0 bucket; an
    interior bucket value may differ by one ulp between JVM and NumPy exp.)"""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            [("a", 1.0, 1.0), ("a", 5.0, 1.0), ("a", 100.0, 0.0), ("b", -50.0, None), ("b", 3.0, 1.0)],
            columns=["k", "v", "w"],
        ),
        "k string, v double, w double",
    )
    for by in (None, "k"):
        got = {}
        for mode in ("kernel", "sql"):
            res = quantiles(df, "v", by=by, qs=(0.0, 1.0), config=cfg, weight_col="w", mode=mode)
            got[mode] = res.toPandas().sort_values(by or "count").reset_index(drop=True)
        assert got["kernel"].equals(got["sql"]), (by, got)
        assert got["kernel"]["min"].tolist() == ([1.0] if by is None else [1.0, 3.0])
        assert got["kernel"]["max"].tolist() == ([5.0] if by is None else [5.0, 3.0])


@pytest.mark.parametrize("stats", [True, False], ids=["stats", "no-stats"])
@pytest.mark.parametrize(
    "policy", ["unbounded", "sparse", "collapsing_lowest", "collapsing_highest"]
)
def test_merged_rows_equal_scalar_fold(spark, policy, stats):
    """merge_partials_to_sketch_rows equals the scalar fold
    ``sketch_to_row(merge_rows(rows))`` per key, by one key, by two keys and
    keyless, weighted and unweighted: bucket indexes and counts, zero count
    and exact count/min/max exactly; the exact sum (a plain sum here, a
    Kahan fold there) to float reassociation."""
    from pyspark.sql import functions as F

    from ddsparkle.serde import sketch_to_row

    df = _mixed_sign_groups(spark).withColumn("k2", F.abs(F.hash("v")) % 3).repartition(3)
    cfg = SketchConfig(mapping_kind="log", store_policy=policy, max_bins=8,
                       track_exact_stats=stats)
    for w in (None, "w"):
        for keys in (["k"], ["k", "k2"], []):
            partials = build_partial_sketches(df, "v", keys, cfg, w).localCheckpoint()
            groups: dict = {}
            for r in partials.collect():
                groups.setdefault(tuple(r[c] for c in keys), []).append(r.asDict())
            assert max(map(len, groups.values())) > 1  # some key really merges
            got = {
                tuple(r[c] for c in keys): r.asDict()
                for r in merge_partials_to_sketch_rows(partials, keys).collect()
            }
            assert set(got) == set(groups), (w, keys)
            for key, rows in groups.items():
                want, g = sketch_to_row(merge_rows(rows)), got[key]
                ctx = (w, keys, key)
                for f in ("neg_idx", "neg_cnt", "pos_idx", "pos_cnt"):
                    assert list(g[f]) == np.asarray(want[f]).tolist(), (ctx, f)
                for f in ("zero_count", "stat_count", "stat_min", "stat_max", "has_exact"):
                    assert g[f] == want[f], (ctx, f)
                assert g["stat_sum"] == pytest.approx(
                    want["stat_sum"] - want["stat_sum_comp"], rel=1e-9
                ), ctx


@pytest.fixture
def tiny_arrow_batches(spark):
    """Arrow batches of 7 rows, so every kernel stage sees many batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("stats", [True, False], ids=["stats", "no-stats"])
@pytest.mark.parametrize(
    "policy", ["unbounded", "sparse", "collapsing_lowest", "collapsing_highest"]
)
def test_cdf_and_trimmed_walks_equal_scalar_reference(spark, policy, stats, tiny_arrow_batches):
    """The kernel finalize's CDF and trimmed/winsorized walks equal the
    scalar ``merge_rows(rows).cdf_at_values(xs)`` and ``.trimmed_means(lo,
    hi)`` per key — by one key, two keys and keyless, with a NULL key, an
    all-NULL group and a zero-weight group (count 0: NULL estimates).
    Exactly when unweighted or with integral weights; to rel 1e-12 with
    fractional weights, whose segment cumsum reassociates."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.agg import cdf_at_values, cdf_column_name, trimmed_means

    df = (
        _mixed_sign_groups(spark)
        .withColumn("k2", F.abs(F.hash("v")) % 3)
        .withColumn("fw", F.col("w") * 0.37)
        .repartition(3)
    )
    cfg = SketchConfig(mapping_kind="log", store_policy=policy, max_bins=8,
                       track_exact_stats=stats)
    xs = [-math.inf, -50.0, -1.0, 0.0, 0.5, 20.0, 1000.0, math.inf]
    names = [cdf_column_name(x) for x in xs]
    lo, hi = 0.1, 0.15
    for w in (None, "w", "fw"):
        for keys in (["k"], ["k", "k2"], []):
            groups: dict = {}
            for r in build_partial_sketches(df, "v", keys, cfg, w).collect():
                groups.setdefault(tuple(r[c] for c in keys), []).append(r.asDict())
            cdf = cdf_at_values(df, "v", xs, by=keys, config=cfg, weight_col=w, mode="kernel")
            tm = trimmed_means(df, "v", lo, hi, by=keys, config=cfg, weight_col=w, mode="kernel")
            got = {}
            for res in (cdf, tm):
                for r in res.collect():
                    got.setdefault(tuple(r[c] for c in keys), {}).update(r.asDict())
            assert set(got) == set(groups), (w, keys)
            assert any(g["count"] == 0 for g in got.values()) == bool(keys)  # "n", "z"
            for key, rows in groups.items():
                sk, g = merge_rows(rows), got[key]
                if sk.count > 0:
                    want = dict(zip(names, sk.cdf_at_values(xs)))
                    want["trimmed_mean"], want["winsorized_mean"] = sk.trimmed_means(lo, hi)
                else:
                    want = dict.fromkeys([*names, "trimmed_mean", "winsorized_mean"])
                want["count"] = sk.count
                for c, v in want.items():
                    ctx = (w, keys, key, c)
                    if v is None:
                        assert g[c] is None, ctx
                    elif w == "fw":
                        assert g[c] == pytest.approx(v, rel=1e-12, abs=0.0), ctx
                    else:
                        assert g[c] == v, ctx


def test_merge_rejects_mixed_exact_stats(spark):
    """Rows with and without exact stats do not merge silently: the merge
    raises like the finalize does."""
    from pyspark.sql import functions as F

    df = spark.range(20).select(F.lit("a").alias("k"), F.col("id").cast("double").alias("v"))
    mixed = build_partial_sketches(df, "v", ["k"], SketchConfig(mapping_kind="log")).unionByName(
        build_partial_sketches(df, "v", ["k"], SketchConfig(mapping_kind="log", track_exact_stats=False))
    )
    with pytest.raises(Exception, match="heterogeneous 'has_exact'"):
        merge_partials_to_sketch_rows(mixed, ["k"]).collect()


@pytest.mark.parametrize("stats", [True, False], ids=["stats", "no-stats"])
def test_all_null_keyless_input_one_count0_row(spark, stats):
    """A keyless input of only NULL values gives one count-0 row from
    quantiles and cdf_at_values in both modes (an empty input gives none:
    test_empty_input)."""
    from ddsparkle.spark.agg import cdf_at_values

    df = spark.createDataFrame([(None,), (None,), (None,)], "v double")
    cfg = SketchConfig(mapping_kind="log", track_exact_stats=stats)
    for mode in ("kernel", "sql"):
        for res, est in (
            (quantiles(df, "v", qs=(0.5,), config=cfg, mode=mode), "q50"),
            (cdf_at_values(df, "v", [1.0], config=cfg, mode=mode), "cdf_1"),
        ):
            rows = res.collect()
            assert len(rows) == 1, (mode, est, rows)
            assert rows[0]["count"] == 0.0, (mode, est)
            assert rows[0][est] is None or math.isnan(rows[0][est]), (mode, est)

def _sql_generators(by, collapsing="collapsing_lowest"):
    from ddsparkle.spark.agg import (
        ddsketch_cdf_spark_sql,
        ddsketch_spark_sql,
        ddsketch_trimmed_spark_sql,
        sketch_rows_spark_sql,
    )

    stats = SketchConfig(mapping_kind="log", store_policy=collapsing, max_bins=8)
    plain = SketchConfig(mapping_kind="log", store_policy=collapsing, max_bins=8,
                         track_exact_stats=False)
    return [
        lambda: ddsketch_spark_sql("t", "v", [0.5], config=stats, by=by),
        lambda: ddsketch_cdf_spark_sql("t", "v", [1.0], config=stats, by=by),
        lambda: ddsketch_trimmed_spark_sql("t", "v", 0.1, 0.1, config=plain, by=by),
        lambda: sketch_rows_spark_sql("t", "v", config=plain, by=by),
    ]


def test_sql_reserved_names_are_the_internal_columns():
    """The reserved-key guard lists exactly the internal columns the
    SQL-mode generators emit."""
    import re

    from ddsparkle.spark.agg import _SQL_RESERVED

    used = set()
    for policy in ("collapsing_lowest", "collapsing_highest"):
        for gen in _sql_generators(["k"], policy):
            used |= set(re.findall(r"\b__\w+", gen()))
    assert used == set(_SQL_RESERVED)


@pytest.mark.parametrize("name", [
    "__v", "__w", "__x", "__part", "__i", "__i2", "__c", "__sm", "__mn", "__mx",
    "__ord", "__val", "__cum", "__n", "__klo", "__khi", "__kept", "__neg", "__pos",
])
def test_sql_mode_reserved_group_key_raises(name):
    """A group key named like an internal column gets a ValueError naming
    it, from every SQL-mode generator, instead of Spark's
    AMBIGUOUS_REFERENCE at analysis."""
    for gen in _sql_generators(["k", name]):
        with pytest.raises(ValueError, match=f"'{name}'"):
            gen()


def test_sql_mode_rejects_non_log_mapping(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    with pytest.raises(ValueError, match="mapping_kind='log'"):
        quantiles(ev, "value", qs=(0.5,), config=SketchConfig(mapping_kind="cubic"),
                  mode="sql").collect()


def test_sql_mode_null_group_key_survives(spark):
    """A NULL group key is a real group (SQL GROUP BY semantics, and the
    kernel paths keep it), with or without exact stats: the stats are
    columns of the bucket aggregate, so they group with the NULL key like
    the buckets do."""
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.when(F.col("id") % 4 == 3, None)
        .otherwise((F.col("id") % 4).cast("string"))
        .alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    for cfg in (
        SketchConfig(mapping_kind="log"),  # exact stats
        SketchConfig(mapping_kind="log", store_policy="unbounded", max_bins=0,
                     track_exact_stats=False),
    ):
        a = {r["k"]: r for r in quantiles(df, "v", by="k", qs=(0.5,), config=cfg, mode="kernel").collect()}
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
        # scalar reference over a direct build at this grouping: the rolled-up
        # sets finalize through the kernel, and SQL-mode rep values differ by
        # ~1 ulp (Spark EXP vs numpy)
        direct = scalar_finalize(build_partial_sketches(df, "v", s, cfg), s, (0.5, 0.95, 0.99))
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
