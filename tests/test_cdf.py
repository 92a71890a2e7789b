"""Inverse-quantile (value->rank / CDF) tests: kernel semantics against an
explicit bucket model, accuracy against the exact CDF within the mapping's
relative-accuracy contract, and the Spark aggregation against the kernel."""

import numpy as np
import pytest

from ddsparkle.config import SketchConfig
from ddsparkle.mapping import LogarithmicMapping
from ddsparkle.sketch import DDSketch, sketch_of


def _model_cdf(sk, xs):
    values, counts = sk._walk_arrays()
    total = counts.sum()
    return np.array([counts[values <= x].sum() / total for x in xs])


def test_cdf_matches_bucket_model():
    rng = np.random.default_rng(0)
    vals = np.concatenate([rng.lognormal(3, 1, 5000), -rng.lognormal(1, 1, 2000), [0.0] * 50])
    sk = sketch_of(vals, mapping=LogarithmicMapping.from_relative_accuracy(0.01))
    xs = np.array([-50.0, -1.0, 0.0, 1e-12, 5.0, 20.0, 100.0, 1e6])
    assert sk.cdf_at_values(xs) == pytest.approx(_model_cdf(sk, xs), abs=0)


def test_cdf_monotone_and_bounded():
    rng = np.random.default_rng(1)
    sk = sketch_of(rng.exponential(10, 10000), mapping=LogarithmicMapping.from_relative_accuracy(0.02))
    xs = np.linspace(-5, 100, 211)
    c = sk.cdf_at_values(xs)
    assert np.all(np.diff(c) >= 0)
    assert c[0] == 0.0
    assert c[-1] <= 1.0
    assert sk.cdf_at_values([1e18])[0] == pytest.approx(1.0)


def test_cdf_value_axis_accuracy():
    """cdf(x) must equal the exact CDF of some point within relative
    distance 2*alpha of x (each bucket's mass sits at a representative
    within alpha of every value it absorbed)."""
    rng = np.random.default_rng(2)
    vals = rng.lognormal(2, 1, 50000)
    alpha = 0.01
    sk = sketch_of(vals, mapping=LogarithmicMapping.from_relative_accuracy(alpha))
    svals = np.sort(vals)
    for x in [1.0, 5.0, 10.0, 30.0, 120.0]:
        est = sk.cdf_at_values([x])[0]
        lo = np.searchsorted(svals, x / (1 + 2 * alpha), side="right") / len(svals)
        hi = np.searchsorted(svals, x * (1 + 2 * alpha), side="right") / len(svals)
        assert lo - 1e-12 <= est <= hi + 1e-12, (x, lo, est, hi)


def test_cdf_empty_raises():
    sk = DDSketch(mapping=LogarithmicMapping.from_relative_accuracy(0.01))
    with pytest.raises(LookupError):
        sk.cdf_at_values([1.0])


@pytest.mark.spark
def test_spark_cdf_matches_kernel(spark, sf_dir):
    from ddsparkle.spark.agg import cdf_at_values

    cfg = SketchConfig(mapping_kind="log", relative_accuracy=0.01,
                       store_policy="unbounded", max_bins=0, track_exact_stats=False)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    xs = [50.0, 100.0, 500.0]
    rows = {
        r["event_type"]: r
        for r in cdf_at_values(df, "value", xs, by="event_type", config=cfg).collect()
    }
    vals_by_type = {}
    for r in df.select("event_type", "value").collect():
        vals_by_type.setdefault(r[0], []).append(r[1])
    for et, vals in vals_by_type.items():
        sk = cfg.new_sketch()
        sk.accept(np.asarray(vals, np.float64))
        want = sk.cdf_at_values(xs)
        got = [rows[et][c] for c in ("cdf_50", "cdf_100", "cdf_500")]
        assert got == pytest.approx(list(want), rel=1e-12)
        assert rows[et]["count"] == pytest.approx(len(vals))


def test_cdf_nan_probe_propagates():
    sk = sketch_of(np.arange(1.0, 100.0), mapping=LogarithmicMapping.from_relative_accuracy(0.01))
    out = sk.cdf_at_values([10.0, float("nan"), 50.0])
    assert not np.isnan(out[0]) and not np.isnan(out[2])
    assert np.isnan(out[1])


@pytest.mark.spark
def test_nan_probe_raises_on_every_spark_path(spark, sf_dir):
    """A NaN probe is an error in every distributed CDF path — kernel, sql,
    the SQL generator and rollup reads — not a NULL column on some of them.
    (The scalar ``DDSketch.cdf_at_values`` keeps returning NaN.)"""
    from ddsparkle.spark.agg import cdf_at_values, ddsketch_cdf_spark_sql
    from ddsparkle.spark.rollup import build_rollup, rollup_cdf

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    cfg = SketchConfig(mapping_kind="log", track_exact_stats=False)
    xs = [50.0, float("nan")]
    roll = build_rollup(df, "value", by="event_type", config=cfg)
    calls = [
        lambda: cdf_at_values(df, "value", xs, by="event_type", config=cfg, mode="kernel"),
        lambda: cdf_at_values(df, "value", xs, config=cfg, mode="kernel"),
        lambda: cdf_at_values(df, "value", xs, by="event_type", config=cfg, mode="sql"),
        lambda: ddsketch_cdf_spark_sql("t", "value", xs, config=cfg),
        lambda: rollup_cdf(roll, xs, by="event_type"),
        lambda: rollup_cdf(roll, xs),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="NaN is not a valid CDF probe"):
            call().collect()


def test_cdf_column_name_full_precision():
    from ddsparkle.spark.agg import cdf_column_name

    # %g's 6 significant digits would collide these two probes
    assert cdf_column_name(123456700.0) != cdf_column_name(123456800.0)
    for x in (42.0, 0.5, -3.0, 1.5e300, 123456700.0):
        name = cdf_column_name(x)
        assert name.replace("_", "a").isalnum(), name


@pytest.mark.spark
def test_spark_cdf_weighted_matches_kernel(spark, sf_dir):
    from pyspark.sql import functions as F

    from ddsparkle.spark.agg import cdf_at_values

    cfg = SketchConfig(mapping_kind="log", relative_accuracy=0.01,
                       store_policy="unbounded", max_bins=0, track_exact_stats=False)
    df = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "w", (F.col("user_id") % 3 + 1).cast("double")
    )
    xs = [100.0]
    got = cdf_at_values(df, "value", xs, config=cfg, weight_col="w").collect()[0]
    rows = df.select("value", "w").collect()
    sk = cfg.new_sketch()
    sk.accept(np.array([r[0] for r in rows]), np.array([r[1] for r in rows]))
    assert got["cdf_100"] == pytest.approx(float(sk.cdf_at_values(xs)[0]), rel=1e-12)
    assert got["count"] == pytest.approx(sk.count)


@pytest.mark.spark
@pytest.mark.parametrize(
    "by,weighted,policy,max_bins,shift,stats",
    [
        (None, False, "unbounded", 0, 0.0, False),
        ("event_type", False, "unbounded", 0, 0.0, False),
        ("event_type", True, "unbounded", 0, 0.0, False),
        ("event_type", False, "collapsing_lowest", 64, 0.0, False),
        (None, False, "collapsing_highest", 64, 100.0, False),  # mixed-sign values
        # exact-stats configs: the bucket total is the exact count, so the
        # sql plan is the stats-less one
        (None, False, "unbounded", 0, 0.0, True),
        ("event_type", True, "unbounded", 0, 0.0, True),
        ("event_type", False, "collapsing_lowest", 64, 0.0, True),
    ],
)
def test_cdf_sql_mode_matches_kernel(spark, sf_dir, by, weighted, policy, max_bins, shift, stats):
    """mode='sql' (two hash aggregates, no Python) must produce the exact
    same count ratios as the kernel path — counts are integral, so equality
    is exact, not approximate."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.agg import cdf_at_values

    cfg = SketchConfig(mapping_kind="log", relative_accuracy=0.01,
                       store_policy=policy, max_bins=max_bins, track_exact_stats=stats)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if shift:
        df = df.withColumn("value", F.col("value") - shift)
    if weighted:
        df = df.withColumn("w", (F.col("user_id") % 3 + 1).cast("double"))
    kw = dict(by=by, config=cfg, weight_col="w" if weighted else None)
    xs = [-20.0, 50.0, 500.0]
    a = cdf_at_values(df, "value", xs, mode="sql", **kw)
    b = cdf_at_values(df, "value", xs, mode="kernel", **kw)
    cols = sorted(a.columns)
    key = [c for c in cols if c == by]
    pa = a.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    pb = b.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    assert pa.equals(pb), (pa, pb)


@pytest.mark.spark
def test_cdf_sql_mode_plan_pure_jvm(spark, sf_dir):
    """The sql-mode CDF plan must contain no Python evaluation and no sort/
    window — two hash aggregates inside whole-stage codegen."""
    from ddsparkle.spark.agg import cdf_at_values

    cfg = SketchConfig(mapping_kind="log", relative_accuracy=0.01,
                       store_policy="unbounded", max_bins=0, track_exact_stats=False)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = (
        cdf_at_values(df, "value", [100.0], by="event_type", config=cfg, mode="sql")
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("Python", "ArrowEval", "FlatMapGroups", "Window", "Sort"):
        assert bad not in plan, f"{bad} in sql-mode CDF plan"
    assert plan.count("HashAggregate") >= 2


@pytest.mark.spark
def test_cdf_exact_stats_auto_routes_to_sql(spark, sf_dir):
    """Exact-stats configs must auto-route to the pure-Catalyst plan. With
    an unbounded store the plan is still window/sort-free: two hash
    aggregates over one scan, and no join (the bucket total is the exact
    count). The DEFAULT config (collapsing store) also routes to SQL — its
    clamp needs one window, but no Python stage anywhere."""
    from ddsparkle.spark.agg import cdf_at_values

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    cfg = SketchConfig(mapping_kind="log", relative_accuracy=0.01,
                       store_policy="unbounded", max_bins=0)
    assert cfg.track_exact_stats
    plan = (
        cdf_at_values(df, "value", [100.0], by="event_type", config=cfg)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("Python", "ArrowEval", "FlatMapGroups", "Window", "Sort"):
        assert bad not in plan, f"{bad} in auto-routed exact-stats CDF plan"
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan and plan.count("FileScan parquet") == 1, plan

    default_plan = (
        cdf_at_values(df, "value", [100.0], by="event_type",
                      config=SketchConfig(mapping_kind="log", relative_accuracy=0.01))
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("Python", "ArrowEval", "FlatMapGroups"):
        assert bad not in default_plan, f"{bad} in default-config CDF plan"


@pytest.mark.spark
def test_spark_cdf_global(spark, sf_dir):
    from ddsparkle.spark.agg import cdf_at_values

    cfg = SketchConfig(mapping_kind="log", relative_accuracy=0.01,
                       store_policy="unbounded", max_bins=0, track_exact_stats=False)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = cdf_at_values(df, "value", [100.0], config=cfg).collect()
    assert len(out) == 1
    exact = df.filter("value <= 100.0").count() / df.filter("value is not null").count()
    # value-axis contract, translated through the empirical CDF's density
    assert out[0]["cdf_100"] == pytest.approx(exact, abs=0.05)


def test_percentile_rank_scores_matches_local_kernel(spark):
    """Every row's score equals the locally-built group sketch's
    cdf_at_values at that row's value; NULL values and all-NULL groups
    score NULL; ungrouped path agrees with the global sketch."""
    import numpy as np

    from ddsparkle.spark.agg import percentile_rank_scores

    rng = np.random.default_rng(9)
    rows = []
    for i in range(2000):
        g = f"t{i % 3}"
        rows.append((i, g, float(rng.lognormal(3.0, 1.0))))
    rows += [(9001, "t0", None), (9002, "tnull", None)]  # NULL value, all-NULL group
    df = spark.createDataFrame(rows, "rid long, g string, v double").repartition(6)
    cfg = SketchConfig(mapping_kind="log", relative_accuracy=0.01,
                       store_policy="unbounded", max_bins=0,
                       track_exact_stats=False)
    got = {r["rid"]: r for r in percentile_rank_scores(df, "v", by="g", config=cfg).collect()}

    # local replay per group
    by_g = {}
    for rid, g, v in rows:
        if v is not None:
            by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        sk = sketch_of(np.asarray(vs), LogarithmicMapping.from_relative_accuracy(0.01))
        want = sk.cdf_at_values(np.asarray(vs))
        ids = [rid for rid, gg, v in rows if gg == g and v is not None]
        for rid, w in zip(ids, want):
            assert got[rid]["pct_rank"] == pytest.approx(float(w), abs=1e-12)
    assert got[9001]["pct_rank"] is None
    assert got[9002]["pct_rank"] is None
    # schema passthrough + bounds
    for r in got.values():
        if r["pct_rank"] is not None:
            assert 0.0 <= r["pct_rank"] <= 1.0

    # ungrouped path
    allv = [v for _, _, v in rows if v is not None]
    skg = sketch_of(np.asarray(allv), LogarithmicMapping.from_relative_accuracy(0.01))
    got0 = {r["rid"]: r for r in percentile_rank_scores(df, "v", config=cfg).collect()}
    wantg = skg.cdf_at_values(np.asarray(allv))
    ids = [rid for rid, _, v in rows if v is not None]
    for rid, w in zip(ids, wantg):
        assert got0[rid]["pct_rank"] == pytest.approx(float(w), abs=1e-12)


def test_percentile_rank_scores_against_frozen_reference(spark):
    """reference_df ranks rows within the REFERENCE distribution (the
    anomaly-scoring formulation a window percent_rank cannot express):
    scoring a batch of values far above the reference yields ranks ~1.0,
    and a group absent from the reference scores NULL."""
    import numpy as np

    from ddsparkle.spark.agg import percentile_rank_scores

    cfg = SketchConfig(mapping_kind="log", relative_accuracy=0.01,
                       store_policy="unbounded", max_bins=0,
                       track_exact_stats=False)
    ref = spark.createDataFrame(
        [("g", float(v)) for v in np.linspace(1, 100, 500)], "g string, v double"
    )
    new = spark.createDataFrame(
        [(1, "g", 1000.0), (2, "g", 50.0), (3, "h", 5.0)],
        "rid long, g string, v double",
    )
    got = {
        r["rid"]: r
        for r in percentile_rank_scores(
            new, "v", by="g", config=cfg, reference_df=ref
        ).collect()
    }
    assert got[1]["pct_rank"] == 1.0  # far above every reference value
    assert got[2]["pct_rank"] == pytest.approx(0.5, abs=0.02)
    assert got[3]["pct_rank"] is None  # group unseen in the reference
