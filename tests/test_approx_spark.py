"""Spark tests for the HLL/CMS/Bloom aggregation layer: estimates vs exact,
partition invariance, grouped paths.
"""

import numpy as np
import pandas as pd
import pytest

from ddsparkle.sketches import HyperLogLog
from ddsparkle.spark.approx import bloom_membership, cms_frequencies, hll_distinct

pytestmark = pytest.mark.spark


def test_hll_distinct_global(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    res = hll_distinct(df, "o_custkey", p=14).collect()[0]
    exact = df.select("o_custkey").distinct().count()
    assert abs(res["distinct_est"] - exact) / exact < 5 * res["rse"]


def test_hll_partition_invariance(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    a = hll_distinct(df.repartition(1), "o_custkey").collect()[0]["distinct_est"]
    b = hll_distinct(df.repartition(11), "o_custkey").collect()[0]["distinct_est"]
    assert a == b  # register-max merge is exactly partition-independent


def test_hll_grouped(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = hll_distinct(df, "user_id", by="event_type", p=14).collect()
    exact = {
        r["event_type"]: r["cnt"]
        for r in df.groupBy("event_type")
        .agg({"user_id": "approx_count_distinct"})
        .withColumnRenamed("approx_count_distinct(user_id)", "cnt")
        .collect()
    }
    # compare to Spark's own HLL++ within combined tolerance
    for r in rows:
        ours, theirs = r["distinct_est"], exact[r["event_type"]]
        assert abs(ours - theirs) / max(theirs, 1) < 0.1


def test_cms_frequencies(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    probes = ["click", "signup", "error", "nosuchtype"]
    res = {r["probe"]: r["est_freq"] for r in cms_frequencies(df, "event_type", probes).collect()}
    exact = {r["event_type"]: r["count"] for r in df.groupBy("event_type").count().collect()}
    n = df.count()
    for p in probes[:3]:
        assert res[p] >= exact[p] - 1e-9  # overestimate only
        assert res[p] - exact[p] <= (2.718 / 8192) * n + 1e-9
    assert res["nosuchtype"] <= (2.718 / 8192) * n + 1e-9


def test_bloom_membership(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customers = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # who among all customers placed an order?
    res = bloom_membership(orders, "o_custkey", customers, "c_custkey", n_bits=1 << 20)
    rows = res.collect()
    truth = {r[0] for r in orders.select("o_custkey").distinct().collect()}
    members = {r["c_custkey"] for r in rows if r["member"]}
    non_members = {r["c_custkey"] for r in rows if not r["member"]}
    assert truth <= members  # no false negatives
    fp = len(members - truth)
    assert fp / max(len(rows), 1) < 0.02
    assert non_members.isdisjoint(truth)


def test_kll_quantiles_spark(spark, sf_dir):
    import numpy as np
    from ddsparkle.spark.approx import kll_quantiles

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = kll_quantiles(df, "value", qs=(0.5, 0.95)).collect()[0]
    vals = np.sort(df.select("value").toPandas()["value"].to_numpy())
    n = len(vals)
    assert res["count"] == n
    for q, col in [(0.5, "q50"), (0.95, "q95")]:
        true_rank = np.searchsorted(vals, res[col], side="right") / n
        assert abs(true_rank - q) < 0.05


def test_tdigest_quantiles_spark(spark, sf_dir):
    import numpy as np
    from ddsparkle.spark.approx import tdigest_quantiles

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    res = tdigest_quantiles(df, "l_extendedprice", by="l_returnflag", qs=(0.5, 0.99)).collect()
    pdf = df.select("l_returnflag", "l_extendedprice").toPandas()
    for r in res:
        vals = np.sort(
            pdf[pdf["l_returnflag"] == r["l_returnflag"]]["l_extendedprice"].to_numpy()
        )
        assert r["count"] == len(vals)
        for q, col in [(0.5, "q50"), (0.99, "q99")]:
            true_rank = np.searchsorted(vals, r[col], side="right") / len(vals)
            assert abs(true_rank - q) < 0.05


def test_heavy_hitters_exact_two_pass(spark, sf_dir):
    from ddsparkle.spark.approx import heavy_hitters

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = heavy_hitters(df, "event_type", k=3, mg_k=64).collect()
    truth = (
        df.groupBy("event_type").count().orderBy("count", ascending=False).collect()
    )
    assert [r["value"] for r in got] == [r["event_type"] for r in truth[:3]]
    assert [r["freq"] for r in got] == [float(r["count"]) for r in truth[:3]]


def test_validate_quantiles_self_check(spark, sf_dir):
    """The at-scale accuracy monitor: sample-based validation of a
    quantiles() result stays within alpha + sampling slack."""
    from ddsparkle.spark.agg import quantiles
    from ddsparkle.spark.approx import validate_quantiles

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    res = quantiles(df, "l_extendedprice", qs=(0.5, 0.95)).collect()[0]
    errs = validate_quantiles(
        df, "l_extendedprice", res, {0.5: "q50", 0.95: "q95"}, alpha=0.01, m=20_000
    )
    for col, e in errs.items():
        assert e <= 0.01 + 0.05, (col, e)  # alpha + generous sampling slack


def test_kmv_overlap_matrix_exact_when_unsaturated(spark):
    """Grouped KMV overlap matrix vs exact pairwise set arithmetic: with
    k >= every pair's distinct union the matrix is EXACT (the regime the
    driver gate pins); all unordered pairs appear, including
    zero-intersection ones."""
    from ddsparkle.spark.approx import kmv_overlap_matrix

    rows = (
        [("a", f"v{i}") for i in range(40)]  # a: v0..v39
        + [("b", f"v{i}") for i in range(20, 70)]  # b: v20..v69 (|a&b|=20)
        + [("c", f"w{i}") for i in range(10)]  # c: disjoint
        + [("a", "v0"), ("b", "v20")]  # duplicates must not count twice
    )
    df = spark.createDataFrame(rows, "g string, v string").repartition(5)
    out = {
        (r["group_a"], r["group_b"]): r
        for r in kmv_overlap_matrix(df, "v", "g", k=256).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    assert (ab["distinct_a"], ab["distinct_b"], ab["intersection"]) == (40, 50, 20)
    assert ab["jaccard"] == 20 / 70
    ac = out[("a", "c")]
    assert (ac["intersection"], ac["jaccard"]) == (0.0, 0.0)
    # saturated regime: still within the documented rse bound
    big = spark.createDataFrame(
        [("x", f"u{i}") for i in range(3000)] + [("y", f"u{i}") for i in range(1500, 4500)],
        "g string, v string",
    )
    m = kmv_overlap_matrix(big, "v", "g", k=64).collect()[0]
    assert abs(m["distinct_a"] - 3000) <= 4 * m["rse"] * 3000
    assert abs(m["intersection"] - 1500) <= 0.5 * 1500 + 64  # coarse sanity


def test_keyless_all_null_input_gives_one_row(spark):
    """A keyless sketch over rows that are all NULL finalizes to one
    count-0 row (CMS: one row per probe), as DDSketch's paths do; an empty
    input still gives no rows."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.approx import kll_quantiles, tdigest_quantiles

    df = spark.range(3).select(
        F.lit(None).cast("string").alias("s"), F.lit(None).cast("double").alias("x")
    ).repartition(2)
    assert [r.asDict() for r in hll_distinct(df, "s").collect()] == [
        {"distinct_est": 0.0, "rse": pytest.approx(1.04 / 2**7)}
    ]
    for fn in (kll_quantiles, tdigest_quantiles):
        (row,) = fn(df, "x", qs=(0.5,)).collect()
        assert row["count"] == 0.0 and row["q50"] is None
    assert sorted(
        (r["probe"], r["est_freq"]) for r in cms_frequencies(df, "s", ["a", "b"]).collect()
    ) == [("a", 0.0), ("b", 0.0)]
    assert hll_distinct(df.limit(0), "s").collect() == []
    assert cms_frequencies(df.limit(0), "s", ["a"]).collect() == []


def test_profile_table_all_null_string_column(spark):
    from ddsparkle.spark.dataops import profile_table

    df = spark.createDataFrame([(None, 1.0), (None, 2.0), (None, 3.0)], "s string, v double")
    row = {r["column"]: r for r in profile_table(df, columns=["s"]).collect()}["s"]
    assert (row["n_null"], row["n_distinct"], row["distinct_within_3rse"]) == (3, 0, True)


def _scalar_fold(payloads, from_payload):
    acc = from_payload(payloads[0])
    for b in payloads[1:]:
        acc.merge(from_payload(b))
    return acc.to_bytes()


@pytest.mark.parametrize("kind", ["hll", "cms", "kmv"])
def test_fold_payloads_matches_scalar_fold(spark, kind):
    """_fold_payloads without finalize equals a scalar from_payload/merge
    fold over each key's partials, byte for byte, across Arrow batch
    boundaries, a NULL key part, a two-column key, and single- and
    many-partial keys; a single partial comes back unparsed."""
    from ddsparkle.sketches import CountMinSketch, HyperLogLog
    from ddsparkle.sketches.kmv import KMVSketch
    from ddsparkle.spark.approx import _fold_payloads

    make, from_payload = {
        "hll": (lambda: HyperLogLog(p=11), lambda b: HyperLogLog.from_bytes(b, 11, 0)),
        "cms": (
            lambda: CountMinSketch(depth=3, width=64),
            lambda b: CountMinSketch.from_bytes(b, 3, 64, 0),
        ),
        "kmv": (lambda: KMVSketch(k=16), lambda b: KMVSketch.from_bytes(b, seed=0)),
    }[kind]
    keys = [("a", 1), ("a", 2), ("b", 1), (None, 1), ("a", None), ("c", 3)]
    n_partials = {("a", 1): 9, ("a", 2): 1, ("b", 1): 4, (None, 1): 3, ("a", None): 2, ("c", 3): 1}
    rows = []
    for ki, key in enumerate(keys):
        for i in range(n_partials[key]):
            sk = make()
            sk.update(pd.Series([f"v{ki}-{j}" for j in range(i * 5, i * 5 + 40)]))
            rows.append((*key, sk.to_bytes()))
    partials = spark.createDataFrame(rows, "k string, j long, payload binary").repartition(5)
    want = {}
    for k, j, b in rows:
        want.setdefault((k, j), []).append(b)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = _fold_payloads(partials, ["k", "j"], from_payload).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    got = {(r["k"], r["j"]): bytes(r["payload"]) for r in got}
    assert set(got) == set(want)
    for key, payloads in want.items():
        expect = payloads[0] if len(payloads) == 1 else _scalar_fold(payloads, from_payload)
        assert got[key] == expect, key


def test_reduce_payloads_tree_matches_driver_fold(spark, monkeypatch):
    """Above _FAN_IN partitions _reduce_payloads first folds the per-task
    payloads by partition id; with the fan-in at 2, a 9-partition input
    takes that path and the merged sketch equals the direct driver fold
    byte for byte."""
    from pyspark.sql import functions as F

    from ddsparkle.sketches.ams import AMSSketch
    from ddsparkle.spark import approx

    df = spark.range(5000).select(((F.col("id") * 7919) % 1013).alias("v")).repartition(9)
    cases = [
        (
            lambda: HyperLogLog(p=11),
            lambda sk, v: sk.update(v),
            lambda b: HyperLogLog.from_bytes(b, 11, 0),
        ),
        (
            lambda: AMSSketch(n_counters=64),
            lambda sk, v: sk.update(v.to_numpy(np.int64)),
            AMSSketch.from_bytes,
        ),
    ]
    for make, update, from_payload in cases:
        partials = approx._build_payload_partials(df, "v", [], make, update)
        assert partials.rdd.getNumPartitions() == 9
        payloads = [bytes(r["payload"]) for r in partials.collect()]
        want = _scalar_fold(payloads, from_payload)
        assert approx._reduce_payloads(partials, from_payload).to_bytes() == want
        with monkeypatch.context() as m:
            folds = []
            fold = approx._fold_payloads

            def spy(partials, key_cols, *args):
                folds.append(key_cols)
                return fold(partials, key_cols, *args)

            m.setattr(approx, "_fold_payloads", spy)
            m.setattr(approx, "_FAN_IN", 2)
            got = approx._reduce_payloads(partials, from_payload)
        assert folds == [["__s"]]
        assert got.to_bytes() == want
