"""Interleaved A/B of two commits: the one tool behind every speed claim.

    python BENCH/ab.py PARENT CHANGE --workload transcripts_sql --pairs 10
    python BENCH/ab.py PARENT CHANGE --workload headline --pairs 5 [--keys k1,k2]

Each ref is written to a temporary directory with ``git archive`` (a
worktree would leave metadata in ``.git``). Pair i runs one leg of each side
with seed S+i, the parent first in even pairs. A leg is a fresh process in
its own session and process group, with the exported tree as its working
directory and on ``PYTHONPATH`` (Spark's Python workers import
``ddsparkle.spark.pydaemon`` from there). Its result is its last stdout line.

- ``transcripts``, ``transcripts_sql``: the tree's ``perfbench/run.py`` for
  ``run_seconds`` from ``BENCHMARK.json``.
- ``headline``: bench.py's session (``local[$SPARK_GRAFT_CPUS]``, 8 shuffle
  partitions, AQE off) at ``$SPARK_GRAFT_SF_DIR``; each key of the tree's
  ``bench.HEADLINE`` (or ``--keys``) runs once warm and once timed, and the
  sorted collected rows are hashed.

The report is the table CHANGES.md records: median [Q1, Q3] per side, Δ
median and the change's pair wins (ties count for neither side), and one
verdict per metric, tested in this order:

- claim met: at least ``MIN_CLAIM_PAIRS`` pairs, the change wins at least
  9/10 of them, and the medians differ by more than the parent's IQR;
- regression: the change's median is worse by more than the metric's bound
  in ``BENCHMARK.json``;
- unresolved: the parent's IQR exceeds the bound times its median, and not
  every change leg beats every parent leg;
- flat: none of these. Headline keys have no bound and read "-".

``headline`` adds per-key minima and their sums. A hash mismatch, a failed
leg or a perfbench run with a wrong answer exits with status 1. Every leg's
result goes into one JSON receipt in ``BENCH/``.

A leg past ``LEG_TIMEOUT_S`` gets SIGINT, so its Python process stops Spark
and removes its socket directory; what is left of its session after
``GRACE_S`` (the JVM, pyspark's worker daemon in its own process group) is
killed. Spark's local dirs lie in the temporary directory, removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECEIPT_DIR = HERE
SIDES = ("parent", "change")
HEADLINE_LEG = "headline-leg"  # argv[1] of a headline leg
LEG_TIMEOUT_S = 1200.0
GRACE_S = 30.0
MIN_CLAIM_PAIRS = 10
CLAIM_SHARE = 0.9


# ---- export and legs -------------------------------------------------------


def export(repo: str, ref: str, dest: str) -> str:
    """Write the tree of ``ref`` to ``dest``; return its commit id."""
    sha = subprocess.run(
        ["git", "-C", repo, "rev-parse", "--verify", f"{ref}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    os.makedirs(dest)
    proc = subprocess.Popen(["git", "-C", repo, "archive", sha], stdout=subprocess.PIPE)
    with proc.stdout, tarfile.open(fileobj=proc.stdout, mode="r|") as tar:
        tar.extractall(dest, filter="data")
    if proc.wait():
        raise subprocess.CalledProcessError(proc.returncode, "git archive")
    return sha


def session_members(sid: int) -> list[int]:
    """Live processes of session ``sid`` (zombies excluded)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # after "(comm)": state, ppid, pgrp, session, ...
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def kill_session(sid: int) -> None:
    for _ in range(100):
        pids = session_members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise RuntimeError(f"processes of session {sid} survive SIGKILL: {session_members(sid)}")


def run_leg(tree: str, argv: list[str], spark_local: str) -> dict:
    """Run one leg in ``tree``; return its last stdout line as a dict, or
    ``{"error": ...}``."""
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(p for p in (tree, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": spark_local,
    }
    t0 = time.perf_counter()
    with tempfile.TemporaryFile() as err:
        proc = subprocess.Popen(
            argv, cwd=tree, env=env, stdout=subprocess.PIPE, stderr=err,
            text=True, start_new_session=True,
        )
        timed_out = False
        try:
            out, _ = proc.communicate(timeout=LEG_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            timed_out = True
            os.killpg(proc.pid, signal.SIGINT)
            try:
                out, _ = proc.communicate(timeout=GRACE_S)
            except subprocess.TimeoutExpired:
                kill_session(proc.pid)
                out, _ = proc.communicate()
        finally:
            kill_session(proc.pid)  # the leg itself is a member until it exits
            proc.wait()
        err.seek(0)
        stderr_tail = err.read()[-4000:].decode(errors="replace")
    wall_s = round(time.perf_counter() - t0, 3)
    lines = [line for line in out.splitlines() if line.strip()]
    if timed_out:
        return {"error": f"timed out after {LEG_TIMEOUT_S:.0f} s", "stderr": stderr_tail, "wall_s": wall_s}
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"error": f"exit {proc.returncode}, no result line", "stderr": stderr_tail, "wall_s": wall_s}
    return {**result, "wall_s": wall_s}


def leg_argv(workload: str, seed: int, run_seconds: float, keys: list[str] | None) -> list[str]:
    if workload == "headline":
        return [sys.executable, os.path.abspath(__file__), HEADLINE_LEG, ",".join(keys or ())]
    return [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(run_seconds), "--trace", "0",
    ]


def headline_leg(keys: list[str]) -> None:
    """One headline leg, run in the exported tree: print
    ``{"queries": {key: {"sec", "hash", "rows"}}}``."""
    import bench
    import __spark_entry__ as entry
    from ddsparkle.spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(
        app_name="ab-headline",
        master=f"local[{cpus}]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        queries = entry.queries()
        out = {}
        for name in keys or bench.HEADLINE:
            fn = queries[name]
            fn(spark, sf_dir).collect()  # warm run, as bench.py
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).collect()
            sec = time.perf_counter() - t0
            digest = hashlib.md5("\n".join(sorted(repr(tuple(r)) for r in rows)).encode())
            out[name] = {"sec": round(sec, 4), "hash": digest.hexdigest(), "rows": len(rows)}
    finally:
        spark.stop()
    print(json.dumps({"queries": out}))


# ---- summary ---------------------------------------------------------------


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(median, Q1, Q3), quartiles interpolated as NumPy's default does."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def change_wins(parent: list[float], change: list[float], lower: bool) -> int:
    return sum((c < p) if lower else (c > p) for p, c in zip(parent, change))


def verdict(parent: list[float], change: list[float], bound: float | None, lower: bool) -> str:
    n = len(parent)
    p_med, p_q1, p_q3 = quartiles(parent)
    c_med = quartiles(change)[0]
    gain = (p_med - c_med) if lower else (c_med - p_med)
    if n >= MIN_CLAIM_PAIRS and change_wins(parent, change, lower) >= CLAIM_SHARE * n and gain > p_q3 - p_q1:
        return "claim met"
    if bound is None:
        return "-"
    if -gain > bound * abs(p_med):
        return "regression"
    every_change_better = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    if p_q3 - p_q1 > bound * abs(p_med) and not every_change_better:
        return "unresolved"
    return "flat"


def metric_row(name: str, parent: list[float], change: list[float], bound: float | None, lower: bool) -> dict:
    p_med = quartiles(parent)[0]
    c_med = quartiles(change)[0]
    return {
        "metric": name,
        "parent": parent,
        "change": change,
        "parent_q": quartiles(parent),
        "change_q": quartiles(change),
        "delta": (c_med - p_med) / p_med if p_med else float("nan"),
        "wins": change_wins(parent, change, lower),
        "pairs": len(parent),
        "verdict": verdict(parent, change, bound, lower),
    }


def complete(pairs: list[dict]) -> list[dict]:
    """Pairs in which both legs produced a result."""
    return [p for p in pairs if not any("error" in p[s] for s in SIDES)]


def perfbench_summary(pairs: list[dict], end_to_end: list[dict]) -> dict:
    done = complete(pairs)
    rows = [
        metric_row(
            m["name"],
            [p["parent"]["metrics"][m["name"]]["value"] for p in done],
            [p["change"]["metrics"][m["name"]]["value"] for p in done],
            m["bound"], m["better"] == "lower",
        )
        for m in end_to_end
    ] if done else []
    wrong = {s: sum(not p[s]["correct"] for p in done) for s in SIDES}
    ops = {s: [sum(p[s]["failed"] for p in done), sum(p[s]["attempted"] for p in done)] for s in SIDES}
    return {"rows": rows, "incorrect_legs": wrong, "failed_ops": ops, "ok": not any(wrong.values())}


def headline_summary(pairs: list[dict]) -> dict:
    done = complete(pairs)
    legs = [p[s]["queries"] for p in done for s in SIDES]
    keys = [k for k in (legs[0] if legs else ()) if all(k in q for q in legs)]
    # a key some leg did not run cannot be compared: it counts as a mismatch
    mismatched = sorted({k for q in legs for k in q} - set(keys))
    rows = []
    for key in keys:
        runs = {s: [p[s]["queries"][key] for p in done] for s in SIDES}
        if len({q["hash"] for s in SIDES for q in runs[s]}) != 1:
            mismatched.append(key)
        row = metric_row(key, *([q["sec"] for q in runs[s]] for s in SIDES), None, True)
        row["min"] = [min(row[s]) for s in SIDES]
        rows.append(row)
    totals = [[sum(p[s]["queries"][k]["sec"] for k in keys) for p in done] for s in SIDES]
    total = metric_row("leg total", *totals, None, True) if done else None
    return {"rows": rows, "total": total, "mismatched": mismatched, "ok": not mismatched}


def fmt(x: float) -> str:
    return f"{x:.4g}"


def spread(q: tuple[float, float, float]) -> str:
    return f"{fmt(q[0])} [{fmt(q[1])}, {fmt(q[2])}]"


def render(receipt: dict) -> str:
    s = receipt["summary"]
    head = (
        f"{receipt['workload']}: {receipt['parent']['sha'][:7]} ({receipt['parent']['ref']}) -> "
        f"{receipt['change']['sha'][:7]} ({receipt['change']['ref']}), "
        f"{len(complete(receipt['pairs']))}/{len(receipt['pairs'])} complete pairs, "
        f"seeds {receipt['seed']}..{receipt['seed'] + len(receipt['pairs']) - 1}"
    )
    out = [head, ""]
    if receipt["workload"] == "headline":
        out += [
            "| key | parent min | change min | speedup | parent | change | change wins | hashes | verdict |",
            "|---|---|---|---|---|---|---|---|---|",
        ]
        for r in s["rows"]:
            pmin, cmin = r["min"]
            out.append(
                f"| `{r['metric']}` | {fmt(pmin)} | {fmt(cmin)} | {pmin / cmin:.2f}x | "
                f"{spread(r['parent_q'])} | {spread(r['change_q'])} | {r['wins']}/{r['pairs']} | "
                f"{'DIFFER' if r['metric'] in s['mismatched'] else 'equal'} | {r['verdict']} |"
            )
        if s["total"]:
            pmin, cmin = (sum(r["min"][i] for r in s["rows"]) for i in (0, 1))
            t = s["total"]
            out.append(f"| sum of minima | {fmt(pmin)} | {fmt(cmin)} | {pmin / cmin:.2f}x | | | | | |")
            out.append(
                f"| leg total | {fmt(min(t['parent']))} | {fmt(min(t['change']))} | | "
                f"{spread(t['parent_q'])} | {spread(t['change_q'])} | {t['wins']}/{t['pairs']} | | {t['verdict']} |"
            )
    else:
        out += [
            "| workload | metric | parent | change | Δ median | change wins | verdict |",
            "|---|---|---|---|---|---|---|",
        ]
        for r in s["rows"]:
            out.append(
                f"| {receipt['workload']} | `{r['metric']}` | {spread(r['parent_q'])} | "
                f"{spread(r['change_q'])} | {r['delta']:+.1%} | {r['wins']}/{r['pairs']} | {r['verdict']} |"
            )
        out.append("")
        out.append(
            "failed operations: " + ", ".join(f"{side} {f}/{a}" for side, (f, a) in s["failed_ops"].items())
            + "; legs with a wrong answer: " + ", ".join(f"{side} {n}" for side, n in s["incorrect_legs"].items())
        )
    for i, p in enumerate(receipt["pairs"]):
        for side in SIDES:
            if "error" in p[side]:
                out.append(f"pair {i} {side} leg failed: {p[side]['error']}")
    if receipt["workload"] == "headline" and s["mismatched"]:
        out.append("result hashes differ: " + ", ".join(s["mismatched"]))
    return "\n".join(out)


# ---- main ------------------------------------------------------------------


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", help="the baseline ref")
    ap.add_argument("change", help="the ref under test")
    ap.add_argument("--workload", required=True, choices=("transcripts", "transcripts_sql", "headline"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=None, help="first pair's seed (default: random)")
    ap.add_argument("--keys", default=None, help="headline: comma-separated queries() keys instead of bench.HEADLINE")
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    if args.keys and args.workload != "headline":
        ap.error("--keys applies to --workload headline only")
    if args.workload == "headline" and not os.environ.get("SPARK_GRAFT_SF_DIR"):
        ap.error("--workload headline reads SPARK_GRAFT_SF_DIR; set it to the scale-factor directory")
    if args.seed is None:
        args.seed = random.SystemRandom().randrange(1, 1_000_000)
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        config = json.load(f)
    keys = args.keys.split(",") if args.keys else None
    receipt = {"workload": args.workload, "seed": args.seed, "keys": keys, "pairs": []}
    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        trees = {}
        for side, ref in zip(SIDES, (args.parent, args.change)):
            trees[side] = os.path.join(tmp, side)
            receipt[side] = {"ref": ref, "sha": export(ROOT, ref, trees[side])}
        spark_local = os.path.join(tmp, "spark-local")
        os.makedirs(spark_local)
        for i in range(args.pairs):
            seed = args.seed + i
            argv_ = leg_argv(args.workload, seed, config["run_seconds"], keys)
            pair = {"seed": seed, "first": SIDES[i % 2]}
            for side in (SIDES if i % 2 == 0 else SIDES[::-1]):
                pair[side] = run_leg(trees[side], argv_, spark_local)
                print(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                      f"{pair[side].get('error') or 'ok'} ({pair[side]['wall_s']} s)",
                      file=sys.stderr, flush=True)
            receipt["pairs"].append(pair)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if args.workload == "headline":
        receipt["summary"] = headline_summary(receipt["pairs"])
    else:
        receipt["summary"] = perfbench_summary(receipt["pairs"], config["end_to_end"])
    name = f"ab_{receipt['parent']['sha'][:7]}_{receipt['change']['sha'][:7]}_{args.workload}_s{args.seed}.json"
    path = os.path.join(RECEIPT_DIR, name)
    with open(path, "w") as f:
        json.dump(receipt, f, indent=1)
    print(render(receipt))
    print(f"receipt: {path}")
    failed_legs = len(receipt["pairs"]) - len(complete(receipt["pairs"]))
    return 0 if receipt["summary"]["ok"] and not failed_legs else 1


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if sys.argv[1:2] == [HEADLINE_LEG]:
        headline_leg([k for k in sys.argv[2].split(",") if k])
    else:
        sys.exit(main())
