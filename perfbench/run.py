"""ddsparkle benchmark: closed-loop passes over the north-star transcript
queries and a persisted sketch rollup, with every output checked.

    python3 perfbench/run.py --workload transcripts --seed 1 --seconds 15 --trace 0

Run it from the repository root. One driver thread runs one operation at a
time on ``local[<cpus>]`` with bench.py's session settings (shuffle
partitions 8, AQE off). A run:

1. times a fixed NumPy + pure-Python loop in a fresh subprocess
   (``host.calib_s``, reported, never gated);
2. starts the session, generates the seed's transcript table to parquet
   and computes the reference answers (workload.py);
3. warms up with the workload's ``WARMUP_PASSES`` whole passes;
4. runs passes for ``--seconds`` and reports medians (``--trace 0``), or
   runs half the time untraced and half traced and reports per-layer
   numbers (``--trace 1``).

``setup_s`` is the time from process start to the first timed pass, so it
holds steps 1-3. A query is timed as the library call plus ``collect()``:
global kernel-path ``quantiles()`` runs its job inside the call. The last
stdout line is one JSON object; the full record (every pass, operation,
span and failure) is written under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()  # process start, for setup_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Warm-up passes per workload. The first pass is cold (Python workers
# import the library, Janino compiles each plan) and the JIT keeps shaving
# later passes. A transcripts pass is within a few % of steady state from
# the third pass on. transcripts_sql passes fall for longer (median over 49
# runs on a 4-core host: 10.6, 4.5, 4.2, 3.8, 3.5, 3.3, 3.0, 2.8 s), more
# than a run can spend, so the count is fixed: a time- or gain-based stop
# warmed some runs one pass less than others, and that alone moved pass_s
# by ~20%.
WARMUP_PASSES = {"transcripts": 2, "transcripts_sql": 5}

CALIB_CODE = r"""
import time
import numpy as np
t0 = time.perf_counter()
a = np.arange(1 << 21, dtype=np.float64)
for _ in range(40):
    a = np.sqrt(a * a + 1.0)
s = 0
for i in range(1_000_000):
    s += i * i % 7
print(time.perf_counter() - t0)
"""


def host_calibration() -> float:
    """Fixed CPU work in a fresh interpreter (forking after the JVM starts
    deadlocks, so this runs first and never forks this process)."""
    res = subprocess.run(
        [sys.executable, "-c", CALIB_CODE], capture_output=True, text=True,
        timeout=120, check=True,
    )
    return float(res.stdout.strip().splitlines()[-1])


# ---- process tree: peak memory and clean shutdown --------------------------


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(pid: int) -> list:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, []))
        todo.extend(kids.get(p, []))
    return out


def reset_peak_rss() -> None:
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss() -> dict:
    """VmHWM (MB) of this process, the JVM and the Python workers, by pid."""
    out = {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
        except (OSError, KeyError, ValueError):
            pass
    return out


def start_session(work: str, ev_dir: str | None):
    from ddsparkle.spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        # bench.py's session settings
        "spark.ui.enabled": "false",
        "spark.sql.adaptive.enabled": "false",
        # keep every file the session writes inside the checkout
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: the JVM's peak RSS then does not depend on when
        # it decided to grow the heap
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}",
        "spark.ui.showConsoleProgress": "false",
    }
    if ev_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ev_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="ddsparkle-perfbench", master=f"local[{cpus}]",
        shuffle_partitions=8, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the JVM and wait until every child has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


# ---- passes ----------------------------------------------------------------


class Runner:
    """Runs passes and keeps every operation's span."""

    def __init__(self, mix, tracer=None):
        self.mix, self.tracer = mix, tracer
        self.spans: list = []
        self.n_passes = 0

    def run_pass(self, phase: str) -> float:
        """One pass of the workload's mix. Returns the summed operation time."""
        pass_id = self.n_passes
        self.n_passes += 1
        total = 0.0
        for op in self.mix.next_pass():
            span = self._run_op(op, f"p{pass_id}.{op.name}")
            span.update(phase=phase, pass_id=pass_id)
            self.spans.append(span)
            total += span.get("latency_s", 0.0)
        return total

    def _run_op(self, op, tag: str) -> dict:
        tracer = self.tracer
        span = {"op": op.name, "kind": op.kind, "tag": tag, "traced": tracer is not None}
        try:
            if tracer:
                tracer.tag(tag)
            span["wall_t0"] = time.time()
            t0 = time.perf_counter()
            df = op.call()
            span["call_s"] = time.perf_counter() - t0
            if tracer and df is not None:
                span["eager"] = tracer.ran_jobs(tag)
            t1 = time.perf_counter()
            rows = df.collect() if df is not None else None
            span["collect_s"] = time.perf_counter() - t1
            span["wall_t1"] = time.time()
            span["latency_s"] = span["call_s"] + span["collect_s"]
            if tracer:
                if df is not None:
                    span["phases"] = tracer.phases(df)
                span["profile"] = tracer.profile()
            if op.check:
                op.check(rows)
            span["ok"] = True
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            span["ok"] = False
            span["error"] = f"{type(exc).__name__}: {exc}"[:2000]
            span["traceback"] = traceback.format_exc()[-4000:]
        return span

    def timed(self, seconds: float, phase: str) -> list:
        """Passes for about ``seconds`` (at least one): a pass starts only
        while the deadline is more than half the last pass away."""
        passes = []
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() + passes[-1] / 2 < deadline:
            passes.append(self.run_pass(phase))
        return passes

    def warm_up(self, n: int) -> list:
        return [self.run_pass("warmup") for _ in range(n)]


def median_of(spans, kind) -> tuple:
    lat = [s["latency_s"] for s in spans if s["kind"] == kind and "latency_s" in s]
    return (statistics.median(lat) if lat else 0.0), len(lat)


# ---- main ------------------------------------------------------------------


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # the library is imported from the checkout, by this process and by
    # the Python workers Spark starts
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import numpy as np

    import tracing as tr
    import workload as wl

    name = f"{args.workload}_seed{args.seed}_trace{args.trace}_{os.getpid()}"
    out_dir = os.path.join(HERE, "out", name)
    work = os.path.join(out_dir, "work")
    ev_dir = os.path.join(out_dir, "eventlog") if args.trace else None
    for d in (work, os.path.join(work, "tmp"), ev_dir):
        if d:
            os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    data_path = os.path.join(work, "transcripts.parquet")
    rollup_path = os.path.join(work, "rollup")

    record: dict = {"args": vars(args)}
    record["host_calib_s"] = host_calibration()

    t0 = time.perf_counter()
    spark = start_session(work, ev_dir)
    try:
        record["session_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.generate(spark, args.seed, data_path)
        record["gen_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        ref = wl.Reference(
            data_path, wl.config(args.workload), args.workload == "transcripts",
            np.random.default_rng(args.seed),
        )
        record["reference_s"] = time.perf_counter() - t0
        record["windows"] = ref.windows

        mix = wl.operations(spark, data_path, rollup_path, ref, np.random.default_rng([args.seed, 1]))
        runner = Runner(mix)
        t0 = time.perf_counter()
        record["warmup_passes"] = runner.warm_up(WARMUP_PASSES[args.workload])
        record["warmup_s"] = time.perf_counter() - t0
        record["setup_s"] = time.perf_counter() - T_START

        reset_peak_rss()
        if args.trace:
            record["untraced_passes"] = runner.timed(args.seconds / 2, "untraced")
            runner.tracer = tr.Tracer(spark)
            runner.tracer.enable_profiler()
            record["traced_passes"] = runner.timed(args.seconds / 2, "traced")
        else:
            record["passes"] = runner.timed(args.seconds, "timed")
        record["peak_rss_by_process"] = peak_rss()
        record["peak_rss_mb"] = sum(record["peak_rss_by_process"].values())
        app_id = spark.sparkContext.applicationId
    finally:
        stop_session(spark)

    spans = runner.spans
    record["spans"] = spans
    failures = [s for s in spans if not s["ok"]]
    attempted, failed = len(spans), len(failures)

    if args.trace:
        log = tr.parse_event_log(os.path.join(ev_dir, app_id))
        metrics = layer_metrics(record, spans, log, rollup_path, wl, tr)
    else:
        timed = [s for s in spans if s["phase"] == "timed"]
        q50, n_q = median_of(timed, "query")
        record["samples"] = {"passes": len(record["passes"]), "query": n_q}
        metrics = {
            "setup_s": (record["setup_s"], "s"),
            "pass_s": (statistics.median(record["passes"]), "s"),
            "query_s.p50": (q50, "s"),
            "peak_rss_mb": (record["peak_rss_mb"], "MB"),
        }
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record["failures"] = [{k: s.get(k) for k in ("op", "tag", "error")} for s in failures]
    record["result"] = result
    with open(os.path.join(out_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def layer_metrics(record, spans, log, rollup_path, wl, tr) -> dict:
    """Per-layer numbers: per traced pass totals, then the median pass."""
    in_window = {}
    per_pass = []
    traced = [s for s in spans if s["phase"] == "traced" and s["ok"]]
    for pid in sorted({s["pass_id"] for s in traced}):
        ops = [s for s in traced if s["pass_id"] == pid]
        for s in ops:
            s["exec"] = tr.op_layers(log, s["tag"])
        lazy = [s for s in ops if s["kind"] != "ingest"]
        reads = [s for s in ops if s["kind"] == "read"]
        for s in reads:
            if s["op"] not in in_window:
                w = next(w for w in record["windows"] if f"read.{w['name']}" == s["op"])
                in_window[s["op"]] = wl.rollup_cells(rollup_path, w)["in_window"]
        # the window sort of the latency query is where hot conversations land
        skewed = [s for s in ops if s["op"] == "q.turn_latency"] or ops

        def total(key, group=ops):
            return sum(s["exec"][key] for s in group)

        udf_stage = total("udf_stage_s")
        python = sum(s["profile"]["python_s"] for s in ops)
        scanned = total("scan_rows", reads)
        per_pass.append({
            "plan.build_s": sum(s["call_s"] for s in lazy),
            "plan.eager_ops": sum(bool(s.get("eager")) for s in lazy),
            **{
                f"catalyst.{p}_s": sum(s["phases"][p] for s in lazy)
                for p in tr.PHASES
            },
            "exec.jobs": total("jobs"),
            "exec.stages": total("stages"),
            "exec.tasks": total("tasks"),
            "exec.stage_s": total("stage_s"),
            "exec.task_cpu_s": total("task_cpu_s"),
            "exec.gc_s": total("gc_s"),
            "exec.task_skew": max(s["exec"]["task_skew"] for s in skewed),
            "exec.failed_tasks": total("failed_tasks"),
            "exec.spill_bytes": total("spill_bytes"),
            "scan.rows": total("scan_rows"),
            "scan.bytes": total("scan_bytes"),
            "shuffle.write_bytes": total("shuffle_write_bytes"),
            "shuffle.read_bytes": total("shuffle_read_bytes"),
            "shuffle.records": total("shuffle_records"),
            "udf.stage_s": udf_stage,
            "udf.python_s": python,
            "udf.boundary_s": udf_stage - python,
            **{
                f"kernel.{m}_s": sum(s["profile"][f"{m}_s"] for s in ops)
                for m in tr.KERNEL_MODULES
            },
            "collect.driver_s": sum(
                max(0.0, s["wall_t1"] - (s["exec"]["last_job_end_ms"] or 0) / 1000.0)
                for s in lazy
                if s["exec"]["last_job_end_ms"]
            ),
            "rollup.cells_scanned": scanned,
            "rollup.files_scanned": total("files_read", reads),
            "rollup.useful_cell_ratio": (
                sum(in_window[s["op"]] for s in reads) / scanned if scanned else 0.0
            ),
        })
    record["traced_pass_layers"] = per_pass
    record["udf_python_s_by_op"] = {
        op: sum(s["profile"]["python_s"] for s in traced if s["op"] == op)
        for op in sorted({s["op"] for s in traced})
    }
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    units = {
        "_s": "s", "_bytes": "bytes", "bytes": "bytes", "_ratio": "ratio", "task_skew": "ratio",
    }

    def unit(name):
        return next((u for suffix, u in units.items() if name.endswith(suffix)), "count")

    metrics = {k: (v, unit(k)) for k, v in out.items()}
    written = wl.rollup_cells(rollup_path) if os.path.isdir(rollup_path) else dict.fromkeys(
        ("cells", "files", "bytes"), 0
    )
    untraced = [s for s in spans if s["phase"] == "untraced"]
    metrics.update({
        "rollup.cells_written": (written["cells"], "count"),
        "rollup.files_written": (written["files"], "count"),
        "rollup.bytes_written": (written["bytes"], "bytes"),
        "rollup.ingest_s": (median_of(untraced, "ingest")[0], "s"),
        "rollup.read_s": (median_of(untraced, "read")[0], "s"),
        "setup.session_s": (record["session_s"], "s"),
        "setup.gen_s": (record["gen_s"], "s"),
        "setup.reference_s": (record["reference_s"], "s"),
        "setup.warmup_s": (record["warmup_s"], "s"),
        "host.calib_s": (record["host_calib_s"], "s"),
        "trace.overhead": (
            statistics.median(record["traced_passes"])
            / statistics.median(record["untraced_passes"]),
            "ratio",
        ),
    })
    return metrics


if __name__ == "__main__":
    sys.exit(main())
