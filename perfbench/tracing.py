"""Tracing for the per-layer run: job-group tags, Catalyst phase times, the
``perf`` Python UDF profiler and the Spark event log.

Spans are kept in memory while the passes run; the event log is parsed
after the session stops (it is complete only then). The parsing follows
BENCH/profile_r06.py — jobs are matched to an operation by a tag, stages
to jobs by id — and adds task metrics and SQL scan metrics.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

# plan nodes whose stages cross the Arrow boundary into Python workers
UDF_NODES = (
    "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
)
KERNEL_MODULES = ("mapping", "store", "sketch", "serde")
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Per-operation probes that run on the driver around each call."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext

    def enable_profiler(self) -> None:
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.spark.profile.clear(type="perf")

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def ran_jobs(self, group: str) -> bool:
        """True when a job of ``group`` already started (an eager call)."""
        return len(self.sc.statusTracker().getJobIdsForGroup(group)) > 0

    @staticmethod
    def phases(df) -> dict:
        """Catalyst phase durations (s) from the QueryExecution tracker."""
        out = dict.fromkeys(PHASES, 0.0)
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in out:
                out[kv._1()] = kv._2().durationMs() / 1000.0
        return out

    def profile(self) -> dict:
        """Python time inside UDFs since the last call, split by kernel
        module (self time, so module shares add up), then reset."""
        collector = self.spark.profile.profiler_collector
        out = {"python_s": 0.0, **{f"{m}_s": 0.0 for m in KERNEL_MODULES}}
        for stats in collector._perf_profile_results.values():
            out["python_s"] += stats.total_tt
            for (filename, _, _), (_, _, tottime, _, _) in stats.stats.items():
                mod = os.path.splitext(os.path.basename(filename))[0]
                if mod in KERNEL_MODULES:
                    out[f"{mod}_s"] += tottime
        self.spark.profile.clear(type="perf")
        return out


def parse_event_log(path: str) -> dict:
    """Jobs (with tag and stages), stages (with tasks) and SQL scan
    accumulators from one uncompressed, non-rolling event log."""
    jobs: dict = {}
    stages: dict = {}
    tasks: dict = defaultdict(list)
    files_read_ids: set = set()
    driver_accum: dict = defaultdict(dict)  # SQL execution id -> {accumulator: value}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            e = ev.get("Event", "")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "exec_id": props.get("spark.sql.execution.id"),
                    "t0": ev["Submission Time"],
                    "stage_ids": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                scopes = " ".join(r.get("Scope") or "" for r in si.get("RDD Info", []))
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0],
                    "t0": si.get("Submission Time"),
                    "t1": si.get("Completion Time"),
                    "udf": any(f'"name":"{n}"' in scopes for n in UDF_NODES),
                }
            elif e == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(_task_record(ev))
            elif e.endswith("SparkListenerSQLExecutionStart"):
                files_read_ids |= _scan_metric_ids(ev["sparkPlanInfo"], "number of files read")
            elif e.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    driver_accum[str(ev["executionId"])][acc_id] = value
    for sid, st in stages.items():
        st["tasks"] = tasks.get(sid, [])
    return {"jobs": jobs, "stages": stages, "files_read_ids": files_read_ids,
            "driver_accum": driver_accum}


def _task_record(ev) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    shr, shw, inp = (
        m.get("Shuffle Read Metrics") or {},
        m.get("Shuffle Write Metrics") or {},
        m.get("Input Metrics") or {},
    )
    return {
        "dur_ms": info["Finish Time"] - info["Launch Time"],
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "failed": bool(info.get("Failed")),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "in_rows": inp.get("Records Read", 0),
        "in_bytes": inp.get("Bytes Read", 0),
        "sh_w_bytes": shw.get("Shuffle Bytes Written", 0),
        "sh_records": shw.get("Shuffle Records Written", 0),
        "sh_r_bytes": shr.get("Remote Bytes Read", 0) + shr.get("Local Bytes Read", 0),
        "accum": {
            a["ID"]: int(a["Update"])
            for a in info.get("Accumulables", [])
            if str(a.get("Update", "")).lstrip("-").isdigit()
        },
    }


def _scan_metric_ids(node, metric: str) -> set:
    ids = set()
    if node["nodeName"].startswith("Scan"):
        ids |= {m["accumulatorId"] for m in node["metrics"] if m["name"] == metric}
    for child in node["children"]:
        ids |= _scan_metric_ids(child, metric)
    return ids


def op_layers(log: dict, group: str) -> dict:
    """Execution-side layer numbers of the jobs tagged ``group``."""
    jobs = [j for j in log["jobs"].values() if j["group"] == group and "t1" in j]
    stage_ids = sorted({sid for j in jobs for sid in j["stage_ids"] if sid in log["stages"]})
    stages = [log["stages"][sid] for sid in stage_ids]
    tasks = [t for st in stages for t in st["tasks"]]

    def total(key):
        return sum(t[key] for t in tasks)

    skew = 1.0
    timed = [st for st in stages if st["t0"] and st["t1"] and st["tasks"]]
    if timed:
        slowest = max(timed, key=lambda st: st["t1"] - st["t0"])
        durs = [t["dur_ms"] for t in slowest["tasks"]]
        skew = max(durs) / max(statistics.median(durs), 1.0)
    files_read_ids = log["files_read_ids"]
    # scan file counts arrive as task updates or driver-side updates
    files_read = sum(v for t in tasks for k, v in t["accum"].items() if k in files_read_ids)
    files_read += sum(
        v
        for e in {j["exec_id"] for j in jobs if j["exec_id"] is not None}
        for k, v in log["driver_accum"].get(e, {}).items()
        if k in files_read_ids
    )
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "stage_s": sum((st["t1"] - st["t0"]) / 1000.0 for st in timed),
        "task_cpu_s": total("cpu_ns") / 1e9,
        "gc_s": total("gc_ms") / 1000.0,
        "task_skew": skew,
        "failed_tasks": sum(t["failed"] for t in tasks),
        "spill_bytes": total("spill"),
        "scan_rows": total("in_rows"),
        "scan_bytes": total("in_bytes"),
        "shuffle_write_bytes": total("sh_w_bytes"),
        "shuffle_read_bytes": total("sh_r_bytes"),
        "shuffle_records": total("sh_records"),
        # task time of the Python-UDF stages: comparable with the
        # profiler's Python time, which also sums over tasks
        "udf_stage_s": sum(t["run_ms"] for st in stages if st["udf"] for t in st["tasks"]) / 1000.0,
        "files_read": files_read,
        "last_job_end_ms": max((j["t1"] for j in jobs), default=None),
        "job_spans": [
            {"t0": j["t0"], "t1": j["t1"], "stages": [
                {"name": log["stages"][s]["name"], "t0": log["stages"][s]["t0"],
                 "t1": log["stages"][s]["t1"], "tasks": len(log["stages"][s]["tasks"]),
                 "udf": log["stages"][s]["udf"]}
                for s in j["stage_ids"] if s in log["stages"]
            ]}
            for j in sorted(jobs, key=lambda j: j["t0"])
        ],
    }
