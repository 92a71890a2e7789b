"""Workload definitions: seeded inputs, the operations of each pass, and the
reference answers every operation's output is checked against.

Both workloads share one generated input, a ``bench``-profile transcript
table where 0.1% of conversations hold ~30% of the turns, and the four
north-star queries (text length, text length by role, turn latency, turns
per conversation):

- ``transcripts``: the default ``SketchConfig`` (cubic mapping, exact
  stats), so every sketch build runs the Arrow/NumPy kernel path
  (``mapInPandas`` build, sketch-row shuffle, vectorized or driver-side
  finalize). Each pass also ingests a rollup with that config
  (``build_rollup(granularity='minute', by='role')`` + ``write_rollup``)
  and runs ``READS_PER_PASS`` windowed ``rollup_quantiles`` reads over
  ``read_rollup``, taken in turn from a seeded order of 1 h, 6 h, 1 day
  and the full span, each global and by role.
- ``transcripts_sql``: only the four queries, with
  ``logarithmic_collapsing_lowest_dense()``, the paper's sketch, which
  ``quantiles`` routes to ``mode='sql'``: no Python stage runs, so this is
  the control for kernel changes.

A pass runs the ingest first, then the queries and reads in a seeded order.
"""

from __future__ import annotations

import dataclasses
import datetime
import math
import os
from typing import Callable, Optional

import numpy as np

QS = (0.5, 0.95, 0.99)
Q_NAMES = ("q50", "q95", "q99")
# Small enough that a transcripts pass (~8 s on 4 cores) runs twice in a
# 15 s run; at this size per-job overhead outweighs the kernel's work.
N_TURNS = 50_000
WINDOW_MINUTES = {"1h": 60, "6h": 360, "1d": 1440, "full": None}
READS_PER_PASS = 2
REL_TOL = 1e-9  # float sums folded in a different order (Kahan or not)


@dataclasses.dataclass
class Op:
    name: str
    kind: str  # "query" | "ingest" | "read"
    call: Callable  # returns a DataFrame (query/read) or None (ingest)
    check: Optional[Callable] = None  # rows -> None, raises on a wrong answer


def config(workload: str):
    """The sketch configuration a workload passes to the library."""
    from ddsparkle.config import SketchConfig, logarithmic_collapsing_lowest_dense

    if workload == "transcripts":
        return SketchConfig()
    if workload == "transcripts_sql":
        return logarithmic_collapsing_lowest_dense()
    raise ValueError(f"unknown workload {workload!r}")


def generate(spark, seed: int, path: str) -> None:
    """Write the seed's transcript table as parquet."""
    from ddsparkle.transcripts import transcripts_df

    df = transcripts_df(
        spark, n_convs=N_TURNS // 10, profile="bench", seed=seed,
        target_turns=N_TURNS, partitions=8,
    )
    # bounded row groups keep the hot conversations splittable
    df.write.option("parquet.block.size", 8 << 20).mode("overwrite").parquet(path)


def _minute_str(minute: int) -> str:
    ts = datetime.datetime.fromtimestamp(minute * 60, datetime.timezone.utc)
    return ts.strftime("%Y-%m-%d %H:%M:%S")


def _order_stats(v: np.ndarray) -> dict:
    """Exact [lo, hi] order statistics around DDSketch's rank q*(n-1)."""
    v = np.sort(v)
    out = {}
    for q, name in zip(QS, Q_NAMES):
        rank = q * (len(v) - 1)
        out[name] = (float(v[math.floor(rank)]), float(v[math.ceil(rank)]))
    return out


def _rank_err(lo: float, hi: float, got: float) -> float:
    """Relative distance of ``got`` to the exact interval (the accuracy
    convention of BENCH/run_scaling.py)."""
    if lo <= got <= hi:
        return 0.0
    ref = lo if got < lo else hi
    return abs(got - ref) / abs(ref)


class Reference:
    """Exact answers over the generated parquet, computed outside Spark:
    DuckDB derives each query's value column and NumPy takes the order
    statistics; with ``rollup``, the library's own ``DDSketch`` built
    directly on a window's raw rows is the answer each read must equal
    (merging sketches is exact)."""

    def __init__(self, path: str, cfg, rollup: bool, rng: np.random.Generator):
        import duckdb

        con = duckdb.connect()
        try:
            src = f"read_parquet('{path}/*.parquet')"
            raw = con.sql(
                f"SELECT role, CAST(length(text) AS DOUBLE) AS len, "
                f"epoch_us(ts) // 60000000 AS minute FROM {src}"
            ).fetchnumpy()
            lat = con.sql(
                f"SELECT v FROM (SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER "
                f"(PARTITION BY conv_id ORDER BY turn_idx)) / 1e6 AS v FROM {src}) "
                f"WHERE v IS NOT NULL"
            ).fetchnumpy()["v"]
            tpc = con.sql(
                f"SELECT CAST(count(*) AS DOUBLE) AS v FROM {src} GROUP BY conv_id"
            ).fetchnumpy()["v"]
        finally:
            con.close()
        self.cfg = cfg
        self.role = np.asarray(raw["role"], dtype=object)
        self.len = np.asarray(raw["len"], dtype=np.float64)
        self.minute = np.asarray(raw["minute"], dtype=np.int64)
        roles = sorted(set(self.role.tolist()))
        self.exact = {
            "text_length": {(): self._exact(self.len)},
            "text_length_by_role": {
                (r,): self._exact(self.len[self.role == r]) for r in roles
            },
            "turn_latency": {(): self._exact(np.asarray(lat, np.float64))},
            "turns_per_conversation": {(): self._exact(np.asarray(tpc, np.float64))},
        }
        self.windows = self._draw_windows(rng) if rollup else []
        self.reads = {w["name"]: self._read_answer(w) for w in self.windows}

    @staticmethod
    def _exact(v: np.ndarray) -> dict:
        return {"count": float(len(v)), **_order_stats(v)}

    def _draw_windows(self, rng) -> list:
        # conversations start over the first n_convs seconds (~1.4 h), so a
        # window starting in the first hour always covers dense cells and a
        # read merges about the same number of cells under every seed
        first = int(self.minute.min())
        out = []
        for label, minutes in WINDOW_MINUTES.items():
            start = end = None
            if minutes is not None:
                start = first + int(rng.integers(0, 60))
                end = start + minutes
            for key in (None, "role"):
                out.append({
                    "name": f"{label}_{key or 'global'}", "by": key,
                    "start": start, "end": end,
                })
        return out

    def window_mask(self, w) -> np.ndarray:
        if w["start"] is None:
            return np.ones(len(self.minute), bool)
        return (self.minute >= w["start"]) & (self.minute < w["end"])

    def _read_answer(self, w) -> dict:
        from ddsparkle.spark.agg import finalize_row

        mask = self.window_mask(w)
        groups = sorted(set(self.role[mask].tolist())) if w["by"] else [None]
        out = {}
        for g in groups:
            m = mask if g is None else mask & (self.role == g)
            sk = self.cfg.new_sketch()
            sk.accept(self.len[m])
            key = () if g is None else (g,)
            out[key] = finalize_row(sk, {}, QS, Q_NAMES)
        return out

    # -- checks: raise AssertionError with the first mismatch -----------
    def check_query(self, name: str, rows, key_cols) -> None:
        want = self.exact[name]
        got = {tuple(r[c] for c in key_cols): r for r in rows}
        if set(got) != set(want):
            raise AssertionError(f"{name}: groups {sorted(got)} != {sorted(want)}")
        for key, exact in want.items():
            row = got[key]
            if row["count"] != exact["count"]:
                raise AssertionError(f"{name}{key}: count {row['count']} != {exact['count']}")
            for q in Q_NAMES:
                err = _rank_err(*exact[q], row[q])
                if err > self.cfg.alpha * (1 + REL_TOL):
                    raise AssertionError(
                        f"{name}{key}.{q}: {row[q]} outside alpha of {exact[q]} (err {err:.3g})"
                    )

    def check_read(self, wname: str, rows, key_cols) -> None:
        want = self.reads[wname]
        got = {tuple(r[c] for c in key_cols): r for r in rows}
        if set(got) != set(want):
            raise AssertionError(f"read {wname}: groups {sorted(got)} != {sorted(want)}")
        for key, exact in want.items():
            row = got[key]
            for col in (*Q_NAMES, "count", "min", "max"):
                if row[col] != exact[col]:
                    raise AssertionError(f"read {wname}{key}.{col}: {row[col]} != {exact[col]}")
            for col in ("sum", "avg"):
                if not math.isclose(row[col], exact[col], rel_tol=REL_TOL):
                    raise AssertionError(f"read {wname}{key}.{col}: {row[col]} != {exact[col]}")


def rollup_cells(path: str, w=None) -> dict:
    """Cells, files and bytes of a written rollup; with a window, also the
    cells inside it (the useful part of a read)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    out = {
        "files": len(files),
        "bytes": sum(os.path.getsize(f) for f in files),
        "cells": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
    }
    if w is not None:
        if w["start"] is None:
            out["in_window"] = out["cells"]
        else:
            minutes = np.concatenate([
                pq.read_table(f, columns=["bucket_ts"]).column(0)
                .cast(pa.timestamp("us")).cast(pa.int64()).to_numpy() // 60_000_000
                for f in files
            ])
            out["in_window"] = int(((minutes >= w["start"]) & (minutes < w["end"])).sum())
    return out


class Mix:
    """The operations of each pass: ``first`` in order, then every query
    plus the next ``READS_PER_PASS`` reads (taken in turn from seeded
    permutations of all of them), in a seeded order."""

    def __init__(self, first: list, queries: list, reads: list, rng: np.random.Generator):
        self.first, self.queries, self.reads, self.rng = first, queries, reads, rng
        self.queue: list = []

    def next_pass(self) -> list:
        n = READS_PER_PASS if self.reads else 0
        while len(self.queue) < n:
            self.queue += [self.reads[i] for i in self.rng.permutation(len(self.reads))]
        ops, self.queue = self.queries + self.queue[:n], self.queue[n:]
        return self.first + [ops[i] for i in self.rng.permutation(len(ops))]


def operations(spark, data_path: str, rollup_path: str, ref: Reference,
               rng: np.random.Generator) -> Mix:
    """The workload's operations, each returning its result for checking."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.queries import (
        text_length_quantiles,
        turn_latency_quantiles,
        turns_per_conversation_quantiles,
    )
    from ddsparkle.spark.rollup import build_rollup, read_rollup, rollup_quantiles, write_rollup

    cfg = ref.cfg
    table = spark.read.parquet(data_path)  # the caller's input, read once

    def query(name, fn, key_cols=()):
        return Op(
            f"q.{name}", "query", fn,
            lambda rows: ref.check_query(name, rows, key_cols),
        )

    queries = [
        query("text_length", lambda: text_length_quantiles(table, qs=QS, config=cfg)),
        query(
            "text_length_by_role",
            lambda: text_length_quantiles(table, by="role", qs=QS, config=cfg),
            ("role",),
        ),
        query("turn_latency", lambda: turn_latency_quantiles(table, qs=QS, config=cfg)),
        query(
            "turns_per_conversation",
            lambda: turns_per_conversation_quantiles(table, qs=QS, config=cfg),
        ),
    ]
    if not ref.windows:
        return Mix([], queries, [], rng)

    def ingest():
        cells = build_rollup(
            table.select("ts", "role", F.length("text").cast("double").alias("text_len")),
            "text_len", granularity="minute", by="role", config=cfg,
        )
        write_rollup(cells, rollup_path)

    def read(w):
        key_cols = (w["by"],) if w["by"] else ()
        start = None if w["start"] is None else _minute_str(w["start"])
        end = None if w["end"] is None else _minute_str(w["end"])
        return Op(
            f"read.{w['name']}", "read",
            lambda: rollup_quantiles(
                read_rollup(spark, rollup_path), qs=QS, by=w["by"], start=start, end=end
            ),
            lambda rows: ref.check_read(w["name"], rows, key_cols),
        )

    return Mix(
        [Op("ingest.rollup_minute_role", "ingest", ingest)],
        queries, [read(w) for w in ref.windows], rng,
    )
