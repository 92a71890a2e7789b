"""Sketch-informed physical join planning — the engine-layer payoff of the
sketch family: one cheap probe pass per relation prices a join *before* it
runs, and the priced evidence picks the physical strategy (broadcast /
salted shuffle / plain shuffle) instead of guessing.

Why sketches and not Catalyst statistics: Catalyst's input-size stats see
BYTES, not key distributions — they can pick broadcast, but they cannot see
that one ``conv_id`` holds 30% of a 10^12-turn corpus until AQE watches the
shuffle blow up mid-job. The probe prices both hazards up front from one
scan per side, shipping only KB-sized payloads:

- **exact row counts** per side (counted in the probe pass — the broadcast
  decision needs no second job and no stats freshness assumption);
- **AMS tug-of-war sketches** per side (:mod:`ddsparkle.sketches.ams`):
  their integer inner product / ``n_counters`` is an unbiased estimate of
  the equijoin SIZE (AMS 1996 §4, ``Var <= 2*F2a*F2b/c``) — the "will this
  join explode" term;
- **Misra-Gries heavy-hitter candidates** per side: every key with true
  frequency above the summary's error bound (``<= n/(mg_k+1)``) is
  guaranteed present, so a follow-up exact-count pass over the tiny
  candidate set yields a hot-key set that is a *deterministic function of
  the data* (independent of partitioning and merge topology — the property
  every hash gate in this repo relies on).

Decision rule (all comparisons in exact integer arithmetic — Python bigint
driver-side, HUGEINT in the DuckDB twin):

1. ``strategy`` override wins;
2. broadcast the smaller side when its exact probe count ``<=
   broadcast_rows`` (for ``how='left'`` only the right side is eligible);
3. salt when any verified hot key's output contribution is an outsized
   share of the estimated join size::

       cnt_a(k) * (mg_k+1) > rows_a                    -- MG-guarantee floor
       AND cnt_a(k)*cnt_b(k) * parts * n_counters
           >= skew_factor * max(dot, n_counters)       -- output-share rule

   (contribution share ``cnt_a*cnt_b / (dot/n_counters) >= skew_factor /
   parts`` — i.e. the key alone would make one of ``parts`` shuffle tasks
   ``skew_factor``x the average);
4. otherwise plain shuffle join (AQE may still re-plan at runtime; the
   probe's value is deciding *before* the first exchange is laid down).

The salted plan replicates the build side's hot rows ``salt`` ways and
scatters the probe side's hot rows across the replicas — the same two-stage
shape as ``agg.py``'s salted sketch build; non-hot rows pay one extra int
column and nothing else. Salting never changes the join's RESULT, only its
task-size distribution, so the gate twin is the plain SQL join.

Scale notes (100 TB): the probe is one scan per side with map-side payload
partials (``applyInPandas`` never sees raw rows, only <= fan_in payload
blobs reach the driver); the exact-verify pass scans ONE key column
filtered to <= 2*mg_k candidate values (predicate-pushdown friendly) and
aggregates map-side. Probe results are plain dicts — price once, reuse
across the queries of a session (pass ``probe=`` to skip re-probing).

The reference (DataDog/sketches-java) is a sketch library with no planner
or join layer — this module is the north-rule engine layer built ON the
family: AMS per ``AMSSketch`` (ams.py), MG per ``MisraGries``
(misra_gries.py), both reused unchanged.
"""

from __future__ import annotations

import struct
from typing import Optional, Sequence

import pandas as pd

__all__ = ["join_cost_probe", "sketch_informed_join", "portable_key60"]


def portable_key60(col):
    """The repo's cross-engine 60-bit key: first 15 hex digits of md5 of the
    value's string form, as BIGINT — Spark `conv(substr(md5(x),1,15),16,10)`
    == DuckDB `('0x'||substr(md5(x),1,15))::BIGINT` (quality_model.py's
    portable hash, reused so the AMS twin can replay the probe)."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


class _JoinProbe:
    """One relation's probe payload: AMS counters + MG candidates + exact
    row count, built in a single pass and merged by field."""

    def __init__(self, n_counters: int = 256, seed: int = 0, mg_k: int = 64):
        from ..sketches.ams import AMSSketch
        from ..sketches.misra_gries import MisraGries

        self.ams = AMSSketch(n_counters=n_counters, seed=seed)
        self.mg = MisraGries(k=mg_k)
        self.n_rows = 0

    def update(
        self, keys_raw: pd.Series, keys60: pd.Series, counts=None
    ) -> None:
        import numpy as np

        self.ams.update(keys60.to_numpy(np.int64), counts)
        self.mg.update(keys_raw, counts)
        self.n_rows += int(len(keys_raw) if counts is None else counts.sum())

    def merge(self, other: "_JoinProbe") -> None:
        self.ams.merge(other.ams)
        self.mg.merge(other.mg)
        self.n_rows += other.n_rows

    def to_bytes(self) -> bytes:
        a, m = self.ams.to_bytes(), self.mg.to_bytes()
        return struct.pack("<qii", self.n_rows, len(a), len(m)) + a + m

    @classmethod
    def from_bytes(cls, data: bytes) -> "_JoinProbe":
        from ..sketches.ams import AMSSketch
        from ..sketches.misra_gries import MisraGries

        n_rows, la, lm = struct.unpack_from("<qii", data)
        off = struct.calcsize("<qii")
        out = cls.__new__(cls)
        out.ams = AMSSketch.from_bytes(data[off : off + la])
        out.mg = MisraGries.from_bytes(data[off + la : off + la + lm])
        out.n_rows = n_rows
        return out


def _probe_side(
    df,
    key: str,
    n_counters: int,
    seed: int,
    mg_k: int,
    flush_distincts: int = 1 << 18,
) -> _JoinProbe:
    """One scan: NULL keys dropped (an equijoin never matches them), one
    payload row per task, folded on the driver by approx._reduce_payloads
    (behind a partition-keyed fold above approx._FAN_IN tasks).

    Per-partition batches pre-aggregate to (key, count) before touching
    the sketches: the AMS Horner pass costs n_counters x distinct COLUMNS,
    so a key recurring across Arrow batches must not pay it per batch (a
    per-batch update measured ~5x slower on a 2M-row/100k-key probe).
    The accumulator flushes whenever it holds ``flush_distincts`` distinct
    keys, so task memory stays bounded at any key cardinality; the probe
    result is flush-topology-invariant where it is gated (AMS counters are
    exact sums; MG candidacy above the n/(k+1) floor is guaranteed under
    ANY update/merge topology, and the floor is re-checked on exact
    counts)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .approx import _reduce_payloads

    src = df.filter(F.col(key).isNotNull()).select(
        F.col(key).alias("__k"), portable_key60(F.col(key)).alias("__k60")
    )
    schema = T.StructType([T.StructField("payload", T.BinaryType())])

    def build(batches):
        acc = _JoinProbe(n_counters=n_counters, seed=seed, mg_k=mg_k)
        pieces: list = []
        held = 0

        def flush():
            nonlocal pieces, held
            if not pieces:
                return
            g = pd.concat(pieces, ignore_index=True)
            g = g.groupby("__k", sort=False, as_index=False).agg(
                __k60=("__k60", "first"), __c=("__c", "sum")
            )
            acc.update(g["__k"], g["__k60"], g["__c"].to_numpy())
            pieces, held = [], 0

        for pdf in batches:
            if not len(pdf):
                continue
            g = pdf.groupby("__k", sort=False, as_index=False).agg(
                __k60=("__k60", "first"), __c=("__k60", "size")
            )
            pieces.append(g)
            held += len(g)
            if held >= flush_distincts:
                flush()
        flush()
        yield pd.DataFrame({"payload": [acc.to_bytes()]})

    partials = src.mapInPandas(build, schema=schema)
    merged = _reduce_payloads(partials, _JoinProbe.from_bytes)
    return merged if merged is not None else _JoinProbe(n_counters, seed, mg_k)


def join_cost_probe(
    df_a,
    key_a: str,
    df_b,
    key_b: str,
    *,
    n_counters: int = 256,
    mg_k: int = 64,
    seed: int = 0,
) -> dict:
    """Price ``df_a JOIN df_b ON key_a = key_b`` from one scan per side.

    Returns a dict with exact ``rows_a``/``rows_b``, the integer AMS inner
    product ``join_est_num`` (estimate = ``join_est_num / n_counters``;
    can be negative — it is an unbiased estimator), integer F2 numerators
    (self-join sizes — the skew hazard of each side in isolation), and the
    two merged probes for downstream hot-key verification."""
    pa = _probe_side(df_a, key_a, n_counters, seed, mg_k)
    pb = _probe_side(df_b, key_b, n_counters, seed, mg_k)
    return {
        "rows_a": pa.n_rows,
        "rows_b": pb.n_rows,
        "n_counters": n_counters,
        "mg_k": mg_k,
        "join_est_num": pa.ams.inner_product_numerator(pb.ams),
        "f2_a_num": pa.ams.f2_numerator(),
        "f2_b_num": pb.ams.f2_numerator(),
        "probe_a": pa,
        "probe_b": pb,
    }


def _exact_candidate_counts(df, key: str, candidates: Sequence) -> dict:
    """Exact per-key counts for the (<= 2*mg_k) candidate values: one
    filtered single-column scan, map-side-combined groupBy — the pass that
    turns MG's order-dependent summary into a deterministic hot set."""
    from pyspark.sql import functions as F

    if not candidates:
        return {}
    vals = [c.item() if hasattr(c, "item") else c for c in candidates]
    rows = (
        df.filter(F.col(key).isin(vals))
        .groupBy(key)
        .agg(F.count("*").alias("__c"))
        .collect()
    )
    return {r[key]: int(r["__c"]) for r in rows}


def _salted_join(a, key_a: str, b, key_b: str, hot_keys: list, salt: int, how: str):
    """Join with the hot keys split ``salt`` ways: the left/probe side
    scatters its hot rows over salt values (row-local hash of a per-row id
    — the assignment affects task sizing only, never the result), the
    right/build side replicates its hot rows across all salt values.
    Non-hot rows carry salt 0 on both sides."""
    from pyspark.sql import functions as F

    hot = [k.item() if hasattr(k, "item") else k for k in hot_keys]
    a2 = a.withColumn(
        "__salt_a",
        F.when(
            F.col(key_a).isin(hot),
            F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)).cast("int"),
        ).otherwise(F.lit(0)),
    )
    b2 = (
        b.withColumn(
            "__sv",
            F.when(
                F.col(key_b).isin(hot), F.sequence(F.lit(0), F.lit(salt - 1))
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("__salt_b", F.explode("__sv"))
        .drop("__sv")
    )
    cond = (a2["__salt_a"] == b2["__salt_b"]) & (a2[key_a] == b2[key_b])
    return a2.join(b2, cond, how).drop("__salt_a", "__salt_b")


def sketch_informed_join(
    df_a,
    df_b,
    *,
    left_on: str,
    right_on: str,
    how: str = "inner",
    broadcast_rows: int = 2_000_000,
    skew_factor: int = 4,
    parts: int = 32,
    salt: int = 16,
    n_counters: int = 256,
    mg_k: int = 64,
    seed: int = 0,
    strategy: Optional[str] = None,
    probe: Optional[dict] = None,
):
    """Probe-then-plan equijoin. Returns ``(joined_df, decision)`` where
    ``decision`` records the evidence and the pick::

        {strategy, rows_a, rows_b, join_est_num, n_counters, hot_keys,
         broadcast_side}

    ``hot_keys`` is the deterministic verified hot set (sorted by key
    string), computed whenever the broadcast rule does not already settle
    the plan. The joined frame's ROWS are identical under every strategy —
    strategy changes the physical exchange shape only — so callers can
    hash-gate the result against a plain SQL join regardless of the pick.

    ``how`` supports 'inner' and 'left'. ``parts`` is the shuffle
    parallelism the skew rule prices against (an explicit parameter, not
    read from the session, so decisions are reproducible across
    environments). Pass ``probe=`` (a :func:`join_cost_probe` result) to
    reuse a prior pricing pass.
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError("sketch_informed_join supports how='inner'|'left'")
    if probe is None:
        probe = join_cost_probe(
            df_a, left_on, df_b, right_on, n_counters=n_counters, mg_k=mg_k, seed=seed
        )
    n_counters = probe["n_counters"]
    mg_k = probe["mg_k"]
    rows_a, rows_b = probe["rows_a"], probe["rows_b"]
    dot = probe["join_est_num"]

    decision = {
        "rows_a": rows_a,
        "rows_b": rows_b,
        "join_est_num": dot,
        "n_counters": n_counters,
        "hot_keys": [],
        "broadcast_side": None,
    }

    picked = strategy
    if picked is None:
        if how == "inner" and min(rows_a, rows_b) <= broadcast_rows:
            picked = "broadcast"
        elif how == "left" and rows_b <= broadcast_rows:
            picked = "broadcast"

    hot_keys: list = []
    if picked in (None, "salted"):
        # hot-key verification: MG candidates from BOTH sides -> exact
        # counts -> integer output-share rule. The MG floor makes the final
        # set deterministic: any key passing `cnt_a*(mg_k+1) > rows_a` has
        # true frequency above the merged summary's error bound
        # (offset <= n/(mg_k+1)), hence is guaranteed among candidates.
        cand = {k for k, _ in probe["probe_a"].mg.candidates()}
        cand |= {k for k, _ in probe["probe_b"].mg.candidates()}
        ca = _exact_candidate_counts(df_a, left_on, sorted(cand, key=str))
        cb = _exact_candidate_counts(df_b, right_on, sorted(cand, key=str))
        thresh = skew_factor * max(dot, n_counters)
        for k in ca:
            na, nb = ca[k], cb.get(k, 0)
            if na * (mg_k + 1) > rows_a and na * nb * parts * n_counters >= thresh:
                hot_keys.append(k)
        hot_keys.sort(key=str)
        decision["hot_keys"] = hot_keys
        if picked is None:
            picked = "salted" if hot_keys else "smj"

    decision["strategy"] = picked
    cond = df_a[left_on] == df_b[right_on]
    if picked == "broadcast":
        side = "b" if (how == "left" or rows_b <= rows_a) else "a"
        decision["broadcast_side"] = side
        if side == "b":
            joined = df_a.join(F.broadcast(df_b), cond, how)
        else:
            joined = F.broadcast(df_a).join(df_b, cond, how)
    elif picked == "salted":
        joined = _salted_join(df_a, left_on, df_b, right_on, hot_keys, salt, how)
    elif picked == "smj":
        joined = df_a.join(df_b, cond, how)
    else:
        raise ValueError(f"unknown strategy {picked!r}")
    return joined, decision
