"""Distributed aggregation for the payload sketches (HLL, CMS, Bloom, KLL,
t-digest, KMV, AMS, count sketch, Misra-Gries, reservoir) on the DDSketch
chassis: mapInPandas partial build per task (one binary payload row per
(task, key), no raw-row shuffle), then ``_fold_payloads`` — a repartition by
key plus one mapInPandas that merges every key of a partition and optionally
finalizes it. Keyless sketches returned to the driver fold there
(``_reduce_payloads``).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd

from ..sketches import BloomFilter, CountMinSketch, HyperLogLog

__all__ = ["hll_distinct", "cms_frequencies", "bloom_membership", "kmv_distinct_sketch", "set_overlap", "ams_f2_sketch", "ams_join_size", "kmv_overlap_matrix", "count_sketch"]


def _payload_schema(df, key_cols: Sequence[str]):
    from pyspark.sql import types as T

    key_fields = [df.schema[c] for c in key_cols]
    return T.StructType(key_fields + [T.StructField("payload", T.BinaryType())])


def _build_payload_partials(df, value_col: str, key_cols: Sequence[str], make, update):
    """Generic stage 1: one sketch payload per (task, key)."""
    key_cols = list(key_cols)
    projected = df.select(*key_cols, value_col)
    schema = _payload_schema(projected, key_cols)

    def build(batches):
        acc: dict[tuple, object] = {}
        for pdf in batches:
            values = pdf[value_col]
            valid = values.notna().to_numpy()
            if key_cols:
                groups = pdf.groupby(key_cols, dropna=False, sort=False).indices
                for key, rows_idx in groups.items():
                    key = key if isinstance(key, tuple) else (key,)
                    rows_idx = rows_idx[valid[rows_idx]]
                    if rows_idx.size == 0:
                        continue
                    sk = acc.get(key)
                    if sk is None:
                        sk = acc[key] = make()
                    update(sk, values.iloc[rows_idx])
            elif len(pdf):
                # a keyless task that saw only NULLs still emits the empty
                # sketch, so all-NULL input finalizes to one count-0 row
                sk = acc.get(())
                if sk is None:
                    sk = acc[()] = make()
                if valid.any():
                    update(sk, values[valid])
        rows = []
        for key, sk in acc.items():
            row = dict(zip(key_cols, key))
            row["payload"] = sk.to_bytes()
            rows.append(row)
        cols = key_cols + ["payload"]
        if not rows:
            yield pd.DataFrame({c: pd.Series([], dtype=object) for c in cols})
        else:
            yield pd.DataFrame(rows, columns=cols)

    return projected.mapInPandas(build, schema=schema)


def _merge_payloads(payloads, from_payload):
    """Scalar fold of serialized payloads into one sketch (None when there
    are none). Every payload sketch's ``merge`` mutates in place."""
    sk = None
    for payload in payloads:
        cur = from_payload(bytes(payload))
        if sk is None:
            sk = cur
        else:
            sk.merge(cur)
    return sk


# At most this many payload rows reach the driver fold in _reduce_payloads;
# above that many partitions a fold keyed on partition id mod _FAN_IN runs
# first.
_FAN_IN = 64


def _fold_payloads(partials, key_cols: Sequence[str], from_payload, finalize=None, out_fields=None):
    """Merge payload rows to one sketch per key: a repartition by the keys
    (to one partition when keyless), then one mapInPandas that groups each
    partition's rows by key and folds their payloads — no per-group Python
    apply, no sort. Without ``finalize`` emits ``[*key_cols, payload]``, a
    key with one partial passing through unparsed. With it, emits
    ``[*key_cols, *out_fields]``: ``finalize(sketch)`` returns the key's
    output rows as a list of dicts."""
    from pyspark.sql import types as T

    key_cols = list(key_cols)
    src = partials.select(*key_cols, "payload")
    parted = src.repartition(*[src[c] for c in key_cols]) if key_cols else src.repartition(1)
    if finalize is None:
        schema = src.schema
    else:
        schema = T.StructType([src.schema[c] for c in key_cols] + list(out_fields))
    cols = schema.fieldNames()

    def fold(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if finalize is None and key_cols:
            # keys with one partial pass through unparsed, with no Python
            # call per key
            dup = pdf.duplicated(key_cols, keep=False)
            yield pdf[~dup]
            pdf = pdf[dup]
        groups = (
            pdf.groupby(key_cols, sort=False, dropna=False)["payload"]
            if key_cols
            else [((), pdf["payload"])]
        )
        rows = []
        for key, payloads in groups:
            sk = _merge_payloads(payloads, from_payload)
            keys = dict(zip(key_cols, key))
            if finalize is None:
                rows.append({**keys, "payload": sk.to_bytes()})
            else:
                rows.extend({**keys, **r} for r in finalize(sk))
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    return parted.mapInPandas(fold, schema=schema)


def _reduce_payloads(partials, from_payload):
    """Fold keyless per-task payload rows into ONE sketch on the driver
    without an unbounded fan-in anywhere: up to ``_FAN_IN`` partitions the
    driver folds the collected rows directly; above it, ``_fold_payloads``
    first merges them into ``_FAN_IN`` groups by partition id. Collecting
    raw per-task payloads would put #tasks x payload-size bytes on the
    driver — GBs at 10^5-10^6 tasks. Returns None when ``partials`` is
    empty."""
    from pyspark.sql import functions as F

    if partials.rdd.getNumPartitions() > _FAN_IN:
        salted = partials.withColumn("__s", F.pmod(F.spark_partition_id(), F.lit(_FAN_IN)))
        partials = _fold_payloads(salted, ["__s"], from_payload)
    return _merge_payloads((r["payload"] for r in partials.collect()), from_payload)


def hll_distinct(df, value_col: str, by: Optional[str] = None, p: int = 14, seed: int = 0):
    """Approximate COUNT(DISTINCT value_col) [GROUP BY by] via HyperLogLog.

    Returns [by?, distinct_est double, rse double]. Relative standard error
    ~= 1.04/sqrt(2^p) (~0.8% at p=14; 16 KiB state per group per task).
    """
    from pyspark.sql import types as T

    keys = [by] if by else []
    partials = _build_payload_partials(
        df,
        value_col,
        keys,
        make=lambda: HyperLogLog(p=p, seed=seed),
        update=lambda sk, v: sk.update(v),
    )
    out_fields = [
        T.StructField("distinct_est", T.DoubleType()),
        T.StructField("rse", T.DoubleType()),
    ]

    def finalize(sk):
        return [{"distinct_est": float(sk.estimate()), "rse": sk.relative_standard_error}]

    return _fold_payloads(
        partials, keys, lambda b: HyperLogLog.from_bytes(b, p, seed), finalize, out_fields
    )


def cms_frequencies(
    df,
    value_col: str,
    probes: Sequence,
    depth: int = 5,
    width: int = 8192,
    seed: int = 0,
):
    """Estimated frequencies of ``probes`` in ``value_col`` via a count-min
    sketch. Returns [probe string, est_freq double]; estimates are exact or
    overestimates (within eps*N with the usual CMS guarantees)."""
    from pyspark.sql import types as T

    probes = list(probes)
    src = df.select(value_col)

    partials = _build_payload_partials(
        src,
        value_col,
        [],
        make=lambda: CountMinSketch(depth=depth, width=width, seed=seed),
        update=lambda sk, v: sk.update(v),
    )
    out_fields = [
        T.StructField("probe", T.StringType()),
        T.StructField("est_freq", T.DoubleType()),
    ]

    def finalize(sk):
        ests = sk.query(pd.Series(probes))
        return [{"probe": str(p), "est_freq": float(e)} for p, e in zip(probes, ests)]

    return _fold_payloads(
        partials, [],
        lambda b: CountMinSketch.from_bytes(b, depth, width, seed),
        finalize,
        out_fields,
    )


def bloom_membership(
    build_df,
    build_col: str,
    probe_df,
    probe_col: str,
    n_bits: int = 1 << 22,
    k: int = 7,
    seed: int = 0,
):
    """Build a Bloom filter over ``build_df[build_col]`` and probe every
    value of ``probe_df[probe_col]``. Returns [probe_col, member boolean] —
    no false negatives; false-positive rate set by (n_bits, k) vs build
    cardinality.

    The merged filter is broadcast to the probe side, so the probe pass is a
    shuffle-free mapInPandas over the probe scan — the Spark-native shape of
    a bloom-filtered semi-join at 100 TB scale.
    """
    from pyspark.sql import types as T

    partials = _build_payload_partials(
        build_df,
        build_col,
        [],
        make=lambda: BloomFilter(n_bits=n_bits, k=k, seed=seed),
        update=lambda sk, v: sk.update(v),
    )
    # salted reduce-stage merge: no process (executor or driver) folds an
    # unbounded number of n_bits/8-byte filters
    merged = _reduce_payloads(
        partials, lambda b: BloomFilter.from_bytes(b, n_bits, k, seed)
    ) or BloomFilter(n_bits=n_bits, k=k, seed=seed)
    spark = probe_df.sparkSession
    bc = spark.sparkContext.broadcast(merged.to_bytes())

    probe_schema = T.StructType(
        [probe_df.schema[probe_col], T.StructField("member", T.BooleanType())]
    )

    def probe(batches):
        bloom = BloomFilter.from_bytes(bc.value, n_bits, k, seed)
        for pdf in batches:
            vals = pdf[probe_col]
            valid = vals.notna()
            out = np.zeros(len(pdf), bool)
            if valid.any():
                out[valid.to_numpy()] = bloom.contains(vals[valid])
            yield pd.DataFrame({probe_col: vals, "member": out})

    return probe_df.select(probe_col).mapInPandas(probe, schema=probe_schema)


def _quantile_family_agg(df, value_col: str, by, qs, make, from_bytes, q_prefix=""):
    from pyspark.sql import types as T

    from .agg import quantile_column_name

    keys = [by] if isinstance(by, str) else list(by or [])
    qs = [float(q) for q in qs]
    q_names = [q_prefix + quantile_column_name(q) for q in qs]
    partials = _build_payload_partials(
        df, value_col, keys, make=make, update=lambda sk, v: sk.update(v.to_numpy("float64"))
    )
    out_fields = [T.StructField(n, T.DoubleType()) for n in q_names] + [
        T.StructField("count", T.DoubleType())
    ]

    def finalize(sk):
        if sk.n == 0:
            return [{**{n: float("nan") for n in q_names}, "count": 0.0}]
        vals = sk.values_at_quantiles(qs)
        return [{**{n: float(v) for n, v in zip(q_names, vals)}, "count": float(sk.n)}]

    return _fold_payloads(partials, keys, from_bytes, finalize, out_fields)


def kll_quantiles(df, value_col: str, by=None, qs=(0.5, 0.95, 0.99), k: int = 200):
    """Rank-error quantiles via KLL on the same two-stage chassis."""
    from ..sketches.kll import KLLSketch

    return _quantile_family_agg(
        df, value_col, by, qs, lambda: KLLSketch(k=k), KLLSketch.from_bytes
    )


def tdigest_quantiles(df, value_col: str, by=None, qs=(0.5, 0.95, 0.99), delta: float = 200.0):
    """Tail-accurate rank-error quantiles via t-digest on the same chassis."""
    from ..sketches.tdigest import TDigest

    return _quantile_family_agg(
        df, value_col, by, qs, lambda: TDigest(delta=delta), TDigest.from_bytes
    )


def kmv_distinct_sketch(df, value_col: str, k: int = 4096, seed: int = 0):
    """Build one merged KMV sketch of ``value_col``'s distinct values: the
    usual chassis (mapInPandas partials -> salted reduce). Returns the
    KMVSketch — feed pairs of them to jaccard/intersection estimators."""
    from ..sketches.kmv import KMVSketch

    partials = _build_payload_partials(
        df.select(value_col),
        value_col,
        [],
        make=lambda: KMVSketch(k=k, seed=seed),
        update=lambda sk, v: sk.update(v),
    )
    return _reduce_payloads(
        partials, lambda b: KMVSketch.from_bytes(b, seed=seed)
    ) or KMVSketch(k=k, seed=seed)


def set_overlap(df_a, col_a, df_b, col_b, k: int = 4096, seed: int = 0) -> dict:
    """Distinct-set overlap of two columns via KMV sketches — the corpus-
    overlap estimator (how many training documents/users/keys do two tables
    share?) that needs only two scans and KB-scale state, vs an exact
    distinct join. Returns dict with distinct_a/b, union, intersection,
    jaccard, and the theta-style difference estimates a_not_b / b_not_a
    (all from one union sample) — exact whenever the UNION's distinct universe fits
    in k (each side fitting individually is not enough: the union sketch is
    the one that saturates first)."""
    a = kmv_distinct_sketch(df_a, col_a, k=k, seed=seed)
    b = kmv_distinct_sketch(df_b, col_b, k=k, seed=seed)
    ov = a.overlap_stats(b)
    return {
        "distinct_a": a.distinct_estimate(),
        "distinct_b": b.distinct_estimate(),
        "union": ov["union"],
        "intersection": ov["intersection"],
        "jaccard": ov["jaccard"],
        "a_not_b": ov["a_not_b"],
        "b_not_a": ov["b_not_a"],
        "rse": a.relative_standard_error,
    }


def kmv_overlap_matrix(df, value_col: str, group_col: str, k: int = 4096, seed: int = 0):
    """Pairwise distinct-value overlap between every pair of groups (the
    corpus-overlap MATRIX: which sources/splits/domains share content?) —
    the curation diagnostic that would otherwise cost a distinct self-join
    per pair. One grouped pass builds a KMV sketch per group (the usual
    payload chassis, one per (task, group) partial, folded per group), the
    driver crosses the G sketches pairwise: O(G^2) work on KB-scale state,
    ZERO pairwise scans. ``group_col`` is assumed domain-cardinality-small
    (tens to thousands — the mixing contract); at k >= each pair's distinct
    UNION the estimates are exact, else rse ~ 1/sqrt(k-2)
    (``KMVSketch.overlap_stats``).

    Returns a DataFrame [group_a, group_b, distinct_a double,
    distinct_b double, intersection double, jaccard double, rse double],
    one row per unordered pair (group_a < group_b), built driver-side."""
    from pyspark.sql import types as T

    from ..sketches.kmv import KMVSketch

    partials = _build_payload_partials(
        df.select(group_col, value_col),
        value_col,
        [group_col],
        make=lambda: KMVSketch(k=k, seed=seed),
        update=lambda sk, v: sk.update(v),
    )

    def from_payload(b):
        return KMVSketch.from_bytes(b, seed=seed)

    sketches = {
        r[group_col]: from_payload(bytes(r["payload"]))
        for r in _fold_payloads(partials, [group_col], from_payload).collect()
    }
    rows = []
    for ga in sorted(sketches):
        for gb in sorted(sketches):
            if not ga < gb:
                continue
            a, b = sketches[ga], sketches[gb]
            ov = a.overlap_stats(b)
            rows.append(
                (
                    ga,
                    gb,
                    float(a.distinct_estimate()),
                    float(b.distinct_estimate()),
                    float(ov["intersection"]),
                    float(ov["jaccard"]),
                    float(a.relative_standard_error),
                )
            )
    schema = T.StructType(
        [
            T.StructField("group_a", df.schema[group_col].dataType),
            T.StructField("group_b", df.schema[group_col].dataType),
            T.StructField("distinct_a", T.DoubleType()),
            T.StructField("distinct_b", T.DoubleType()),
            T.StructField("intersection", T.DoubleType()),
            T.StructField("jaccard", T.DoubleType()),
            T.StructField("rse", T.DoubleType()),
        ]
    )
    return df.sparkSession.createDataFrame(rows, schema)


def ams_f2_sketch(df, key_col: str, n_counters: int = 256, seed: int = 0):
    """Second frequency moment (= self-equijoin size = the skew hazard) of
    ``key_col`` via the AMS tug-of-war sketch: the usual chassis
    (mapInPandas per-task partials -> salted payload reduce), but the state
    is just ``n_counters`` int64 counters, so the WHOLE job is one scan plus
    a KB-scale vector reduce — no groupBy on the key, no raw-row exchange.
    That is the point: it prices "what would the conv_id self-join cost?"
    without paying for a shuffle of the rows.

    ``key_col`` must already hold the portable 60-bit key
    (``conv(substring(md5(v),1,15),16,10)`` — the repo-wide cross-engine
    hash), computed JVM-side in the scan projection; the sketch itself is
    then integer-exact and replayable bit-for-bit by a SQL engine
    (see the ``transcripts_selfjoin_size_ams`` gate twin).

    Returns the merged :class:`~ddsparkle.sketches.ams.AMSSketch`.
    """
    from ..sketches.ams import AMSSketch
    from .dataops import _ensure_parallelism

    # r6 (guide §2.5/§4): a single-split scan funnels the whole Horner
    # sign pass onto ONE task (measured 2.7 s for the orders side at
    # sf0.1); AMS counters are additive, so per-task partial boundaries
    # cannot change the merged sketch — repartitioning is result-invariant
    # and a structural no-op at scale.
    partials = _build_payload_partials(
        _ensure_parallelism(df.select(key_col)),
        key_col,
        [],
        make=lambda: AMSSketch(n_counters=n_counters, seed=seed),
        update=lambda sk, v: sk.update(v.to_numpy(np.int64)),
    )
    return _reduce_payloads(partials, AMSSketch.from_bytes) or AMSSketch(
        n_counters=n_counters, seed=seed
    )


def ams_join_size(df_a, key_a: str, df_b, key_b: str, n_counters: int = 256, seed: int = 0):
    """Equijoin-cardinality estimate ``|A join B on key|`` from two AMS
    sketches (the frequency-vector inner product, AMS 1996 §4): one scan
    per relation, a KB payload reduce each, and an integer dot product —
    the join never runs, no key ever shuffles. Var <= 2*F2(a)*F2(b)/c.
    Both key columns must hold the portable 60-bit key. Returns
    ``(sketch_a, sketch_b, dot_numerator)``; the unbiased estimate is
    ``dot_numerator / n_counters`` (exact-integer numerator, so the
    ``orders_join_size_ams`` gate twin replays it bit-for-bit)."""
    a = ams_f2_sketch(df_a, key_a, n_counters=n_counters, seed=seed)
    b = ams_f2_sketch(df_b, key_b, n_counters=n_counters, seed=seed)
    return a, b, a.inner_product_numerator(b)


def count_sketch(df, key_col: str, depth: int = 7, width: int = 64, seed: int = 0):
    """Sign-unbiased point-frequency sketch of ``key_col`` (Count-Sketch,
    Charikar et al. 2002) on the shared chassis: mapInPandas per-task
    partials -> salted payload reduce; the state is a (depth x width)
    int64 counter matrix, so the whole job is one scan plus a KB-scale
    matrix-addition reduce — no groupBy on the key, no raw-row exchange.
    Where :func:`cms_frequencies` answers "at most how frequent" (biased
    up), this answers "how frequent, unbiased" — the probe for a SINGLE
    conversation's turn count or a single boilerplate line's occurrence
    count without paying for the 10^12-row aggregation.

    ``key_col`` must already hold the portable 60-bit key
    (``conv(substring(md5(v),1,15),16,10)``), computed JVM-side in the
    scan projection; the sketch is then integer-exact and replayable
    bit-for-bit by a SQL engine (see the
    ``transcripts_conv_freq_countsketch`` gate twin).

    Returns the merged :class:`~ddsparkle.sketches.countsketch.CountSketch`.
    """
    from ..sketches.countsketch import CountSketch

    partials = _build_payload_partials(
        df.select(key_col),
        key_col,
        [],
        make=lambda: CountSketch(depth=depth, width=width, seed=seed),
        update=lambda sk, v: sk.update(v.to_numpy(np.int64)),
    )
    return _reduce_payloads(partials, CountSketch.from_bytes) or CountSketch(
        depth=depth, width=width, seed=seed
    )


def heavy_hitters(df, value_col: str, k: int = 10, mg_k: int = 256, exact_counts: bool = True):
    """Top-k frequent values, the two-pass scale pattern:

    pass 1 — Misra-Gries per task (mapInPandas), merged: every value with
             frequency > merged.error_bound (<= n/mg_k) is guaranteed among
             the candidates; ALL mg_k counters feed pass 2 (truncating by
             the underestimated MG counts could drop a true top-k item);
    pass 2 — (exact_counts=True) exact counts for the candidate set only via
             a filtered native groupBy: the result is EXACT top-k whenever
             the true k-th frequency exceeds the MG error bound (choose
             mg_k >> n / f_k), at the cost of one extra single-column,
             map-side-aggregated scan.

    Returns [value string, freq double] ordered by freq desc, value.
    """
    from pyspark.sql import functions as F

    from ..sketches.misra_gries import MisraGries

    partials = _build_payload_partials(
        df.select(value_col),
        value_col,
        [],
        make=lambda: MisraGries(k=mg_k),
        update=lambda sk, v: sk.update(v),
    )
    # salted reduce-stage merge (not a raw collect): MG merge is associative
    # within its error bound, so any fold topology yields a valid summary
    merged = _reduce_payloads(partials, MisraGries.from_bytes)
    if merged is None:
        return df.sparkSession.createDataFrame([], "value string, freq double")
    if not exact_counts:
        rows = [(str(key), float(c)) for key, c in merged.candidates()[:k]]
        return df.sparkSession.createDataFrame(rows, "value string, freq double")
    cand = [key for key, _ in merged.candidates()]  # all counters: the guaranteed superset
    exact = (
        df.filter(F.col(value_col).isin([x.item() if hasattr(x, "item") else x for x in cand]))
        .groupBy(F.col(value_col).cast("string").alias("value"))
        .agg(F.count("*").cast("double").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("value"))
        .limit(k)
    )
    return exact


def reservoir_sample(df, value_col: str, m: int = 10_000, seed: int = 0):
    """Uniform sample of ``value_col`` as a NumPy array (size <= m):
    per-task reservoirs via mapInPandas, merged driver-side. The at-scale
    substitute for collecting a column to validate sketch accuracy."""
    from ..sketches.reservoir import ReservoirSample

    partials = _build_payload_partials(
        df.select(value_col),
        value_col,
        [],
        make=lambda: ReservoirSample(m=m, seed=seed),
        update=lambda sk, v: sk.update(v.to_numpy("float64")),
    )
    # salted reduce-stage merge (not a raw collect): the hypergeometric merge
    # is uniform under any fold topology, so the tree changes which sample is
    # drawn but not its distribution
    return _reduce_payloads(
        partials, lambda b: ReservoirSample.from_bytes(b, seed=seed)
    )


def dgim_window_counts(
    df,
    ts_col: str = "ts",
    by: str = "event_type",
    id_col: str = "event_id",
    windows_s=(86_400, 7 * 86_400),
    r: int = 4,
    as_of_micros: int | None = None,
):
    """Sliding-window event counts per key via the DGIM exponential
    histogram (:class:`ddsparkle.sketches.dgim.DgimSketch`): for each
    ``by`` series, how many events landed in the trailing ``window_s``
    seconds as of ``as_of_micros`` (default: the corpus max timestamp),
    answered from O(r*log n) buckets per key instead of the window's raw
    rows. Window membership is pinned integer-exact on epoch micros:
    in-window <=> ts_us > as_of_us - window_s*1_000_000.

    Returns one row per (key, window): [by, window_s, r, est2,
    oldest_size, n_buckets, n_seen]. ``est2`` is TWICE the estimate
    (integral), ``oldest_size`` the straddling bucket's size; the theorem
    bound ``2*true - est2 in [2 - oldest_size, oldest_size]`` (est exact
    when oldest_size = 0) is what gates check — see the module docstring
    for why the asymptotic 1/(2(r-1)) relative bound is NOT gated.

    Scale shape: the scan ships only (key, epoch-micros) — 12 bytes/row —
    into one exchange keyed on the series; each series then builds ONE
    sequential histogram (arrival order is the sketch's semantics; a
    per-key stream cannot be split, so parallelism comes from key count —
    the per-entity streaming-state contract). Deterministic: replay order
    is pinned by (ts, id). This is the batch replay of a streaming sketch;
    a live deployment holds the same O(r*log W) bucket state per key in a
    stateful streaming op. For fine key grids (millions of tiny series)
    route through repartition+mapInPandas with a pandas groupby instead of
    applyInPandas's ~1ms/group Python overhead (the ``_fold_payloads``
    pattern)."""
    from pyspark.sql import functions as F

    from ..sketches.dgim import DgimSketch

    windows = [int(w) for w in windows_s]
    if as_of_micros is None:
        as_of_micros = df.select(
            F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("m")
        ).collect()[0]["m"]  # post-reduce scalar, not a data collect
        if as_of_micros is None:
            # r6 (ADVICE r5 #4): all-NULL/empty input used to surface as
            # int(None) TypeError; fail with the actual contract instead
            raise ValueError(
                "dgim_window_counts: no non-null timestamps to anchor "
                "as_of_micros — pass as_of_micros explicitly or filter "
                "the input"
            )
    as_of = int(as_of_micros)

    # r6 (ADVICE r5 #4): a NULL ts previously reached the pandas kernel as
    # NaN and DgimSketch.update raised inside the executor; a timestamp-less
    # row carries no window information, so drop it in the slim projection
    # (fixture rows all carry ts — results unchanged, gates re-verified)
    slim = df.filter(F.col(ts_col).isNotNull()).select(
        F.col(by).cast("string").alias("__k"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
        F.col(id_col).cast("long").alias("__id"),
    )

    def build(pdf):
        pdf = pdf.sort_values(["__us", "__id"], kind="mergesort")
        sk = DgimSketch(r=r)
        sk.update_batch(pdf["__us"].to_numpy())
        key = pdf["__k"].iloc[0]
        rows = []
        for w in windows:
            est2, oldest = sk.estimate2(as_of - w * 1_000_000)
            rows.append(
                (key, w, r, est2, oldest, sk.n_buckets, sk.n_seen)
            )
        import pandas as pd

        return pd.DataFrame(
            rows,
            columns=[
                by, "window_s", "r", "est2", "oldest_size",
                "n_buckets", "n_seen",
            ],
        )

    schema = (
        f"{by} string, window_s long, r long, est2 long, "
        "oldest_size long, n_buckets long, n_seen long"
    )
    return slim.groupBy("__k").applyInPandas(build, schema)


def validate_quantiles(df, value_col: str, result_row, q_map, alpha: float, m: int = 50_000, seed: int = 0):
    """Self-check a quantiles() result against a held-out uniform sample:
    returns {q_name: estimated relative rank-interval error}. Sampling error
    ~ 1/sqrt(m) adds to the bound, so use alpha + a few sigma of slack when
    asserting. This is how the accuracy contract is monitored at data sizes
    where exact sorting is impossible."""
    rs = reservoir_sample(df, value_col, m=m, seed=seed)
    if rs is None or rs.items.size == 0:
        raise ValueError("no non-null values to validate against")
    sample = np.sort(rs.items)
    errs = {}
    n = sample.size
    for q, col in q_map.items():
        actual = result_row[col]
        lo = sample[int(np.floor(q * (n - 1)))]
        hi = sample[int(np.ceil(q * (n - 1)))]
        if lo <= actual <= hi:
            errs[col] = 0.0
        elif actual < lo:
            # absolute error when the exact quantile is 0 (relative undefined)
            errs[col] = (lo - actual) / abs(lo) if lo else abs(actual)
        else:
            errs[col] = (actual - hi) / abs(hi) if hi else abs(actual)
    return errs
