"""Mapping conversion: re-bin a sketch onto a different index mapping.

Re-expresses ``IndexMappingConverter.distributingUniformly``
(``IndexMappingConverter.java:84-143``) as vectorized interval arithmetic:
each input bin ``[L_in, U_in)`` spreads its count over the overlapping output
bins proportionally to covered width. Since log-like mappings guarantee
``upper_bound(i) == lower_bound(i+1)``, the reference's running-``value`` walk
is exactly the clipped-overlap formula

    share(i -> j) = count_i * (min(U_out(j), U_in(i)) - max(L_out(j), L_in(i)))
                    / (U_in(i) - L_in(i))

computed here for all (i, j) overlap pairs at once via repeat/cumsum index
expansion. Conversion degrades the effective relative accuracy to
``(1+a_in)(1+a_out)/(1-a_in) - 1`` (~ ``2*a_in + a_out``), as documented in
the reference.
"""

from __future__ import annotations

import numpy as np

from .mapping import IndexMapping
from .sketch import DDSketch
from .store import BucketStore, _group_sum

__all__ = ["convert_store", "convert_sketch", "converted_relative_accuracy"]


def converted_relative_accuracy(a_in: float, a_out: float) -> float:
    """Effective accuracy bound after distributing-uniformly conversion."""
    return (1.0 + a_in) * (1.0 + a_out) / (1.0 - a_in) - 1.0


def _distribute(idx, cnt, in_mapping: IndexMapping, out_mapping: IndexMapping):
    """Spread each input bin's count over the output bins it overlaps.
    Returns ``(rep, out_j, share)``, one entry per (input bin, output bin)
    overlap pair: the input bin's position, the output index and the
    share of the count."""
    lo = np.asarray(in_mapping.lower_bound(idx), np.float64)
    hi = np.asarray(in_mapping.upper_bound(idx), np.float64)
    # output bin range per input bin: from index(L_in) up to the first bin
    # whose upper bound reaches U_in (index of U_in nudged one ulp down)
    j_lo = out_mapping.index(lo)
    j_hi = out_mapping.index(np.nextafter(hi, -np.inf))
    j_hi = np.maximum(j_hi, j_lo)
    k = (j_hi - j_lo + 1).astype(np.int64)
    # expanded (input bin i, output bin j) pairs
    rep = np.repeat(np.arange(idx.size), k)
    # out_j = j_lo[i] + position-within-segment
    within = np.arange(rep.size) - np.repeat(np.cumsum(k) - k, k)
    out_j = np.repeat(j_lo, k) + within
    L_out = np.asarray(out_mapping.lower_bound(out_j), np.float64)
    U_out = np.asarray(out_mapping.upper_bound(out_j), np.float64)
    lo_r, hi_r, cnt_r = lo[rep], hi[rep], cnt[rep]
    overlap = np.minimum(U_out, hi_r) - np.maximum(L_out, lo_r)
    overlap = np.clip(overlap, 0.0, None)
    return rep, out_j, cnt_r * overlap / (hi_r - lo_r)


def convert_store(
    store: BucketStore,
    in_mapping: IndexMapping,
    out_mapping: IndexMapping,
    policy: str = "unbounded",
    max_bins: int = 0,
) -> BucketStore:
    out = BucketStore(policy, max_bins)
    if store.is_empty():
        return out
    _, out_j, share = _distribute(store.indexes, store.counts, in_mapping, out_mapping)
    gi, gc = _group_sum(out_j, share)
    nz = gc != 0
    out.add(gi[nz], gc[nz])
    return out


def convert_sketch(
    sketch: DDSketch,
    new_mapping: IndexMapping,
    store_policy: str = "unbounded",
    max_bins: int = 0,
) -> DDSketch:
    """DDSketch.convert parity (``DDSketch.java:402-416``): re-bin both
    stores onto ``new_mapping``; zero count and exact stats carry over."""
    out = DDSketch(
        mapping=new_mapping,
        store_policy=store_policy,
        max_bins=max_bins,
        min_indexed_value=sketch.min_indexed_value,
        track_exact_stats=False,
    )
    out.negative_store = convert_store(
        sketch.negative_store, sketch.mapping, new_mapping, store_policy, max_bins
    )
    out.positive_store = convert_store(
        sketch.positive_store, sketch.mapping, new_mapping, store_policy, max_bins
    )
    out.zero_count = sketch.zero_count
    if sketch.exact_stats is not None:
        out.exact_stats = sketch.exact_stats.copy()
        out.track_exact_stats = True
    return out


def convert_sketch_rows(sketch_rows_df, new_mapping: IndexMapping):
    """Spark-level convert: re-bin a DataFrame of sketch rows (e.g. a
    checkpoint table built with one mapping) onto a different mapping —
    one ``mapInArrow`` pass, no raw data rescan. The common migration path
    when an alpha or mapping choice changes after months of checkpoints.

    Every row converts like ``convert_sketch`` (store policy and bin limit
    kept, zero count and exact stats carried over), and every column that
    is not a sketch field is carried through, so the output schema is the
    input's. The rows of a batch that share a sketch identity convert at
    once: the sketch-row reader's bucket streams (one key id per row),
    ``_distribute`` over both stores, ``_merge_buckets`` (the collapse
    clamp) and the sketch-row writer."""
    from .mapping import mapping_from_kind
    from .spark import agg

    schema = agg._arrow_schema(sketch_rows_df.schema)
    m = new_mapping
    new_ident = dict(mapping_kind=m.kind, gamma=m.gamma, index_offset=m.index_offset)
    # what a conversion rebuilds; every other column (zero count and exact
    # stats included) carries over
    rebuilt = {*new_ident, "neg_idx", "neg_cnt", "pos_idx", "pos_cnt"}

    def convert(rows):
        ident = {c: rows.column(c)[0].as_py() for c in agg._IDENTITY}
        in_mapping = mapping_from_kind(
            ident["mapping_kind"], ident["gamma"], ident["index_offset"]
        )
        kid, part, idx, cnt = agg._bucket_streams(rows, np.arange(rows.num_rows))
        store = part != 1
        rep, out_j, share = _distribute(idx[store], cnt[store], in_mapping, new_mapping)
        kid, part = kid[store][rep], part[store][rep]
        policy, max_bins = ident["store_policy"], ident["max_bins"]
        buckets = agg._merge_buckets(kid, part, out_j, share, policy, max_bins)
        carried = {c: rows.column(c) for c in schema.names if c not in rebuilt}
        if not ident["has_exact"]:  # the empty stats, like sketch_to_row
            carried = {c: a for c, a in carried.items() if not c.startswith("stat_")}
        stats = np.repeat(agg._EMPTY_STATS, rows.num_rows, axis=1)
        return agg._sketch_rows_batch(schema, carried, {**ident, **new_ident}, *buckets, stats)

    def conv(batches):
        for batch in batches:
            # rows of different sketch identities convert apart
            codes, first = agg._factorize_keys(batch, list(agg._IDENTITY))
            for g in range(len(first)):
                yield convert(batch.filter(codes == g))

    return sketch_rows_df.mapInArrow(conv, sketch_rows_df.schema)
