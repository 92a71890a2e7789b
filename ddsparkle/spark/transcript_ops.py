"""Transcript-native analytics operators over the north-star table
(BASELINE.json ``input_hint``: conv_id, turn_idx, role, text, tool, ts).

These extend the three north-star queries (``queries.py``) with the
conversation-level operations a transcript corpus pipeline needs:
per-conversation stats, conversation-duration and response-latency sketch
quantiles, role-transition counts, tool-usage analytics, and
conversation-level exact dedup. Everything is expressed so the hot path
scales with turn count, not conversation size:

- per-conversation aggregations are native ``groupBy(conv_id)`` — map-side
  partial aggregation means a hot conversation contributes one partial per
  task, never one shuffled row per turn;
- adjacency (transitions / response latency) uses the composite-key
  self-join formulation from ``queries.turn_latency_quantiles(method=
  'join')``: turn t joins turn t-1 on (conv_id, turn_idx), every join key
  distinct, so conv_id skew cannot create a straggler task by construction;
- conversation dedup hashes each TURN first (md5 hex, 32 bytes) so only
  digests + turn indices shuffle, never document text — the same
  hash-first discipline as ``dataops.exact_dedup(strategy='hash')``.

Timestamps are TIMESTAMP_NTZ in parquet; all epoch math goes through
``unix_micros(cast(ts as timestamp))`` which is NTZ-tolerant and matches
DuckDB's ``epoch_us`` (CLAUDE.md note; see also ``queries.py``).
"""

from __future__ import annotations

from typing import Optional, Sequence

from ..config import SketchConfig
from .agg import quantiles

__all__ = [
    "conversation_stats",
    "conv_duration_quantiles",
    "role_transitions",
    "response_latency_quantiles",
    "tool_top_k",
    "tool_distinct_conversations",
    "dedup_conversations",
    "near_dup_conversations",
    "digest_df_stats",
    "tool_transitions",
    "curate_conversations",
    "pack_conversations",
    "sample_conversations",
    "token_quantiles_by_role",
    "turn_model_quality",
    "conversation_model_quality",
    "sft_pairs",
    "conversation_contamination",
    "decontaminate_conversations",
    "tool_latency_quantiles",
    "per_conversation_latency_quantiles",
    "validate_conversations",
    "boilerplate_turns",
    "merge_consecutive_turns",
    "truncate_to_token_budget",
    "self_repetition",
]

DEFAULT_QS = (0.5, 0.95, 0.99)


def _micros(col):
    from pyspark.sql import functions as F

    return F.unix_micros(F.col(col).cast("timestamp"))


def conversation_stats(df):
    """Per-conversation summary frame: turn count, tool-call count,
    distinct roles, total characters, wall-clock duration in seconds.

    One native groupBy — map-side combine bounds the shuffle at one partial
    row per (task, conv_id); no window, no full-text movement (lengths are
    computed in the scan projection). Output columns:
    [conv_id, n_turns, n_tool_turns, n_roles, total_chars, duration_s].
    """
    from pyspark.sql import functions as F

    return (
        df.select(
            "conv_id",
            F.length("text").cast("double").alias("__len"),
            F.col("tool").isNotNull().cast("long").alias("__is_tool"),
            "role",
            _micros("ts").alias("__us"),
        )
        .groupBy("conv_id")
        .agg(
            F.count("*").cast("double").alias("n_turns"),
            F.sum("__is_tool").cast("double").alias("n_tool_turns"),
            # size(collect_set) not countDistinct: a distinct aggregate
            # expands to a TWO-exchange plan (partial by (conv_id, role)
            # then re-shuffle by conv_id); collect_set partial-aggregates
            # map-side in the same single exchange as the other five
            # aggregates, and the set is bounded by role cardinality (4)
            F.size(F.collect_set("role")).cast("double").alias("n_roles"),
            F.sum("__len").alias("total_chars"),
            ((F.max("__us") - F.min("__us")) / 1e6).alias("duration_s"),
        )
    )


def conv_duration_quantiles(
    df,
    qs: Sequence[float] = DEFAULT_QS,
    config: Optional[SketchConfig] = None,
):
    """DDSketch quantiles of conversation wall-clock duration (seconds,
    first-to-last turn). Single-turn conversations contribute 0.0 — DDSketch
    stores zeros in the dedicated zero bucket, exactly (``DDSketch.java:275``
    zeroCount), so the oracle's bucket walk reproduces them.

    Shuffle profile: one map-side-combined groupBy; durations then enter
    the sketch build partition-local.
    """
    durations = conversation_stats(df).select("duration_s")
    return quantiles(durations, "duration_s", qs=qs, config=config)


def _adjacent_pairs(df, extra_cols: Sequence[str] = ()):
    """Frame of adjacent turn pairs via the skew-proof composite-key
    self-join: columns [conv_id, turn_idx, from_role, to_role, gap_s,
    *extra]. Requires the transcript contract's dense per-conversation
    turn_idx numbering (FIXTURES.md section 1)."""
    from pyspark.sql import functions as F

    cur = df.select(
        "conv_id",
        "turn_idx",
        F.col("role").alias("to_role"),
        _micros("ts").alias("__us"),
        *extra_cols,
    )
    prev = df.select(
        "conv_id",
        (F.col("turn_idx") + 1).alias("turn_idx"),
        F.col("role").alias("from_role"),
        _micros("ts").alias("__prev_us"),
    )
    return cur.join(prev, ["conv_id", "turn_idx"]).select(
        "conv_id",
        "turn_idx",
        "from_role",
        "to_role",
        ((F.col("__us") - F.col("__prev_us")) / 1e6).alias("gap_s"),
        *extra_cols,
    )


def role_transitions(df):
    """Count of (from_role -> to_role) adjacent-turn transitions across all
    conversations — the role-transition matrix in long form, UNORDERED
    (callers composing pipelines must not pay a global sort exchange they
    never asked for; the driver gates add the deterministic orderBy the
    oracle hashing needs).

    Both the pair join (distinct composite keys) and the final 16-cell
    groupBy are skew-immune; the count agg is map-side combined. Output:
    [from_role, to_role, n_transitions].
    """
    from pyspark.sql import functions as F

    return (
        _adjacent_pairs(df)
        .groupBy("from_role", "to_role")
        .agg(F.count("*").cast("double").alias("n_transitions"))
    )


def response_latency_quantiles(
    df,
    from_role: str = "user",
    to_role: str = "assistant",
    qs: Sequence[float] = DEFAULT_QS,
    config: Optional[SketchConfig] = None,
):
    """DDSketch quantiles of response latency: the ts gap of adjacent turn
    pairs where ``from_role`` is answered by ``to_role`` (default
    user -> assistant) — the transcript metric operators actually watch,
    distinct from raw turn latency which mixes tool rounds in.

    The role filters push into the two scan projections BEFORE the join
    (Catalyst pushes both through the join keys), so only candidate turns
    shuffle."""
    from pyspark.sql import functions as F

    pairs = _adjacent_pairs(df).filter(
        (F.col("from_role") == from_role) & (F.col("to_role") == to_role)
    )
    lat = pairs.select(F.col("gap_s").alias("latency_s"))
    return quantiles(lat, "latency_s", qs=qs, config=config)


def tool_top_k(df, k: int = 3, mg_k: int = 64):
    """Exact top-k most-called tools via the two-pass Misra-Gries pattern
    (``approx.heavy_hitters``): MG candidates per task, merged, then exact
    counts for candidates only. NULL tool (non-tool turns) excluded before
    the scan leaves the parquet reader (pushed filter).

    Returns [value string, freq double] ordered by freq desc, value."""
    from pyspark.sql import functions as F

    from .approx import heavy_hitters

    return heavy_hitters(df.filter(F.col("tool").isNotNull()), "tool", k=k, mg_k=mg_k)


def tool_distinct_conversations(df, p: int = 14, seed: int = 0):
    """Per-tool distinct-conversation counts via HLL (p=14, rse ~0.81%),
    each estimate bound-checked against the exact COUNT(DISTINCT) — same
    gate shape as ``hll_distinct_users_by_type``. Output:
    [tool, exact_distinct, within_3rse]."""
    from pyspark.sql import functions as F

    from .approx import hll_distinct

    base = df.filter(F.col("tool").isNotNull())
    est = hll_distinct(base, "conv_id", by="tool", p=p, seed=seed)
    exact = base.groupBy("tool").agg(
        F.countDistinct("conv_id").cast("double").alias("exact_distinct")
    )
    return (
        exact.join(est, "tool", "left")
        .select(
            "tool",
            "exact_distinct",
            (
                F.abs(F.coalesce("distinct_est", F.lit(0.0)) - F.col("exact_distinct"))
                <= 3.0 * F.coalesce("rse", F.lit(0.0)) * F.col("exact_distinct")
            ).alias("within_3rse"),
        )
        .orderBy("tool")
    )


def near_dup_conversations(
    df,
    threshold: float = 0.6,
    min_turns: int = 2,
    max_digest_df: int = 64,
):
    """Near-duplicate conversation pairs by EXACT Jaccard over per-turn
    content digests: two conversations are near-duplicates when the distinct
    md5(text) sets of their turns overlap by at least ``threshold`` —
    order-insensitive, the conversation-granularity analogue of
    ``dataops.ngram_jaccard_pairs`` with turns playing the role of shingles
    (agent logs are full of retried / branched conversations that differ in
    a handful of turns; exact ``dedup_conversations`` cannot see them).

    Digest contract: turns are keyed by ``xxhash64(text)`` (8 bytes). A
    64-bit collision merges two distinct turn contents into one set element,
    perturbing a Jaccard score slightly upward — expected colliding pairs
    ~n²/2^65 (≈27 corpus-wide at 10^12 distinct turns, each touching a few
    sets by one element), never a dropped pair. The oracle twin computes the
    same sets from md5, so the driver gate additionally certifies the
    fixture collision-free.

    Scale shape (the same hash-first + lossless-prefilter discipline as the
    document stack):

    - turns reduce to 8-byte digests in the scan projection — text never
      shuffles; the per-conversation distinct set is one map-side-combined
      ``collect_set`` (set size is bounded by the conversation's distinct
      turn count, and conv_id skew contributes one partial per task);
    - candidates come from exact shared-digest buckets — LOSSLESS for any
      positive threshold (CLAUDE.md oracle-twin rule): ONE exchange on the
      digest, each bucket's (sorted, bounded) conversation list expanded to
      pairs by a JVM lambda — no self-join, no digest-count join. Buckets
      larger than ``max_digest_df`` conversations are excluded from
      candidate generation only (boilerplate turns — greetings, empty
      acknowledgements — would otherwise create quadratic bucket blowup;
      they still count in the verify sets, so scores are unaffected; the
      guard is the document LSH joins' ``max_bucket_size`` in
      digest-frequency form). RECALL CONTRACT: a pair whose only shared
      turns are such high-frequency digests never becomes a candidate and
      is missed — pinned by tests/test_transcript_ops.py::
      test_near_dup_boilerplate_recall_contract; monitor what a given cap
      drops with :func:`digest_df_stats` (the ``lsh_bucket_stats``
      counterpart), and raise the cap when boilerplate-only overlap
      matters for the corpus;
    - the verify never computes a union: J = |A∩B| / (|A|+|B|−|A∩B|) from
      one JVM ``array_intersect`` plus precomputed set sizes — and before
      any digest ARRAY moves, candidate pairs are pruned by the size bound
      J ≤ min(|A|,|B|)/max(|A|,|B|) over a sizes-only (8 B/side) join, so a
      hot conversation's multi-thousand-element array is only shipped for
      pairs that could actually pass the threshold; no Python anywhere;
    - the per-conversation digest frame feeds candidate generation AND both
      verify sides, so it is persisted for the duration of the call and the
      (small) pair result is localCheckpoint-materialized before
      unpersisting — otherwise the scan + digest-set aggregation recomputes
      three times (the connected-components reuse discipline, dataops.py).

    ``min_turns`` drops shorter conversations before candidate generation
    (single-turn conversations with equal content are better served by
    ``dedup_conversations``). Returns [conv_a, conv_b, jaccard] with
    conv_a < conv_b and jaccard rounded to 4 digits, UNORDERED (gates add
    the deterministic pair sort; pipeline callers don't pay it).

    Materialization contract: the call EAGERLY executes the pair graph
    (localCheckpoint) so the digest frame's cache can be released before
    returning — the returned frame is small, already materialized on the
    executors, and does NOT recompute on reuse, but like any checkpoint it
    is unrecoverable after executor loss (re-run the call, not the plan).
    """
    from pyspark.sql import functions as F

    per = (
        df.select("conv_id", F.xxhash64(F.col("text")).alias("__h"))
        .groupBy("conv_id")
        .agg(
            F.collect_set("__h").alias("__hs"),
            F.count("*").alias("__n"),
        )
        .filter(F.col("__n") >= min_turns)
        .select("conv_id", "__hs", F.size("__hs").alias("__sz"))
        .persist()
    )
    buckets = (
        per.select("conv_id", F.explode("__hs").alias("__h"))
        .groupBy("__h")
        .agg(F.sort_array(F.collect_set("conv_id")).alias("__cs"))
        .filter((F.size("__cs") >= 2) & (F.size("__cs") <= max_digest_df))
    )
    cand = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(__cs, (x, i) -> "
                    "transform(slice(__cs, i + 2, size(__cs) - i - 1), "
                    "y -> struct(x AS conv_a, y AS conv_b))))"
                )
            ).alias("__p")
        )
        .select("__p.conv_a", "__p.conv_b")
        .distinct()
    )
    sized = (
        cand.join(
            per.select(F.col("conv_id").alias("conv_a"), F.col("__sz").alias("__za")),
            "conv_a",
        )
        .join(
            per.select(F.col("conv_id").alias("conv_b"), F.col("__sz").alias("__zb")),
            "conv_b",
        )
        .filter(
            F.least("__za", "__zb").cast("double")
            >= F.lit(threshold) * F.greatest("__za", "__zb")
        )
    )
    paired = sized.join(
        per.select(F.col("conv_id").alias("conv_a"), F.col("__hs").alias("__sa")),
        "conv_a",
    ).join(
        per.select(F.col("conv_id").alias("conv_b"), F.col("__hs").alias("__sb")),
        "conv_b",
    )
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    jac = inter / (F.col("__za") + F.col("__zb") - inter)
    out = (
        paired.filter(jac >= threshold)
        .select("conv_a", "conv_b", F.round(jac, 4).alias("jaccard"))
        .localCheckpoint(eager=True)
    )
    per.unpersist()
    return out


def digest_df_stats(df, min_turns: int = 2, max_digest_df: int = 64):
    """Monitoring companion to ``near_dup_conversations``'s digest-frequency
    skew guard — the conversation-granularity analogue of
    ``dataops.lsh_bucket_stats``: one row per turn digest whose
    conversation-frequency EXCEEDS ``max_digest_df`` (so it is excluded from
    candidate generation), with that frequency. Log/store this next to the
    pair output so the dropped candidate mass is visible, not silent: a pair
    whose ONLY shared turns are such boilerplate digests can never become a
    candidate (pinned by tests/test_transcript_ops.py::
    test_near_dup_boilerplate_recall_contract).

    Uses the same digest (xxhash64), ``min_turns`` floor, and df definition
    (conversations containing the digest, after the floor) as the candidate
    generator, so what this reports is exactly what the guard drops.
    Output: [digest long, df double], ordered by df desc then digest.
    """
    from pyspark.sql import functions as F

    per = (
        df.select("conv_id", F.xxhash64(F.col("text")).alias("__h"))
        .groupBy("conv_id")
        .agg(F.collect_set("__h").alias("__hs"), F.count("*").alias("__n"))
        .filter(F.col("__n") >= min_turns)
    )
    return (
        per.select(F.explode("__hs").alias("digest"))
        .groupBy("digest")
        .agg(F.count("*").cast("double").alias("df"))
        .filter(F.col("df") > max_digest_df)
        .orderBy(F.desc("df"), "digest")
    )


def curate_conversations(
    df,
    min_turns: int = 2,
    require_roles: Sequence[str] = ("user", "assistant"),
    jaccard_threshold: float = 0.6,
    max_digest_df: int = 64,
    cc_local_threshold: int = 100_000,
    release_cache: bool = False,
):
    """Conversation-granularity curation for SFT corpora — the transcript
    analogue of ``dataprep.curate``: exact conversation dedup → near-dup
    cluster resolution → structural quality gates, with per-stage
    conversation counts. Returns (curated turn-level DataFrame keeping the
    INPUT schema, stats dict accounting for every dropped conversation).

    Stages (each count is a distinct-conversation count):

    1. exact dedup — one representative (min conv_id) per identical ordered
       turn-text sequence (``dedup_conversations`` fingerprints: only
       digests shuffle);
    2. near-dup resolution — connected components over the verified
       ``near_dup_conversations`` pair graph (edges are a tiny fraction of
       the corpus, so ``connected_components``' driver-local union-find leg
       usually applies — ``cc_local_threshold`` passes through); keep the
       min conv_id of each cluster; conversations below the pairing
       ``min_turns`` floor of 2 pass through as singletons;
    3. quality — at least ``min_turns`` turns and at least one turn from
       every role in ``require_roles`` (a conversation with no assistant
       turn teaches nothing).

    Stage order mirrors the document pipeline (dedup first, gates last over
    the dedup survivors): representatives are chosen by min conv_id, not by
    quality, so a cluster whose representative fails the gate is dropped
    whole — the same contract as ``dataprep.curate``. Stage counts are
    computed as actions (one job each), like ``curate``.

    Cache discipline (the same as ``dataprep.curate``'s, which this
    pipeline previously lacked — each stage frame is consumed 3-5 times and
    every consumption would otherwise re-run the corpus scan plus the dedup
    fingerprint groupBy, the dominant cost at 100 TB): ``exact_kept`` is
    persisted for the near-dup candidate pass + CC node frame + stage count
    + ``fuzzy_kept`` join, then released once ``fuzzy_kept``'s own cache
    shields the lineage; ``fuzzy_kept`` feeds the quality aggregate, the
    final semi-join, and the caller's downstream actions, so its cache is
    kept alive backing the RETURNED frame — pass ``release_cache=True`` to
    drop it before returning when only ``stats`` are consumed (a later
    action on the returned frame then recomputes the pipeline).
    """
    from pyspark.sql import functions as F

    from .dataops import connected_components

    stats: dict = {}
    stats["input_convs"] = int(df.select("conv_id").distinct().count())

    exact_reps = dedup_conversations(df).select("conv_id")
    exact_kept = df.join(exact_reps, "conv_id", "left_semi").persist()
    stats["after_exact_dedup"] = int(exact_reps.count())

    pairs = near_dup_conversations(
        exact_kept,
        threshold=jaccard_threshold,
        min_turns=2,
        max_digest_df=max_digest_df,
    ).select(F.col("conv_a").alias("id_a"), F.col("conv_b").alias("id_b"))
    comp = connected_components(
        pairs,
        exact_kept.select("conv_id").distinct(),
        "conv_id",
        local_threshold=cc_local_threshold,
    )
    fuzzy_reps = comp.filter(F.col("conv_id") == F.col("component")).select("conv_id")
    fuzzy_kept = exact_kept.join(fuzzy_reps, "conv_id", "left_semi").persist()
    stats["after_near_dup"] = int(fuzzy_reps.count())
    exact_kept.unpersist()  # fuzzy_kept's cache shields downstream lineage

    meta = fuzzy_kept.groupBy("conv_id").agg(
        F.count("*").alias("__n"), F.collect_set("role").alias("__roles")
    )
    good = meta.filter(F.col("__n") >= min_turns)
    for r in require_roles:
        good = good.filter(F.array_contains("__roles", r))
    good = good.select("conv_id")
    curated = fuzzy_kept.join(good, "conv_id", "left_semi")
    stats["after_quality"] = int(good.count())
    if release_cache:
        fuzzy_kept.unpersist()

    stats["dropped_exact_dups"] = stats["input_convs"] - stats["after_exact_dedup"]
    stats["dropped_near_dups"] = stats["after_exact_dedup"] - stats["after_near_dup"]
    stats["dropped_quality"] = stats["after_near_dup"] - stats["after_quality"]
    return curated, stats


def tool_transitions(df):
    """Tool-call sequence bigrams: counts of (tool -> next tool called in
    the SAME conversation) — the agent-behavior matrix ("which tool follows
    which") over the transcript corpus. Output: [tool, next_tool, n],
    UNORDERED (the gate adds the deterministic sort).

    Plan shape: the NULL-tool filter pushes into the parquet scan, so the
    window sort runs over only the tool-call rows (~8% of turns in the
    fixture profiles); the hot-conversation skew bound for one
    sort-by-(conv_id, turn_idx) exchange is the measured sessionize/window
    leg (BENCH/scaling_r3_skew.json — max-task ratio <=1.16 with one conv =
    20% of all turns). The final 16-cell groupBy is map-side combined.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t = df.filter(F.col("tool").isNotNull()).select("conv_id", "turn_idx", "tool")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = t.select(
        "tool", F.lead("tool").over(w).alias("next_tool")
    ).filter(F.col("next_tool").isNotNull())
    return pairs.groupBy("tool", "next_tool").agg(
        F.count("*").cast("double").alias("n")
    )


def sample_conversations(df, k: int = 100, seed: int = 0):
    """Deterministic CONVERSATION-granularity sample — the eval/holdout
    split primitive for dialogue corpora (sampling turns independently
    would shear conversations apart): the ``k`` conversations with the
    smallest ``md5(seed|conv_id)``, ALL their turns retained, with the
    ``sample_key`` digest appended. Same contract as
    ``dataops.deterministic_sample``: independent of row order, partition
    count, and cluster size; appending new conversations only churns the
    sample where a new digest displaces a bottom-k member.

    Scale shape: distinct conv_ids are a map-side-combined aggregate, the
    bottom-k is TakeOrderedAndProject (per-task k-row heaps, no global
    sort), and the k sampled ids broadcast back onto the turn scan — the
    full corpus never shuffles.
    """
    from pyspark.sql import functions as F

    from .dataops import deterministic_sample

    convs = deterministic_sample(
        df.select("conv_id").distinct(), "conv_id", k=k, seed=seed
    )
    return df.join(F.broadcast(convs), "conv_id")


def pack_conversations(df, max_tokens: int = 512, text_col: str = "text"):
    """Greedy context-window packing — the SFT batching primitive: walk each
    conversation's turns in ``turn_idx`` order and assign consecutive turns
    to windows, opening a new window when adding the turn would push the
    running whitespace-token total past ``max_tokens`` (a single turn larger
    than the budget still gets its own window; windows never split a turn or
    span conversations). Returns the turn-level assignment
    [conv_id, turn_idx, window_id, n_tokens] — join it back to the input on
    (conv_id, turn_idx) to materialize the packed text.

    The fold is inherently sequential PER CONVERSATION but embarrassingly
    parallel across conversations, so it runs entirely in Catalyst: token
    counts in the scan projection, ONE map-side-combined ``collect_list``
    exchange, then the ``aggregate`` lambda computes the greedy boundaries
    row-locally — no Python, no window function, no second shuffle. The
    lambda's array accumulator is O(turns²) element copies within one
    conversation (Spark re-concats per step); fine up to ~10^4-turn
    conversations — beyond that, segment first (``dataops.sessionize``).
    """
    from pyspark.sql import functions as F

    tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    per = (
        df.select("conv_id", "turn_idx", tok.alias("__tok"))
        .groupBy("conv_id")
        .agg(F.array_sort(F.collect_list(F.struct("turn_idx", "__tok"))).alias("__ts"))
    )
    step_win = (
        "CASE WHEN size(a.out) = 0 THEN 0 "
        f"WHEN a.acc + x.__tok > {int(max_tokens)} THEN a.win + 1 "
        "ELSE a.win END"
    )
    fold = (
        "aggregate(__ts, "
        "named_struct('win', 0, 'acc', CAST(0 AS BIGINT), "
        "'out', CAST(array() AS array<struct<turn_idx: int, tok: bigint, win: int>>)), "
        "(a, x) -> named_struct("
        f"'win', {step_win}, "
        f"'acc', CASE WHEN ({step_win}) = a.win AND size(a.out) > 0 "
        "THEN a.acc + x.__tok ELSE x.__tok END, "
        "'out', concat(a.out, array(named_struct("
        f"'turn_idx', x.turn_idx, 'tok', x.__tok, 'win', {step_win})))), "
        "a -> a.out)"
    )
    return per.select("conv_id", F.explode(F.expr(fold)).alias("__w")).select(
        "conv_id",
        F.col("__w.turn_idx").alias("turn_idx"),
        F.col("__w.win").alias("window_id"),
        F.col("__w.tok").alias("n_tokens"),
    )


def dedup_conversations(df):
    """Conversation-level exact dedup: two conversations are duplicates iff
    their ordered turn-text sequences are identical. Returns one row per
    distinct conversation content: [conv_id (min = representative),
    n_copies, n_turns], UNORDERED (the gate adds the conv_id sort).

    Scale shape (hash-first, mirroring ``dataops.exact_dedup`` above its
    size threshold): each turn is reduced to md5(text) hex in the scan
    projection, so the conv_id shuffle moves 32-byte digests + indices,
    never text. The conversation fingerprint is md5 over the '|'-joined
    turn digests in turn_idx order (array_sort on (turn_idx, digest)
    structs -> order by the int key). Fingerprint collisions would need an
    md5 collision inside the corpus — the same 128-bit contract as the
    hash-first document dedup's phase-1 key, except here it is additionally
    guarded by n_turns equality in the group key.
    """
    from pyspark.sql import functions as F

    per_conv = (
        df.select("conv_id", "turn_idx", F.md5(F.col("text")).alias("__h"))
        .groupBy("conv_id")
        .agg(
            F.count("*").cast("double").alias("n_turns"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("turn_idx", "__h"))),
                        lambda x: x["__h"],
                    ),
                )
            ).alias("__fp"),
        )
    )
    return (
        per_conv.groupBy("__fp", "n_turns")
        .agg(
            F.min("conv_id").alias("conv_id"),
            F.count("*").cast("double").alias("n_copies"),
        )
        .select("conv_id", "n_copies", "n_turns")
    )


def turn_model_quality(df, score_col: str = "model_score", int_score_col=None):
    """Per-turn model-based quality scores — the conversation-granularity
    application of :func:`quality_model.model_quality_score` (hashed
    1-2-gram linear classifier, Arrow-batched integer dot): appends
    [n_grams, model_score] to every turn row-locally, so downstream gates
    filter or aggregate with no join. NULL turn text scores NULL.

    Scale shape is the scorer's: one mapInPandas pass, per-batch gram
    dedup, text never shuffles (the score replaces it downstream). For a
    conversation-level signal, aggregate per conv_id AFTER this pass
    (e.g. mean score weighted by n_grams) — the per-turn frame is the
    reusable primitive."""
    from .quality_model import model_quality_score

    return model_quality_score(
        df, text_col="text", score_col=score_col, int_score_col=int_score_col
    )


def conversation_model_quality(df):
    """Per-CONVERSATION model quality: the gram-weighted mean model score
    over all the conversation's (non-NULL) turn texts — the signal a
    curation gate thresholds at conversation granularity. EXACT by
    construction: per-turn INTEGER score numerators and gram counts sum in
    any order (the ``int_score_col`` hook of
    :func:`quality_model.model_quality_score`), with ONE double division at
    the end — so the result is bit-equal to a DuckDB twin aggregating the
    same gram weights directly, which a mean of per-turn double scores
    could never be.

    Scale shape: scorer pass is row-local (text never shuffles — the score
    replaces it), then one map-side-combined groupBy of two int64 columns.
    Output: [conv_id, n_grams double, conv_score double], UNORDERED.
    """
    from pyspark.sql import functions as F

    scored = turn_model_quality(df, int_score_col="__sn")
    return (
        scored.select("conv_id", F.col("n_grams").cast("long").alias("__ng"), "__sn")
        .groupBy("conv_id")
        .agg(
            F.sum("__ng").cast("double").alias("n_grams"),
            (
                F.sum("__sn").cast("double")
                / (F.sum("__ng").cast("double") * F.lit(1e6))
            ).alias("conv_score"),
        )
    )


def token_quantiles_by_role(df, kind="bpe_ish", qs=DEFAULT_QS, config=None):
    """DDSketch quantiles of per-turn TOKEN counts, grouped by role — the
    training-data currency (context budgets, cost, packing) rather than raw
    characters. ``kind`` follows ``dataops.token_count_expr``: 'whitespace'
    or 'bpe_ish' (letter/digit/punct pre-token regex, dialect-portable so
    the DuckDB twin counts the identical tokens).

    Plan shape is the north-star text-length query's: the token count is a
    Catalyst expression in the scan projection, stage 1 of the sketch build
    is scan-partition-local, and only (role, bucket) sketch rows shuffle —
    per-row cost scales with turn text length, total cost with turn count.
    """
    from pyspark.sql import functions as F

    from .dataops import token_count_expr

    t = df.select(
        "role", token_count_expr("text", kind).cast("double").alias("n_tokens")
    )
    return quantiles(t, "n_tokens", by="role", qs=qs, config=config)


def sft_pairs(df, context_turns: int = 3, response_role: str = "assistant"):
    """(context, response) training-pair extraction — the SFT primitive:
    for every ``response_role`` turn (except a conversation's first turn),
    the response is that turn's text and the context is the previous up-to-
    ``context_turns`` turns rendered ``role: text`` and joined by newlines,
    in turn order.

    Runs as ONE window over (conv_id ORDER BY turn_idx) with a bounded ROWS
    frame: ``collect_list`` over the frame preserves frame order, so the
    context string is assembled row-locally from at most ``context_turns``
    neighbor turns — no self-join, no per-row Python, and the state per row
    is bounded by the frame, not the conversation (a 10^5-turn agent log
    costs the same per row as a 5-turn chat). The single sort-exchange's
    hot-conversation bound is the measured window leg
    (BENCH/scaling_r3_skew.json, max-task ratio <= 1.16 at 20% skew).

    Returns [conv_id, turn_idx, n_context_turns, context, response],
    UNORDERED — composing callers (packing, sampling, a corpus write) must
    not pay a global sort exchange; the driver gate adds the deterministic
    (conv_id, turn_idx) sort the oracle hashing needs (plan-pinned sortless
    in tests/test_plans.py).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-int(context_turns), -1)
    )
    rendered = F.concat_ws(": ", F.col("role"), F.col("text"))
    out = (
        df.select("conv_id", "turn_idx", "role", "text", rendered.alias("__r"))
        .select(
            "conv_id",
            "turn_idx",
            "role",
            F.size(F.collect_list("__r").over(w)).cast("double").alias(
                "n_context_turns"
            ),
            F.array_join(F.collect_list("__r").over(w), "\n").alias("context"),
            F.col("text").alias("response"),
        )
        .filter((F.col("role") == response_role) & (F.col("turn_idx") > 0))
        .drop("role")
    )
    return out


def conversation_contamination(df, eval_ids):
    """Per-conversation eval-set contamination report: for every TRAIN
    conversation (one not in ``eval_ids``), the number of its distinct turn
    texts that also appear verbatim as a turn of some eval conversation —
    the transcript analogue of ``dataops.cross_corpus_contamination`` with
    whole turns playing the role of shingles (exact-turn leakage is the
    signal SFT decontamination acts on; sub-turn fuzzy overlap belongs to
    ``near_dup_conversations``).

    Scale shape: turns reduce to md5 digests in the scan projection (text
    never shuffles); the eval digest set — bounded by the eval split's turn
    count, thousands of rows by construction — BROADCASTS onto the train
    scan, so the corpus-side plan is scan → broadcast semi-probe → distinct
    + count of only the MATCHED digest rows. No shuffle touches unmatched
    turns; there is no corpus-sized exchange at all.

    ``eval_ids``: DataFrame with a ``conv_id`` column (e.g. the output of
    ``sample_conversations(...).select('conv_id').distinct()``).

    Returns [conv_id, n_shared_turns] (train conversations with >= 1 shared
    turn), UNORDERED (``decontaminate_conversations`` consumes this frame
    as a join side — a global sort there would be pure waste; the gate
    orders).
    """
    from pyspark.sql import functions as F

    eval_ids = eval_ids.select("conv_id").distinct()
    eval_digests = (
        df.join(eval_ids, "conv_id", "left_semi")
        .select(F.md5(F.col("text")).alias("__h"))
        .distinct()
    )
    train = df.join(eval_ids, "conv_id", "left_anti")
    return (
        train.select("conv_id", F.md5(F.col("text")).alias("__h"))
        .join(F.broadcast(eval_digests), "__h", "left_semi")
        .distinct()
        .groupBy("conv_id")
        .agg(F.count("*").cast("double").alias("n_shared_turns"))
    )


def decontaminate_conversations(df, eval_ids):
    """Drop every train conversation flagged by
    ``conversation_contamination`` (and the eval conversations themselves),
    returning the clean training turns with the input schema. Composition:
    contamination report → anti-join on conv_id — both sides of the
    anti-join are conversation-id frames, never turn-level text."""
    contaminated = conversation_contamination(df, eval_ids).select("conv_id")
    eval_ids = eval_ids.select("conv_id").distinct()
    return df.join(eval_ids, "conv_id", "left_anti").join(
        contaminated, "conv_id", "left_anti"
    )


def tool_latency_quantiles(df, qs=DEFAULT_QS, config=None):
    """Per-tool DDSketch quantiles of tool-call roundtrip latency: the ts
    gap from each tool turn to the NEXT turn of its conversation (the time
    the tool result took to produce, plus the next turn's generation lead) —
    grouped by tool so slow tools surface directly.

    Uses the skew-proof composite-key formulation: the next-turn side keys
    by (conv_id, turn_idx) and the tool side by (conv_id, turn_idx + 1) —
    every join key distinct, so a hot conversation spreads uniformly instead
    of sorting in one task; the NULL-tool filter pushes into the parquet
    scan so only tool rows (~8% in the fixture profiles) join. A tool turn
    that ends its conversation has no next turn and is dropped by the inner
    join (the LEAD twin's NULL-gap filter).
    """
    from pyspark.sql import functions as F

    nxt = df.select("conv_id", "turn_idx", _micros("ts").alias("__us"))
    cur = df.filter(F.col("tool").isNotNull()).select(
        "conv_id",
        (F.col("turn_idx") + 1).alias("turn_idx"),
        "tool",
        _micros("ts").alias("__prev_us"),
    )
    gaps = cur.join(nxt, ["conv_id", "turn_idx"]).select(
        "tool", ((F.col("__us") - F.col("__prev_us")) / 1e6).alias("gap_s")
    )
    return quantiles(gaps, "gap_s", by="tool", qs=qs, config=config)


def per_conversation_latency_quantiles(df, qs=(0.5, 0.95), config=None):
    """Per-conversation DDSketch quantiles of turn latency — the
    HIGH-CARDINALITY grouped aggregation over the north-star table: one
    group per conversation (10^8-10^9 groups at 10^12 turns), the shape
    that routes ``agg.quantiles`` through its cardinality-aware physical
    modes (pure-SQL plan for log configs: hash aggregate on (conv_id, sign,
    bucket) with map-side combine — no Python stage, no per-group state).

    Latencies come from the skew-proof composite-key join
    (``_adjacent_pairs``), so a hot conversation neither straggles the pair
    join nor the bucket aggregate (its buckets partial-aggregate map-side).
    Single-turn conversations have no adjacent pair and are absent from the
    output, matching the NULL-gap-filtered oracle.
    """
    from pyspark.sql import functions as F

    pairs = _adjacent_pairs(df).select("conv_id", F.col("gap_s").alias("lat"))
    return quantiles(pairs, "lat", by="conv_id", qs=qs, config=config)


def validate_conversations(df, allowed_roles=("user", "assistant", "system", "tool")):
    """Per-conversation schema/flow validation — the SFT-ingest gatekeeper
    stage: before a transcript corpus trains anything, every conversation is
    checked against the north-star contract (BASELINE.json ``input_hint``)
    and failures are COUNTED per check so the pipeline reports WHY a
    conversation was rejected, not just that it was.

    Checks (one column each):
      - ``idx_dense``        turn_idx is exactly 0..n-1 (min/max/distinct)
      - ``first_role_ok``    the turn_idx-minimal role is user or system
      - ``n_bad_roles``      roles outside ``allowed_roles``
      - ``n_empty_text``     NULL or zero-length text turns
      - ``n_tool_mismatch``  turns where (role=='tool') != (tool IS NOT NULL)
      - ``n_ts_regressions`` adjacent pairs with ts going BACKWARD
      - ``n_same_role_adj``  adjacent same-role pairs (signal only — tool
        interleaving legitimately breaks alternation, so this does NOT gate
        ``is_valid``)
    ``is_valid`` = idx_dense AND first_role_ok AND all gating counters zero.

    Shuffle shape: one map-side-combined groupBy for the row-local checks; a
    ``(conv_id, turn_idx)``-distinct count for density (its partial keys on
    the composite pair, so a hot conversation spreads — the skew-PROOF shape
    here, the opposite call from conversation_stats' collect_set(role) whose
    cardinality is 4); adjacency via the composite-key self-join
    (``_adjacent_pairs``). Adjacency deliberately checks only consecutive
    turn_idx pairs that EXIST — a validator must not assume the dense
    numbering it is itself validating, and the missing pairs are exactly
    what ``idx_dense`` reports. Text never shuffles (only its emptiness bit
    leaves the scan).
    """
    from pyspark.sql import functions as F

    base = df.select(
        "conv_id",
        "turn_idx",
        "role",
        (F.col("text").isNull() | (F.length("text") == 0))
        .cast("long")
        .alias("__empty"),
        (~F.col("role").isin(*allowed_roles)).cast("long").alias("__badrole"),
        ((F.col("role") == "tool") != F.col("tool").isNotNull())
        .cast("long")
        .alias("__toolmm"),
    )
    g = base.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.min("turn_idx").alias("__min_idx"),
        F.max("turn_idx").alias("__max_idx"),
        F.min_by("role", "turn_idx").alias("__first_role"),
        F.sum("__badrole").alias("n_bad_roles"),
        F.sum("__empty").alias("n_empty_text"),
        F.sum("__toolmm").alias("n_tool_mismatch"),
    )
    d = (
        df.select("conv_id", "turn_idx")
        .distinct()
        .groupBy("conv_id")
        .agg(F.count("*").alias("__n_distinct_idx"))
    )
    adj = _adjacent_pairs(df).groupBy("conv_id").agg(
        F.sum((F.col("gap_s") < 0).cast("long")).alias("n_ts_regressions"),
        F.sum((F.col("from_role") == F.col("to_role")).cast("long")).alias(
            "n_same_role_adj"
        ),
    )
    j = g.join(d, "conv_id").join(adj, "conv_id", "left")
    idx_dense = (
        (F.col("__min_idx") == 0)
        & (F.col("__max_idx") == F.col("n_turns") - 1)
        & (F.col("__n_distinct_idx") == F.col("n_turns"))
    )
    first_ok = F.col("__first_role").isin("user", "system")
    n_reg = F.coalesce(F.col("n_ts_regressions"), F.lit(0))
    n_same = F.coalesce(F.col("n_same_role_adj"), F.lit(0))
    return j.select(
        "conv_id",
        "n_turns",
        idx_dense.alias("idx_dense"),
        first_ok.alias("first_role_ok"),
        "n_bad_roles",
        "n_empty_text",
        "n_tool_mismatch",
        n_reg.alias("n_ts_regressions"),
        n_same.alias("n_same_role_adj"),
        (
            idx_dense
            & first_ok
            & (F.col("n_bad_roles") == 0)
            & (F.col("n_empty_text") == 0)
            & (F.col("n_tool_mismatch") == 0)
            & (n_reg == 0)
        ).alias("is_valid"),
    )


def boilerplate_turns(df, min_convs: int = 5, count_col: str = "text_conv_df"):
    """Cross-conversation canned-response detection: a turn's text is
    *boilerplate* when the identical text appears in >= ``min_convs``
    DISTINCT conversations (templated greetings, canned tool prompts,
    scripted system turns). Appends ``is_boilerplate`` plus the text's
    distinct-conversation frequency (``count_col``, NULL for NULL text) to
    every turn — the transcript-side counterpart of
    ``dataops.corpus_line_dedup``'s ``max_df`` boilerplate strip, at turn
    granularity with conversation-level df (occurrence df would overcount
    a loop inside ONE conversation). Beyond-reference, brief-driven.

    Scale shape: the portable 60-bit md5 text key is computed in the scan
    projection, so only ``(key 8B, conv_id)`` rows reach the distinct
    (map-side-combined on the composite key — a canned text repeated a
    billion times is one partial per task per conversation it touches) and
    only ``(key, df)`` rows reach the count; the flagged-key minority then
    joins back onto the turn stream (AQE broadcasts it when small). The
    turn text itself never shuffles. NULL text is never boilerplate.
    """
    from pyspark.sql import functions as F

    from .dataops import _portable_line_key

    if min_convs < 2:
        raise ValueError("min_convs must be >= 2")
    keyed = df.withColumn("__k", _portable_line_key(F.col("text")))
    freq = (
        keyed.filter(F.col("text").isNotNull())
        .select("__k", "conv_id")
        .distinct()
        .groupBy("__k")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= min_convs)
    )
    out = keyed.join(freq, "__k", "left")
    return out.select(
        *df.columns,
        F.col("__df").isNotNull().alias("is_boilerplate"),
        F.when(F.col("text").isNotNull(), F.coalesce(F.col("__df"), F.lit(0)))
        .cast("long")
        .alias(count_col),
    )


def merge_consecutive_turns(df, text_col: str = "text", sep: str = "\n"):
    """Collapse runs of consecutive same-role turns into one turn — the
    standard transcript normalization before SFT-pair extraction or packing
    (multi-message assistant streaks, chunked tool output, double-sends all
    become one logical turn). A run is a maximal ``turn_idx``-consecutive*
    stretch of one role within a conversation (*consecutive in ORDER, not in
    index value — gaps left by earlier filtering stages don't split a run
    unless the role changes). Returns one row per run:
    [conv_id, turn_idx (first of run), role, text (``sep``-joined in
    turn_idx order, NULL texts as ''), ts_us (min epoch-microseconds),
    n_merged]. ``tool`` is intentionally dropped: a merged run can span
    multiple tool invocations, so no single value is faithful.

    Scale shape: text moves exactly ONCE — ``repartition(conv_id)`` +
    JVM ``sortWithinPartitions`` + one ``mapInPandas`` pass (the
    ``agg.merge_partials_to_sketch_rows`` chassis) whose run
    detection and per-run joins are vectorized pandas over the whole
    partition. No window function, no second exchange, no per-group Python
    apply. conv_id skew: a hot conversation lands in one task but the work
    is linear in its turns (shift + cumsum + groupby-join). Timestamps are
    converted to epoch micros in the scan projection so Arrow ships int64,
    not NTZ timestamps. Beyond-reference, brief-driven (LLM-pipeline
    preprocessing).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    src = df.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("role").cast("string").alias("role"),
        F.coalesce(F.col(text_col), F.lit("")).cast("string").alias("__text"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__ts_us"),
    )

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "ts_us long, n_merged long"
    )

    def fold(batches):
        import numpy as np

        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        # partition is sorted by (conv_id, turn_idx); a run breaks on a new
        # conversation or a role change. Runs are CONTIGUOUS, so run firsts
        # are direct fancy-indexing and mins are ufunc reduceat — no pandas
        # groupby, no per-run Python lambda except the inherent text join
        # (2.5x on the 2.9M-turn fixture, BENCH/ab_r5p5_merge.json)
        conv = pdf["conv_id"].to_numpy()
        role = pdf["role"].to_numpy()
        n = len(pdf)
        brk = np.ones(n, dtype=bool)
        brk[1:] = (conv[1:] != conv[:-1]) | (role[1:] != role[:-1])
        starts = np.flatnonzero(brk)
        ends = np.append(starts[1:], n)
        txt = pdf["__text"].to_numpy()
        ts = pdf["__ts_us"].to_numpy()
        ts_min = np.minimum.reduceat(ts, starts)
        if ts_min.dtype.kind == "f":  # NULL ts arrives as float64 + NaN
            ts_out = pd.array(
                [None if np.isnan(v) else int(v) for v in ts_min], dtype="Int64"
            )
        else:
            ts_out = ts_min
        # turn_idx is ascending within a conversation here (sorted), so the
        # run's first index IS its min
        yield pd.DataFrame(
            {
                "conv_id": conv[starts],
                "turn_idx": pdf["turn_idx"].to_numpy()[starts],
                "role": role[starts],
                "text": [sep.join(txt[s:e]) for s, e in zip(starts, ends)],
                "ts_us": ts_out,
                "n_merged": ends - starts,
            }
        )

    parted = src.repartition("conv_id").sortWithinPartitions("conv_id", "turn_idx")
    return parted.mapInPandas(fold, schema=schema)


def truncate_to_token_budget(df, max_tokens: int = 256, text_col: str = "text"):
    """Context-window truncation — keep, per conversation, the longest
    SUFFIX of turns whose whitespace-token total fits ``max_tokens`` (the
    chat-serving recency policy: drop oldest turns first, never split a
    turn). Returns the kept turn assignment [conv_id, turn_idx, n_tokens,
    cum_tokens] where ``cum_tokens`` is the running suffix total including
    the turn; join back on (conv_id, turn_idx) to materialize text. A
    conversation whose LAST turn alone exceeds the budget keeps zero turns
    (honest truncation — callers wanting keep-at-least-one filter upstream).

    Scale shape: token counts are computed in the scan projection
    (``token_count_expr``), so only (conv_id, turn_idx, n_tokens) — ints
    plus the key — enter the single window exchange; text never shuffles.
    The window is one exchange + sort with an explicit ROWS frame (running
    suffix sum). Beyond-reference, brief-driven.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .dataops import token_count_expr

    narrow = df.select(
        "conv_id",
        "turn_idx",
        token_count_expr(text_col).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        narrow.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= int(max_tokens))
        .select("conv_id", "turn_idx", "n_tokens", "cum_tokens")
    )


def self_repetition(df, near_pct: int = 95):
    """Agent-loop detection: within each (conversation, role), compare every
    turn to that role's PREVIOUS turn and count verbatim repeats (identical
    text — the retry-loop signature in agent transcripts) and near-repeats
    by length (``min_len * 100 >= near_pct * max_len`` — INTEGER arithmetic,
    no division, exact cross-engine). Returns one row per (conv_id, role)
    with at least one same-role pair: [conv_id, role, n_pairs, n_verbatim,
    n_len_near]. Text equality uses the 60-bit portable md5 key
    (``dataops._portable_line_key`` — the quality_model.py cross-engine
    hash) with an exact-length guard; NULL texts never match anything.

    Scale shape: keys and lengths are computed in the scan projection, so
    only (conv_id, role, turn_idx, key 8B, len 8B) enter the ONE narrow
    window (per-role rank) and the composite-key self-join on
    (conv_id, role, rank+1) — every join key distinct by construction, the
    skew-proof adjacency trick (_adjacent_pairs) applied to the role
    SUBSEQUENCE, where a turn_idx+1 join can't work because same-role turns
    aren't index-adjacent. Text never shuffles. Beyond-reference,
    brief-driven (curation signal: conversations stuck in loops).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .dataops import _portable_line_key

    narrow = df.select(
        "conv_id",
        "role",
        "turn_idx",
        F.when(
            F.col("text").isNotNull(), _portable_line_key(F.col("text"))
        ).alias("__k"),
        F.length("text").cast("long").alias("__len"),
    )
    w = Window.partitionBy("conv_id", "role").orderBy("turn_idx")
    ranked = narrow.withColumn("__r", F.row_number().over(w))
    cur = ranked.select(
        "conv_id", "role", "__r", F.col("__k").alias("__ck"), F.col("__len").alias("__cl")
    )
    prev = ranked.select(
        "conv_id",
        "role",
        (F.col("__r") + 1).alias("__r"),
        F.col("__k").alias("__pk"),
        F.col("__len").alias("__pl"),
    )
    pairs = cur.join(prev, ["conv_id", "role", "__r"])
    verbatim = (
        F.col("__ck").isNotNull()
        & F.col("__pk").isNotNull()
        & (F.col("__ck") == F.col("__pk"))
        & (F.col("__cl") == F.col("__pl"))
    )
    near = (
        F.col("__cl").isNotNull()
        & F.col("__pl").isNotNull()
        & (
            F.least("__cl", "__pl") * F.lit(100)
            >= F.lit(int(near_pct)) * F.greatest("__cl", "__pl")
        )
    )
    return pairs.groupBy("conv_id", "role").agg(
        F.count("*").alias("n_pairs"),
        F.sum(verbatim.cast("long")).alias("n_verbatim"),
        F.sum(near.cast("long")).alias("n_len_near"),
    )
