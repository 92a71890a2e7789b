"""Large-scale training-data pipeline operators over document/embedding
tables: deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine), similarity search (brute-force + LSH-bucketed ANN), and
text analysis (token counts, quality scores, fingerprints, language-id
heuristic).

Design for 100 TB: every candidate-generation step is a *bucket join* (hash
keys shuffle, never O(n^2) comparisons); exact verification runs only within
buckets; all hashing is the process-stable vectorized hashing from
``ddsparkle.sketches.hashing`` so shards agree across executors.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd

from ..sketches.hashing import hash64

__all__ = [
    "exact_dedup",
    "deterministic_sample",
    "ngram_shingles_expr",
    "ngram_jaccard_pairs",
    "document_fingerprints",
    "embedding_near_duplicates",
    "ann_lsh_topk",
    "cross_corpus_contamination",
    "normalize_text_expr",
    "exact_dedup_normalized",
    "token_count_expr",
    "BPE_ISH_PATTERN",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "near_duplicates",
    "simhash64",
    "hamming_near_dup_pairs",
    "embedding_lsh_candidates",
    "lsh_bucket_stats",
    "connected_components",
    "near_dup_clusters",
    "text_quality",
    "quality_exprs",
    "language_id",
    "language_pred_expr",
    "language_score_exprs",
    "language_pick_expr",
    "sessionize",
    "session_stats",
    "deterministic_stratified_sample",
    "chunk_documents",
    "PII_PATTERNS",
    "pii_count_exprs",
    "redact_pii_expr",
    "redact_pii",
    "repeated_line_exprs",
    "remove_repeated_lines",
    "corpus_line_dedup",
    "duplicated_spans",
    "strip_duplicated_spans",
    "semdedup",
    "assign_split",
    "hash_sample_by_group",
    "temperature_mix",
    "kmeans_embeddings",
    "tfidf_top_terms",
    "exact_moments",
    "funnel_counts",
    "exact_quantiles_histogram",
    "burn_rate_alerts",
    "cohort_retention",
    "top_event_paths",
]

_WORD_SEED = 0x7E57DA7A


def _ensure_parallelism(df, target: Optional[int] = None):
    """Spread a narrow input across the cluster before heavy per-row work.

    Shingle hashing, per-shingle md5, MinHash/SimHash signing, and cosine
    folds are CPU-bound per row; a small input read as one split (or a
    single-row-group parquet file, which Spark cannot subdivide) would run
    them on ONE core. When the frame has fewer partitions than the cluster's
    parallelism, repartition up to it — the one-time shuffle of the raw text
    is amortized many times over by the per-row compute it parallelizes. At
    100 TB this is a structural no-op: large inputs already scan as >= cores
    splits, so the gate skips the shuffle entirely.
    """
    target = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# polynomial-combine constant for word n-gram shingle hashes (odd -> the
# multiply is a bijection mod 2^64)
_COMB = np.uint64(0xC6A4A7935BD1E995)


def _empty_doc_hash() -> np.uint64:
    return hash64(pd.Series([""]), seed=_WORD_SEED)[0]


def _shingle_hashes(text: str, n: int) -> np.ndarray:
    """uint64 hashes of the word n-gram shingles of ONE document.

    A shingle hash is a polynomial fold over per-word hashes,
    ``((h(w1)*C + h(w2))*C + h(w3))``, NOT a hash of the joined string: the
    fold is hash-equivalent for all dedup purposes (distinct n-gram tuples
    collide with probability ~2^-64) but lets the batch path hash each word
    once instead of hashing n-times-longer shingle strings — measured 6x
    cheaper, and the string-hash pass is the MinHash bottleneck at scale.
    Documents with 0 < len(words) < n fold all their words; empty documents
    get a fixed empty-hash. The batch variant below must agree exactly."""
    words = text.split()
    if not words:
        return np.array([_empty_doc_hash()], np.uint64)
    wh = hash64(pd.Series(words), seed=_WORD_SEED)
    eff_n = min(n, len(words))
    n1 = len(words) - eff_n + 1
    c = wh[:n1].copy()
    for j in range(1, eff_n):
        c *= _COMB
        c += wh[j : j + n1]
    return c


def _batch_shingle_hashes(texts, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Shingle hashes of EVERY document in an Arrow batch through ONE
    vectorized hash64 call over the concatenated words: returns
    (hashes, starts, counts) with doc i's shingle hashes at
    ``hashes[starts[i] : starts[i] + counts[i]]``. Exactly equal to per-doc
    ``_shingle_hashes`` (tested), with the per-row Python reduced to
    ``str.split`` — hashing, the rolling combine, and all downstream matrix
    work amortize over the whole batch (at 10^12 docs the per-row Python
    dispatch of one-hash-call-per-doc dominates the pipeline)."""
    n_docs = len(texts)
    word_lists = [(t or "").split() for t in texts]
    wc = np.fromiter((len(w) for w in word_lists), np.int64, n_docs)
    counts = np.where(wc >= n, wc - n + 1, 1)
    starts = np.zeros(n_docs, np.int64)
    if n_docs > 1:
        starts[1:] = np.cumsum(counts)[:-1]
    out = np.empty(int(counts.sum()) if n_docs else 0, np.uint64)
    all_words = [w for lst in word_lists for w in lst]
    wh = (
        hash64(pd.Series(all_words), seed=_WORD_SEED)
        if all_words
        else np.empty(0, np.uint64)
    )
    # rolling n-fold over the concatenated word hashes; positions whose n
    # words span a document boundary are invalid and masked out
    n1 = wh.size - n + 1
    special = wc < n  # docs folding fewer than n words (incl. empty)
    if n1 > 0:
        c = wh[:n1].copy()
        for j in range(1, n):
            c *= _COMB
            c += wh[j : j + n1]
        doc_of = np.repeat(np.arange(n_docs), wc)
        valid = doc_of[:n1] == doc_of[n - 1 :]
        slot_ok = np.ones(out.size, bool)
        slot_ok[starts[special]] = False
        out[slot_ok] = c[valid]
    if special.any():
        ws = np.zeros(n_docs, np.int64)
        if n_docs > 1:
            ws[1:] = np.cumsum(wc)[:-1]
        empty_h = _empty_doc_hash()
        for i in np.flatnonzero(special):
            k = int(wc[i])
            if k == 0:
                out[starts[i]] = empty_h
                continue
            acc = wh[ws[i]]
            for j in range(1, k):
                acc = acc * _COMB + wh[ws[i] + j]
            out[starts[i]] = acc
    return out, starts, counts


def _bucket_pairs(
    exploded,
    id_col: str,
    band_col: str = "band",
    bucket_col: str = "bucket",
    max_bucket_size: Optional[int] = 1000,
):
    """Distinct candidate pairs (id_a < id_b) sharing any (band, bucket).

    Skew guard (the classic LSH skew bomb): one degenerate bucket — e.g.
    thousands of empty/boilerplate documents sharing a band hash — makes the
    self-join O(b^2) with one reducer eating it. Buckets larger than
    ``max_bucket_size`` are dropped from candidate generation via a window
    count sharing the join's own shuffle key (no extra evaluation of the
    upstream pipeline). Drop policy: members of a degenerate bucket are
    exact-duplicate-level similar, which ``exact_dedup`` catches without a
    pairwise join; near-dup pairs that shared ONLY an oversized bucket can be
    missed, so size the cap to the corpus (None disables). Use
    ``lsh_bucket_stats`` to monitor what a given cap would drop."""
    from pyspark.sql import functions as F

    if max_bucket_size is not None:
        # bucket sizes via a window count over (band, bucket): this shares
        # the self-join's own shuffle key, so the upstream pipeline (e.g.
        # the MinHash signing pass) is NOT evaluated an extra time the way a
        # separate aggregate + anti-join would force. The degenerate bucket
        # lands whole in one partition for the count — thousands of rows,
        # trivial; the bomb this guard defuses is the join's b^2 OUTPUT.
        from pyspark.sql import Window

        w = Window.partitionBy(band_col, bucket_col)
        exploded = (
            exploded.withColumn("__bsz", F.count("*").over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{band_col}") == F.col(f"b.{band_col}"))
            & (F.col(f"a.{bucket_col}") == F.col(f"b.{bucket_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _oversized_buckets(exploded, band_col: str, bucket_col: str, max_bucket_size: int):
    """[band, bucket, size] of buckets above the cap — the ONE definition of
    'oversized' shared by the ``_bucket_pairs`` guard and the monitoring
    view, so what monitoring reports is exactly what the guard drops."""
    from pyspark.sql import functions as F

    return (
        exploded.groupBy(band_col, bucket_col)
        .agg(F.count("*").alias("size"))
        .filter(F.col("size") > max_bucket_size)
    )


def lsh_bucket_stats(exploded, band_col: str = "band", bucket_col: str = "bucket", max_bucket_size: int = 1000):
    """Monitoring companion to the ``_bucket_pairs`` skew guard: DataFrame of
    oversized buckets [band, bucket, size] a given cap would drop — log/store
    this next to pipeline output so dropped mass is visible, not silent."""
    from pyspark.sql import functions as F

    return _oversized_buckets(exploded, band_col, bucket_col, max_bucket_size).orderBy(
        F.col("size").desc()
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    by_hash: bool = False,
    strategy: str = "auto",
    broadcast_limit: int = 8_000_000,
    direct_threshold_bytes: int = 4 << 30,
):
    """Keep one representative (min id) per exact text: [id_col, n_copies].

    ``strategy='auto'`` picks the plan from Catalyst's input-size statistic
    (no job): at or below ``direct_threshold_bytes`` (default 4 GiB) the
    'direct' single-shuffle ``groupBy(text)`` plan wins — the text shuffle
    is trivial at that size and the hash-first plan's two extra jobs
    dominate (same-epoch A/B at sf0.1: 0.25 s direct vs 0.81 s hash-first);
    above it, the hash-first plan — at corpus scale the text shuffle IS the
    job (2.5x shuffle-byte reduction measured on a 380 MB fixture, far more
    on mostly-unique corpora). All strategies return identical exact
    answers.

    The hash-first plan — full documents never shuffle:

    1. ``groupBy(xxhash64(text), length(text))`` → per-group (min id,
       count). Shuffle rows are 16-byte keys + id + count; map-side combine
       collapses duplicates before the wire. Groups with count == 1 are
       DONE (a single row cannot collide with itself) — in a mostly-unique
       corpus that resolves almost every document with key-only shuffles.
    2. Only rows whose (hash, length) group has count > 1 — the duplicate
       candidates plus ~n^2/2^80 hash-collision groups — go through an
       exact ``groupBy(hash, length, text)`` verify. Map-side partial
       aggregation sends one copy per distinct text per task, and a real
       collision simply yields two output rows, so the answer is exact with
       zero collision risk.

    The phase-2 candidate filter never shuffles the probe side:
    ``strategy='broadcast'`` broadcast-semi-joins the multi-group keys
    (exact); ``strategy='bloom'`` broadcasts a Bloom filter over the group
    hashes and probes it with an Arrow-batched UDF on the 8-byte hash
    column only (false positives are unique texts that fall through to
    phase 2 and come back out as singletons — still exact; phase-1
    singleton rows that probe positive are dropped in favor of their
    phase-2 twin, so nothing double-reports). ``strategy='auto'`` counts
    the multi groups (one key-only decision job) and picks broadcast up to
    ``broadcast_limit`` keys, bloom above.

    ``by_hash=True`` is the old single-pass prefilter: groups by
    xxhash64(text) alone and ACCEPTS ~n^2/2^65 silent merges — at 10^12
    docs that is tens of thousands of expected collisions, so it is a
    pre-filter, not an exact answer.
    """
    from pyspark.sql import functions as F

    if by_hash:
        return (
            df.groupBy(F.xxhash64(F.col(text_col)).alias("__th"))
            .agg(
                F.min(id_col).alias(id_col),
                F.count("*").cast("double").alias("n_copies"),
            )
            .drop("__th")
        )
    if strategy not in ("auto", "direct", "broadcast", "bloom"):
        raise ValueError(
            f"unknown strategy {strategy!r}; one of auto|direct|broadcast|bloom"
        )
    if strategy == "auto":
        try:
            est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        except Exception:
            est = None  # unknown size -> assume large (the scale-safe plan)
        if est is not None and est <= direct_threshold_bytes:
            strategy = "direct"
    if strategy == "direct":
        return (
            df.groupBy(F.col(text_col).alias("__t"))
            .agg(
                F.min(id_col).alias(id_col),
                F.count("*").cast("double").alias("n_copies"),
            )
            .drop("__t")
        )
    keyed = df.select(
        F.col(id_col),
        F.col(text_col),
        F.xxhash64(F.col(text_col)).alias("__h"),
        F.length(F.col(text_col)).alias("__l"),
    )
    groups = keyed.groupBy("__h", "__l").agg(
        F.min(id_col).alias(id_col), F.count("*").alias("__n")
    )
    singles = groups.filter(F.col("__n") == 1)
    multi_keys = groups.filter(F.col("__n") > 1).select("__h", "__l")

    if strategy != "broadcast":
        # decision/sizing job: one scan + 16-byte-key shuffle, no text
        n_multi = multi_keys.count()
        if strategy == "auto":
            strategy = "broadcast" if n_multi <= broadcast_limit else "bloom"

    if strategy == "broadcast":
        cand = keyed.join(F.broadcast(multi_keys), ["__h", "__l"], "semi")
    else:
        member = _bloom_member_udf(multi_keys, "__h", max(n_multi, 1))
        cand = keyed.filter(member(F.col("__h")))
        # bloom false positives resolve (correctly, as singletons) in
        # phase 2 — drop their phase-1 row so nothing double-reports
        singles = singles.filter(~member(F.col("__h")))

    resolved = cand.groupBy("__h", "__l", F.col(text_col)).agg(
        F.min(id_col).alias(id_col), F.count("*").alias("__n")
    )
    out = lambda d: d.select(  # noqa: E731
        F.col(id_col), F.col("__n").cast("double").alias("n_copies")
    )
    return out(singles).unionByName(out(resolved))


def _bloom_member_udf(build_df, col: str, n_keys: int, k: int = 7, seed: int = 0):
    """Broadcast-Bloom membership probe as an Arrow-batched scalar UDF over
    a single int64 column — the shuffle-free semi-join prefilter for
    ``exact_dedup``'s bloom strategy. Sized at ~16 bits/key (fp ~0.2%);
    capped at 1 GiB of broadcast bits — beyond ~5e8 keys a single broadcast
    filter stops being the right tool and the cap just bounds fp growth
    (false positives only cost phase-2 work, never correctness)."""
    from pyspark.sql.functions import pandas_udf

    from ..sketches import BloomFilter
    from .approx import _build_payload_partials, _reduce_payloads

    n_bits = 1 << min(33, max(16, int(np.ceil(np.log2(16 * n_keys)))))
    partials = _build_payload_partials(
        build_df,
        col,
        [],
        make=lambda: BloomFilter(n_bits=n_bits, k=k, seed=seed),
        update=lambda sk, v: sk.update(v),
    )
    merged = _reduce_payloads(
        partials, lambda b: BloomFilter.from_bytes(b, n_bits, k, seed)
    ) or BloomFilter(n_bits=n_bits, k=k, seed=seed)
    bc = build_df.sparkSession.sparkContext.broadcast(merged.to_bytes())

    @pandas_udf("boolean")
    def member(vals: pd.Series) -> pd.Series:
        bloom = BloomFilter.from_bytes(bc.value, n_bits, k, seed)
        return pd.Series(bloom.contains(vals))

    return member


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(df, text_col: str = "text", id_col: str = "doc_id", num_perm: int = 64, shingle_n: int = 3):
    """(id, array<long> signature): per-document MinHash over word shingles.

    One mapInPandas pass. Permutation i is multiplicative min-wise hashing
    ``h_i(x) = a_i * x mod 2^64`` with splitmix-derived odd multipliers a_i —
    a bijection per permutation, uniform on the (already splitmix-mixed)
    shingle hashes, and ONE vector op per permutation: at 10^12 docs the
    (num_perm x shingles) mixing is the signing bottleneck, so each saved
    pass is linear wall-clock.
    """
    from pyspark.sql import types as T

    from ..sketches.hashing import _splitmix64

    seeds = _splitmix64(np.arange(1, num_perm + 1, dtype=np.uint64)) | np.uint64(1)
    schema = T.StructType(
        [df.schema[id_col], T.StructField("signature", T.ArrayType(T.LongType()))]
    )

    def sign(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({id_col: pdf[id_col], "signature": []})
                continue
            hashes, starts, _ = _batch_shingle_hashes(pdf[text_col].tolist(), shingle_n)
            # min of a_i * x over each doc's shingle segment. One 1-D
            # multiply + 1-D segmented min per permutation: the 1-D forms
            # run ~2x faster than a blocked 2-D matrix (better locality, no
            # per-row reduceat dispatch) and keep the transient at one
            # shingle-array width regardless of Arrow batch size.
            mins = np.empty((num_perm, len(pdf)), np.uint64)
            for p in range(num_perm):
                mins[p] = np.minimum.reduceat(hashes * seeds[p], starts)
            sigs = mins.T.astype(np.int64).tolist()
            yield pd.DataFrame({id_col: pdf[id_col], "signature": sigs})

    return _ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        sign, schema=schema
    )


def minhash_lsh_candidates(
    signatures,
    id_col: str = "doc_id",
    bands: int = 16,
    num_perm: int | None = None,
    max_bucket_size: Optional[int] = 1000,
):
    """Candidate near-duplicate pairs via banded LSH: split each signature
    into ``bands`` bands, hash each band, group by (band, hash) — a bucket
    join, O(sum bucket^2) only within colliding buckets. ``bands`` must
    divide ``num_perm`` (silently ignoring trailing permutations would skew
    the tuned S-curve)."""
    from pyspark.sql import functions as F

    if num_perm is None:
        first = signatures.select("signature").first()
        if first is None:  # empty corpus -> no pairs, typed like the id column
            from pyspark.sql import types as T

            id_type = signatures.schema[id_col].dataType
            return signatures.sparkSession.createDataFrame(
                [],
                T.StructType(
                    [T.StructField("id_a", id_type), T.StructField("id_b", id_type)]
                ),
            )
        num_perm = len(first[0])
    if num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    rows_per_band = num_perm // bands
    exploded = signatures.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.slice("signature", i * rows_per_band + 1, rows_per_band)
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    return _bucket_pairs(exploded, id_col, max_bucket_size=max_bucket_size)


def near_duplicates(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket_size: Optional[int] = 1000,
):
    """MinHash/LSH candidates verified by exact Jaccard over the documents'
    distinct HASHED shingle sets: returns (id_a, id_b, jaccard) pairs above
    threshold.

    The verify is entirely JVM-side and never ships document text — the
    same size-prune + intersect-only discipline proven on the conversation
    near-dup path (BENCH/AB_r04.md, 15.4x there):

    - each candidate-touching document reduces ONCE to its distinct 8-byte
      shingle-hash set via the SAME vectorized rolling word-hash the signer
      uses (``_batch_shingle_hashes`` — one Arrow-batched numpy pass, never
      materializing gram strings; a Catalyst ``transform``-lambda version
      was measured 13x SLOWER on long documents because higher-order
      functions evaluate interpretively and allocate every gram string);
      the old verify re-shingled BOTH texts of every candidate pair, so a
      document in p pairs was hashed p times and its full text shuffled p
      times;
    - before any shingle ARRAY moves, candidate pairs are pruned by the
      lossless size bound J <= min(|A|,|B|)/max(|A|,|B|) over an 8-byte-
      per-side sizes join — a hot document's multi-thousand-element array
      only ships for pairs that could actually pass the threshold;
    - J = |A∩B| / (|A|+|B|−|A∩B|) from one ``array_intersect`` plus the
      precomputed sizes — no union materialized, no Python stage.

    Collision contract: a 64-bit shingle-hash collision can only merge two
    distinct shingles into one set element, perturbing J slightly (expected
    colliding shingle pairs ~s²/2^65 per doc-pair universe) — the same
    contract (and the same hash function) as the previous per-pair Python
    verify, so J values are bit-identical to it. The doc fixtures' driver
    gates compare against string-shingle DuckDB twins, so they double as
    collision checks.

    The per-document digest frame feeds the size prune AND both verify
    sides, so it is persisted for the call and the (small) verified pair
    frame is localCheckpoint-materialized before unpersisting.

    Materialization contract (behavior change vs the pre-r4b lazy verify):
    the call EAGERLY executes candidate generation + verify at call time
    (two eager localCheckpoints) and returns the already-materialized pair
    frame. Reusing the result never recomputes the pipeline — but
    checkpoint blocks live only on executors, so on executor loss (e.g.
    preemptible workers) the frame is unrecoverable: re-run the call, not
    the returned plan. Callers composing further pruning push it onto the
    small pair frame, not into the verify."""
    from pyspark.sql import functions as F

    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_n)
    cands = minhash_lsh_candidates(
        sigs, id_col, bands, num_perm=num_perm, max_bucket_size=max_bucket_size
    ).localCheckpoint(eager=True)
    # digest ONLY candidate-touching documents (unlike the conversation
    # path, candidates here come from MinHash — not from the digest frame —
    # so the semi-join is legal): a well-tuned LSH emits candidates for a
    # small fraction of the corpus, and every untouched document skips the
    # shingle+hash pass entirely. AQE converts this semi-join to a runtime
    # BroadcastHashJoin whenever the touched-id set fits the broadcast
    # threshold (the normal regime — verified on the final adaptive plan;
    # the static plan prints SMJ because the checkpointed candidate RDD has
    # no compile-time stats), so the corpus is NOT shuffled to find its
    # touched rows; a pathological candidate set degrades to one exchange.
    touched = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    from pyspark.sql import types as T

    digest_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("__hs", T.ArrayType(T.LongType())),
            T.StructField("__sz", T.IntegerType()),
        ]
    )

    def digest(batches):
        for pdf in batches:
            h, st, ct = _batch_shingle_hashes(pdf[text_col].tolist(), shingle_n)
            hs = [
                np.unique(h[st[i] : st[i] + ct[i]]).view(np.int64).tolist()
                for i in range(len(pdf))
            ]
            yield pd.DataFrame(
                {id_col: pdf[id_col], "__hs": hs, "__sz": [len(x) for x in hs]}
            )

    per = (
        _ensure_parallelism(
            df.join(touched, id_col, "left_semi").select(id_col, text_col)
        )
        .mapInPandas(digest, schema=digest_schema)
        .persist()
    )
    sized = (
        cands.join(
            per.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__za")),
            "id_a",
        )
        .join(
            per.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__zb")),
            "id_b",
        )
        .filter(
            F.least("__za", "__zb").cast("double")
            >= F.lit(jaccard_threshold) * F.greatest("__za", "__zb")
        )
    )
    paired = sized.join(
        per.select(F.col(id_col).alias("id_a"), F.col("__hs").alias("__sa")), "id_a"
    ).join(
        per.select(F.col(id_col).alias("id_b"), F.col("__hs").alias("__sb")), "id_b"
    )
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    jac = inter / (F.col("__za") + F.col("__zb") - inter)
    out = (
        paired.filter(jac >= jaccard_threshold)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .localCheckpoint(eager=True)
    )
    per.unpersist()
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(df, text_col: str = "text", id_col: str = "doc_id", shingle_n: int = 1):
    """(id, simhash long): 64-bit SimHash of word (n-gram) hashes — documents
    within small Hamming distance are near-duplicates. Ship with a bucketed
    join on rotated prefixes for scale (same shape as minhash_lsh_candidates).
    """
    from pyspark.sql import types as T

    schema = T.StructType([df.schema[id_col], T.StructField("simhash", T.LongType())])
    bit_cols = np.uint64(1) << np.arange(64, dtype=np.uint64)

    def sig(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({id_col: pdf[id_col], "simhash": []})
                continue
            hashes, starts, counts = _batch_shingle_hashes(
                pdf[text_col].tolist(), shingle_n
            )
            # one (all-shingles x 64) bit matrix, per-doc bit sums via one
            # segmented reduce — vote per bit: +1 if set, -1 otherwise
            bits = (hashes.reshape(-1, 1) & bit_cols) != 0
            per_doc = np.add.reduceat(bits, starts, axis=0)  # (n_docs, 64)
            votes = 2 * per_doc - counts.reshape(-1, 1)
            vals = ((votes > 0) * bit_cols).sum(axis=1, dtype=np.uint64)
            # view, not cast: np.int64(uint64 with bit 63 set) raises on
            # NumPy >= 2.0
            out = vals.astype(np.uint64).view(np.int64).tolist()
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    return _ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        sig, schema=schema
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup / ANN via random-hyperplane LSH
# ---------------------------------------------------------------------------


def embedding_lsh_candidates(
    df,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 0,
    dim: Optional[int] = None,
    max_bucket_size: Optional[int] = 1000,
):
    """Candidate similar-vector pairs via random-hyperplane (sign) LSH:
    ``n_tables`` independent sets of ``n_planes`` hyperplanes; vectors
    sharing a sign-pattern bucket in any table become candidates. The scale
    path for cosine ANN — brute force within buckets only."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if dim is None:
        dim = len(df.select(emb_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    bucketed = _hyperplane_buckets(df, emb_col, id_col, planes)
    return _bucket_pairs(
        bucketed, id_col, band_col="table", max_bucket_size=max_bucket_size
    )


def _hyperplane_buckets(df, emb_col: str, id_col: str, planes: np.ndarray):
    """(id, table, bucket) rows: the sign-pattern bucket of each vector under
    each table's hyperplane set. ``planes`` has shape (n_tables, n_planes,
    dim) and is closed over (broadcast with the task binary)."""
    from pyspark.sql import types as T

    n_tables, n_planes, _ = planes.shape
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    schema = T.StructType(
        [df.schema[id_col], T.StructField("table", T.IntegerType()), T.StructField("bucket", T.LongType())]
    )

    def bucketize(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack([np.asarray(v, np.float64) for v in pdf[emb_col]])
            rows = {id_col: [], "table": [], "bucket": []}
            for t in range(n_tables):
                signs = (vecs @ planes[t].T) > 0  # (n, n_planes)
                buckets = (signs @ weights).astype(np.int64)
                rows[id_col].extend(pdf[id_col].tolist())
                rows["table"].extend([t] * len(pdf))
                rows["bucket"].extend(buckets.tolist())
            yield pd.DataFrame(rows)

    return _ensure_parallelism(df.select(id_col, emb_col)).mapInPandas(
        bucketize, schema=schema
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

# Space-tokenized languages scored by DISTINCT-stopword hits (0..20 each).
# Dict order IS the tie-break order on equal scores — keep the generated
# DuckDB twin (__spark_entry__._stopword_scores_parts) iterating the same
# tables so the two scorers cannot drift.
_STOPWORDS = {
    "en": ["the", "of", "and", "to", "a", "in", "is", "it", "you", "that",
           "he", "was", "for", "on", "are", "as", "with", "his", "they", "at"],
    "de": ["der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich",
           "des", "auf", "für", "ist", "im", "dem", "nicht", "ein", "eine", "als"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une",
           "que", "est", "pour", "qui", "dans", "par", "plus", "pas", "au", "sur"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no",
           "por", "con", "una", "su", "para", "es", "al", "lo", "como", "más"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em", "um", "para",
           "é", "com", "não", "uma", "os", "no", "se", "na", "por", "mais"],
    "it": ["di", "e", "il", "la", "che", "è", "per", "un", "in", "non",
           "sono", "una", "con", "del", "le", "si", "mi", "ma", "lo", "ho"],
    "nl": ["de", "het", "een", "van", "ik", "te", "dat", "die", "in", "en",
           "niet", "is", "op", "aan", "met", "als", "voor", "er", "maar", "om"],
    "pl": ["nie", "się", "na", "że", "i", "z", "do", "to", "jest", "w",
           "jak", "po", "co", "tak", "ale", "za", "przez", "być", "od", "ma"],
    "tr": ["bir", "bu", "ne", "ve", "de", "o", "için", "da", "çok", "ben",
           "ama", "gibi", "daha", "mi", "sen", "var", "olarak", "en", "ki", "ile"],
    "sv": ["och", "i", "att", "det", "som", "en", "på", "är", "av", "för",
           "med", "den", "till", "inte", "om", "ett", "han", "var", "jag", "sig"],
    "da": ["og", "i", "at", "det", "er", "en", "den", "til", "af", "på",
           "de", "med", "han", "for", "ikke", "der", "var", "som", "jeg", "har"],
    "fi": ["ja", "on", "ei", "se", "että", "hän", "oli", "mutta", "olen", "mitä",
           "kun", "niin", "vain", "joka", "nyt", "sinä", "tämä", "ole", "minä", "hyvä"],
    "cs": ["a", "se", "na", "je", "to", "že", "s", "z", "do", "o",
           "i", "k", "by", "ale", "jako", "po", "co", "jsem", "si", "není"],
    "ro": ["de", "și", "la", "a", "în", "cu", "pe", "o", "un", "ce",
           "este", "nu", "mai", "pentru", "din", "sa", "se", "care", "sunt", "dar"],
    "hu": ["a", "az", "és", "hogy", "nem", "is", "egy", "ez", "van", "de",
           "meg", "ha", "már", "csak", "mint", "el", "még", "volt", "lesz", "mert"],
    "id": ["yang", "dan", "di", "ini", "itu", "dengan", "untuk", "tidak", "dari", "dalam",
           "akan", "pada", "juga", "saya", "ke", "bisa", "ada", "mereka", "kita", "atau"],
}

# Script-identified languages: score = floor(20 * weight * script_chars /
# chars) — the 0..20 scale makes script scores comparable with the
# distinct-stopword scores above. Ranges are explicit BMP codepoint
# intervals (identical semantics in Java regex and RE2, unlike \p{script=}
# classes whose names differ between engines). Japanese is weighted 3x on
# kana only: running Japanese text is typically ~30% kana amid Han
# characters, which would otherwise score as Chinese. Known coarseness,
# documented: all Cyrillic maps to 'ru', all Arabic script to 'ar', all
# Devanagari to 'hi'.
_SCRIPTS = {
    "ru": ((("0400", "04ff"),), 1),                    # Cyrillic
    "el": ((("0370", "03ff"),), 1),                    # Greek
    "he": ((("0590", "05ff"),), 1),                    # Hebrew
    "ar": ((("0600", "06ff"),), 1),                    # Arabic
    "hi": ((("0900", "097f"),), 1),                    # Devanagari
    "th": ((("0e00", "0e7f"),), 1),                    # Thai
    "ko": ((("ac00", "d7af"), ("1100", "11ff")), 1),   # Hangul
    "ja": ((("3040", "309f"), ("30a0", "30ff")), 3),   # Hiragana+Katakana
    "zh": ((("4e00", "9fff"),), 1),                    # CJK Unified Han
}


def quality_exprs(text_col: str = "text") -> dict:
    """The per-document quality features as raw Catalyst Columns — usable
    either through ``text_quality`` (id + features frame) or inlined with
    withColumn into an existing pipeline (zero joins: they are row-local)."""
    from pyspark.sql import functions as F

    n_chars = F.length(text_col)
    n_spaces = n_chars - F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
    n_tokens = F.size(F.split(text_col, " "))
    return {
        "n_chars": n_chars.cast("double"),
        "n_tokens": n_tokens.cast("double"),
        "mean_token_len": (n_chars - n_spaces) / n_tokens,
        "space_ratio": n_spaces / n_chars,
        "fingerprint": F.xxhash64(text_col),
    }


def text_quality(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document quality features, all Catalyst expressions (JVM-side):
    char count, token count, mean token length, space ratio, and a 64-bit
    content fingerprint."""
    exprs = quality_exprs(text_col)
    return df.select(id_col, *[c.alias(n) for n, c in exprs.items()])


#: Language decisions saturate after a few KB of text — standard langid
#: practice is to score a bounded prefix, which also bounds the per-row scan
#: cost (9 regexp passes + tokenize) independent of document length. 100-TB
#: framing: without the bound the scorer's cost is O(total corpus bytes)
#: even though the decision is already made after the first 4 KB.
LANGUAGE_MAX_CHARS = 4096


def language_tokens_expr(text_col: str = "text", max_chars: int | None = LANGUAGE_MAX_CHARS):
    """DISTINCT lowercase whitespace tokens of the scored prefix — the shared
    input of all 16 stopword scorers. Materialize this ONCE as a column and
    pass its name as ``tokens_col`` to :func:`language_score_exprs`: Catalyst
    does not eliminate the common split/lower/distinct subtree across 16
    independent score expressions (measured 2x on the stopword family)."""
    from pyspark.sql import functions as F

    text = F.col(text_col)
    if max_chars is not None:
        text = F.substring(text, 1, max_chars)
    return F.array_distinct(F.split(F.lower(text), " "))


def language_score_exprs(
    text_col: str = "text",
    max_chars: int | None = LANGUAGE_MAX_CHARS,
    tokens=None,
) -> dict:
    """Per-language score Columns on a shared 0..20 scale — 25 languages,
    two scorer families: DISTINCT-stopword hits for the 16 space-tokenized
    languages in ``_STOPWORDS``, and script-character ratios (explicit BMP
    codepoint ranges, ``_SCRIPTS``; ``floor(20 * weight * script_chars /
    chars)``, integer multiply -> double divide -> floor, the exact
    arithmetic shape the generated DuckDB twin replays) for Cyrillic/
    Greek/Hebrew/Arabic/Devanagari/Thai/Hangul/kana/Han languages, where
    whitespace tokenization is meaningless. Pure Catalyst, row-local.

    Both scorer families read only the first ``max_chars`` characters
    (character-based substring — identical in Spark and DuckDB, so the
    generated twin cuts the same prefix); ``max_chars=None`` scores the
    full text (the pre-r4 behavior, kept for A/B comparison).

    ``tokens`` is a pre-bound :func:`language_tokens_expr` Column (built
    with the SAME max_chars) — normally the let-bound lambda variable from
    ``language_pred_expr`` — so the tokenize runs once, not 16x. Script
    counts use ``regexp_count(text, '[ranges]')`` — the same integer as
    ``length(regexp_replace(text, '[^ranges]', ''))`` (each match is one
    char; all ranges are BMP) without allocating the stripped string,
    measured 3.3x faster — so the DuckDB twins need no change."""
    from pyspark.sql import functions as F

    text = F.col(text_col)
    if max_chars is not None:
        text = F.substring(text, 1, max_chars)
    # array_intersect has set semantics, so distinct tokens give the same
    # count as raw tokens — pre-distincting just shrinks the 16 probe arrays
    if tokens is None:
        tokens = language_tokens_expr(text_col, max_chars)
    scores = {
        lang: F.size(F.array_intersect(tokens, F.array(*[F.lit(w) for w in words])))
        for lang, words in _STOPWORDS.items()
    }
    n_chars = F.greatest(F.length(text), F.lit(1))
    for lang, (ranges, weight) in _SCRIPTS.items():
        cls = "".join(f"\\u{lo}-\\u{hi}" for lo, hi in ranges)
        cnt = F.regexp_count(text, F.lit(f"[{cls}]"))
        scores[lang] = F.floor((cnt * F.lit(20 * weight)) / n_chars)
    return scores


def language_pick_expr(scores: dict):
    """Argmax pick over language score columns ('und' when nothing scores;
    ties break to the first language in table order — the same order the
    generated DuckDB twin iterates, so the two scorers cannot drift).

    Codegen-shape note: the naive ``greatest(...) == score`` CASE chain
    references every score O(n^2) times once Catalyst's predicate pushdown
    substitutes the score aliases back into a filter — with 25 languages
    that is ~430 inlined array_intersect/regexp copies, past Janino's
    64 KB per-method limit, and Spark silently falls back to interpreted
    evaluation on exactly the full-corpus scan where codegen matters.
    This form builds ONE struct array (score, -index, lang) and takes
    ``array_max`` — struct ordering gives highest score then lowest index
    — so each score expression appears at most twice even when fully
    inlined."""
    from pyspark.sql import functions as F

    entries = [
        F.struct(c.alias("s"), F.lit(-i).alias("ni"), F.lit(lang).alias("lang"))
        for i, (lang, c) in enumerate(scores.items())
    ]
    m = F.array_max(F.array(*entries))
    # NULL text -> every score NULL -> m['s'] <= 0 is NULL, which would fall
    # through otherwise() and classify NULL text as the first language; guard
    # so NULL stays NULL (matching the DuckDB twin and letting language
    # filters drop NULL-text rows naturally).
    return (
        F.when(m["s"].isNull(), F.lit(None).cast("string"))
        .when(m["s"] <= 0, F.lit("und"))
        .otherwise(m["lang"])
    )


def language_pred_expr(text_col: str = "text", max_chars: int | None = LANGUAGE_MAX_CHARS):
    """Language identification as ONE Catalyst Column, with the tokenize
    LET-BOUND via a single-element ``transform`` lambda:

        element_at(transform(array(tokens_expr), t -> pick(scores(t))), 1)

    Why the lambda: Catalyst's projection collapse and filter pushdown
    substitute plain column aliases back into every use site, so a
    materialized ``__toks`` column still ends up re-inlined into all 16
    stopword scorers (measured: 16 ``array_distinct`` copies in the curate
    gate's physical plan). A lambda variable is bound ONCE per row at eval
    time and can never be substituted — the plan keeps exactly one
    tokenize. The lambda body is evaluated outside whole-stage codegen
    (higher-order functions are CodegenFallback), which also sidesteps the
    Janino 64 KB method limit that broke the fully-inlined form; measured
    NET faster than the alias-materialized shape (sf0.1 gate 1.23 -> 0.91 s
    same-epoch) because it stops the duplication.
    NULL text flows through as NULL (array(NULL) -> lambda sees NULL ->
    every score NULL -> pick's NULL guard)."""
    from pyspark.sql import functions as F

    toks = language_tokens_expr(text_col, max_chars)
    return F.element_at(
        F.transform(
            F.array(toks),
            lambda t: language_pick_expr(
                language_score_exprs(text_col, max_chars, tokens=t)
            ),
        ),
        1,
    )


def language_id(df, text_col: str = "text", id_col: str = "doc_id"):
    """Language identification (stopword + script-ratio scorer families).
    Pure Catalyst, no UDF: one projection around the let-bound
    ``language_pred_expr`` (tokenize runs once per row — see that
    docstring for why a lambda binding, not a column alias).

    The scorer fuses into the scan, so on a single-split input (one
    parquet file = one row group) all per-row work serializes onto ONE
    core — the same narrow-scan trap as the hashing ops; gate through
    ``_ensure_parallelism`` (structural no-op at scale, where inputs scan
    as >= cores splits)."""
    return _ensure_parallelism(df.select(id_col, text_col)).select(
        id_col, language_pred_expr(text_col).alias("lang_pred")
    )


def ivf_index(df, emb_col: str = "embedding", id_col: str = "vec_id", n_clusters: int = 16, seed: int = 0, sample: int = 10_000, iters: int = 3):
    """Build an IVF (inverted-file) ANN index: k-means centroids fitted on a
    driver-side sample (deterministic: seeded k-means++ init + fixed Lloyd
    iterations), then one mapInPandas pass assigns every vector to its
    nearest centroid. Returns (assignments DataFrame [id, cluster], centroids
    ndarray). At 100 TB the assignment pass is the only full scan; queries
    touch ``n_probe`` clusters only."""
    from pyspark.sql import types as T

    from pyspark.sql import functions as F

    # deterministic pseudo-random sample: order by a hash of the id, not
    # scan order — limit() alone would take one file's rows and collapse the
    # centroids onto a single region of a partitioned/sorted table
    sample_rows = (
        df.select(emb_col, id_col).orderBy(F.xxhash64(id_col)).limit(sample).collect()
    )
    X = np.stack([np.asarray(r[0], np.float64) for r in sample_rows])
    rng = np.random.default_rng(seed)
    # k-means++ init
    centroids = [X[rng.integers(len(X))]]
    for _ in range(n_clusters - 1):
        d2 = np.min(
            ((X[:, None, :] - np.stack(centroids)[None, :, :]) ** 2).sum(-1), axis=1
        )
        centroids.append(X[rng.choice(len(X), p=d2 / d2.sum())])
    C = np.stack(centroids)
    for _ in range(iters):  # Lloyd
        assign = np.argmin(((X[:, None, :] - C[None, :, :]) ** 2).sum(-1), axis=1)
        for c in range(n_clusters):
            pts = X[assign == c]
            if len(pts):
                C[c] = pts.mean(axis=0)

    schema = T.StructType([df.schema[id_col], T.StructField("cluster", T.IntegerType())])
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(C)

    def assign_fn(batches):
        cents = bc.value
        for pdf in batches:
            V = np.stack([np.asarray(v, np.float64) for v in pdf[emb_col]])
            # nearest centroid by L2 (||v-c||^2 = ||v||^2 - 2 v.c + ||c||^2)
            d = -2.0 * V @ cents.T + (cents**2).sum(axis=1)[None, :]
            yield pd.DataFrame({id_col: pdf[id_col], "cluster": d.argmin(axis=1).astype(np.int32)})

    return (
        _ensure_parallelism(df.select(id_col, emb_col)).mapInPandas(
            assign_fn, schema=schema
        ),
        C,
    )


def ann_ivf_topk(
    df,
    probe_vec,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 0,
    assignments=None,
    centroids=None,
):
    """IVF approximate top-k by cosine: search only the ``n_probe`` clusters
    whose centroids are closest to the probe — the scan-pruning scale path
    vs the brute-force baseline (filter pushes the cluster predicate into the
    join/scan, so (n_clusters - n_probe)/n_clusters of vectors are skipped).
    """
    from pyspark.sql import functions as F

    if assignments is None or centroids is None:
        assignments, centroids = ivf_index(df, emb_col, id_col, n_clusters, seed)
    p = np.asarray(probe_vec, np.float64)
    d = ((centroids - p[None, :]) ** 2).sum(axis=1)
    probe_clusters = [int(c) for c in np.argsort(d)[:n_probe]]
    cand = df.join(assignments, id_col).filter(F.col("cluster").isin(probe_clusters))
    p_norm = float(np.sqrt((p**2).sum()))
    probe_arr = F.array(*[F.lit(float(x)) for x in p.tolist()])
    dot = F.aggregate(
        F.zip_with(F.col(emb_col), probe_arr, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = F.sqrt(
        F.aggregate(F.col(emb_col), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    sim = dot / (norm * F.lit(p_norm))
    return (
        cand.select(id_col, F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _local_components(rows, nodes, id_col: str):
    """Driver-local union-find leg of ``connected_components``: takes the
    already-collected (threshold-bounded) ``(src, dst)`` edge rows,
    restricts them to edges whose endpoints are BOTH real nodes (matching
    the distributed loop, whose label join silently ignores edges
    referencing absent or NULL ids), runs an O(edges) union-by-min-root,
    and broadcast-joins the labels back. Union-find is direction-free, so
    the caller passes the raw pair rows un-symmetrized (r6: the old
    symmetrize -> persist -> count -> collect sequence cost three extra
    jobs per call for identical labels)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark = nodes.sparkSession
    id_field = nodes.schema[id_col]
    endpoints = {v for r in rows for v in (r[0], r[1]) if v is not None}
    ep_schema = T.StructType([T.StructField("id", id_field.dataType)])
    node_eps = set()
    if endpoints:
        ep_df = spark.createDataFrame([(v,) for v in endpoints], ep_schema)
        node_eps = {
            r["id"]
            for r in nodes.select(F.col(id_col).alias("id"))
            .join(F.broadcast(ep_df), "id")
            .collect()
        }
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        if a not in node_eps or b not in node_eps:
            continue
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so the root IS the component label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    mapping = [(x, find(x)) for x in parent]
    map_schema = T.StructType(
        [
            T.StructField("id", id_field.dataType),
            T.StructField("__comp", id_field.dataType),
        ]
    )
    map_df = spark.createDataFrame(mapping, map_schema)
    out = (
        nodes.select(F.col(id_col).alias("id"))
        .join(F.broadcast(map_df), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("__comp", F.col("id")).alias("component"),
        )
    )
    return out.localCheckpoint(eager=True)


def connected_components(
    edges,
    nodes,
    id_col: str = "doc_id",
    max_iter: int = 50,
    local_threshold: int = 100_000,
):
    """Connected components by min-label propagation over an undirected edge
    list [id_a, id_b]. Returns [id_col, component] for EVERY node (isolated
    nodes are their own component); component = min node id reachable.

    Small graphs take a driver-local union-find fast path: the edge list is
    materialized anyway (it feeds every round), and when it has at most
    ``local_threshold`` input pairs the whole component search is O(edges)
    on the driver plus ONE broadcast join back onto the nodes — versus ~4
    Spark jobs per propagation round. Near-dup edge sets are a tiny
    fraction of the corpus (only verified duplicate pairs), so this path
    covers most real runs; ``local_threshold=0`` forces the distributed
    loop. Both paths ignore edges with a NULL endpoint or an endpoint
    absent from ``nodes`` (equality to the label set never matches them in
    the distributed join; the local leg filters them explicitly) and are
    tested identical.

    Scale notes (distributed path): the propagation loop runs ONLY over
    edge-touching nodes (``nodes`` semi-joined against the edge endpoints)
    — a node with no edges can never change label, and in a dedup graph
    the overwhelming majority of documents have no edges, so shuffling the
    full corpus's labels every round (as a loop over ``nodes`` would)
    costs diameter x corpus for work proportional to the ~1% of nodes the
    graph touches. Edge-free nodes are emitted as their own singleton
    component by one anti-join after the loop. Each round is then one
    shuffle join (neighbor labels) + one aggregation over the edge-node
    frame; rounds needed = graph diameter. Duplicate clusters are
    near-cliques (diameter 1-3), so propagation converges in 2-4 rounds —
    cheaper than large-star/small-star, which only wins on long-chain
    graphs. Each round localCheckpoints its labels: materialization keeps
    task counts flat AND truncates lineage — the loop references ``labels``
    twice per round, so a lazy loop's logical plan doubles every round
    (exponential in diameter; ~12 rounds OOMs the optimizer).

    ``nodes[id_col]`` must be unique (duplicate node rows would emit
    duplicate component rows). Raises RuntimeError if the fixpoint is not
    reached within ``max_iter`` rounds (intermediate labels would silently
    split components). The result is localCheckpoint-materialized so the
    loop's per-round caches are released before returning.
    """
    from pyspark.sql import functions as F

    # local_threshold=0 must force the distributed loop even on an empty
    # edge list (the oracle gates rely on that pin), hence the > 0 guard.
    # r6 (guide §2.4): the local-leg decision used to symmetrize + persist
    # + count + collect (4 jobs); one LIMIT-probe collect both DECIDES and,
    # when within threshold, already holds the full edge list (getting
    # <= local_threshold rows back from a local_threshold+1 limit proves
    # there are no more) — union-find is direction-free, so no
    # symmetrization is needed either. Labels are identical; an
    # over-threshold probe wastes at most local_threshold+1 collected rows
    # before the distributed loop rebuilds from the plan.
    if local_threshold > 0:
        probe = edges.select("id_a", "id_b").limit(local_threshold + 1).collect()
        if len(probe) <= local_threshold:
            return _local_components(probe, nodes, id_col)

    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    # materialize the edge list once: it feeds EVERY propagation round, and
    # upstream it may be a whole LSH+verify pipeline (recomputing that per
    # round would dominate the component search)
    sym = sym.persist()
    n_edges = sym.count()  # symmetrized: 2x the input pairs
    node_ids = nodes.select(F.col(id_col).alias("id"))
    # the loop operates ONLY on edge-touching nodes: sym is symmetrized so
    # its src column covers every endpoint; the semi-join keeps just the
    # valid (present-in-nodes) ones, which also preserves the "ignore
    # edges with endpoints outside nodes" contract
    edge_ids = sym.select(F.col("src").alias("id")).distinct().persist()
    labels = node_ids.join(edge_ids, "id", "semi").select(
        "id", F.col("id").alias("component")
    )
    # each round references `labels` TWICE (the neighbor join and the merge
    # join), so a lazily-built loop doubles the logical plan per round —
    # exponential in graph diameter: ~12 rounds is already a multi-GB plan
    # tree that OOMs the optimizer/stringifier long before any data moves.
    # localCheckpoint(eager=True) materializes AND truncates lineage, so
    # every round starts from a flat leaf (persist alone caches execution
    # but keeps the full logical tree).
    labels = labels.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.src == labels.id)
            .select(F.col("dst").alias("id"), "component")
            .groupBy("id")
            .agg(F.min("component").alias("nbr_min"))
        )
        # convergence = zero labels changed this round — computed on the
        # same frame that produces the new labels, and valid for ANY id
        # type/order (a SUM(label) probe would cast/overflow string or huge
        # numeric ids)
        joined = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                F.coalesce(
                    F.col("nbr_min") < F.col("component"), F.lit(False)
                ).alias("__changed"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = joined.agg(F.sum(F.col("__changed").cast("long"))).collect()[0][0]
        labels = joined.select("id", "component")
        if not n_changed:
            converged = True
            break
    if not converged:
        # returning intermediate labels would silently split components on
        # long-chain graphs (propagation advances one hop per round)
        edge_ids.unpersist()
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds; the graph diameter exceeds it — raise max_iter (or use "
            "a star-contraction variant for long-chain graphs)"
        )
    # edge-free nodes never entered the loop; each is its own component —
    # one cheap anti-join instead of diameter x corpus label shuffles
    singletons = node_ids.join(edge_ids, "id", "left_anti").select(
        "id", F.col("id").alias("component")
    )
    # materialize the final frame so the per-round checkpoints and the edge
    # caches can be released before returning
    out = (
        labels.unionByName(singletons)
        .withColumnRenamed("id", id_col)
        .localCheckpoint(eager=True)
    )
    edge_ids.unpersist()
    sym.unpersist()
    return out


def near_dup_clusters(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket_size: Optional[int] = 1000,
    cc_local_threshold: int = 100_000,
):
    """Fuzzy-duplicate cluster RESOLUTION (pairs are not a dedup decision):
    connected components over the verified ``near_duplicates`` graph, then
    keep/drop per document. Returns [id_col, rep_id, keep] for every doc:
    rep_id = min doc id of its near-dup cluster, keep = (doc == rep). The
    fuzzy analogue of ``exact_dedup``'s representative selection.
    ``cc_local_threshold`` passes through to ``connected_components``."""
    from pyspark.sql import functions as F

    pairs = near_duplicates(
        df,
        text_col,
        id_col,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size,
    ).select("id_a", "id_b")
    comp = connected_components(
        pairs, df.select(id_col), id_col, local_threshold=cc_local_threshold
    )
    return comp.select(
        F.col(id_col),
        F.col("component").alias("rep_id"),
        (F.col(id_col) == F.col("component")).alias("keep"),
    )


def simhash_candidates(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    shingle_n: int = 1,
    max_bucket_size: Optional[int] = 1000,
):
    """Candidate near-duplicate pairs from SimHash: split the 64-bit hash
    into ``bands`` bit-bands; pairs agreeing on any band become candidates —
    every pair within Hamming distance < bands shares at least one band
    (pigeonhole), so the bucket join has guaranteed recall for distances
    below the band count."""
    from pyspark.sql import functions as F

    sh = simhash64(df, text_col, id_col, shingle_n)
    width = 64 // bands
    exploded = sh.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    return _bucket_pairs(exploded, id_col, max_bucket_size=max_bucket_size)


def hamming_near_dup_pairs(
    df,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 6,
    bands: int = 8,
    max_bucket_size: Optional[int] = 1000,
):
    """Verified near-duplicate pairs over ANY 64-bit fingerprint column
    (SimHash, image dHash/pHash, audio chromaprint chunks): candidates from
    the banded bucket join (``simhash_candidates``' band split generalized
    to a precomputed hash frame), then the EXACT Hamming distance
    ``bit_count(xor)`` — both steps pure JVM.

    Recall is pigeonhole-LOSSLESS when ``max_hamming < bands``: a pair
    within Hamming distance d < bands has at least one of the ``bands``
    bit-bands untouched, hence shares that band's bucket (a ValueError
    enforces the invariant rather than silently losing recall; relax by
    raising ``bands``, at one more exchange row per item per band).

    Returns [id_a, id_b, hamming double] with id_a < id_b, unordered.
    ``max_bucket_size`` is the standard LSH skew guard (``_bucket_pairs``):
    a degenerate bucket (constant fingerprints) is exact-duplicate
    territory, which the exact-dedup path already owns.

    Materialization contract (like ``near_duplicates``): the fingerprint
    frame feeds THREE consumers (the band explode and both verify sides) —
    when fingerprinting is expensive (image decode, SimHash signing) an
    unpersisted plan would run it three times — so ``df`` is persisted for
    the call and the (small) verified pair frame is EAGERLY
    localCheckpoint-materialized before unpersisting; re-run the call, not
    the returned plan, after executor loss.
    """
    from pyspark.sql import functions as F

    if not 1 <= bands <= 64 or 64 % bands:
        raise ValueError("bands must divide 64")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= bands={bands} loses pigeonhole "
            "recall; raise bands"
        )
    width = 64 // bands
    hashes = df.select(id_col, hash_col).persist()
    exploded = hashes.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(hash_col), i * width).bitwiseAND(
                        F.lit((1 << width) - 1) if width < 64 else F.lit(-1)
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    cands = _bucket_pairs(exploded, id_col, max_bucket_size=max_bucket_size)
    ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    out = (
        cands.join(
            hashes.select(
                F.col(id_col).alias("id_a"), F.col(hash_col).alias("__ha")
            ),
            "id_a",
        )
        .join(
            hashes.select(
                F.col(id_col).alias("id_b"), F.col(hash_col).alias("__hb")
            ),
            "id_b",
        )
        .filter(ham <= max_hamming)
        .select("id_a", "id_b", ham.cast("double").alias("hamming"))
        .localCheckpoint(eager=True)
    )
    hashes.unpersist()
    return out


# ---------------------------------------------------------------------------
# Catalyst-only n-gram Jaccard, document fingerprints
# ---------------------------------------------------------------------------


def ngram_shingles_expr(text_col: str = "text", n: int = 3):
    """Distinct word n-gram shingles of ``text_col`` as a pure-Catalyst
    array<string> Column (split -> sliding concat_ws -> array_distinct).
    Documents with fewer than ``n`` words shingle to ``[text]``. Exactly
    mirrors the DuckDB oracle formulation (string_split/list_transform), so
    downstream set arithmetic is hash-comparable across engines."""
    from pyspark.sql import functions as F

    toks = F.split(F.col(text_col), " ")

    def gram(i):
        return F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])

    grams = F.transform(F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)), gram)
    return F.when(F.size(toks) < n, F.array(F.col(text_col))).otherwise(
        F.array_distinct(grams)
    )


def ngram_jaccard_pairs(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.7,
    candidates=None,
    num_perm: int = 32,
    bands: int = 32,
    max_bucket_size: Optional[int] = 1000,
):
    """Near-duplicate pairs by EXACT word n-gram Jaccard, computed entirely
    JVM-side (array_intersect/array_distinct on the shingle arrays — no
    Python stage in the verify). Candidate pairs come from banded MinHash
    LSH (never all-pairs); pass ``candidates`` to reuse a precomputed pair
    frame. With bands=num_perm (1 row per band) the candidate recall at the
    threshold is 1-(1-J)^bands (~1-1e-16 at J=0.7, bands=32), so the output
    equals the all-pairs Jaccard graph above ``threshold`` for any corpus
    without adversarial hash collisions.

    Returns (id_a, id_b, jaccard) with jaccard = |A∩B| / |A∪B| over the
    distinct shingle sets — the plain-text twin of ``near_duplicates``'s
    hashed-shingle verify (hash collisions aside, identical; this one is
    also DuckDB-replicable for the driver gate)."""
    from pyspark.sql import functions as F

    if candidates is None:
        sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_n)
        candidates = minhash_lsh_candidates(
            sigs, id_col, bands, num_perm=num_perm, max_bucket_size=max_bucket_size
        )
    sh = _ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), ngram_shingles_expr(text_col, shingle_n).alias("__s")
    )
    paired = (
        candidates.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("__s").alias("__sa")), "id_a"
        ).join(
            sh.select(F.col(id_col).alias("id_b"), F.col("__s").alias("__sb")), "id_b"
        )
    )
    # |A∪B| = |A|+|B|−|A∩B| (both arrays are distinct), so the union array
    # is never materialized — one array_intersect per pair is the whole cost
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    jac = inter / (F.size("__sa") + F.size("__sb") - inter)
    return paired.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def document_fingerprints(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    k: int = 4,
):
    """Content fingerprints: the bottom-``k`` md5 digests of the document's
    distinct word ``shingle_n``-gram shingles (winnowing-style min-hash
    selection over a content-defined window set). Pure Catalyst — transform/
    array_sort/slice — and DuckDB-replicable (md5/list_sort), so the driver
    gate hash-matches the exact digests.

    Output: (id, n_shingles, fp_min, fingerprint) where fp_min is the single
    minimum digest (a 1-permutation MinHash: equal fp_min => likely shared
    content; group by it for candidate clusters) and fingerprint joins the
    bottom-k digests with ','. Two documents sharing most shingles share
    most of their bottom-k set (Jaccard estimator), so fingerprint equality
    is a strong near-dup signal at 1/8 the storage of the shingle set."""
    from pyspark.sql import functions as F

    digests = F.array_sort(
        F.transform(ngram_shingles_expr(text_col, shingle_n), F.md5)
    )
    df = _ensure_parallelism(df.select(id_col, text_col))
    return df.select(
        F.col(id_col),
        F.size(digests).alias("n_shingles"),
        F.element_at(digests, 1).alias("fp_min"),
        F.concat_ws(",", F.slice(digests, 1, k)).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicates + LSH-bucketed ANN
# ---------------------------------------------------------------------------


def _cosine_fold(emb_a, emb_b):
    """Exact cosine similarity of two array<float/double> Columns, folded
    JVM-side (zip_with + aggregate in double) — no Python stage."""
    from pyspark.sql import functions as F

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return dot(emb_a, emb_b) / (F.sqrt(dot(emb_a, emb_a)) * F.sqrt(dot(emb_b, emb_b)))


def embedding_near_duplicates(
    df,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 16,
    seed: int = 0,
    max_bucket_size: Optional[int] = 1000,
):
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH candidates
    (bucket join, never all-pairs) verified by EXACT cosine similarity
    folded JVM-side. Returns (id_a, id_b, cosine) with cosine >= threshold.

    Recall: a pair at cosine s agrees on one n_planes-bit band with
    p = (1 - acos(s)/pi)^n_planes; miss probability (1-p)^n_tables — at the
    defaults and s=0.9 (angle 25.8°), p≈0.26, miss ≈ 0.8%; at s=0.99 miss
    < 1e-8. Raise n_tables (more candidates) or lower n_planes (bigger
    buckets) for tighter recall at lower thresholds."""
    from pyspark.sql import functions as F

    cands = embedding_lsh_candidates(
        df, emb_col, id_col, n_planes=n_planes, n_tables=n_tables, seed=seed,
        max_bucket_size=max_bucket_size,
    )
    emb = df.select(F.col(id_col), F.col(emb_col))
    paired = (
        cands.join(
            emb.select(F.col(id_col).alias("id_a"), F.col(emb_col).alias("__ea")), "id_a"
        ).join(
            emb.select(F.col(id_col).alias("id_b"), F.col(emb_col).alias("__eb")), "id_b"
        )
    )
    cos = _cosine_fold(F.col("__ea"), F.col("__eb"))
    return paired.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def ann_lsh_topk(
    df,
    probe: list,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 16,
    seed: int = 0,
):
    """LSH-bucketed approximate nearest neighbors of ``probe``: only vectors
    sharing at least one hyperplane-sign bucket with the probe are scored
    (expected candidate fraction ~ n_tables/2^n_planes of the corpus), then
    exact cosine ranks the candidates JVM-side. The bucket filter is a
    Catalyst OR-of-equalities over the probe's n_tables (table, bucket)
    pairs — partition-prunable if the corpus is bucketed at rest."""
    from pyspark.sql import functions as F

    if not probe:
        raise ValueError("probe vector must be non-empty")
    dim = len(probe)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    pv = np.asarray(probe, np.float64)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    probe_buckets = [
        int((((planes[t] @ pv) > 0) @ weights)) for t in range(n_tables)
    ]

    bucketed = _hyperplane_buckets(df, emb_col, id_col, planes)
    cond = None
    for t, b in enumerate(probe_buckets):
        c = (F.col("table") == t) & (F.col("bucket") == b)
        cond = c if cond is None else (cond | c)
    cand_ids = bucketed.filter(cond).select(id_col).distinct()
    probe_arr = F.array(*[F.lit(float(x)) for x in probe])
    cands = cand_ids.join(df.select(id_col, emb_col), id_col)
    cos = _cosine_fold(F.col(emb_col), probe_arr)
    return (
        cands.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# cross-corpus decontamination + normalized dedup
# ---------------------------------------------------------------------------


def cross_corpus_contamination(
    corpus,
    reference,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    join_on_hash: bool = False,
):
    """Benchmark decontamination: flag every ``corpus`` document that shares
    at least one word ``shingle_n``-gram with the ``reference`` corpus (the
    standard n-gram-overlap test for train/eval contamination). Returns one
    row per corpus doc: (id, n_shared_shingles, contaminated).

    Scale shape: explode to (doc, shingle) pairs, inner-join against the
    DISTINCT reference shingle set — a hash join shuffled on the shingle
    key, never a doc x doc comparison; Catalyst end to end. With
    ``join_on_hash`` the join key is ``xxhash64(shingle)`` (8-byte shuffle
    rows instead of strings — the 100-TB variant; collisions ~2^-64 can
    only ADD a false contamination flag, never miss one)."""
    from pyspark.sql import functions as F

    # generators can't nest inside expressions: explode first, hash after
    sh_c = _ensure_parallelism(corpus.select(id_col, text_col)).select(
        F.col(id_col), F.explode(ngram_shingles_expr(text_col, shingle_n)).alias("__s")
    )
    sh_r = _ensure_parallelism(reference.select(text_col)).select(
        F.explode(ngram_shingles_expr(text_col, shingle_n)).alias("__s")
    )
    if join_on_hash:
        sh_c = sh_c.select(id_col, F.xxhash64("__s").alias("__s"))
        sh_r = sh_r.select(F.xxhash64("__s").alias("__s"))
    sh_r = sh_r.distinct()
    hits = (
        sh_c.join(sh_r, "__s")
        .groupBy(id_col)
        .agg(F.count_distinct("__s").alias("__n"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("__n", F.lit(0)).cast("double").alias("n_shared_shingles"),
            (F.coalesce("__n", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def normalize_text_expr(text_col: str = "text"):
    """Canonical text normalization as a Catalyst Column: lowercase, strip
    non-alphanumerics to spaces, collapse whitespace runs, trim. The
    pre-pass that turns formatting-variant duplicates ("Hello, World!" vs
    "hello world") into exact duplicates."""
    from pyspark.sql import functions as F

    lowered = F.lower(F.col(text_col))
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(stripped, " +", " "))


def exact_dedup_normalized(df, text_col: str = "text", id_col: str = "doc_id"):
    """Exact dedup over NORMALIZED text: representative (min id) + copy
    count per distinct normalized form — catches formatting-variant
    duplicates that byte-exact dedup misses. Same map-side-aggregated
    groupBy shape as ``exact_dedup``."""
    from pyspark.sql import functions as F

    return (
        df.select(F.col(id_col), normalize_text_expr(text_col).alias("__norm"))
        .groupBy("__norm")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").cast("double").alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


# ---------------------------------------------------------------------------
# document chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 32,
):
    """Split documents into overlapping whitespace-token windows — the
    pretraining chunking primitive (long doc -> fixed-size training
    windows with ``overlap`` tokens of context carried across boundaries).
    Returns [id_col, chunk_idx, chunk_text, n_chunks]; every document
    yields at least one chunk (short docs pass through whole).

    Pure Catalyst and row-local: tokens = split, chunk count =
    ceil((n_tokens - overlap) / stride), one generator explode over the
    chunk index sequence, slice + array_join per chunk — no UDF, no
    shuffle; at corpus scale this runs fused into the ingest scan.
    """
    from pyspark.sql import functions as F

    stride = int(chunk_tokens) - int(overlap)
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    tokens = F.split(F.col(text_col), " ")
    n_chunks = F.greatest(
        F.ceil((F.size(tokens) - F.lit(int(overlap))) / F.lit(stride)), F.lit(1)
    )
    base = df.select(
        F.col(id_col),
        tokens.alias("__toks"),
        n_chunks.alias("n_chunks"),
    )
    exploded = base.select(
        id_col,
        "__toks",
        "n_chunks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
    )
    chunk = F.array_join(
        F.slice(
            F.col("__toks"),
            F.col("chunk_idx") * stride + 1,
            F.lit(int(chunk_tokens)),
        ),
        " ",
    )
    return exploded.select(
        id_col,
        F.col("chunk_idx"),
        chunk.alias("chunk_text"),
        F.col("n_chunks").cast("double").alias("n_chunks"),
    )


# ---------------------------------------------------------------------------
# sessionization
# ---------------------------------------------------------------------------


def sessionize(
    df,
    ts_col: str = "ts",
    by: str = "user_id",
    gap_seconds: float = 1800.0,
    order_cols: Sequence[str] = (),
    session_col: str = "session_id",
    order_by: Optional[Sequence[str]] = None,
):
    """Gap-based sessionization: within each ``by`` key (user, conversation,
    agent run), a row whose time since the PREVIOUS row exceeds
    ``gap_seconds`` starts a new session; ``session_col`` is the 1-based
    session index within the key. The standard event-stream / transcript
    segmentation primitive (turn bursts -> episodes).

    Scale shape: exactly ONE shuffle — both window passes (lag, running
    sum) share the same (partition by key, order by ts) sort, so Catalyst
    plans a single exchange + sort; no Python anywhere. ``order_cols``
    breaks timestamp ties deterministically (pass a unique id column when
    ts collisions are possible — nondeterministic tie order would make
    session boundaries run-dependent).

    Ordering semantics: by default rows are walked in (ts, *order_cols)
    order — correct for event streams whose logical order IS time. For
    sources with their own canonical sequence (transcript turn_idx,
    log line numbers), pass ``order_by`` to walk STRICTLY in that order:
    the gap is still measured on ``ts_col``, but an out-of-order timestamp
    inside a conversation no longer reorders the walk (and can then yield a
    negative gap, which never starts a session — only gaps > ``gap_seconds``
    do). The transcript gate uses ``order_by=('turn_idx',)`` so session
    boundaries match the turn_idx-ordered oracle even on non-monotone ts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if order_by is not None:
        order = [F.col(c) for c in order_by]
    else:
        order = [F.col(ts_col)] + [F.col(c) for c in order_cols]
    w = Window.partitionBy(by).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    # timestamp SUBTRACTION (day-time interval), not epoch casts: works for
    # both TIMESTAMP and TIMESTAMP_NTZ and is timezone-free — an epoch
    # conversion of NTZ values would go through the session timezone
    new_sess = prev.isNull() | (
        (F.col(ts_col) - prev) > F.expr(f"INTERVAL '{float(gap_seconds)}' SECOND")
    )
    running = Window.partitionBy(by).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(
        session_col, F.sum(new_sess.cast("long")).over(running)
    )


def session_stats(
    df,
    ts_col: str = "ts",
    by: str = "user_id",
    gap_seconds: float = 1800.0,
    order_cols: Sequence[str] = (),
    order_by: Optional[Sequence[str]] = None,
):
    """Per-key session accounting over ``sessionize``: [by, n_sessions,
    n_events, max_session_events] — one window shuffle + one hash
    aggregate. ``order_by`` passes through (see ``sessionize``)."""
    from pyspark.sql import functions as F

    sess = sessionize(df, ts_col, by, gap_seconds, order_cols, order_by=order_by)
    per_session = sess.groupBy(by, "session_id").agg(
        F.count("*").alias("__n")
    )
    return per_session.groupBy(by).agg(
        F.count("*").cast("double").alias("n_sessions"),
        F.sum("__n").cast("double").alias("n_events"),
        F.max("__n").cast("double").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------


def deterministic_sample(df, id_col: str = "doc_id", k: int = 100, seed: int = 0):
    """Order- and partitioning-independent ``k``-row sample: the rows whose
    ``md5(seed|id)`` digest is smallest (ties broken by id). Under the
    random-oracle model this is a uniform sample of the distinct ids — the
    same bottom-k principle as the KMV sketch — but unlike a seeded
    reservoir it does not depend on row order, partition count, or executor
    scheduling, so reruns, retries, and different cluster sizes all select
    the IDENTICAL sample (and so can a different engine: the driver oracle
    recomputes it in DuckDB digest-for-digest).

    Scale shape: md5 + top-k compiles to TakeOrderedAndProject — per-task
    k-row heaps and a k-row driver fold, never a global sort or shuffle of
    the data. Appending new rows only changes the sample where a new id's
    digest displaces a previous bottom-k member (bounded churn), which makes
    it the right primitive for stable eval/holdout splits of a growing
    corpus.

    Returns the sampled rows with a ``sample_key`` digest column appended.
    Rows with a NULL id are excluded: they have no stable identity to hash,
    so including them could not be order-independent (concat_ws would
    collapse them all onto one digest and tie-break arbitrarily).
    """
    from pyspark.sql import functions as F

    h = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string")))
    return (
        df.filter(F.col(id_col).isNotNull())
        .withColumn("sample_key", h)
        .orderBy("sample_key", id_col)
        .limit(k)
    )


def deterministic_stratified_sample(
    df, by: str = "source", id_col: str = "doc_id", k: int = 10, seed: int = 0
):
    """Per-stratum ``deterministic_sample``: the ``k`` rows with the
    smallest ``md5(seed|id)`` digest WITHIN each ``by`` group (ties broken
    by id) — the stable eval-split primitive when splits must be balanced
    across sources/languages/domains rather than corpus-uniform. Same
    engine-reproducible digest contract as ``deterministic_sample``.

    Scale shape: one shuffle on ``by`` + per-group row_number over the
    digest sort — rank <= k prunes inside the window stage, so only k rows
    per stratum survive the exchange stage's output. Rows with a NULL id
    are excluded (no stable identity); a NULL stratum is a real group.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    h = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string")))
    w = Window.partitionBy(by).orderBy("sample_key", id_col)
    return (
        df.filter(F.col(id_col).isNotNull())
        .withColumn("sample_key", h)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(k))
        .drop("__rk")
    )


def weighted_sample(
    df,
    weight_col: str,
    id_col: str = "doc_id",
    k: int = 100,
    salt: str = "wsample",
):
    """Deterministic weight-proportional ``k``-row sample with unbiased
    total-weight estimation (priority sampling, Duffield-Lund-Thorup,
    JACM 2007): each row gets priority ``q = w / u`` where ``u`` is the
    hash-uniform ``(h+1) / 2^60`` of ``md5(salt:id)``; the ``k`` largest
    priorities are the sample, and with ``tau`` = the (k+1)-th priority,
    ``est_weight = max(w, tau)`` satisfies ``E[sum(est_weight)] =
    sum(w)`` exactly — the importance-sampling primitive for "pick eval
    docs proportional to size and still estimate corpus token mass
    unbiasedly". Like :func:`deterministic_sample`, membership is a pure
    function of (salt, id, weight): independent of row order, partition
    count, retries, and engine.

    Cross-engine exactness (the hash-gate rule): ``q`` is computed as
    ``double(w) * 2^60 / double(h+1)`` — the multiply by a power of two is
    an exact exponent shift and the int->double casts and the single
    division are each one correctly-rounded IEEE op, so Spark, DuckDB, and
    the pure-Python replay produce BIT-EQUAL doubles (never a cross-row
    float sum; the only float is per-row). Ties (measure-zero double
    collisions) break by id.

    Scale shape: priorities ride the scan projection; the top-(k+1) runs
    on a NARROW (id, weight, priority) frame via orderBy+limit =
    TakeOrderedAndProject (per-task k-row heaps + a k-row driver fold —
    no global sort, no shuffle of payload columns), and the k winning ids
    broadcast back onto the scan for the full rows (the
    deterministic-sample pattern). The k+1 driver-side rows are the only
    collect — bounded by construction.

    Rows with NULL id or NULL/non-positive weight are excluded (no stable
    identity / zero inclusion probability). Returns the sampled rows plus
    ``priority``, ``threshold`` (tau, constant), and ``est_weight``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    base = df.filter(
        F.col(id_col).isNotNull() & (F.col(weight_col).cast("double") > 0)
    )
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col))), 1, 15),
        16,
        10,
    ).cast("long")
    pri = (F.col(weight_col).cast("double") * F.lit(float(1 << 60))) / (
        h + F.lit(1)
    ).cast("double")
    narrow = base.select(
        F.col(id_col).alias("__id"), pri.alias("priority")
    ).orderBy(F.desc("priority"), "__id")
    top = narrow.limit(int(k) + 1).collect()  # bounded: k+1 narrow rows
    tau = float(top[k]["priority"]) if len(top) > int(k) else 0.0
    ids = [(r["__id"], float(r["priority"])) for r in top[: int(k)]]
    spark = df.sparkSession
    sample = spark.createDataFrame(
        ids,
        T.StructType(
            [
                T.StructField("__id", df.schema[id_col].dataType),
                T.StructField("priority", T.DoubleType()),
            ]
        ),
    )
    out = base.join(
        F.broadcast(sample), F.col(id_col) == F.col("__id"), "inner"
    ).drop("__id")
    return out.withColumn("threshold", F.lit(tau)).withColumn(
        "est_weight", F.greatest(F.col(weight_col).cast("double"), F.lit(tau))
    )


def readability_signals(df, text_col: str = "text"):
    """Flesch-style readability signals, pure Catalyst in the scan
    projection (the token-counting cost class: row-local regexp_count,
    zero shuffle, linear in corpus bytes): ``n_words`` (non-space runs),
    ``n_sentences`` ([.!?]+ runs, raw — the score clamps to >= 1),
    ``n_syllable_groups`` (vowel-group runs, the standard syllable proxy),
    and ``flesch`` = 206.835 - 1.015*(words/sentences) -
    84.6*(syllables/words), NULL when the text has no words.

    Cross-engine exactness: the three counts are integers from the
    Java/RE2-identical regex subset (the PII-rule discipline), and the
    score is per-row arithmetic on those exact ints with literal double
    constants in a pinned operation order — so DuckDB replays it
    bit-for-bit and the ``doc_readability`` gate hash-matches at round-4.
    Reading-ease cutoffs (e.g. drop < 30) slot into curation as one more
    scan-local predicate.
    """
    from pyspark.sql import functions as F

    words = F.regexp_count(F.col(text_col), F.lit(r"[^ ]+"))
    sentences = F.regexp_count(F.col(text_col), F.lit(r"[.!?]+"))
    syllables = F.regexp_count(F.col(text_col), F.lit(r"[aeiouyAEIOUY]+"))
    w = words.cast("double")
    s = F.greatest(sentences, F.lit(1)).cast("double")
    y = syllables.cast("double")
    flesch = F.when(
        words > 0,
        F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (y / w),
    )
    return df.select(
        *[df[c] for c in df.columns],
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllable_groups"),
        flesch.alias("flesch"),
    )


# ---------------------------------------------------------------------------
# semi-structured (JSON) columns
# ---------------------------------------------------------------------------


def parse_json_fields(df, json_col: str, fields: dict):
    """Scan-fused extraction of typed fields from a JSON string column —
    the semi-structured projection every 100-TB event/metadata feed needs
    (``props``-style columns whose schema is not worth a full table
    migration). ``fields`` maps output name -> (json_path, cast_type or
    None for raw string), e.g. ``{"k": ("$.k", "long")}``.

    Everything is JVM-side (`get_json_object` + `try_cast` in the scan
    projection — no Python, no shuffle, linear in corpus bytes). NULL
    semantics are pinned CROSS-ENGINE (pytest + the ``events_json_extract``
    twin): malformed JSON, NULL input, missing key, JSON ``null``, and a
    failed cast all yield NULL — exactly DuckDB's
    ``TRY_CAST(CASE WHEN json_valid(p) THEN json_extract_string(p, path)
    END AS t)``. A ``valid_object`` boolean is appended (false for
    malformed/NULL/non-object JSON: Spark ``json_object_keys IS NOT
    NULL``, DuckDB ``json_valid AND json_type = 'OBJECT'``) so pipelines
    can account for corrupt rows without a second pass.
    """
    from pyspark.sql import functions as F

    cols = [df[c] for c in df.columns]
    for name, (path, typ) in fields.items():
        c = F.get_json_object(F.col(json_col), path)
        if typ is not None:
            c = c.try_cast(typ)
        cols.append(c.alias(name))
    cols.append(
        F.coalesce(F.json_object_keys(json_col).isNotNull(), F.lit(False)).alias(
            "valid_object"
        )
    )
    return df.select(*cols)


def json_key_profile(df, json_col: str):
    """Key-frequency profile of a JSON object column: one row per distinct
    top-level key with the number of rows carrying it — the schema-drift
    monitor for heterogeneous feeds (a key that appears in 0.1% of rows is
    a producer bug or a schema migration in flight). Malformed/NULL/
    non-object rows contribute nothing (their key array is NULL and the
    explode drops them — same as the twin's json_valid guard).

    Scale shape: ``explode(json_object_keys(...))`` rides the scan; the
    groupBy is map-side-combined over the key cardinality (bounded by the
    producer's schema, not the corpus), so a billion-row feed moves one
    partial per task per key.
    """
    from pyspark.sql import functions as F

    return (
        df.select(F.explode(F.json_object_keys(json_col)).alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------

# simplified GPT-2-style tokenizer pattern: letter runs, digit runs, single
# punctuation marks (whitespace delimits, never emits). Deterministic and
# dialect-portable (same match counts in Java regex and RE2/DuckDB — parity
# asserted in tests); a stand-in for a real BPE vocab, which would only
# refine these pre-tokens further
BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_count_expr(text_col: str = "text", kind: str = "whitespace"):
    """Token count of ``text_col`` as a Catalyst Column (no UDF):
    'whitespace' = split on single spaces (the quality_exprs convention);
    'bpe_ish' = matches of BPE_ISH_PATTERN (letter/digit/punct pre-tokens,
    the upper-bound proxy for BPE token counts)."""
    from pyspark.sql import functions as F

    if kind == "whitespace":
        return F.size(F.split(F.col(text_col), " "))
    if kind == "bpe_ish":
        # regexp_count, NOT size(regexp_extract_all): the latter allocates
        # every matched token substring just to take the array's length —
        # measured 25x slower on a 2.9M-turn corpus (BENCH/AB_r04.md r4b);
        # the count is the same integer (the language scorer's fix, reused)
        return F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN))
    raise ValueError(f"unknown token kind {kind!r}")


# ---------------------------------------------------------------------------
# PII redaction + intra-document repeated-line removal
# ---------------------------------------------------------------------------

#: Ordered (category, pattern, replacement) redaction rules. Patterns are
#: deliberately restricted to the regex subset where Java (Spark) and RE2
#: (DuckDB) agree exactly — character classes, bounded repetition, ASCII
#: ``\b``, NO lookaround/backreferences — so the DuckDB twin can replay the
#: identical rule chain and the driver gate hash-matches redacted text
#: end-to-end. Order matters and is part of the contract: EMAIL first (so a
#: digit-bearing local part is never half-eaten by the number rules), then
#: IP, SSN, PHONE, and the 13-19-digit run (card-ish) last.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9][A-Za-z0-9.-]*\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[- ]\d{3}[- ]\d{4}\b", "<PHONE>"),
    ("longnum", r"\b\d{13,19}\b", "<LONGNUM>"),
)


def pii_count_exprs(text_col: str = "text") -> dict:
    """Per-category PII match counts of the ORIGINAL text as Catalyst
    Columns (``regexp_count`` — counting allocates nothing; the language
    scorer's measured fix, reused). Counts are independent per pattern —
    each rule is counted against the raw text, not the partially-redacted
    text — which is also exactly what the DuckDB twin computes."""
    from pyspark.sql import functions as F

    return {
        f"n_{name}": F.regexp_count(F.col(text_col), F.lit(pat))
        for name, pat, _ in PII_PATTERNS
    }


def redact_pii_expr(text_col: str = "text"):
    """The redacted text as ONE Catalyst Column: the ``PII_PATTERNS`` rules
    applied as a sequential ``regexp_replace`` chain (each replaces ALL
    occurrences, Spark's default — the twin passes DuckDB's 'g' flag)."""
    from pyspark.sql import functions as F

    out = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redact_pii(df, text_col: str = "text", counts: bool = True):
    """PII scrubbing — the standard pre-training redaction stage (emails,
    IPv4s, SSN-shaped ids, phone-shaped numbers, 13-19-digit runs →
    placeholder tokens). Pure Catalyst ``regexp_replace``/``regexp_count``
    in the scan projection: row-local, zero shuffle, linear in corpus
    bytes — the same cost class as token counting (regex engine time IS the
    cost; BENCH/AB_r04.md r4b). Beyond-reference, brief-driven (the
    reference has no text surface): a real deployment swaps in its own
    vetted rule pack; the operator's contract is the cross-engine-exact
    rule-chain semantics, which the driver gate pins end-to-end.

    Appends ``text_redacted`` (all other columns pass through row-locally);
    ``counts=True`` additionally appends one ``n_<category>`` column per
    rule, counted on the original text."""
    out = df.withColumn("text_redacted", redact_pii_expr(text_col))
    if counts:
        for name, expr in pii_count_exprs(text_col).items():
            out = out.withColumn(name, expr)
    return out


def repeated_line_exprs(text_col: str = "text", sep: str = "\n") -> dict:
    """Intra-document repetition features + the deduplicated text, as
    Catalyst Columns (Gopher/MassiveText-style repetition filtering at line
    granularity). ``array_distinct`` preserves FIRST-occurrence order in
    Spark, so ``text_dedup`` keeps each distinct line where it first
    appeared — the DuckDB twin replays this with a min-ordinality window
    over a LATERAL ``generate_series`` unnest (the repo's per-chunk unnest
    pattern). ``sep`` is a LITERAL separator: it is regex-quoted
    (``\\Q...\\E``) before feeding ``F.split``, so ``'|'`` or ``'. '``
    split on those exact characters (a ``sep`` containing ``\\E`` is the
    one unsupported case)."""
    from pyspark.sql import functions as F

    lines = F.split(F.col(text_col), "\\Q" + sep + "\\E")
    distinct = F.array_distinct(lines)
    n = F.size(lines)
    nd = F.size(distinct)
    return {
        "n_lines": n,
        "n_distinct_lines": nd,
        "dup_line_fraction": (n - nd).cast("double") / n,
        "text_dedup": F.array_join(distinct, sep),
    }


def remove_repeated_lines(df, text_col: str = "text", sep: str = "\n"):
    """Remove exact-duplicate lines/paragraphs WITHIN each document (keep
    the first occurrence, preserve order) and report the duplicate-line
    fraction — the intra-document counterpart of corpus-level exact dedup.
    Pure Catalyst (split → array_distinct → array_join), row-local in the
    scan projection, zero shuffle; per-row cost is linear in the line count
    (array_distinct is a single hash pass, not the O(n²) HOF-lambda shape
    the repo's A/Bs flag for long arrays)."""
    from pyspark.sql import functions as F

    out = df
    for name, expr in repeated_line_exprs(text_col, sep).items():
        out = out.withColumn(name, expr)
    return out


def _portable_line_key(col):
    """60-bit engine-portable line key: Spark ``conv(substring(md5(x),1,15),
    16,10)::bigint`` == DuckDB ``('0x'||substr(md5(x),1,15))::BIGINT`` (the
    cross-engine hash the model scorer established; quality_model.py)."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def corpus_line_dedup(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_len: int = 1,
    max_df: Optional[int] = None,
    key: str = "xxhash64",
):
    """CCNet-style CROSS-document line/paragraph dedup: every line keeps its
    corpus-wide FIRST occurrence (min ``(id, pos)`` — deterministic and
    order-free under any partitioning) and later occurrences are removed;
    with ``max_df=k`` lines shared by more than ``k`` occurrences are
    boilerplate-stripped everywhere, first included. The cross-corpus
    counterpart of ``remove_repeated_lines`` (intra-doc) and the line-level
    counterpart of ``exact_dedup`` (whole-doc). Beyond-reference,
    brief-driven — the reference has no text surface.

    Scale shape (the 100-TB accounting):
      1. lines explode ROW-LOCALLY in the scan stage; only ``(key 8B, id,
         pos int)`` rows enter the corpus-wide groupBy. The struct-typed
         ``min`` buffer plans as SortAggregate (each task sorts ITS slice
         by key), but the partial still combines map-side — a
         billion-occurrence boilerplate line is one ``(count, min-struct)``
         partial per task, never a buffered partition: skew-proof by
         construction;
      2. only keys with ``df > 1`` (the duplicate minority) join back to
         the occurrence stream to emit DROP positions — unique lines never
         re-shuffle;
      3. drop positions group per document (small int arrays) and join onto
         the original frame — the ONE exchange that moves document text
         (AQE broadcasts it when the drop set is small); the rebuild is a
         row-local indexed ``filter`` HOF, O(lines x drops_in_doc) per doc.
    The occurrence stream is derived twice (steps 1 and 2 recompute the
    scan+split+hash) — the same recompute-over-persist trade
    ``exact_dedup(strategy='hash')`` makes: at corpus scale the 24 B/line
    stream dwarfs executor storage, and split+hash is cheap next to a
    second full-text shuffle. Callers holding a cached input pay nothing.

    Semantics: intra-document repeats beyond the first are duplicates too
    (``df`` counts occurrences, not documents). Lines shorter than
    ``min_len`` chars (default 1: empty lines) are exempt — always kept,
    never counted. NULL text passes through NULL. ``key='xxhash64'`` (prod
    default, JVM-side) treats 64-bit-collision lines as equal — odds ~n^2 /
    2^65, the quantified trade streaming hash-only dedup documents;
    ``key='md5'`` is the engine-portable 60-bit variant the driver gate
    pins end-to-end.

    Appends ``text_dedup`` (NULL-safe), ``n_lines``, ``n_dropped_lines``.
    """
    from pyspark.sql import functions as F

    lines = F.split(F.col(text_col), "\\Q" + sep + "\\E")
    base = df.withColumn("__lines", lines)
    occ = base.select(
        F.col(id_col).alias("__id"), F.posexplode("__lines").alias("__pos", "__line")
    ).filter(F.length("__line") >= min_len)
    if key == "xxhash64":
        kx = F.xxhash64("__line")
    elif key == "md5":
        kx = _portable_line_key(F.col("__line"))
    else:
        raise ValueError(f"unknown key {key!r} (xxhash64 or md5)")
    keyed = occ.select("__id", "__pos", kx.alias("__k"))
    stats = keyed.groupBy("__k").agg(
        F.count("*").alias("__df"),
        F.min(F.struct(F.col("__id"), F.col("__pos"))).alias("__first"),
    )
    dups = stats.filter(F.col("__df") > 1)
    dec = keyed.join(dups, "__k")
    is_first = (F.col("__id") == F.col("__first.__id")) & (
        F.col("__pos") == F.col("__first.__pos")
    )
    drop_cond = ~is_first
    if max_df is not None:
        drop_cond = drop_cond | (F.col("__df") > max_df)
    drops = (
        dec.filter(drop_cond)
        .groupBy("__id")
        .agg(F.collect_list("__pos").alias("__drops"))
        .withColumnRenamed("__id", id_col)
    )
    joined = base.join(drops, id_col, "left")
    dropset = F.coalesce(F.col("__drops"), F.expr("CAST(array() AS array<int>)"))
    kept = F.filter("__lines", lambda x, i: ~F.array_contains(dropset, i))
    nn = F.col(text_col).isNotNull()
    return joined.select(
        *df.columns,
        F.when(nn, F.array_join(kept, sep)).alias("text_dedup"),
        F.when(nn, F.size("__lines")).alias("n_lines"),
        F.when(nn, F.size(dropset)).otherwise(F.lit(None)).alias("n_dropped_lines"),
    )


def duplicated_spans(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_occurrences: int = 2,
):
    """Exact duplicated-substring detection at token granularity (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models Better"):
    a k-token window is *duplicated* when its exact token sequence occurs
    at >= ``min_occurrences`` distinct (doc, position) locations
    corpus-wide — within-document repeats count. Returns the MAXIMAL
    per-document runs of duplicated windows as ``(id_col, span_start,
    span_end, span_tokens, n_windows)`` with 1-based inclusive token
    indices (overlapping and token-adjacent windows merge into one span).
    The substring-granularity member of the dedup family: finer than
    ``corpus_line_dedup`` (line granularity) and ``exact_dedup`` (whole
    document); the published tool uses a suffix array, which has no
    distributed analogue — the windowed-hash formulation computes the same
    duplicated-run set for runs >= k tokens. Beyond-reference,
    brief-driven (the reference has no text surface).

    Scale shape (the 100-TB accounting):
      1. windows explode ROW-LOCALLY in the scan stage (one row per token
         position, ~tokens rows); only ``(key 8B, id, pos int)`` enters the
         corpus-wide groupBy, never text. The count-only partial combines
         map-side, so a billion-occurrence boilerplate window is one
         partial per task — skew-proof by construction;
      2. only keys with df >= min_occurrences (the duplicate minority)
         join back to the occurrence stream; a hot key's join fan-out IS
         the answer (its occurrence list) and AQE's skew-join split bounds
         the task; the occurrence stream is derived twice (the
         recompute-over-persist trade ``corpus_line_dedup`` documents);
      3. the island merge sorts only duplicated positions per document —
         one narrow exchange over the dup minority.
    The window key is the engine-portable 60-bit md5 of the space-joined
    k-gram (the ``quality_model.py`` convention), so a DuckDB twin replays
    the whole operator; hashing is O(k * bytes) per document — a
    production path can swap the rolling polynomial fold of
    ``_batch_shingle_hashes`` (O(bytes)) at the cost of twin portability.
    Tokens are single-space splits; NULL text yields no spans.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if k < 2:
        raise ValueError("k must be >= 2 (a 1-token window is word frequency)")
    if min_occurrences < 2:
        raise ValueError("min_occurrences must be >= 2")
    toks = F.split(F.col(text_col), " ")
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__id"), toks.alias("__t"))
        .filter(F.size("__t") >= k)
    )
    wins = base.select(
        "__id",
        "__t",
        F.explode(F.sequence(F.lit(1), F.size("__t") - (k - 1))).alias("__pos"),
    ).select(
        "__id",
        "__pos",
        _portable_line_key(
            F.concat_ws(" ", F.expr(f"slice(__t, __pos, {k})"))
        ).alias("__k"),
    )
    dup_keys = (
        wins.groupBy("__k")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= min_occurrences)
        .select("__k")
    )
    dup = wins.join(dup_keys, "__k", "semi")
    w = Window.partitionBy("__id").orderBy("__pos")
    # a window at __pos covers tokens [__pos, __pos+k-1]; the next one
    # merges when it overlaps or touches that run (__pos <= prev + k) —
    # lag() is NULL on the first row, so the comparison is NULL and the
    # otherwise(0) keeps row one in island 0
    isl = dup.withColumn(
        "__new",
        F.when(F.col("__pos") > F.lag("__pos").over(w) + k, 1).otherwise(0),
    ).withColumn("__isl", F.sum("__new").over(w))
    return (
        isl.groupBy("__id", "__isl")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + (k - 1)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("span_start").cast("int"),
            F.col("span_end").cast("int"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("int")
            .alias("span_tokens"),
            F.col("n_windows").cast("long"),
        )
    )


def strip_duplicated_spans(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_occurrences: int = 2,
    spans=None,
):
    """Remove EVERY token covered by a duplicated span (all occurrences,
    matching the published deduplicate-text-datasets tool's behavior — it
    deletes each duplicated substring everywhere, not all-but-one) and
    rebuild the text. Appends ``text_stripped`` (empty string when
    everything was duplicated), ``n_tokens``, ``n_dropped_tokens``;
    NULL text passes through NULL with NULL counters.

    ``spans`` defaults to ``duplicated_spans(df, ...)``; pass a
    precomputed/persisted frame when composing into a pipeline (the spans
    computation scans the corpus — the usual persist discipline applies).
    The rebuild joins the per-doc span list (small int-pair arrays) onto
    the original frame — the one exchange that moves text, broadcast by
    AQE when the duplicated set is small — then drops covered positions
    with a row-local indexed filter HOF, O(tokens * spans_in_doc) per doc
    (spans per doc are few; the repo's HOF rule flags only long-array
    per-element lambdas)."""
    from pyspark.sql import functions as F

    if spans is None:
        spans = duplicated_spans(
            df, text_col=text_col, id_col=id_col, k=k, min_occurrences=min_occurrences
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    joined = df.join(per_doc, id_col, "left")
    empty = F.expr("CAST(array() AS array<struct<span_start:int,span_end:int>>)")
    joined = joined.withColumn("__sp", F.coalesce(F.col("__spans"), empty)).withColumn(
        "__toks", F.split(F.col(text_col), " ")
    )
    kept = F.expr(
        "filter(__toks, (t, i) -> NOT exists(__sp, "
        "s -> i + 1 >= s.span_start AND i + 1 <= s.span_end))"
    )
    nn = F.col(text_col).isNotNull()
    return joined.select(
        *df.columns,
        F.when(nn, F.array_join(kept, " ")).alias("text_stripped"),
        F.when(nn, F.size("__toks")).cast("int").alias("n_tokens"),
        F.when(nn, F.size("__toks") - F.size(kept))
        .cast("int")
        .alias("n_dropped_tokens"),
    )


def semdedup(
    df,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
    threshold: float = 0.9,
    salt: str = "semdedup",
):
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding
    space, then drop near-identical vectors WITHIN each cluster —
    semantic-level dedup where MinHash/exact dedup see different bytes.
    Returns (id_col, cluster, is_kept): cluster = the chosen seed's id,
    is_kept = False iff the vector has a same-cluster neighbor with
    cosine >= ``threshold`` and a smaller id (the order-free "dominated"
    keep rule — an anti-chain variant of the paper's keep-one-per-group;
    the paper's keep-farthest-from-centroid rule needs a cross-row float
    mean, which the repo's cross-engine-exactness policy forbids in
    hash-gated paths).

    Clustering is hash-seeded medoids, not k-means (documented deviation):
    seeds are the ``n_clusters`` rows with the smallest portable 60-bit
    md5 of ``'salt:id'`` — a deterministic uniform sample of the corpus —
    and every vector joins its max-cosine seed (ties to the smaller seed
    id). That keeps the WHOLE operator engine-replicable (a DuckDB twin
    replays seeds, assignment, pairs, and the keep rule bit-for-bit);
    callers wanting k-means quality can cluster with ``ivf_index`` and
    apply the same within-cluster rule. Known SemDeDup failure mode
    (shared with the paper): a duplicate pair split across two clusters
    is never compared.

    Scale shape: seeds collect driver-side (n_clusters rows) and embed as
    literal arrays, so assignment is one scan with JVM-side sequential
    folds (the ``_cosine_fold`` chassis — interpretive per element, fine
    at gate dims; swap the ``ivf_index`` mapInPandas numpy pass at
    production dims); the within-cluster self-join is the paper's own
    cost model — pairs per cluster ~ (n/K)^2, so K must grow with n
    (the paper uses K ~ sqrt(n·avg_cluster); cluster-size skew shows up
    in the assignment counts and is the operator's natural monitor)."""
    from pyspark.sql import functions as F

    if n_clusters < 2:
        raise ValueError("n_clusters must be >= 2")
    seeds = (
        df.select(id_col, emb_col)
        .withColumn(
            "__h",
            _portable_line_key(
                F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
            ),
        )
        .orderBy("__h", id_col)
        .limit(n_clusters)
        .collect()
    )
    # sorted by seed id so the argmax tie-break picks the SMALLEST seed id
    # among bit-equal cosines
    seeds = sorted((r[0], list(r[1])) for r in seeds)

    # r6 (guide §4.2): assignment and the within-cluster verify moved from
    # interpreted Catalyst HOF folds (aggregate/zip_with evaluate per
    # element with no codegen — 5.4 s on 2 tasks at sf0.1, and the 16 x 64
    # literal seed arrays made an 827 KB plan) to Arrow-batched numpy that
    # replays the SAME left-to-right IEEE fold: acc starts at 0.0 and adds
    # one a_j*b_j product per dimension, every op correctly rounded, so
    # each cosine double is BIT-IDENTICAL to the _cosine_fold tree the
    # DuckDB twins replay. NaN caveat: numpy comparisons order NaN below
    # the threshold while Spark/DuckDB order NaN above everything — a
    # zero-norm or NaN vector would diverge; no such vector exists in any
    # fixture and the operator's contract assumes finite nonzero
    # embeddings.
    from pyspark.sql import types as T

    seed_ids = [int(s) for s, _ in seeds]
    seed_mat = np.asarray([v for _, v in seeds], np.float64)  # (K, d)
    k_n, dim = seed_mat.shape

    def _fold_sq_rows(V):
        # sum_j V[:,j]^2 with the fold's exact add order
        acc = np.zeros(len(V))
        for j in range(V.shape[1]):
            acc = acc + V[:, j] * V[:, j]
        return acc

    seed_norm = np.sqrt(_fold_sq_rows(seed_mat))

    id_field = df.schema[id_col]
    emb_field = df.schema[emb_col]
    asg_schema = T.StructType(
        [id_field, emb_field, T.StructField("cluster", T.LongType())]
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, np.float64) for v in pdf[emb_col]])
            vnorm = np.sqrt(_fold_sq_rows(V))
            cos = np.empty((len(V), k_n))
            for s in range(k_n):
                acc = np.zeros(len(V))
                sv = seed_mat[s]
                for j in range(dim):
                    acc = acc + V[:, j] * sv[j]
                cos[:, s] = acc / (vnorm * seed_norm[s])
            # argmax returns the FIRST max: seeds are sorted by id, so ties
            # resolve to the smallest seed id — the struct-max rule
            best = cos.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    emb_col: pdf[emb_col],
                    "cluster": [seed_ids[b] for b in best],
                }
            )

    asg = _ensure_parallelism(df.select(id_col, emb_col)).mapInPandas(
        assign, schema=asg_schema
    )

    # within-cluster dominated rule: each vector ships ONCE to its
    # cluster's group (the old self-join shipped both embeddings of every
    # candidate pair); the n_c x n_c pairwise cosines accumulate per
    # dimension with the same fold order (outer-product adds — each
    # C[i,j] sees exactly the fold's op sequence), so pair cosines stay
    # bit-identical. Per-cluster cost is the paper's own (n/K)^2 model.
    drop_schema = T.StructType([id_field])

    def drop_ids(pdf):
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="mergesort")
        ids = ids[order]
        n = len(ids)
        if n < 2:
            return pd.DataFrame({id_col: ids[:0]})
        V = np.array(
            [np.asarray(v, np.float64) for v in pdf[emb_col].iloc[order]]
        )
        acc = np.zeros((n, n))
        for j in range(dim):
            col = V[:, j]
            acc = acc + col[:, None] * col[None, :]
        nrm = np.sqrt(acc.diagonal())
        cosm = acc / (nrm[:, None] * nrm[None, :])
        # b (column) is dropped iff some a with id_a < id_b (row above the
        # diagonal) has cosine >= threshold
        dominated = np.triu(cosm >= threshold, 1).any(axis=0)
        return pd.DataFrame({id_col: ids[dominated]})

    dropped = (
        asg.select(id_col, emb_col, "cluster")
        .groupBy("cluster")
        .applyInPandas(drop_ids, schema=drop_schema)
    )
    flagged = asg.join(
        dropped.withColumn("__drop", F.lit(True)), id_col, "left"
    )
    return flagged.select(
        id_col, "cluster", F.col("__drop").isNull().alias("is_kept")
    )


def assign_split(
    df,
    id_col: str = "doc_id",
    weights=(("train", 98), ("val", 1), ("test", 1)),
    salt: str = "split",
    split_col: str = "split",
):
    """Deterministic train/val/test assignment: ``split = weights-bucket of
    (60-bit md5 of 'salt:id') mod total_weight``. Pure integer arithmetic on
    the portable md5 key, so the assignment is identical in Spark, DuckDB,
    and any re-run — documents never migrate between splits when the corpus
    grows (membership depends only on the id), the property random-split
    cannot give. Row-local in the scan projection, zero shuffle; ``salt``
    namespaces independent splits of the same corpus. ``weights`` is an
    ordered (name, integer_weight) sequence; buckets are assigned in order
    (hash < cumulative weight), remainder to the last name."""
    from pyspark.sql import functions as F

    names = [n for n, _ in weights]
    if len(set(names)) != len(names):
        raise ValueError("duplicate split names")
    ws = [int(w) for _, w in weights]
    if any(w <= 0 for w in ws):
        raise ValueError("weights must be positive integers")
    total = sum(ws)
    h = (
        _portable_line_key(
            F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
        )
        % total
    )
    acc = None
    cum = 0
    for name, w in zip(names[:-1], ws[:-1]):
        cum += w
        acc = F.when(h < cum, name) if acc is None else acc.when(h < cum, name)
    col = acc.otherwise(names[-1]) if acc is not None else F.lit(names[-1])
    return df.withColumn(split_col, col)


def chi2_2x2(df, x_col: str, y_col: str):
    """Pearson chi-square independence test for two BOOLEAN columns — the
    A/B-experiment readout (arm x converted) next to the funnel/retention
    family. Returns ONE row [n, n_x0_y0, n_x0_y1, n_x1_y0, n_x1_y1, chi2,
    significant_95] where chi2 is the closed 2x2 form
    n*(ad-bc)^2 / (r0*r1*c0*c1) and significant_95 compares it to the
    1-dof 95% critical value 3.8415 (pinned constant).

    Correctness shape: the four cells are one map-side-combined global
    aggregate of exact int64 conditional counts; numerator and denominator
    build in DECIMAL(38,0) (n*(ad-bc)^2 overflows int64 near ~10^9 rows —
    the exact_moments lesson), each casts to double (round-to-nearest,
    identical in both engines), and chi2 is ONE pinned division — so even
    the significance boolean hash-gates. Degenerate margins (an empty row
    or column) yield chi2 NULL and significant_95 false on both engines.
    Rows with NULL in either column are excluded (documented, mirrored by
    the twin).

    Scale shape: a single scan projecting two booleans into one global
    aggregate — no shuffle at all beyond the 4-counter partial merge;
    corpus-size-independent thereafter."""
    from pyspark.sql import functions as F

    x = F.col(x_col).cast("boolean")
    y = F.col(y_col).cast("boolean")
    base = df.filter(x.isNotNull() & y.isNotNull())

    def cell(xv, yv):
        return F.sum(
            F.when((x == xv) & (y == yv), 1).otherwise(0)
        ).cast("long")

    agg = base.agg(
        cell(False, False).alias("n_x0_y0"),
        cell(False, True).alias("n_x0_y1"),
        cell(True, False).alias("n_x1_y0"),
        cell(True, True).alias("n_x1_y1"),
    )
    a, b = F.col("n_x0_y0"), F.col("n_x0_y1")
    c, d = F.col("n_x1_y0"), F.col("n_x1_y1")
    n = (a + b + c + d).alias("n")
    dec = "decimal(38,0)"
    det = a.cast(dec) * d.cast(dec) - b.cast(dec) * c.cast(dec)
    num = ((a + b + c + d).cast(dec) * det * det).cast("double")
    den = (
        (a + b).cast(dec) * (c + d).cast(dec)
        * (a + c).cast(dec) * (b + d).cast(dec)
    ).cast("double")
    chi2 = F.when(den > 0, num / den)
    return agg.select(
        n,
        "n_x0_y0",
        "n_x0_y1",
        "n_x1_y0",
        "n_x1_y1",
        chi2.alias("chi2"),
        F.coalesce(chi2 > F.lit(3.8415), F.lit(False)).alias(
            "significant_95"
        ),
    )


def ks_2sample(df, group_col: str, value_col: str):
    """Two-sample Kolmogorov-Smirnov test — the distribution-SHAPE member
    of the testing trio (chi2_2x2: contingency; mann_whitney_u: location
    shift; this: any CDF difference, including equal-median variance or
    tail changes neither sibling sees). Returns ONE row [n_true, n_false,
    ks_numer, ks, significant_95]: ``ks_numer`` = max over distinct
    values of |cum_true*n_false - cum_false*n_true| (the KS sup-distance
    cross-multiplied to exact int64 — no per-value division anywhere),
    ``ks`` = ks_numer/(n_true*n_false) (ONE pinned division), and
    ``significant_95`` evaluates the large-sample rejection rule
    KS > 1.358*sqrt((n1+n2)/(n1*n2)) squared and cross-multiplied into
    DECIMAL(38,0) integer arithmetic — ks_numer^2 * 10^6 >
    1844164 * (n1+n2) * n1 * n2 (1.358^2 = 1.844164, the pinned
    alpha=0.05 two-sample constant) — so the boolean hash-gates with
    zero float risk (exact through ~3e8 rows; past that widen the
    decimal). Both one-sided distances reduce to the same |.| because
    cum differences cover all values. NULL rows excluded.

    Scale shape: identical chassis to mann_whitney_u — one map-side
    (value, count, true-count) aggregate, cumulative sums over the
    DISTINCT-value frame (bounded by outcome cardinality; shard the
    prefix sum for continuous ultra-high-cardinality outcomes), one
    global max. The 12.5x distinct-vs-per-row A/B receipt
    (BENCH/ab_r5p11_mw.json) prices this design choice."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    g = F.col(group_col).cast("boolean")
    v = F.col(value_col)
    per_v = (
        df.filter(g.isNotNull() & v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(
            F.count("*").alias("__c"),
            F.sum(g.cast("long")).alias("__g1"),
        )
    )
    w_cdf = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cums = per_v.select(
        F.sum("__g1").over(w_cdf).alias("__cum1"),
        F.sum(F.col("__c") - F.col("__g1")).over(w_cdf).alias("__cum2"),
        F.sum("__g1").over(w_all).alias("n1"),
        F.sum(F.col("__c") - F.col("__g1")).over(w_all).alias("n2"),
    )
    agg = cums.groupBy("n1", "n2").agg(
        F.max(
            F.abs(
                F.col("__cum1") * F.col("n2") - F.col("__cum2") * F.col("n1")
            )
        ).alias("ks_numer")
    )
    dec = "decimal(38,0)"
    lhs = (
        F.col("ks_numer").cast(dec) * F.col("ks_numer").cast(dec)
        * F.lit(1_000_000).cast(dec)
    )
    rhs = (
        F.lit(1_844_164).cast(dec)
        * (F.col("n1") + F.col("n2")).cast(dec)
        * F.col("n1").cast(dec)
        * F.col("n2").cast(dec)
    )
    return agg.select(
        F.col("n1").alias("n_true"),
        F.col("n2").alias("n_false"),
        "ks_numer",
        (
            F.col("ks_numer").cast("double")
            / (F.col("n1") * F.col("n2")).cast("double")
        ).alias("ks"),
        F.coalesce(lhs > rhs, F.lit(False)).alias("significant_95"),
    )


def wilcoxon_signed_rank(df, x_col: str, y_col: str):
    """Wilcoxon signed-rank test — the PAIRED member of the rank family
    (before/after on the same unit; :func:`mann_whitney_u` assumes
    independent samples). Per row d = x - y; zero differences drop (the
    standard convention, mirrored by the twin); |d| takes doubled
    midranks from the shared distinct-value chassis; ``w2_pos`` = the
    doubled rank sum over POSITIVE d (exact int64). With
    d2 = 2*w2_pos - n*(n+1) (= 4*(W+ - E[W+]), exact), the tie-corrected
    normal approximation is z^2 = 3*d2^2 / (2n(n+1)(2n+1) - tie_term) —
    numerator in DECIMAL(38,0), ONE pinned division, so z2, the sign,
    and ``significant_95`` (z2 > 3.8416) all hash-gate. Returns ONE row
    [n_nonzero, w2_pos, tie_term, z2, sign, significant_95]; NULL rows
    excluded; n_nonzero = 0 yields NULL z2 / false.

    Scale shape: one row-local difference in the scan projection, one
    distinct-|d| aggregate + cumulative window (outcome cardinality),
    one broadcast rank lookup, one global aggregate — rows never
    shuffle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    x = F.col(x_col)
    y = F.col(y_col)
    base = (
        df.filter(x.isNotNull() & y.isNotNull())
        .select((x - y).alias("__d"))
        .filter(F.col("__d") != 0)
        .select(
            F.abs(F.col("__d")).alias("__ad"),
            (F.col("__d") > 0).cast("long").alias("__pos"),
        )
    )
    per_v = base.groupBy("__ad").agg(F.count("*").alias("__c"))
    w = Window.orderBy("__ad").rowsBetween(Window.unboundedPreceding, -1)
    ranks = per_v.select(
        "__ad",
        "__c",
        (
            2 * F.coalesce(F.sum("__c").over(w), F.lit(0).cast("long"))
            + F.col("__c")
            + 1
        ).alias("__mr2"),
    )
    joined = base.join(F.broadcast(ranks), "__ad")
    sums = joined.agg(
        F.count("*").alias("n_nonzero"),
        F.sum(F.col("__pos") * F.col("__mr2")).alias("w2_pos"),
        # tie_term from the rank frame would double-count per row; compute
        # it from the distinct frame via max over the broadcast columns
    )
    tie = per_v.agg(
        F.sum(
            F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")
        ).alias("tie_term")
    )
    dec = "decimal(38,0)"
    staged = sums.crossJoin(tie).select(
        "n_nonzero",
        "w2_pos",
        "tie_term",
        (
            2 * F.col("w2_pos")
            - F.col("n_nonzero") * (F.col("n_nonzero") + 1)
        ).alias("__d2"),
    )
    dn = F.col("n_nonzero").cast("double")
    denom = (
        F.lit(2.0) * dn * (dn + F.lit(1.0)) * (F.lit(2.0) * dn + F.lit(1.0))
        - F.col("tie_term").cast("double")
    )
    z2 = F.when(
        (F.col("n_nonzero") > 0) & (denom > 0),
        F.lit(3.0)
        * (F.col("__d2").cast(dec) * F.col("__d2").cast(dec)).cast("double")
        / denom,
    )
    return staged.select(
        "n_nonzero",
        "w2_pos",
        "tie_term",
        z2.alias("z2"),
        F.when(F.col("__d2") > 0, 1)
        .when(F.col("__d2") < 0, -1)
        .otherwise(0)
        .cast("int")
        .alias("sign"),
        F.coalesce(z2 > F.lit(3.8416), F.lit(False)).alias("significant_95"),
    )


# Poisson(1) inverse-CDF thresholds at 2^60 scale: a 60-bit uniform hash h
# maps to the bootstrap weight w = #{k : h >= POISSON1_T60[k]} (w in 0..7;
# P(w > 7) ~ 1e-5 is truncated). Pinned INTEGER literals shared verbatim
# with the DuckDB twin, so the weights are bit-equal cross-engine.
POISSON1_T60 = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
)


def poisson_bootstrap_ci(
    df,
    value_col: str,
    key_col: str,
    group_cols=(),
    n_replicates: int = 100,
    alpha: float = 0.05,
    scale_bits: int = 20,
):
    """Percentile confidence interval for the mean via the POISSON
    BOOTSTRAP — the single-pass resampling scheme for data too large to
    materialize B resamples: every row independently contributes a
    Poisson(1) multiplicity to each replicate, so all B replicate sums
    build in ONE scan with a constant-size (B x groups) shuffle and no
    resampled data ever exists. Weights are DETERMINISTIC: the 60-bit
    engine-portable md5 key of (row key ':' replicate) inverted through
    the pinned Poisson(1) CDF thresholds (POISSON1_T60), so both engines
    draw the identical bootstrap.

    Hash-gating recipe (the kmeans/trimmed-means integer algebra):
    values quantize to q = FLOOR(v * 2^scale_bits + 0.5) int64 in the
    scan projection; per-replicate numerators SUM(w*q) accumulate in
    DECIMAL(38,0)/HUGEINT (order-free exact); each replicate mean is ONE
    pinned division tree CAST(num)/CAST(den)/2^scale_bits; the CI bounds
    are ORDER STATISTICS of those bit-equal doubles (row_number at the
    pinned ranks klo = ceil(B*alpha/2), khi = B+1-klo, ties broken by
    replicate id). Returns one row per group: [*group_cols, n_rows,
    r_eff, ci_lo, ci_hi, mean_q, covers_mean, ci_nondegenerate] — means
    and bounds UNROUNDED (gates round); covers_mean compares the raw
    doubles. Replicates whose weights all land 0 drop (r_eff counts
    survivors; a group so small that khi > r_eff yields NULL ci_hi).

    Scale shape: one scan projecting (groups, q, key); explode to B
    weight rows per input row feeding a map-side-combined hash aggregate
    on (groups, replicate) — the exchange carries B rows per group, never
    raw data; one B-row-per-group window + one grouped final. The only
    per-row cost is B short md5s, embarrassingly parallel in the scan
    stage. At 10^12 rows drop B or sample groups; the shuffle stays B x
    |groups| regardless of input size."""
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    import math

    B = int(n_replicates)
    # ceil(B*alpha/2) on a rounded value so float dust (100*0.05/2 ->
    # 2.5000000000000004) never bumps the rank
    klo = max(1, math.ceil(round(B * alpha / 2, 9)))
    khi = B + 1 - klo
    if khi <= klo:
        raise ValueError(f"n_replicates={B} too small for alpha={alpha}")
    groups = list(group_cols)
    per_rep, exact = bootstrap_partials(
        df, value_col, key_col, groups, B, scale_bits
    )
    return bootstrap_finalize(per_rep, exact, groups, klo, khi, scale_bits)


def bootstrap_partials(df, value_col, key_col, groups, B, scale_bits):
    """Stage 1 of the Poisson bootstrap: the MERGEABLE integer partials.
    Returns (per_rep, exact) — per_rep = (groups, __r, __num DECIMAL(38,0),
    __den long) replicate sums, exact = (groups, n_rows, __sq) — all
    exact integers, so partials from disjoint row sets (partitions OR
    micro-batches) merge by plain addition, bit-for-bit associative.
    No den>0 filter here: a replicate that drew all-zero weights in one
    slice may gain weight in the next; the finalizer filters."""
    from functools import reduce

    from pyspark.sql import functions as F

    dec = "decimal(38,0)"
    scale = float(2**scale_bits)
    q = F.floor(F.col(value_col) * F.lit(scale) + F.lit(0.5)).cast("long")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *groups,
        q.alias("__q"),
        F.col(key_col).cast("string").alias("__k"),
    )
    # B short md5s per row are CPU-bound; a single-split scan (one-file
    # parquet) would serialize them onto one core — structural no-op at
    # scale, where scans already have >= cores splits
    base = _ensure_parallelism(base)
    rep = base.select(
        *groups,
        "__q",
        "__k",
        F.explode(F.sequence(F.lit(1), F.lit(B))).alias("__r"),
    )
    h = _portable_line_key(
        F.concat(F.col("__k"), F.lit(":"), F.col("__r").cast("string"))
    )
    w = reduce(
        lambda a, b: a + b,
        [(h >= F.lit(t)).cast("long") for t in POISSON1_T60],
    )
    per_rep = (
        rep.select(*groups, "__r", (w * F.col("__q")).alias("__wq"), w.alias("__w"))
        .groupBy(*groups, "__r")
        .agg(
            F.sum(F.col("__wq").cast(dec)).alias("__num"),
            F.sum("__w").alias("__den"),
        )
    )
    exact = base.groupBy(*groups).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("__q").cast(dec)).alias("__sq"),
    )
    return per_rep, exact


def bootstrap_finalize(per_rep, exact, groups, klo, khi, scale_bits):
    """Stage 2 of the Poisson bootstrap: rank the replicate means (one
    pinned division tree each) and pick the CI order statistics. Input
    partials may come straight from :func:`bootstrap_partials` or from
    integer-merged accumulations of them (the streaming leg)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    scale = float(2**scale_bits)
    per_rep = per_rep.filter(F.col("__den") > 0)
    mr = (
        F.col("__num").cast("double")
        / F.col("__den").cast("double")
        / F.lit(scale)
    )
    wnd = Window.partitionBy(*groups).orderBy("__mr", "__r") if groups else (
        Window.orderBy("__mr", "__r")
    )
    ranked = per_rep.select(*groups, "__r", mr.alias("__mr")).select(
        *groups,
        "__mr",
        F.row_number().over(wnd).alias("__rk"),
    )
    ci = ranked.groupBy(*groups).agg(
        F.count("*").alias("r_eff"),
        F.max(F.when(F.col("__rk") == klo, F.col("__mr"))).alias("__lo"),
        F.max(F.when(F.col("__rk") == khi, F.col("__mr"))).alias("__hi"),
    )
    joined = (
        exact.join(F.broadcast(ci), groups) if groups else exact.crossJoin(ci)
    )
    mean_q = (
        F.col("__sq").cast("double")
        / F.col("n_rows").cast("double")
        / F.lit(scale)
    )
    return joined.select(
        *groups,
        "n_rows",
        "r_eff",
        F.col("__lo").alias("ci_lo"),
        F.col("__hi").alias("ci_hi"),
        mean_q.alias("mean_q"),
        (
            (F.col("__lo") <= mean_q) & (mean_q <= F.col("__hi"))
        ).alias("covers_mean"),
        (F.col("__hi") > F.col("__lo")).alias("ci_nondegenerate"),
    )


def _linreg_final_exprs(x_decimals: int, y_decimals: int) -> dict:
    """SHARED final-stage formula strings for :func:`linreg` (the
    _moment_final_exprs discipline): inputs n, sx, sy, sxx, syy, sxy are
    exact integer power sums of the fixed-point values; every float op is
    +,-,*,/ in ONE tree used verbatim by F.expr and the DuckDB twin, so
    slope/intercept/r2/t2 are bit-identical cross-engine. The fixed-point
    rescale folds in as literal power-of-ten factors. Edit HERE, never a
    call site."""
    nd = "CAST(n AS DOUBLE)"
    mx = f"(CAST(sx AS DOUBLE) / {nd})"
    my = f"(CAST(sy AS DOUBLE) / {nd})"
    cov = f"(CAST(sxy AS DOUBLE) / {nd} - {mx} * {my})"
    varx = f"(CAST(sxx AS DOUBLE) / {nd} - {mx} * {mx})"
    vary = f"(CAST(syy AS DOUBLE) / {nd} - {my} * {my})"
    # slope_fp relates qy to qx; real slope = slope_fp * 10^(dx - dy),
    # real intercept = intercept_fp / 10^dy
    sl_scale = repr(float(10.0 ** (x_decimals - y_decimals)))
    ic_scale = repr(float(10.0**y_decimals))
    slope_fp = f"({cov} / {varx})"
    r2 = f"(({cov} / {varx}) * ({cov} / {vary}))"
    return {
        "slope": f"CASE WHEN {varx} > 0 THEN {slope_fp} * {sl_scale} END",
        "intercept": (
            f"CASE WHEN {varx} > 0 THEN "
            f"({my} - {slope_fp} * {mx}) / {ic_scale} END"
        ),
        "r2": f"CASE WHEN {varx} > 0 AND {vary} > 0 THEN {r2} END",
        "t2": (
            f"CASE WHEN {varx} > 0 AND {vary} > 0 "
            f"AND n > 2 AND 1.0 - {r2} > 0 THEN "
            f"{r2} * ({nd} - 2.0) / (1.0 - {r2}) END"
        ),
    }


def linreg(
    df,
    x_col: str,
    y_col: str,
    group_cols=(),
    x_decimals: int = 4,
    y_decimals: int = 4,
):
    """EXACT distributed simple linear regression (OLS y on x), per group:
    both variables fix-point to ``round(v * 10^d)`` int64 (the
    exact_moments recipe — recovers stored decimals exactly), the five
    cross/power sums accumulate as DECIMAL(38,0) integers (ORDER-FREE, so
    the fit is bit-reproducible under any partitioning — no float
    summation-order risk), and slope / intercept / r2 / t2 evaluate
    through the shared ``_linreg_final_exprs`` trees. The slope SIGN
    comes from the exact integer n*sxy - sx*sy (never the double), and
    ``significant_95`` is the large-n normal approximation t2 > 3.8416
    (documented; exact t quantiles need n-dependent tables). Returns one
    row per group: [*group_cols, n, slope, intercept, r2, t2, slope_sign,
    significant_95] — slope/intercept/r2/t2 UNROUNDED doubles (gates
    round); degenerate var(x)=0 yields NULLs and slope_sign 0 semantics
    via the exact numerator.

    Scale shape: one scan projecting the two quantized columns, ONE
    map-side-combined grouped aggregate (six integer sums of state per
    group), one row per group out — nothing else moves."""
    from pyspark.sql import functions as F

    groups = list(group_cols)
    dec = "decimal(38,0)"
    qx = F.round(F.col(x_col) * F.lit(float(10**x_decimals))).cast("long")
    qy = F.round(F.col(y_col) * F.lit(float(10**y_decimals))).cast("long")
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(*groups, qx.alias("__qx"), qy.alias("__qy"))
    x, y = F.col("__qx").cast(dec), F.col("__qy").cast(dec)
    sums = base.groupBy(*groups).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    e = _linreg_final_exprs(x_decimals, y_decimals)
    dnum = (
        F.col("n").cast(dec) * F.col("sxy")
        - F.col("sx") * F.col("sy")
    )
    t2 = F.expr(e["t2"])
    return sums.select(
        *groups,
        "n",
        F.expr(e["slope"]).alias("slope"),
        F.expr(e["intercept"]).alias("intercept"),
        F.expr(e["r2"]).alias("r2"),
        t2.alias("t2"),
        F.when(dnum > 0, 1)
        .when(dnum < 0, -1)
        .otherwise(0)
        .cast("int")
        .alias("slope_sign"),
        F.coalesce(t2 > F.lit(3.8416), F.lit(False)).alias(
            "significant_95"
        ),
    )


def theil_sen(
    df,
    x_col: str,
    y_col: str,
    id_col: str,
    x_decimals: int = 4,
    y_decimals: int = 4,
):
    """Theil-Sen robust slope — the median of all pairwise slopes, with
    up to ~29% outlier breakdown where OLS (:func:`linreg`) has zero.
    Bit-exact recipe: both variables fix-point to int64; each pair's
    slope is ONE division of exact integer differences (single-rounded,
    identical cross-engine), rescaled by a literal power-of-ten factor;
    the median is a pure ORDER STATISTIC — row_number at (n_pairs+1)//2
    over (slope, id_i, id_j) — zero further arithmetic, so it
    hash-gates (the group_robust_stats discipline). The intercept is
    the median of y_i - slope_med * x_i by the same order-statistic
    rule. Returns one row [n, n_pairs, slope, intercept] (UNROUNDED;
    gates round); vertical pairs (equal x) drop; n_pairs = 0 yields
    NULLs.

    Scale contract: ALL-PAIRS — O(n^2) in the input rows BY DESIGN
    (the estimator is defined over pairs). Apply it to a deterministic
    sample (the repo's hash-mod pattern); at 10^12 rows the sample IS
    the operator, exactly like emb_jl_ann_recall's recall oracle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sx = float(10**x_decimals)
    sy = float(10**y_decimals)
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.round(F.col(x_col) * F.lit(sx)).cast("long").alias("__qx"),
        F.round(F.col(y_col) * F.lit(sy)).cast("long").alias("__qy"),
    )
    a = base.select(
        F.col("__id").alias("__ia"),
        F.col("__qx").alias("__xa"),
        F.col("__qy").alias("__ya"),
    )
    b = base.select(
        F.col("__id").alias("__ib"),
        F.col("__qx").alias("__xb"),
        F.col("__qy").alias("__yb"),
    )
    rescale = float(10.0 ** (x_decimals - y_decimals))
    pairs = (
        a.join(F.broadcast(b), F.col("__ia") < F.col("__ib"))
        .filter(F.col("__xa") != F.col("__xb"))
        .select(
            "__ia",
            "__ib",
            (
                (F.col("__yb") - F.col("__ya")).cast("double")
                / (F.col("__xb") - F.col("__xa")).cast("double")
                * F.lit(rescale)
            ).alias("__s"),
        )
    )
    w = Window.orderBy("__s", "__ia", "__ib")
    ranked = pairs.select(
        "__s",
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(Window.partitionBy()).alias("__np"),
    )
    # lower median rank (n+1) DIV 2 expressed exactly
    med = ranked.agg(
        F.max("__np").alias("n_pairs"),
        F.max(
            F.when(
                F.col("__rn")
                == F.expr("(__np + 1) DIV 2"),
                F.col("__s"),
            )
        ).alias("slope"),
    )
    joined = base.crossJoin(F.broadcast(med))
    resid = joined.select(
        "__id",
        "n_pairs",
        "slope",
        (
            F.col("__qy").cast("double") / F.lit(sy)
            - F.col("slope") * (F.col("__qx").cast("double") / F.lit(sx))
        ).alias("__r"),
    )
    wr = Window.orderBy("__r", "__id")
    rranked = resid.select(
        "n_pairs",
        "slope",
        "__r",
        F.row_number().over(wr).alias("__rn"),
        F.count("*").over(Window.partitionBy()).alias("__nn"),
    )
    out = rranked.agg(
        F.max("__nn").alias("n"),
        F.max("n_pairs").alias("n_pairs"),
        F.max("slope").alias("slope"),
        F.max(
            F.when(
                F.col("__rn") == F.expr("(__nn + 1) DIV 2"), F.col("__r")
            )
        ).alias("intercept"),
    )
    return out.select("n", "n_pairs", "slope", "intercept")


def gini_coefficient(df, value_col: str, id_col: str, decimals: int = 0):
    """Gini concentration coefficient — the inequality audit for a
    training-data pipeline (is the corpus dominated by a few sources /
    users / conversations?). EXACT order-statistic algebra: non-negative
    values fix-point to int64, ranked by (value, id) (deterministic
    ties), and G = SUM (2i - n - 1) * x_(i) / (n * SUM x) — numerator
    and denominator are exact DECIMAL(38,0) integers, G is ONE pinned
    division, so it hash-gates. Returns one row [n, total_q, gini]
    (gini UNROUNDED; NULL when the total is zero). Negative values are
    rejected (ValueError domain is the caller's job — here they drop
    with the NULLs, documented).

    Scale shape: the ranking is a single global sort window — correct
    for the AGGREGATED frames this audits (per-user / per-source /
    per-conversation counts, orders of magnitude smaller than the raw
    table); at billions of keys use the assign_shards distributed
    prefix-rank pattern first."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    scale = float(10**decimals)
    dec = "decimal(38,0)"
    q = F.round(F.col(value_col) * F.lit(scale)).cast("long")
    base = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(id_col).alias("__id"), q.alias("__q"))
        .filter(F.col("__q") >= 0)
    )
    w = Window.orderBy("__q", "__id")
    ranked = base.select(
        "__q",
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(Window.partitionBy()).alias("__n"),
    )
    sums = ranked.agg(
        F.max("__n").alias("n"),
        F.sum(F.col("__q").cast(dec)).alias("total_q"),
        F.sum(
            (2 * F.col("__rn") - F.col("__n") - 1).cast(dec)
            * F.col("__q").cast(dec)
        ).alias("__num"),
    )
    g = F.when(
        F.col("total_q") > 0,
        F.col("__num").cast("double")
        / (F.col("n").cast(dec) * F.col("total_q")).cast("double"),
    )
    return sums.select(
        "n",
        F.col("total_q").cast("double").alias("total_q"),
        g.alias("gini"),
    )


def mann_kendall(df, order_col: str, value_col: str, id_col: str):
    """Mann-Kendall trend test — the nonparametric significance
    companion to :func:`theil_sen` (is there ANY monotone trend over
    time, no linearity or distribution assumed). S = SUM sign(v_j - v_i)
    over pairs ordered by (order_col, id_col) — exact int64 (signs via
    comparisons, never float signum); the tie-corrected variance scaled
    by 18 is the exact integer n(n-1)(2n+5) - SUM_g t(t-1)(2t+5); the
    continuity-corrected z^2 = 18 * (|S|-1)^2 / var18 is ONE pinned
    division of exact integers, so z2, the trend sign, and
    ``significant_95`` (z2 > 3.8416) all hash-gate. Returns one row
    [n, s, var18, z2, trend_sign, significant_95]; S = 0 or var18 <= 0
    yield NULL z2 / false. NULL order/value rows drop.

    Scale contract: ALL-PAIRS by definition (like theil_sen) — apply to
    a deterministic sample; the O(n log n) inversion-count formulation
    is a documented alternative for full-table runs."""
    from pyspark.sql import functions as F

    base = df.filter(
        F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(order_col).alias("__o"),
        F.col(id_col).alias("__id"),
        F.col(value_col).alias("__v"),
    )
    a = base.select(
        F.col("__o").alias("__oa"),
        F.col("__id").alias("__ia"),
        F.col("__v").alias("__va"),
    )
    b = base.select(
        F.col("__o").alias("__ob"),
        F.col("__id").alias("__ib"),
        F.col("__v").alias("__vb"),
    )
    earlier = (F.col("__oa") < F.col("__ob")) | (
        (F.col("__oa") == F.col("__ob")) & (F.col("__ia") < F.col("__ib"))
    )
    sgn = (F.col("__vb") > F.col("__va")).cast("long") - (
        F.col("__vb") < F.col("__va")
    ).cast("long")
    s_row = (
        a.join(F.broadcast(b), earlier)
        .agg(F.sum(sgn).alias("s"))
    )
    nn = base.agg(F.count("*").alias("n"))
    ties = (
        base.groupBy("__v")
        .agg(F.count("*").alias("__t"))
        .agg(
            F.sum(
                F.col("__t")
                * (F.col("__t") - 1)
                * (2 * F.col("__t") + 5)
            ).alias("__tt")
        )
    )
    joined = nn.crossJoin(s_row).crossJoin(ties)
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.coalesce(F.col("__tt"), F.lit(0))
    )
    dec = "decimal(38,0)"
    num = (
        (F.abs(F.col("s")) - 1).cast(dec)
        * (F.abs(F.col("s")) - 1).cast(dec)
        * 18
    )
    z2 = F.when(
        (F.col("s") != 0) & (var18 > 0),
        num.cast("double") / var18.cast("double"),
    )
    return joined.select(
        "n",
        "s",
        var18.alias("var18"),
        z2.alias("z2"),
        F.when(F.col("s") > 0, 1)
        .when(F.col("s") < 0, -1)
        .otherwise(0)
        .cast("int")
        .alias("trend_sign"),
        F.coalesce(z2 > F.lit(3.8416), F.lit(False)).alias(
            "significant_95"
        ),
    )


def corr_matrix(df, cols, decimals=0):
    """EXACT pairwise Pearson correlation screen over k numeric columns —
    the feature-correlation audit before model/mixture decisions — in ONE
    map-side-combined global aggregate: every column fixed-points to
    ``round(v * 10^d)`` int64 and the k + k + k(k-1)/2 power/cross sums
    accumulate as DECIMAL(38,0) integers (order-free — bit-reproducible
    under any partitioning). Each pair's r2/t2 then evaluates through the
    SAME shared trees as :func:`linreg` (``_linreg_final_exprs``), the
    sign from the exact integer n*sxy - sx*sy. Rows with ANY NULL among
    ``cols`` are excluded (complete-case, mirrored by twins). Returns
    k(k-1)/2 rows [x_col, y_col, n, r2, t2, sign, significant_95] with
    x_col < y_col in ``cols`` order; degenerate variance -> NULL r2/t2.
    ``decimals`` is an int applied to all columns or a dict per column.

    Scale shape: one scan, ONE grouped-less aggregate (O(k^2) integer
    sums of state), k(k-1)/2 single-row selects off the one-row result —
    nothing else moves."""
    from pyspark.sql import functions as F

    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("corr_matrix needs at least two columns")
    dmap = (
        dict(decimals)
        if isinstance(decimals, dict)
        else {c: int(decimals) for c in cols}
    )
    dec = "decimal(38,0)"
    cond = None
    for c in cols:
        nn = F.col(c).isNotNull()
        cond = nn if cond is None else (cond & nn)
    qs = {
        c: F.round(F.col(c) * F.lit(float(10 ** dmap[c]))).cast("long")
        for c in cols
    }
    base = df.filter(cond).select(
        *[qs[c].alias(f"__q_{i}") for i, c in enumerate(cols)]
    )
    aggs = [F.count("*").alias("n")]
    for i in range(len(cols)):
        ci = F.col(f"__q_{i}").cast(dec)
        aggs.append(F.sum(ci).alias(f"s_{i}"))
        aggs.append(F.sum(ci * ci).alias(f"s_{i}_{i}"))
        for j in range(i + 1, len(cols)):
            cj = F.col(f"__q_{j}").cast(dec)
            aggs.append(F.sum(ci * cj).alias(f"s_{i}_{j}"))
    sums = base.agg(*aggs)
    e = _linreg_final_exprs(0, 0)  # r2/t2 are scale-invariant
    # ONE explode over pair structs — a per-pair select-union would
    # recompute the aggregate (and the scan) k(k-1)/2 times
    pair_structs = [
        F.struct(
            F.lit(cols[i]).alias("x_col"),
            F.lit(cols[j]).alias("y_col"),
            F.col(f"s_{i}").alias("sx"),
            F.col(f"s_{j}").alias("sy"),
            F.col(f"s_{i}_{i}").alias("sxx"),
            F.col(f"s_{j}_{j}").alias("syy"),
            F.col(f"s_{i}_{j}").alias("sxy"),
        )
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    pairs = sums.select(
        "n", F.explode(F.array(*pair_structs)).alias("p")
    ).select("n", "p.*")
    dnum = (
        F.col("n").cast(dec) * F.col("sxy") - F.col("sx") * F.col("sy")
    )
    t2 = F.expr(e["t2"])
    return pairs.select(
        "x_col",
        "y_col",
        "n",
        F.expr(e["r2"]).alias("r2"),
        t2.alias("t2"),
        F.when(dnum > 0, 1)
        .when(dnum < 0, -1)
        .otherwise(0)
        .cast("int")
        .alias("sign"),
        F.coalesce(t2 > F.lit(3.8416), F.lit(False)).alias(
            "significant_95"
        ),
    )


# Benford first-digit probabilities log10(1 + 1/d), d = 1..9 — pinned
# double literals shared verbatim with the DuckDB twins (the POISSON1_T60
# discipline: the constants are repr'd into BOTH engines' expressions)
BENFORD_P10 = (
    0.3010299956639812,
    0.17609125905568124,
    0.12493873660829992,
    0.09691001300805642,
    0.07918124604762482,
    0.06694678963061322,
    0.05799194697768673,
    0.05115252244738129,
    0.04575749056067514,
)


def benford_chi2_expr() -> str:
    """The SHARED chi-square-vs-Benford expression string over columns
    ``n`` and ``c1..c9`` (exact integer digit counts): nine
    (obs - n*p)^2 / (n*p) terms folded left-to-right in digit order —
    identical IEEE tree under F.expr and in the DuckDB twin. Edit HERE,
    never a call site."""
    nd = "CAST(n AS DOUBLE)"
    terms = []
    for d, p in enumerate(BENFORD_P10, start=1):
        e = f"({nd} * {p!r})"
        terms.append(
            f"(CAST(c{d} AS DOUBLE) - {e}) * (CAST(c{d} AS DOUBLE) - {e})"
            f" / {e}"
        )
    return "(" + " + ".join(terms) + ")"


def benford_audit(df, value_col: str, group_cols=(), scale_decimals: int = 4):
    """Benford's-law first-digit audit — the classic
    fabrication/aggregation-artifact screen for scale-spanning positive
    measures. INTEGER-EXACT digit extraction: values fixed-point to
    ``round(|v| * 10^d)`` int64 and the first significant digit is the
    first character of the INTEGER's base-10 string (integer rendering is
    identical across engines — no log10, no float classification);
    zero/NULL values drop. Returns one row per group: [*group_cols, n,
    c1..c9, chi2, benford_consistent] where chi2 evaluates the shared
    :func:`benford_chi2_expr` tree against the pinned ``BENFORD_P10``
    literals and the boolean compares against the alpha=0.05 chi-square
    critical value at 8 dof (15.5073, CHI2_CRIT_95). chi2 UNROUNDED
    (gates round).

    Scale shape: digit extraction in the scan projection, ONE
    map-side-combined grouped aggregate (ten integers of state per
    group)."""
    from pyspark.sql import functions as F

    groups = list(group_cols)
    scale = float(10**scale_decimals)
    q = F.floor(F.abs(F.col(value_col)) * F.lit(scale) + F.lit(0.5)).cast(
        "long"
    )
    base = (
        df.filter(F.col(value_col).isNotNull())
        .select(*groups, q.alias("__q"))
        .filter(F.col("__q") > 0)
        .select(
            *groups,
            F.substring(F.col("__q").cast("string"), 1, 1)
            .cast("int")
            .alias("__d"),
        )
    )
    aggs = [F.count("*").alias("n")] + [
        F.sum((F.col("__d") == d).cast("long")).alias(f"c{d}")
        for d in range(1, 10)
    ]
    sums = base.groupBy(*groups).agg(*aggs)
    chi2 = F.expr(benford_chi2_expr())
    return sums.select(
        *groups,
        "n",
        *[f"c{d}" for d in range(1, 10)],
        chi2.alias("chi2"),
        F.coalesce(
            chi2 <= F.lit(CHI2_CRIT_95[8]), F.lit(False)
        ).alias("benford_consistent"),
    )


def winsorize_by_sketch(
    df,
    value_col: str,
    by,
    lower_q: float = 0.05,
    upper_q: float = 0.95,
    config=None,
    bound_decimals: int = 4,
):
    """Sketch-driven winsorization — the outlier-clamping data-cleaning
    stage off the flagship: per-group [lower_q, upper_q] bounds come from
    ONE DDSketch aggregation (two-stage, raw rows never shuffle for the
    bounds), broadcast back onto the scan, and every row clamps into its
    group's interval. Bounds are ROUNDED to ``bound_decimals`` before
    clamping so both engines compare against the identical literal (the
    oracle's quantile rounding contract). Returns the input columns plus
    ``<value_col>_winsorized``, ``clamped_lo``, ``clamped_hi``; NULL
    values pass through unclamped with false flags.

    Scale shape: one sketch aggregation (bucket-row shuffle only) + one
    broadcast join onto the scan — the clamp itself is a scan-fused
    projection; nothing about the raw data moves."""
    from pyspark.sql import functions as F

    from .agg import quantiles

    by_cols = [by] if isinstance(by, str) else list(by)
    qb = quantiles(
        df,
        value_col,
        by=by_cols,
        qs=(lower_q, upper_q),
        config=config,
        q_names=("__wlo", "__whi"),
    ).select(
        *by_cols,
        F.round("__wlo", bound_decimals).alias("__wlo"),
        F.round("__whi", bound_decimals).alias("__whi"),
    )
    v = F.col(value_col)
    joined = df.join(F.broadcast(qb), by_cols, "left")
    return joined.select(
        *df.columns,
        F.when(
            v.isNotNull(),
            F.least(F.greatest(v, F.col("__wlo")), F.col("__whi")),
        ).alias(f"{value_col}_winsorized"),
        F.coalesce(v < F.col("__wlo"), F.lit(False)).alias("clamped_lo"),
        F.coalesce(v > F.col("__whi"), F.lit(False)).alias("clamped_hi"),
    )


def jl_sign_matrix(d_in: int, k: int, seed_tag: str = "jl"):
    """Deterministic +/-1 Johnson-Lindenstrauss sign matrix (d_in x k):
    sign(d, j) = +1 iff the last md5 byte of ``{seed_tag}:{d}:{j}`` is
    even. Engine-independent by construction — the signs are computed
    ONCE driver-side and pinned as literals into both the Spark plan and
    the DuckDB twin, so no cross-engine hash contract is needed."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{seed_tag}:{d}:{j}".encode()).digest()[-1] % 2
            == 0
            else -1
            for j in range(k)
        ]
        for d in range(d_in)
    ]


def jl_project(
    df,
    emb_col: str,
    id_col: str,
    d_in: int,
    k: int = 16,
    scale_bits: int = 20,
    seed_tag: str = "jl",
):
    """Johnson-Lindenstrauss random projection of an embedding column to
    k dimensions under the pinned +/-1 sign matrix — the dimensionality
    reducer in front of ANN / clustering (distances are preserved within
    the JL distortion bound in expectation: E||y_a - y_b||^2 =
    k * ||q_a - q_b||^2 for +/-1 signs). INTEGER-EXACT end to end:
    coordinates quantize to q_d = FLOOR(x_d * 2^scale_bits + 0.5) int64
    (the k-means recipe) and y_j = SUM_d sign(d,j) * q_d is an exact
    int64 dot — the output hash-gates with zero float risk. Returns
    (id_col, proj array<bigint> length k); NULL/short embeddings are
    dropped (length must equal d_in).

    Per-element work over the d_in-long arrays goes through ONE
    Arrow-batched numpy matmul in mapInPandas (the
    _batch_shingle_hashes precedent — Catalyst HOFs evaluate
    interpretively per element and measured 13x slower on long arrays);
    the stage is scan-fused, nothing shuffles. At 10^12 rows the cost is
    one (batch x d_in) @ (d_in x k) int64 matmul per Arrow batch,
    embarrassingly parallel."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    S = np.array(jl_sign_matrix(d_in, k, seed_tag), dtype=np.int64)
    scale = float(2**scale_bits)
    schema = f"{id_col} long, proj array<bigint>"

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            Q = np.floor(E * scale + 0.5).astype(np.int64)
            Y = Q @ S
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "proj": list(Y)}
            )

    base = df.filter(
        F.col(emb_col).isNotNull() & (F.size(F.col(emb_col)) == d_in)
    ).select(id_col, emb_col)
    return _ensure_parallelism(base).mapInPandas(fn, schema)


# chi-square upper critical values at alpha=0.05 by degrees of freedom —
# the pinned constants kruskal_wallis compares H against (k groups -> k-1)
CHI2_CRIT_95 = {
    1: 3.8415, 2: 5.9915, 3: 7.8147, 4: 9.4877,
    5: 11.0705, 6: 12.5916, 7: 14.0671, 8: 15.5073,
}


def kruskal_wallis(df, group_col: str, value_col: str, crit: float | None = None):
    """Kruskal-Wallis H test — the k-sample extension of
    :func:`mann_whitney_u` (does ANY of k groups tend to larger values,
    one test instead of k(k-1)/2 pairwise comparisons). Doubled midranks
    from the shared distinct-value chassis; per-group rank sums S_g are
    exact int64; H folds SUM_g (S_g/2)^2/n_g in ONE pinned order
    (left-to-right ascending by group name from 0.0 — the trimmed-means
    fold recipe, k elements) and applies the tie correction
    H' = H / (1 - tie_term/(n^3 - n)). Returns ONE row [k, n, tie_term,
    h, significant_95] with ``h`` the tie-corrected statistic and the
    boolean comparing against the pinned alpha=0.05 chi-square critical
    value at k-1 dof (CHI2_CRIT_95; pass ``crit`` explicitly for k > 9).
    Every float op is +,-,*,/ on exact integers in one shared expression
    shape, so h and the boolean hash-gate. NULL rows excluded.

    Scale shape: one distinct-(group, value) aggregate, one cumulative
    window over DISTINCT values (outcome cardinality), one k-row group
    aggregate, one fold over k terms — rows never shuffle; the only sort
    feeding a window is the distinct-value frame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    g = F.col(group_col)
    v = F.col(value_col)
    per_gv = (
        df.filter(g.isNotNull() & v.isNotNull())
        .groupBy(g.cast("string").alias("__g"), v.alias("__v"))
        .agg(F.count("*").alias("__cgv"))
    )
    w_v = Window.partitionBy().orderBy("__v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # per distinct value (across groups): total count + cum of smaller
    per_v = per_gv.groupBy("__v").agg(F.sum("__cgv").alias("__c"))
    cums = per_v.select(
        "__v",
        "__c",
        F.coalesce(F.sum("__c").over(w_v), F.lit(0).cast("long")).alias(
            "__cum"
        ),
    )
    joined = per_gv.join(F.broadcast(cums), "__v")
    per_g = joined.groupBy("__g").agg(
        F.sum("__cgv").alias("__ng"),
        F.sum(
            F.col("__cgv") * (2 * F.col("__cum") + F.col("__c") + 1)
        ).alias("__sg2"),  # sum of DOUBLED midranks in the group
    )
    dec = "decimal(38,0)"
    # term_g = (S_g/2)^2 / n_g = (sg2^2 / 4) / n_g, computed as
    # double(sg2^2_exact) / (4*n_g) — one division per group
    term = (
        F.col("__sg2").cast(dec) * F.col("__sg2").cast(dec)
    ).cast("double") / (F.lit(4.0) * F.col("__ng").cast("double"))
    tie_v = per_v.agg(
        F.sum(
            F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")
        ).alias("tie_term")
    )
    folded = per_g.select(
        F.struct(F.col("__g"), term.alias("__t")).alias("__s")
    ).agg(
        F.count("*").alias("k"),
        F.expr(
            "aggregate(array_sort(collect_list(__s)), CAST(0.0 AS DOUBLE),"
            " (a, x) -> a + x.__t)"
        ).alias("__fold"),
    )
    totals = per_g.agg(F.sum("__ng").alias("n"))
    out = folded.crossJoin(totals).crossJoin(tie_v)
    dn = F.col("n").cast("double")
    h_raw = (
        F.lit(12.0) / (dn * (dn + F.lit(1.0))) * F.col("__fold")
        - F.lit(3.0) * (dn + F.lit(1.0))
    )
    denom = F.lit(1.0) - F.col("tie_term").cast("double") / (
        dn * dn * dn - dn
    )
    h = F.when(denom > 0, h_raw / denom)
    k_col = F.col("k").cast("int")
    if crit is None:
        crit_expr = None
        for dof, c in CHI2_CRIT_95.items():
            cond = k_col == (dof + 1)
            crit_expr = (
                F.when(cond, F.lit(c))
                if crit_expr is None
                else crit_expr.when(cond, F.lit(c))
            )
        crit_col = crit_expr
    else:
        crit_col = F.lit(float(crit))
    return out.select(
        k_col.alias("k"),
        F.col("n").cast("long").alias("n"),
        "tie_term",
        h.alias("h"),
        F.coalesce(h > crit_col, F.lit(False)).alias("significant_95"),
    )


# Spearman finals: ONE expression tree shared VERBATIM with the SQL twin
# (exact decimal sums cast to double; rho^2 as (num/d1)*(num/d2) — two
# pinned divisions and one multiply, never sqrt)
SPEARMAN_RHO2_EXPR = (
    "(CAST(__num AS DOUBLE) / CAST(__d1 AS DOUBLE)) * "
    "(CAST(__num AS DOUBLE) / CAST(__d2 AS DOUBLE))"
)


def spearman_rho(df, x_col: str, y_col: str):
    """Spearman rank correlation — monotone-association screening (the
    feature-selection staple: robust to outliers and any monotone
    transform, unlike Pearson on raw values). Pearson on DOUBLED MIDRANKS
    (ties handled exactly, same convention as :func:`mann_whitney_u`):
    per variable the distinct-value frame assigns each value the doubled
    midrank 2*cum + c + 1, rows pick their ranks up via two BROADCAST
    value->rank joins, and one global aggregate accumulates the exact
    DECIMAL(38,0) power sums. Returns ONE row [n, rho2, sign,
    significant_95]: rho2 = rho^2 evaluated as (num/d1)*(num/d2) — the
    shared-expression-tree discipline, num = n*Sxy - Sx*Sy etc., all
    inputs exact — ``sign`` in {-1,0,1} carries rho's direction
    (rho = sign * sqrt(rho2), left to the caller because sqrt is not
    cross-engine bit-stable), and ``significant_95`` uses the large-n
    normal approximation z^2 = rho2*(n-1) > 3.8416. NULL rows excluded;
    degenerate variance (a constant column) yields rho2 NULL and
    significant false on both engines.

    Scale shape: two map-side distinct-value aggregates (outcome
    cardinality each), two broadcast joins onto the row frame (rank
    lookup — rows never shuffle), one global aggregate. DECIMAL(38,0)
    keeps n*Sxy exact to ~2e9 rows (the exact_moments bound note)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    x = F.col(x_col)
    y = F.col(y_col)
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        x.alias("__x"), y.alias("__y")
    )

    def rank_frame(col, out):
        per_v = base.groupBy(F.col(col).alias("__v")).agg(
            F.count("*").alias("__c")
        )
        w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
        return per_v.select(
            F.col("__v"),
            (
                2 * F.coalesce(F.sum("__c").over(w), F.lit(0).cast("long"))
                + F.col("__c")
                + 1
            ).alias(out),
        )

    rx = rank_frame("__x", "__rx")
    ry = rank_frame("__y", "__ry")
    ranked = (
        base.join(F.broadcast(rx), base["__x"] == rx["__v"])
        .drop("__v")
        .join(F.broadcast(ry), base["__y"] == ry["__v"])
        .drop("__v")
    )
    dec = "decimal(38,0)"
    sums = ranked.agg(
        F.count("*").cast(dec).alias("__n"),
        F.sum(F.col("__rx").cast(dec)).alias("__sx"),
        F.sum(F.col("__ry").cast(dec)).alias("__sy"),
        F.sum(F.col("__rx").cast(dec) * F.col("__rx").cast(dec)).alias("__sxx"),
        F.sum(F.col("__ry").cast(dec) * F.col("__ry").cast(dec)).alias("__syy"),
        F.sum(F.col("__rx").cast(dec) * F.col("__ry").cast(dec)).alias("__sxy"),
    )
    staged = sums.select(
        F.col("__n"),
        (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")).alias(
            "__num"
        ),
        (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).alias(
            "__d1"
        ),
        (F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")).alias(
            "__d2"
        ),
    )
    rho2 = F.when(
        (F.col("__d1") > 0) & (F.col("__d2") > 0), F.expr(SPEARMAN_RHO2_EXPR)
    )
    return staged.select(
        F.col("__n").cast("long").alias("n"),
        rho2.alias("rho2"),
        F.when(F.col("__num") > 0, 1)
        .when(F.col("__num") < 0, -1)
        .otherwise(0)
        .cast("int")
        .alias("sign"),
        F.coalesce(
            rho2 * (F.col("__n").cast("double") - F.lit(1.0)) > F.lit(3.8416),
            F.lit(False),
        ).alias("significant_95"),
    )


# ONE expression string shared VERBATIM by mann_whitney_u's Spark plan and
# its DuckDB twin (the _moment_final_exprs discipline): exact integers cast
# to double, then +,-,*,/ only — identical IEEE tree on both engines.
# z^2 = 3*D^2*n*(n-1) / (n1*n2*((n+1)*n*(n-1) - tie_term)), D = 2U - n1*n2
# (the 12 from the tie-corrected Var(U) and the 4 from (D/2)^2 reduce to 3).
MANN_WHITNEY_Z2_EXPR = (
    "(3.0 * CAST(__d AS DOUBLE) * CAST(__d AS DOUBLE) "
    "* CAST(__n AS DOUBLE) * (CAST(__n AS DOUBLE) - 1.0)) / "
    "(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * "
    "((CAST(__n AS DOUBLE) + 1.0) * CAST(__n AS DOUBLE) "
    "* (CAST(__n AS DOUBLE) - 1.0) - CAST(tie_term AS DOUBLE)))"
)
MANN_WHITNEY_RB_EXPR = (
    "CAST(__d AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
)


def mann_whitney_u(df, group_col: str, value_col: str):
    """Mann-Whitney U rank-sum test — the nonparametric two-sample
    comparison beside :func:`chi2_2x2`'s contingency test: does the
    ``group_col``-TRUE sample tend to larger ``value_col`` than the FALSE
    sample, with no distributional assumption. Returns ONE row [n_true,
    n_false, u2_true, tie_term, z2, rank_biserial, significant_95]:
    ``u2_true`` is 2*U for the TRUE group (doubled so midranks — halves
    under ties — stay exact integers), ``tie_term`` = sum(t^3 - t) over
    tie groups, ``z2`` the squared normal-approximation statistic WITH the
    tie-corrected variance (no continuity correction — pinned convention,
    mirrored by the twin), ``rank_biserial`` = (2U - n1*n2)/(n1*n2) the
    effect size, and ``significant_95`` compares z2 to 1.96^2 = 3.8416.

    Correctness shape: midranks never materialize per row — per distinct
    value, the doubled midrank is 2*cum + c + 1 (cum = count of smaller
    rows, c = tie size), so 2*R1 = sum(g1 * (2*cum + c + 1)) is exact
    int64 from ONE groupBy(value) + one cumulative window over DISTINCT
    values + one global aggregate. z2's inputs are those exact integers
    cast to double (exact <= 2^53, i.e. ~9e15 rows) and the formula is
    ONE shared expression string evaluated by both engines — the
    _moment_final_exprs discipline — so z2, the effect size, and the
    significance boolean all hash-gate. NULL group or value rows are
    excluded.

    Scale shape: the scan reduces to (value, count, true-count) partials
    map-side; the only sort is the cumulative window over DISTINCT
    values — bounded by outcome cardinality, not corpus size (typical
    metric outcomes: thousands). For ultra-high-cardinality continuous
    outcomes shard the prefix sum first (``assign_shards``' top-bit
    bucket pattern) before this window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    g = F.col(group_col).cast("boolean")
    v = F.col(value_col)
    per_v = (
        df.filter(g.isNotNull() & v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(
            F.count("*").alias("__c"),
            F.sum(g.cast("long")).alias("__g1"),
        )
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.withColumn(
        "__cum", F.coalesce(F.sum("__c").over(w), F.lit(0).cast("long"))
    )
    tot = ranked.agg(
        F.sum("__g1").alias("n1"),
        F.sum(F.col("__c") - F.col("__g1")).alias("n2"),
        F.sum(
            F.col("__g1") * (2 * F.col("__cum") + F.col("__c") + 1)
        ).alias("__two_r1"),
        F.sum(
            F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")
        ).alias("tie_term"),
    )
    two_u = (
        F.col("__two_r1") - F.col("n1") * (F.col("n1") + 1)
    ).alias("u2_true")
    staged = tot.select("n1", "n2", two_u, "tie_term").select(
        "n1",
        "n2",
        "u2_true",
        "tie_term",
        (F.col("u2_true") - F.col("n1") * F.col("n2")).alias("__d"),
        (F.col("n1") + F.col("n2")).alias("__n"),
    )
    return staged.select(
        F.col("n1").alias("n_true"),
        F.col("n2").alias("n_false"),
        "u2_true",
        "tie_term",
        F.expr(MANN_WHITNEY_Z2_EXPR).alias("z2"),
        F.expr(MANN_WHITNEY_RB_EXPR).alias("rank_biserial"),
        F.coalesce(
            F.expr(MANN_WHITNEY_Z2_EXPR) > F.lit(3.8416), F.lit(False)
        ).alias("significant_95"),
    )


def leakage_safe_split(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights=(("train", 80), ("val", 10), ("test", 10)),
    salt: str = "split",
    split_col: str = "split",
    **near_dup_kwargs,
):
    """Train/val/test split that cannot leak near-duplicates across the
    boundary: resolve fuzzy-dup clusters first (``near_dup_clusters`` —
    MinHash/LSH candidates, exact-Jaccard verify, connected components),
    then key ``assign_split``'s portable hash on the CLUSTER REPRESENTATIVE
    id instead of the document id — every member of a near-dup cluster
    lands in the same split BY CONSTRUCTION. A plain id-hash split puts two
    97%-identical documents in train and test with probability
    2·p·(1−p) each — the classic eval-contamination path that survives
    exact dedup; clustering first closes it at the same granularity the
    dedup pipeline already computes. Returns [id_col, rep_id, split] for
    EVERY input document (callers usually also drop ``keep = false`` rows;
    kept here so audits can see where discarded dups would have gone).

    Scale shape: all heavy lifting is the near-dup stack (bucketed LSH
    joins, once-per-doc verify hashing, semi-joined CC — the 100-TB design
    receipts live on those operators); the split itself is a row-local
    integer hash of ``rep_id`` in the projection, zero additional shuffle,
    and membership is stable under corpus growth EXCEPT when new documents
    merge two clusters (then the merged cluster follows its new min-id rep
    — unavoidable under any cluster-atomic rule, documented contract).
    ``near_dup_kwargs`` pass through to ``near_dup_clusters``.
    """
    clusters = near_dup_clusters(
        df, text_col=text_col, id_col=id_col, **near_dup_kwargs
    )
    return assign_split(
        clusters, id_col="rep_id", weights=weights, salt=salt,
        split_col=split_col,
    ).select(id_col, "rep_id", split_col)


def assign_shards(
    df,
    id_col: str = "doc_id",
    units_col=None,
    target_units: int = 1 << 26,
    salt: str = "shard",
    bucket_bits: int = 10,
    text_col: str = "text",
):
    """Deterministic size-targeted output sharding — the training-data
    write stage: lay the corpus on a canonical hash-shuffled line (order by
    the portable 60-bit md5 of ``'salt:id'``, ties by id) and cut it every
    ``target_units`` units (tokens/chars/bytes — ``units_col``, default
    ``length(text_col)``); ``shard_id`` = the bin a document's FIRST unit
    falls in, so shards are contiguous runs of the canonical order with
    near-equal unit mass and a hash-uniform (i.e. content-agnostic,
    dedup/source-independent) document mix per shard. Assignment is a pure
    function of (salt, ids, sizes) — identical across engines and re-runs.

    The running total is a DISTRIBUTED prefix sum, never a global
    single-partition window (the naive ``SUM() OVER (ORDER BY h)`` puts
    100 TB through ONE task): rows land in ``2^bucket_bits`` buckets by
    their hash's top bits (deterministic, so bucket boundaries respect the
    global order), each bucket windows its own cumsum after one narrow
    (id, units, hash) exchange — text never moves — and the per-bucket
    totals (a 2^bucket_bits-row frame) prefix-sum driver-side and
    broadcast-join back as offsets. Raise ``bucket_bits`` with corpus size
    to keep per-bucket sorts in memory.

    Returns (id_col, units bigint, shard_id bigint). NULL text/units count
    as 0 (the document still occupies a slot). The DuckDB twin replays the
    whole assignment with one ordinary ``SUM() OVER`` — equality with the
    bucketed plan is exactly what the gate checks."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if target_units <= 0:
        raise ValueError("target_units must be positive")
    if not 1 <= bucket_bits <= 20:
        raise ValueError("bucket_bits must be in [1, 20]")
    units = (
        F.col(units_col) if units_col is not None else F.length(F.col(text_col))
    )
    base = df.select(
        F.col(id_col),
        F.coalesce(units.cast("bigint"), F.lit(0)).alias("__units"),
        _portable_line_key(
            F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
        ).alias("__hx"),
    )
    # top bits of the 60-bit key: bucketing follows the global hash order,
    # so per-bucket cumsums + bucket offsets compose to the global prefix
    base = base.withColumn(
        "__b", F.shiftright(F.col("__hx"), 60 - bucket_bits).cast("int")
    )
    w = Window.partitionBy("__b").orderBy("__hx", id_col)
    local = base.withColumn("__cum", F.sum("__units").over(w))
    totals = {
        r["__b"]: r["t"]
        for r in base.groupBy("__b").agg(F.sum("__units").alias("t")).collect()
    }
    off, acc = {}, 0
    for b in sorted(totals):
        off[b] = acc
        acc += int(totals[b])
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        [(b, o) for b, o in off.items()] or [(0, 0)], "__b int, __off bigint"
    )
    return (
        local.join(F.broadcast(off_df), "__b", "left")
        .select(
            F.col(id_col),
            F.col("__units").alias("units"),
            F.expr(
                f"(__cum + coalesce(__off, 0L) - __units) div {int(target_units)}"
            ).alias("shard_id"),
        )
    )


def hash_sample_by_group(
    df,
    group_col: str = "source",
    fractions: dict | None = None,
    id_col: str = "doc_id",
    salt: str = "mix",
    resolution: int = 1 << 20,
):
    """Deterministic per-group Bernoulli sampling — the mixing primitive:
    a row of group g survives iff ``md5-60bit('salt:id') mod resolution <
    floor(fractions[g] * resolution)``. Membership is a pure function of
    (salt, id): stable under corpus growth and re-runs, engine-portable
    (integer threshold comparison — the driver gate replays every bit), and
    UNIFORM within each group because the hash is independent of the group.
    Groups absent from ``fractions`` are dropped (mixing is an explicit
    contract). Zero shuffle, zero joins: the thresholds inline as a
    when-chain in the scan projection — ``fractions`` is assumed
    domain-cardinality-small (tens to thousands of sources), the standard
    mixing shape. Note the count realized per group is binomial around
    ``frac * n_g``, not exact-k (``deterministic_stratified_sample`` is the
    exact-k primitive); the expectation is what mixing recipes specify."""
    from pyspark.sql import functions as F

    if not fractions:
        raise ValueError("fractions must map group -> sampling fraction")
    h = (
        _portable_line_key(
            F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
        )
        % int(resolution)
    )
    acc = None
    for g, f in fractions.items():
        thr = int(min(max(float(f), 0.0), 1.0) * resolution)
        cond = F.col(group_col).eqNullSafe(F.lit(g))
        acc = F.when(cond, thr) if acc is None else acc.when(cond, thr)
    return df.filter(h < acc.otherwise(F.lit(0)))


def temperature_mix(
    df,
    group_col: str = "source",
    tau: float = 0.7,
    target_rows: int | None = None,
    id_col: str = "doc_id",
    salt: str = "mix",
):
    """Temperature-based domain mixing (the multilingual/multi-source
    rebalancing recipe): group g's target share is ``n_g^tau / sum(n^tau)``
    — tau=1 keeps natural proportions, tau=0 equalizes domains, 0<tau<1
    up-weights the tail. Returns ``(sampled_df, fractions)``.

    Driver-side math is ONE small groupBy().count() collect (bounded by
    domain cardinality — the one collect a mixing operator genuinely needs)
    plus deterministic waterfilling: groups whose target exceeds their size
    cap at fraction 1.0 and the excess redistributes over the rest (without
    it, capped groups silently shrink the output below ``target_rows``).
    Row selection then delegates to ``hash_sample_by_group`` — zero
    shuffle, stable membership. Realized counts are binomial around the
    targets (documented there)."""
    counts = {
        r[0]: r[1] for r in df.groupBy(group_col).count().collect()
    }
    if not counts:
        return hash_sample_by_group(df, group_col, {"__none__": 0.0}, id_col, salt), {}
    total = sum(counts.values())
    t = int(target_rows) if target_rows is not None else total
    if t <= 0:
        raise ValueError("target_rows must be positive")
    t = min(t, total)
    fractions: dict = {}
    active = dict(counts)
    remaining = float(t)
    while active:
        z = sum(n ** tau for n in active.values())
        want = {g: remaining * (n ** tau) / z for g, n in active.items()}
        capped = {g for g, wv in want.items() if wv >= active[g]}
        if not capped:
            for g, wv in want.items():
                fractions[g] = wv / active[g]
            break
        for g in capped:
            fractions[g] = 1.0
            remaining -= active[g]
        active = {g: n for g, n in active.items() if g not in capped}
        if remaining <= 0:
            for g in active:
                fractions[g] = 0.0
            break
    return (
        hash_sample_by_group(df, group_col, fractions, id_col, salt),
        fractions,
    )


# ---------------------------------------------------------------------------
# distributed k-means (Lloyd's) over embedding columns
# ---------------------------------------------------------------------------


def _kmeans_dists_fixed_order(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Squared L2 distances (n, k) accumulated dimension-by-dimension in a
    FIXED left-to-right order — ``((0 + t_1) + t_2) + ...`` — so the float64
    result is bit-identical to a SQL left-associative term chain
    ``t_1 + t_2 + ...`` (``0 + t_1 == t_1`` exactly; squares are never
    ``-0.0``). The vectorized-over-rows/centroids form of the pinned fold;
    NEVER replace with ``((X[:,None]-C)**2).sum(-1)`` — pairwise summation
    changes the rounding and breaks the cross-engine hash gate."""
    acc = np.zeros((X.shape[0], C.shape[0]))
    for d in range(X.shape[1]):
        t = X[:, d, None] - C[None, :, d]
        acc = acc + t * t
    return acc


def kmeans_embeddings(
    df,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 4,
    scale_bits: int = 20,
    checkpoint: Optional[str] = None,
):
    """Fully-DISTRIBUTED Lloyd's k-means over an embedding column — unlike
    ``ivf_index`` (driver-side sample fit), every iteration assigns EVERY
    vector: one scan per iteration computing per-partition partial sums,
    a tiny driver reduce (k x dim ints per partition), and a re-broadcast.
    Returns [id_col, cluster, dist] with ``dist`` = squared L2 to the final
    centroid (unrounded — bit-exact; gates round with ``F.round``).

    Cross-engine exactness (the bit-exact-twin discipline): coordinates are
    quantized IN THE SCAN PROJECTION to ``floor(x * 2^scale_bits + 0.5)``
    int64 (exact: float32 -> double widening, power-of-two scale, one
    deterministic round), so centroid numerators are ORDER-FREE integer
    sums; each centroid coordinate is ONE correctly-rounded division
    ``sum / (count * 2^scale_bits)``; distances accumulate in the pinned
    dimension order (``_kmeans_dists_fixed_order``); argmin ties break to
    the smallest cluster id; empty clusters keep their previous centroid.
    Every step is therefore bit-reproducible regardless of partitioning AND
    replayable by DuckDB's unrolled-iteration twin (``oracle.kmeans_sql``).
    Exactness bound: integer sums stay exact as doubles for
    cluster_count * 2^scale_bits < 2^53 (~8.6e9 members at the default).

    Init is deterministic: the ``k`` rows with smallest ``id_col``.

    Scale shape: the quantized (id, q) frame is narrow (dim x 8B + id) and
    persisted for the loop — the embedding parquet is scanned ONCE; each
    iteration moves only ``partitions x k`` partial rows to the driver
    (tree-reduce territory only beyond ~10^5 partitions) and broadcasts
    k x dim doubles back. No shuffle of vectors, ever. Like
    ``near_duplicates``, the returned frame is eagerly materialized
    (localCheckpoint) so the persisted input can be released before return.
    """
    from pyspark.sql import functions as F

    if k < 1 or iters < 0:
        raise ValueError("k >= 1 and iters >= 0 required")
    scale = float(2**scale_bits)
    q = (
        _ensure_parallelism(df.select(id_col, emb_col))
        .select(
            id_col,
            F.expr(
                f"transform({emb_col}, x -> "
                f"CAST(floor(CAST(x AS DOUBLE) * {scale!r} + 0.5d) AS BIGINT))"
            ).alias("__q"),
        )
        .persist()
    )
    init = q.orderBy(id_col).limit(k).collect()
    if len(init) < k:
        q.unpersist()
        raise ValueError(f"k={k} exceeds input rows ({len(init)})")
    C = np.stack([np.asarray(r["__q"], np.int64) for r in init]).astype(np.float64)
    C /= scale
    dim = C.shape[1]
    spark = df.sparkSession

    # iteration-granular checkpoint (north_rule resumability for ITERATIVE
    # jobs): after each Lloyd round the centroids are persisted as float
    # HEX strings (bit-exact round-trip — json decimal would re-round), so
    # a killed job resumes from the last completed round and produces the
    # IDENTICAL final model (pinned in tests/test_dataops.py)
    start_iter = 0
    if checkpoint:
        import json as _json
        import os as _os

        _os.makedirs(checkpoint, exist_ok=True)
        for t in range(iters, 0, -1):
            p = _os.path.join(checkpoint, f"iter_{t}.json")
            if _os.path.exists(p):
                with open(p) as fh:
                    st = _json.load(fh)
                if st.get("k") == k and st.get("scale_bits") == scale_bits:
                    C = np.array(
                        [[float.fromhex(h) for h in row] for row in st["centroids_hex"]]
                    )
                    start_iter = t
                    break

    def partials_fn(bc):
        def fn(batches):
            cents = bc.value
            sums = np.zeros((k, dim), np.int64)
            cnt = np.zeros(k, np.int64)
            seen = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen = True
                Q = np.stack(pdf["__q"].values).astype(np.int64)
                assign = np.argmin(
                    _kmeans_dists_fixed_order(Q / scale, cents), axis=1
                )
                np.add.at(sums, assign, Q)
                cnt += np.bincount(assign, minlength=k)
            if seen:
                yield pd.DataFrame(
                    {
                        "cluster": np.arange(k, dtype=np.int32),
                        "cnt": cnt,
                        "sums": list(sums),
                    }
                )

        return fn

    for t in range(start_iter, iters):
        bc = spark.sparkContext.broadcast(C)
        rows = q.mapInPandas(
            partials_fn(bc), schema="cluster int, cnt long, sums array<long>"
        ).collect()
        tot_s = np.zeros((k, dim), np.int64)
        tot_c = np.zeros(k, np.int64)
        for r in rows:
            tot_s[r["cluster"]] += np.asarray(r["sums"], np.int64)
            tot_c[r["cluster"]] += r["cnt"]
        for j in range(k):
            if tot_c[j] > 0:
                # ONE division per coordinate: exact int sum -> double, then
                # a single correctly-rounded divide (matches the SQL twin)
                C[j] = tot_s[j].astype(np.float64) / float(tot_c[j] * 2**scale_bits)
        bc.destroy()
        if checkpoint:
            import json as _json
            import os as _os

            p = _os.path.join(checkpoint, f"iter_{t + 1}.json")
            tmp_p = p + ".tmp"
            with open(tmp_p, "w") as fh:
                _json.dump(
                    {
                        "k": k,
                        "scale_bits": scale_bits,
                        "iter": t + 1,
                        "centroids_hex": [[c.hex() for c in row] for row in C],
                    },
                    fh,
                )
            _os.replace(tmp_p, p)  # atomic: a killed write never half-exists

    bc = spark.sparkContext.broadcast(C)

    def assign_final(batches):
        cents = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["__q"].values).astype(np.int64)
            d = _kmeans_dists_fixed_order(Q / scale, cents)
            a = np.argmin(d, axis=1)
            # dist ships UNROUNDED (bit-exact): np.round is half-even while
            # Spark/DuckDB ROUND is half-up — gates round with F.round
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": a.astype(np.int32),
                    "dist": d[np.arange(len(a)), a],
                }
            )

    id_field = df.schema[id_col]
    out = q.mapInPandas(
        assign_final, schema=f"{id_col} {id_field.dataType.simpleString()}, cluster int, dist double"
    ).localCheckpoint(eager=True)
    q.unpersist()
    return out


def tfidf_top_terms(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    ngram: int = 2,
):
    """Distinctive-term extraction: top-``k`` word ``ngram``s per document
    by an INTEGER tf-idf score — ``score = tf * bitlen(N DIV df)`` where
    ``bitlen(x) = length(bin(x))`` is the integer-bits log2 both engines
    compute identically (the ``ngram_lm`` add-one-surprisal trick): exact
    int64 end-to-end, so ranking never hinges on a cross-engine
    last-ulp ``ln`` difference the way float tf*ln(N/df) would. Ties break
    on the term string. Returns [id_col, term, tf, df, score, rank],
    rank 1..k. Documents shorter than ``ngram`` words contribute nothing.

    Scale shape: grams expand in the scan projection (sliding concat HOF —
    fine at chat/document word counts; for 10^4+-token docs switch to the
    ``_batch_shingle_hashes``-style Arrow pass per CLAUDE.md), tf is ONE
    map-side-combined groupBy of (id, term), df reuses the tf frame
    (groupBy term — second small shuffle of distinct pairs), the corpus
    size N rides in as a broadcast single-row frame (no driver action),
    and the top-k window partitions by document over candidate terms only.
    The raw text never shuffles. Beyond-reference, brief-driven.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    toks = F.split(F.col(text_col), " ")

    def gram(i):
        return F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(ngram)])

    grams = F.when(
        F.size(toks) < ngram, F.array().cast("array<string>")
    ).otherwise(F.transform(F.sequence(F.lit(1), F.size(toks) - F.lit(ngram - 1)), gram))
    # r6: single-evaluation shape — df as a window count over the tf stream
    # instead of a groupBy+self-join (the old form evaluated the
    # scan+explode+partial-agg subtree twice: per-branch pruning defeats
    # ReuseExchange; plans/r06/doc_tfidf_terms_before.txt nodes 1-7 vs
    # 9-15, 2 x 2.3 s single-task stages), plus _ensure_parallelism to
    # spread the explode off a single parquet split (structural no-op at
    # scale, CLAUDE.md single-split rule).
    tf = (
        _ensure_parallelism(
            df.filter(F.col(text_col).isNotNull()).select(id_col, text_col)
        )
        .select(F.col(id_col), F.explode(grams).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.countDistinct(id_col).alias("__n"))
    )
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (
                F.col("tf")
                * F.length(F.bin(F.expr("__n DIV df"))).cast("long")
            ).cast("long"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


def _moment_final_exprs() -> dict:
    """The SHARED final-stage formula strings for ``exact_moments`` — used
    verbatim by BOTH the Spark operator (F.expr) and the DuckDB twin
    (interpolated), so the float expression TREE is identical in both
    engines: every +,-,*,/ and sqrt is IEEE correctly rounded, so identical
    trees over identical inputs give bit-identical doubles (no exp/ln/pow
    anywhere). Inputs: n, s1..s4 = exact integer power sums of the
    fixed-point values; all four central-moment stats are scale-invariant
    or rescaled by the caller. Edit HERE, never a call site."""
    nd, s1, s2, s3, s4 = (
        "CAST(n AS DOUBLE)",
        "CAST(s1 AS DOUBLE)",
        "CAST(s2 AS DOUBLE)",
        "CAST(s3 AS DOUBLE)",
        "CAST(s4 AS DOUBLE)",
    )
    mean = f"({s1} / {nd})"
    m2 = f"({s2} / {nd} - {mean} * {mean})"
    m3 = (
        f"({s3} / {nd} - 3.0 * {mean} * ({s2} / {nd}) "
        f"+ 2.0 * {mean} * {mean} * {mean})"
    )
    m4 = (
        f"({s4} / {nd} - 4.0 * {mean} * ({s3} / {nd}) "
        f"+ 6.0 * {mean} * {mean} * ({s2} / {nd}) "
        f"- 3.0 * {mean} * {mean} * {mean} * {mean})"
    )
    return {
        "mean_fp": mean,
        "var_fp": m2,
        "skewness": f"({m3} / ({m2} * sqrt({m2})))",
        "kurtosis": f"({m4} / ({m2} * {m2}) - 3.0)",
    }


def exact_moments(df, value_col: str = "value", by=None, decimals: int = 2):
    """EXACT distributed skewness / excess kurtosis (plus mean/std): values
    are fixed-pointed to ``decimals`` digits (``round(v * 10^d)`` int64 —
    recovers the stored decimal exactly), the four power sums accumulate as
    DECIMAL(38,0) integers — ORDER-FREE, so the result is bit-reproducible
    under any partitioning, unlike any double-summation moment formula
    (CLAUDE.md: never hash-gate a cross-row SUM of doubles) — and the
    final per-group stats are a handful of IEEE-exact double ops over
    those integers via the shared ``_moment_final_exprs`` strings (the
    DuckDB twin replays the identical expression tree over HUGEINT sums).
    Skewness/kurtosis are scale-invariant, so the fixed-point scale
    cancels; mean/std divide back by 10^d at the end (one pinned division
    each). Returns [by?, n, mean, std, skewness, kurtosis] unrounded.

    Exactness bound: per-element v^4 must fit DECIMAL(38) — |values| up to
    ~10^7 units at 2 decimals; sums are exact for any corpus size within
    38 digits (~10^38). Scale shape: fixed-pointing and the power products
    live in the scan projection; the groupBy ships 4 decimals + a count
    per group partial (map-side combined) — the classic one-pass
    moment-sketch shape, raw rows never shuffle twice.
    """
    return finalize_moment_sums(
        moment_sums(df, value_col, by=by, decimals=decimals), by=by, decimals=decimals
    )


def moment_sums(df, value_col: str = "value", by=None, decimals: int = 2):
    """The mergeable STATE of ``exact_moments``: [by?, n, s1..s4] with the
    power sums as exact DECIMAL(38,0) integers. Two frames (or stream
    micro-batches) merge by plain integer addition per group — the
    streaming leg's accumulator."""
    from pyspark.sql import functions as F

    scale = 10**decimals
    v = f"CAST(round({value_col} * {scale}) AS DECIMAL(38, 0))"
    src = df.filter(F.col(value_col).isNotNull()).select(
        *([by] if by else []),
        F.expr(v).alias("__v"),
        F.expr(f"CAST({v} * {v} AS DECIMAL(38, 0))").alias("__v2"),
        F.expr(f"CAST({v} * {v} * {v} AS DECIMAL(38, 0))").alias("__v3"),
        F.expr(f"CAST({v} * {v} * {v} * {v} AS DECIMAL(38, 0))").alias("__v4"),
    )
    return src.groupBy(*([by] if by else [])).agg(
        F.count("*").alias("n"),
        F.sum("__v").cast("decimal(38,0)").alias("s1"),
        F.sum("__v2").cast("decimal(38,0)").alias("s2"),
        F.sum("__v3").cast("decimal(38,0)").alias("s3"),
        F.sum("__v4").cast("decimal(38,0)").alias("s4"),
    )


def finalize_moment_sums(g, by=None, decimals: int = 2):
    """Finalize a ``moment_sums`` frame via the shared pinned expression
    tree (``_moment_final_exprs``) — kept separate so batch and streaming
    builds finalize IDENTICALLY (bit-equal given equal integer sums)."""
    from pyspark.sql import functions as F

    scale = 10**decimals
    e = _moment_final_exprs()
    return g.select(
        *([by] if by else []),
        "n",
        F.expr(f"{e['mean_fp']} / {float(scale)!r}").alias("mean"),
        F.expr(f"sqrt({e['var_fp']}) / {float(scale)!r}").alias("std"),
        F.expr(e["skewness"]).alias("skewness"),
        F.expr(e["kurtosis"]).alias("kurtosis"),
    )


def funnel_counts(
    df,
    steps,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_gap_minutes: Optional[float] = None,
):
    """Ordered-funnel analysis (view -> click -> purchase): how many users
    complete each prefix of ``steps`` IN ORDER, using the standard
    greedy-earliest semantics — a user's step-k timestamp is the MIN
    timestamp of a step-k event STRICTLY after their step-(k-1) timestamp
    (without a gap bound greedy-earliest is optimal: the earliest feasible
    event at every step reaches the deepest stage). Equal-timestamp events
    cannot chain (strict >, exact integer micros both engines). Returns one
    row per step: [step, event_type, n_users, conv_rate] with conv_rate =
    n_users / step-1 users (one division, deterministic).

    ``max_gap_minutes`` adds the conversion-window constraint every real
    funnel product has: step k must land within the gap of the user's
    step-(k-1) timestamp. Semantics stay GREEDY-EAREST-CHAIN (the
    operational definition funnel tools use): the chain extends from the
    first qualifying occurrence of each step, NOT a maximal matching over
    all event choices — with a gap bound a later step-k pick could in
    principle qualify a later step-(k+1), and this operator (like the
    products) deliberately does not search that space. The twin replays
    the identical rule, so the contract is pinned, not accidental.

    Scale shape: expressed as ``len(steps) - 1`` min-ts joins over the
    DISJOINT per-step event subsets — each step's events shuffle once on
    the user key (map-side-combined MIN before the join), never a
    collect_list of a user's full history (a power user with 10^6 events
    costs 10^6 partial-agg rows, not one giant array). The type filter is
    pushed into the scan. The per-step user frames are (user, ts) pairs —
    ints — and shrink monotonically down the funnel. Beyond-reference,
    brief-driven (event-analytics staple).
    """
    from pyspark.sql import functions as F

    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    gap_us = None if max_gap_minutes is None else int(max_gap_minutes * 60_000_000)
    ev = df.filter(F.col(type_col).isin(steps)).select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("t"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
    )
    reached = (
        ev.filter(F.col("t") == steps[0]).groupBy("u").agg(F.min("us").alias("us"))
    )
    counts = [reached.count()]
    for s in steps[1:]:
        cond = F.col("us") > F.col("prev_us")
        if gap_us is not None:
            cond = cond & (F.col("us") <= F.col("prev_us") + F.lit(gap_us))
        nxt = (
            ev.filter(F.col("t") == s)
            .join(reached.select("u", F.col("us").alias("prev_us")), "u")
            .filter(cond)
            .groupBy("u")
            .agg(F.min("us").alias("us"))
        )
        reached = nxt
        counts.append(reached.count())
    spark = df.sparkSession
    rows = [
        (
            i + 1,
            steps[i],
            int(counts[i]),
            None if i == 0 or counts[i - 1] == 0 else float(counts[i]) / counts[i - 1],
        )
        for i in range(len(steps))
    ]
    return spark.createDataFrame(
        rows, "step int, event_type string, n_users long, conv_rate double"
    )


def exact_quantiles_histogram(df, value_col: str = "value", qs=(0.5, 0.95, 0.99)):
    """EXACT order-statistic quantiles (rank ``floor(q * (n - 1))``,
    0-based, lower element) via the distinct-value histogram: one map-side-
    combined ``groupBy(value).count()``, a cumulative window over the
    (distinct-value, count) rows, then one rank probe per q. The exact
    complement to the sketch layer: right when the value domain is bounded
    (fixed-point metrics, latencies in ms ticks, token counts — distinct
    values ~10^4-10^6 regardless of corpus rows); a 100 TB corpus of
    2-decimal values costs one int-pair shuffle of <=#distinct rows. For
    unbounded domains use the sketches (that's what they're for) — the
    histogram IS the corpus there. Returns one row: [qXX..., count].

    NULLs are excluded. Values are returned VERBATIM (the selected element
    itself, not a reconstruction), so the DuckDB twin is a plain ordered
    OFFSET-k probe.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .agg import quantile_column_name

    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(F.count("*").alias("__c"))
    )
    w = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__n", F.sum("__c").over(w_all)
    )
    sel = [
        F.min(
            F.when(
                F.col("__cum") > F.floor(F.lit(float(q)) * (F.col("__n") - 1)),
                F.col(value_col),
            )
        ).alias(quantile_column_name(q))
        for q in qs
    ]
    return cum.agg(*sel, F.max("__n").cast("double").alias("count"))


def rate_anomaly(
    df,
    ts_col: str = "ts",
    by: str = "event_type",
    bucket_seconds: int = 3600,
    baseline_buckets: int = 24,
    min_baseline: int = 12,
    mad_mult: int = 4,
    seasonal_period: int = 0,
):
    """Robust time-series anomaly detection on event rates: bucket events
    into ``bucket_seconds`` windows per ``by`` series, then flag a bucket
    whose count deviates from the trailing baseline's MEDIAN by more than
    ``mad_mult`` x the baseline's MAD (median absolute deviation) — the
    median/MAD pair is outlier-proof where mean/stddev would let one spike
    poison its own baseline. Returns one row per active bucket:
    [by, bucket_epoch_s, n, baseline_n, med, mad, is_anomaly]; ``med`` and
    ``mad`` are LOWER medians (order statistics at (n+1)//2 — exact
    integers, no interpolation, bit-equal cross-engine) and -1 when the
    baseline is empty; ``is_anomaly`` requires >= ``min_baseline`` observed
    baseline buckets (a cold series never alerts) and uses max(mad, 1) so
    a constant-rate baseline (mad 0) still needs an integer deviation.

    Correctness shape: the baseline frame is a RANGE frame over the integer
    bucket key ending at -1 (the current bucket NEVER sees itself —
    otherwise every spike shifts its own median), so gap buckets with zero
    events are skipped, not stretched over, and only OBSERVED buckets enter
    the median (zero-count buckets are not imputed; for sparse series pass
    a coarser ``bucket_seconds``). Everything is exact int64 — counts,
    order-statistic medians, the |n-med| comparison — so the DuckDB twin
    hash-matches with zero float risk. Baselines stay tiny
    (``baseline_buckets`` elements max), the one documented place a sorted
    Catalyst HOF array is the right tool.

    ``seasonal_period`` > 0 switches the baseline to SAME-PHASE history
    (the daily/weekly-pattern upgrade: with hourly buckets, period 24
    compares 3 pm against the last ``baseline_buckets`` days' 3 pm, not
    the last N hours): the window partitions additionally by
    ``bucket % period`` and the RANGE bounds stretch to
    [-baseline_buckets*period, -period] — still gap-safe, because within
    a phase partition the RANGE frame admits exactly the same-phase
    buckets in that span whether or not intermediate periods were
    observed. ``baseline_buckets`` then counts PERIODS of history and
    ``min_baseline`` observed same-phase buckets.

    Scale shape: one map-side-combined (series, bucket) groupBy — the frame
    after it is corpus-size-independent (#series x #active buckets) — then
    one narrow window partitioned BY SERIES (each series' timeline is one
    partition: fine for entity-granularity series; a single global series
    at 10^12 turns would serialize, shard the bucket range first; the
    seasonal mode multiplies partitions by ``period``, which only helps).
    No raw rows shuffle; payload columns never leave the scan.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    per_b = (
        df.select(
            F.col(by),
            (
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                / F.lit(int(bucket_seconds) * 1_000_000)
            )
            .cast("long")
            .alias("__b"),
        )
        .groupBy(by, "__b")
        .agg(F.count("*").alias("n"))
    )
    if seasonal_period:
        p = int(seasonal_period)
        w = (
            Window.partitionBy(by, F.col("__b") % p)
            .orderBy("__b")
            .rangeBetween(-int(baseline_buckets) * p, -p)
        )
    else:
        w = (
            Window.partitionBy(by)
            .orderBy("__b")
            .rangeBetween(-int(baseline_buckets), -1)
        )
    base = per_b.withColumn(
        "__base", F.array_sort(F.collect_list("n").over(w))
    ).withColumn("baseline_n", F.size("__base"))
    med = base.withColumn(
        "med",
        F.when(
            F.col("baseline_n") > 0,
            F.element_at("__base", ((F.col("baseline_n") + 1) / 2).cast("int")),
        ).otherwise(F.lit(-1).cast("long")),
    )
    mad = med.withColumn(
        "__devs",
        F.array_sort(
            F.transform("__base", lambda x: F.abs(x - F.col("med")))
        ),
    ).withColumn(
        "mad",
        F.when(
            F.col("baseline_n") > 0,
            F.element_at("__devs", ((F.col("baseline_n") + 1) / 2).cast("int")),
        ).otherwise(F.lit(-1).cast("long")),
    )
    return mad.select(
        by,
        (F.col("__b") * F.lit(int(bucket_seconds))).cast("long").alias(
            "bucket_epoch_s"
        ),
        "n",
        "baseline_n",
        "med",
        "mad",
        (
            (F.col("baseline_n") >= F.lit(int(min_baseline)))
            & (
                F.abs(F.col("n") - F.col("med"))
                > F.lit(int(mad_mult)) * F.greatest(F.col("mad"), F.lit(1).cast("long"))
            )
        ).alias("is_anomaly"),
    )


def cusum_changepoints(
    df,
    ts_col: str = "ts",
    by: str = "event_type",
    bucket_seconds: int = 3600,
    slack: int = 0,
    h_mult: int = 8,
):
    """CUSUM change-point detection on event rates — the sequential
    level-SHIFT detector beside :func:`rate_anomaly`'s point-outlier
    gate (a sustained +20% drift never trips a median/MAD rule; CUSUM
    accumulates it). Per series: reference = the series' global LOWER
    MEDIAN bucket count (order statistic — exact), then the classic
    one-sided statistics
    ``S_hi_t = max(0, S_hi_{t-1} + (x_t - ref - slack))`` and the
    mirrored ``S_lo`` for downward shifts; alarm when S exceeds
    ``h_mult * max(ref, 1)``. Returns one row per active bucket:
    [by, bucket_epoch_s, n, ref, cusum_hi, cusum_lo, alarm_hi, alarm_lo].

    Correctness shape: the max(0, ...) recursion is NOT a window
    aggregate, but it has a closed prefix form — with P_t = cumsum(x - ref
    - slack), ``S_hi_t = P_t - min(0, running_min(P))`` — so the whole
    operator is two cumulative windows per direction over the bucket
    frame, all exact int64 (counts, order-statistic reference, prefix
    sums), hash-exact cross-engine. Buckets with zero events are absent
    from the frame and contribute nothing (documented; for gap-dense
    series pick coarser buckets — a true zero-rate regime SHOULD pull
    S_lo, so choose bucket_seconds so active series fill their buckets).

    Scale shape: one map-side-combined (series, bucket) groupBy, then
    three narrow windows partitioned by series over the corpus-size-
    independent bucket frame (reference via row_number order statistic,
    no arrays); same single-series caveat as rate_anomaly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    per_b = (
        df.select(
            F.col(by),
            (
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                / F.lit(int(bucket_seconds) * 1_000_000)
            )
            .cast("long")
            .alias("__b"),
        )
        .groupBy(by, "__b")
        .agg(F.count("*").alias("n"))
    )
    # per-series lower-median reference: row_number at (cnt+1)//2 over
    # (n, __b) — the group_robust_stats order-statistic pattern
    w_ord = Window.partitionBy(by).orderBy("n", "__b")
    w_all = Window.partitionBy(by)
    ranked = per_b.withColumn("__rn", F.row_number().over(w_ord)).withColumn(
        "__cnt", F.count("*").over(w_all)
    )
    ref = ranked.filter(
        F.col("__rn") == ((F.col("__cnt") + 1) / 2).cast("long")
    ).select(F.col(by).alias("__kref"), F.col("n").alias("ref"))
    joined = per_b.join(
        F.broadcast(ref), per_b[by] == ref["__kref"]
    ).drop("__kref")
    w_cum = (
        Window.partitionBy(by)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = int(slack)
    staged = (
        joined.withColumn(
            "__p_hi",
            F.sum(F.col("n") - F.col("ref") - F.lit(s)).over(w_cum),
        )
        .withColumn(
            "__p_lo",
            F.sum(F.col("ref") - F.col("n") - F.lit(s)).over(w_cum),
        )
        .withColumn(
            "__m_hi", F.least(F.lit(0).cast("long"), F.min("__p_hi").over(w_cum))
        )
        .withColumn(
            "__m_lo", F.least(F.lit(0).cast("long"), F.min("__p_lo").over(w_cum))
        )
    )
    thr = F.lit(int(h_mult)) * F.greatest(F.col("ref"), F.lit(1).cast("long"))
    return staged.select(
        by,
        (F.col("__b") * F.lit(int(bucket_seconds))).cast("long").alias(
            "bucket_epoch_s"
        ),
        "n",
        "ref",
        (F.col("__p_hi") - F.col("__m_hi")).alias("cusum_hi"),
        (F.col("__p_lo") - F.col("__m_lo")).alias("cusum_lo"),
        ((F.col("__p_hi") - F.col("__m_hi")) > thr).alias("alarm_hi"),
        ((F.col("__p_lo") - F.col("__m_lo")) > thr).alias("alarm_lo"),
    )


def burn_rate_alerts(
    df,
    error_type: str = "error",
    type_col: str = "event_type",
    ts_col: str = "ts",
    slo: float = 0.9,
    short_minutes: int = 5,
    long_minutes: int = 60,
    threshold: float = 1.0,
):
    """Multi-window SLO burn-rate alerting (the SRE-workbook pattern the
    DDSketch product sits next to): per-minute error/total counts, rolling
    error ratios over a SHORT and a LONG window, burn rate = ratio /
    error_budget, alert when BOTH windows burn above ``threshold`` (the
    two-window AND suppresses both blips and stale pages). Returns one row
    per active minute: [minute_ts, n_total, n_err, burn_short, burn_long,
    is_alert] with burns unrounded (gates round).

    Correctness shape: the rolling sums use RANGE frames over the epoch-
    minute ORDER key — a minute with no events contributes zero WITHOUT
    needing densification, because the frame is time-based, not row-based
    (a ROWS frame would silently stretch across gaps). All counts are
    exact integers; each burn is two pinned divisions, so the DuckDB twin
    hash-matches. Scale shape: one map-side-combined per-minute groupBy
    (<= minutes rows thereafter — corpus-size-independent), one narrow
    window over the minute series.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    budget = 1.0 - float(slo)
    per_min = (
        df.select(
            (F.unix_micros(F.date_trunc("minute", F.col(ts_col))) / F.lit(60_000_000))
            .cast("long")
            .alias("__m"),
            (F.col(type_col) == error_type).cast("long").alias("__is_err"),
        )
        .groupBy("__m")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("__is_err").alias("n_err"),
        )
    )

    def burn(minutes):
        w = Window.orderBy("__m").rangeBetween(-(minutes - 1), 0)
        return (
            F.sum("n_err").over(w).cast("double")
            / F.sum("n_total").over(w).cast("double")
        ) / F.lit(budget)

    out = per_min.withColumn("burn_short", burn(short_minutes)).withColumn(
        "burn_long", burn(long_minutes)
    )
    return out.select(
        F.timestamp_seconds(F.col("__m") * 60).alias("minute_ts"),
        "n_total",
        "n_err",
        "burn_short",
        "burn_long",
        (
            (F.col("burn_short") > F.lit(float(threshold)))
            & (F.col("burn_long") > F.lit(float(threshold)))
        ).alias("is_alert"),
    )


def cohort_retention(
    df,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
):
    """Cohort retention — the product-analytics staple beside funnels:
    users are cohorted by their FIRST-activity bucket, and cell (cohort,
    k) counts how many of them were active k buckets later. Returns
    [cohort_epoch_s, k, n_users, retained_pct] with retained_pct =
    n_users / cohort size (one division; k=0 row IS the cohort size,
    pct 1.0). All counts exact integers.

    Scale shape: activity de-duplicates to (user, bucket) pairs with a
    map-side-combined distinct (a user's million events in one week are
    one partial per task), cohorts are a per-user MIN over those pairs
    (same narrow frame), and the join back is user-keyed over the
    distinct pairs — corpus-size-independent after the first aggregate.
    Bucket arithmetic runs on epoch seconds of ``date_trunc`` so offsets
    are exact integer divisions cross-engine.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if granularity not in ("day", "week", "month"):
        raise ValueError("granularity must be day|week|month")
    if granularity == "month":
        # calendar months are irregular: offset = month index delta
        bucket = (
            F.year(F.col(ts_col)) * 12 + F.month(F.col(ts_col)) - 1
        ).cast("long")
        to_epoch = None
    else:
        secs = 86_400 if granularity == "day" else 7 * 86_400
        bucket = (
            F.unix_micros(F.date_trunc(granularity, F.col(ts_col)))
            / F.lit(secs * 1_000_000)
        ).cast("long")
        to_epoch = secs
    acts = (
        df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(F.col(user_col).alias("u"), bucket.alias("b"))
        .distinct()
    )
    w = Window.partitionBy("u")
    joined = acts.withColumn("b0", F.min("b").over(w))
    cells = joined.groupBy("b0", (F.col("b") - F.col("b0")).alias("k")).agg(
        F.count("*").alias("n_users")
    )
    size = cells.filter(F.col("k") == 0).select(
        F.col("b0").alias("__b0"), F.col("n_users").alias("__n0")
    )
    out = cells.join(size, cells["b0"] == size["__b0"]).select(
        (
            (F.col("b0") * F.lit(to_epoch)).cast("long")
            if to_epoch
            else F.col("b0").cast("long")
        ).alias("cohort_epoch_s" if to_epoch else "cohort_month_idx"),
        F.col("k").cast("int").alias("k"),
        "n_users",
        (F.col("n_users").cast("double") / F.col("__n0").cast("double")).alias(
            "retained_pct"
        ),
    )
    return out


def top_event_paths(
    df,
    n: int = 3,
    k: int = 10,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
):
    """Path analysis — the top-``k`` most common length-``n`` event-type
    sequences users take (consecutive events per user in time order):
    the "what do users do next" query beside funnels/retention. Returns
    [path ('a>b>c'), n_occurrences, rank], ties broken by path string.
    Event order within a user is pinned by (ts, id_col) — ``id_col``
    makes equal-timestamp orderings deterministic cross-engine.

    Scale shape: ONE narrow window exchange of (user, type, ts, id) builds
    the n-gram via ``lead`` in the same sort, then a map-side-combined
    groupBy over path strings (bounded by |type-alphabet|^n) and a top-k
    over those counts. Event payloads never shuffle.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if n < 2:
        raise ValueError("paths need n >= 2")
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(id_col))
    # NULL types are dropped up front: Spark's concat_ws silently SKIPS
    # NULLs while SQL '||' nulls the whole path — excluding them is the
    # only cross-engine-consistent semantics
    src = df.filter(F.col(type_col).isNotNull()).select(
        user_col, type_col, ts_col, id_col
    )
    for i in range(1, n):
        src = src.withColumn(f"__t{i}", F.lead(type_col, i).over(w))
    path = F.concat_ws(">", F.col(type_col), *[F.col(f"__t{i}") for i in range(1, n)])
    complete = src.filter(F.col(f"__t{n - 1}").isNotNull())
    counts = (
        complete.select(path.alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n_occurrences"))
    )
    wr = Window.orderBy(F.col("n_occurrences").desc(), F.col("path"))
    return (
        counts.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= int(k))
        .select("path", "n_occurrences", "rank")
    )


def fd_covariance(
    df,
    emb_col: str = "embedding",
    l: int = 32,
    scale_bits: int = 20,
):
    """Distributed Frequent Directions covariance sketch over an embedding
    column (sketches.frequent_directions; Liberty KDD'13) plus the EXACT
    integer second-moment frame the sketch is judged against — one
    mapInPandas scan, no shuffle of vectors, tiny driver reduce.

    Per partition (chunked so every emitted integer fits int64): vectors
    quantize to ``floor(x * 2^scale_bits + 0.5)`` int64 in numpy (the
    kmeans_embeddings discipline — A is DEFINED as the dequantized
    quantized matrix, identically recomputable by SQL), then (a) an FD
    sketch over the dequantized rows, (b) exact per-dimension second
    moments sum(q_j^2) and the full d x d Gram sum(q_i q_j) as int64
    partials. The driver sums partials as arbitrary-precision Python ints
    (order-free, exact at any scale) and merges the partition sketches
    (stack + one shrink per merge — the FD guarantee survives any merge
    tree).

    Returns a dict of partitioning-INVARIANT results for gating —
    ``n_vectors, dims, sketch_rows, fro_sq, bound, top_dim, top_dim_m2``
    (exact, SQL-replicable) and the theorem-guaranteed booleans
    ``spec_bound_ok`` (||A'A - B'B||_2 <= 2||A||_F^2 / l), ``psd_ok``
    (A'A - B'B >= 0), ``top_dim_within_bound`` — plus the (partition-
    order-dependent, NOT gateable) sketch matrix ``B`` and the measured
    ``spec_err`` for diagnostics.

    Scale shape: the scan is the job — each partition ships one l x d
    sketch + d x d int64 Gram partial (l=32, d=64: ~50 KB); at 10^5+
    partitions switch the driver reduce to treeAggregate. Beyond-reference
    (the reference has no matrix sketch); brief-driven embedding analysis.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from ddsparkle.sketches.frequent_directions import FrequentDirections

    scale = float(2**scale_bits)
    first = df.select(emb_col).first()
    if first is None:
        raise ValueError("empty input")
    d = len(first[0])
    ll = int(l)

    out_schema = (
        "cnt long, m2 array<long>, gram array<long>, b array<double>, b_rows int"
    )

    def part(batches):
        fd = FrequentDirections(ll, d)
        # chunk cap keeps every int64 partial exact: q^2 <= 2^(2*scale_bits),
        # 2^40 * 2^22 rows < 2^63
        cap = 1 << (62 - 2 * scale_bits)
        m2 = np.zeros(d, dtype=object)
        gram = np.zeros((d, d), dtype=object)
        cnt = 0
        rows_out = []

        def flush():
            nonlocal m2, gram, cnt
            if cnt == 0:
                return
            rows_out.append(
                {
                    "cnt": cnt,
                    "m2": [int(v) for v in m2],
                    "gram": [int(v) for v in gram.ravel()],
                    "b": [],
                    "b_rows": 0,
                }
            )
            m2 = np.zeros(d, dtype=object)
            gram = np.zeros((d, d), dtype=object)
            cnt = 0

        for pdf in batches:
            vals = pdf[emb_col].to_numpy()
            if len(vals) == 0:
                continue
            a = np.stack([np.asarray(v, dtype=np.float64) for v in vals])
            q = np.floor(a * scale + 0.5).astype(np.int64)
            for s in range(0, len(q), cap):
                ch = q[s : s + cap]
                gram += (ch.T @ ch).astype(object)
                m2 += np.einsum("ij,ij->j", ch, ch).astype(object)
                cnt += len(ch)
                flush()
                fd.insert(ch[: len(ch)].astype(np.float64) / scale)
        flush()
        bm = fd.compact()
        nz = int(np.count_nonzero(np.any(bm != 0.0, axis=1)))
        rows_out.append(
            {
                "cnt": 0,
                "m2": [0] * d,
                "gram": [0] * (d * d),
                "b": [float(v) for v in bm[:nz].ravel()],
                "b_rows": nz,
            }
        )
        yield pd.DataFrame(
            rows_out,
            columns=["cnt", "m2", "gram", "b", "b_rows"],
        )

    partials = (
        _ensure_parallelism(df.select(emb_col))
        .mapInPandas(part, schema=out_schema)
        .collect()
    )
    n = 0
    m2_tot = [0] * d
    gram_tot = [0] * (d * d)
    fd = FrequentDirections(ll, d)
    for r in partials:
        n += int(r["cnt"])
        if int(r["cnt"]) > 0:
            for j, v in enumerate(r["m2"]):
                m2_tot[j] += int(v)
            for j, v in enumerate(r["gram"]):
                gram_tot[j] += int(v)
        if r["b_rows"]:
            b = np.array(r["b"], dtype=np.float64).reshape(int(r["b_rows"]), d)
            fd.insert(b)
    b = fd.compact()
    ata = np.array([float(v) for v in gram_tot], dtype=np.float64).reshape(d, d)
    ata /= scale * scale
    btb = b.T @ b
    eig = np.linalg.eigvalsh(ata - btb)
    spec_err = float(np.max(np.abs(eig)))
    fro_sq = float(sum(m2_tot)) / (scale * scale)
    bound = 2.0 * fro_sq / ll
    # exact integer argmax (float64 would collapse >2^53 near-ties), smallest dim wins
    top = max(range(d), key=lambda j: (m2_tot[j], -j))
    top_m2 = float(m2_tot[top]) / (scale * scale)
    tol = 1e-9 + 1e-12 * fro_sq
    return {
        "n_vectors": n,
        "dims": d,
        "sketch_rows": ll,
        "fro_sq": fro_sq,
        "bound": bound,
        "top_dim": top + 1,
        "top_dim_m2": top_m2,
        "spec_bound_ok": bool(spec_err <= bound + tol),
        "psd_ok": bool(eig.min() >= -tol),
        "top_dim_within_bound": bool(abs(btb[top, top] - top_m2) <= bound + tol),
        "spec_err": spec_err,
        "B": b,
    }


def pmi_pairs(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 2,
    min_df: int = 3,
    max_df_den: int = 10,
    min_pair: int = 2,
    k: int = 40,
    scale_bits: int = 20,
):
    """Top-``k`` co-occurring term pairs by pointwise mutual information,
    ranked with an INTEGER score so the ordering never hinges on a
    cross-engine ``ln`` ulp: PMI(x,y) = log(c_xy * N / (df_x * df_y)) is
    monotone in the exact fraction, so ranking by
    ``score = (c_xy * N * 2^scale_bits) DIV (df_x * df_y)`` (all int64)
    reproduces the PMI order exactly in Spark and DuckDB alike — the
    tfidf_top_terms/ngram_lm integer-rank discipline. Ties break on
    (n_pairs desc, term_a, term_b).

    Terms are distinct word ``ngram`` shingles per document
    (ngram_shingles_expr — the one formulation the fuzzy-dedup oracles
    share); the content band keeps ``min_df <= df`` and
    ``df * max_df_den <= N`` (an exact integer ratio, no float frac), which
    bounds the per-document surviving-term count and therefore the
    self-join fanout — the skew guard: a boilerplate term in every
    document can never enter the pair expansion. Returns
    [term_a, term_b, n_pairs, df_a, df_b, score, rank].

    Scale shape: one scan expands shingles in the projection; (doc, term)
    distinct pairs shuffle once for df; the in-band vocabulary is tiny and
    BROADCASTs onto the per-doc term stream; the pair self-join keys on
    ``id_col`` with per-doc fanout capped by the band (~50 terms/doc
    here); pair counts map-side combine; top-k is orderBy+limit
    (TakeOrderedAndProject). int64 headroom: c_xy * N * 2^20 needs
    N^2 * 2^20 < 2^63, i.e. N < ~3e6 docs per corpus slice — switch
    score to DECIMAL(38,0) beyond. Beyond-reference, brief-driven
    (corpus phrase-association analysis).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if min_df < 1 or max_df_den < 1 or k < 1:
        raise ValueError("min_df, max_df_den, k must be >= 1")
    # r6: single-evaluation shape. The old groupBy(term)+broadcast-join
    # formulation evaluated the scan+explode+distinct subtree TWICE (the
    # per-branch column pruning de-canonicalizes the exchanges, so
    # ReuseExchange never fires — measured 2 x 2.3 s single-task stages at
    # sf0.1, plans/r06/doc_pmi_pairs_before.txt nodes 1-8 vs 10-17).
    # Attaching df as a window count over the SAME distinct stream keeps
    # one subtree (guide §2.4: share the exchange), and _ensure_parallelism
    # spreads the explode off the single parquet split (CLAUDE.md
    # single-split rule; a structural no-op at scale).
    t = (
        _ensure_parallelism(
            df.filter(F.col(text_col).isNotNull()).select(id_col, text_col)
        )
        .select(
            F.col(id_col).alias("__id"),
            F.explode(ngram_shingles_expr(text_col, ngram)).alias("term"),
        )
        .distinct()
    )
    n_docs = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.countDistinct(id_col).alias("__n"))
    )
    wt = Window.partitionBy("term")
    tb = (
        t.withColumn("df", F.count("*").over(wt))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") >= int(min_df))
            & (F.col("df") * int(max_df_den) <= F.col("__n"))
        )
        .select("__id", "term", "df")
    )
    a, b = tb.alias("a"), tb.alias("b")
    pairs = (
        a.join(b, (F.col("a.__id") == F.col("b.__id")) & (F.col("a.term") < F.col("b.term")))
        .groupBy(
            F.col("a.term").alias("term_a"),
            F.col("b.term").alias("term_b"),
            F.col("a.df").alias("df_a"),
            F.col("b.df").alias("df_b"),
        )
        .agg(F.count("*").alias("n_pairs"))
        .filter(F.col("n_pairs") >= int(min_pair))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.expr(
                f"(n_pairs * __n * {1 << scale_bits}L) DIV (df_a * df_b)"
            ).cast("long"),
        )
    )
    top = pairs.orderBy(
        F.col("score").desc(), F.col("n_pairs").desc(), "term_a", "term_b"
    ).limit(int(k))
    w = Window.orderBy(
        F.col("score").desc(), F.col("n_pairs").desc(), "term_a", "term_b"
    )
    return top.withColumn("rank", F.row_number().over(w)).select(
        "term_a", "term_b", "n_pairs", "df_a", "df_b", "score", "rank"
    )


def asof_join(
    left,
    right,
    key_cols,
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload_cols=None,
    direction: str = "backward",
    strict: bool = False,
):
    """Distributed AS-OF join — for every left row, the single right row
    with the greatest ``right_ts <= left_ts`` (``backward``; ``forward``
    takes the smallest ``right_ts >= left_ts``; ``strict`` excludes
    equality) sharing ``key_cols``. Spark has no native ASOF operator; the
    naive formulation is a theta-join (O(n*m) per key). This is the
    scalable UNION-WINDOW pattern instead: tag both sides, union, ONE
    shuffle+sort by (key, ts, side), and a running ``last(payload,
    ignorenulls)`` window hands every left row its match — cost is one
    exchange of (left + right) narrow rows, no join node in the plan at
    all (plan-pinned in tests/test_plans.py).

    ``payload_cols`` (default: all non-key right columns) come back
    NULL-filled when no match exists (left-outer semantics). Right rows
    must be unique per (key, ts): at duplicate timestamps the window order
    between them is unspecified — dedupe first (the gate's groupBy-max
    precedent). Timestamps may be any orderable numeric/timestamp type;
    cross-engine gates should compare epoch integers (CLAUDE.md).

    Scale shape: one hash exchange + sort on (key, ts) — the same cost
    class as any windowed sessionization; skew follows the key's row
    distribution (salt upstream if one key dominates, as with
    sessionize). At 10^12 rows the sort is the job, which is the floor
    for ordered-match semantics. Beyond-reference, brief-driven."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    keys = list(key_cols)
    if payload_cols is None:
        payload_cols = [c for c in right.columns if c not in keys + [right_ts]]
    if not payload_cols:
        raise ValueError("right side has no payload columns")
    clash = set(payload_cols) & set(left.columns)
    if clash:
        raise ValueError(f"payload columns collide with left columns: {clash}")
    # at equal ts the side that sorts FIRST is visible to the other:
    # inclusive -> right first; strict -> left first (right not yet seen)
    side_left, side_right = (0, 1) if strict else (1, 0)
    # a NULL-ts right row would sort NULLS FIRST and "match" every left
    # row; NULL-ts left rows sort first too and correctly match nothing
    right = right.filter(F.col(right_ts).isNotNull())
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(side_right).alias("__side"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("__p"),
    )
    lcols = left.columns
    lft = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(side_left).alias("__side"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
        F.struct(*[F.col(c) for c in lcols]).alias("__l"),
    )
    r = r.withColumn(
        "__l", F.lit(None).cast(lft.schema["__l"].dataType)
    )
    u = lft.unionByName(r)
    # NULLS FIRST in BOTH directions: a NULL-ts left row must scan before
    # any right row (=> NULL match), which desc's NULLS-LAST default breaks
    order = [F.col("__ts").asc_nulls_first(), F.col("__side")]
    if direction == "forward":
        order = [F.col("__ts").desc_nulls_first(), F.col("__side")]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("__m", F.last("__p", ignorenulls=True).over(w))
    out = matched.filter(F.col("__side") == side_left).select(
        *[F.col(f"__l.{c}").alias(c) for c in lcols],
        *[F.col(f"__m.{c}").alias(c) for c in payload_cols],
    )
    return out


def range_join(
    points,
    intervals,
    point_col: str,
    start_col: str,
    end_col: str,
    key_cols=(),
    bin_width: int = 0,
):
    """Distributed RANGE (interval) join — every (point, interval) pair
    with ``start <= point < end`` and equal ``key_cols``. Spark plans a
    bare inequality join as BroadcastNestedLoop/cartesian (O(n*m)); this
    is the standard BINNING rewrite instead: points land in ONE bin
    (``floor(point / bin_width)``), intervals EXPLODE to every bin they
    overlap, and the join becomes an equi-join on (keys, bin) with the
    exact predicate as a cheap post-filter — each qualifying pair meets
    exactly once (a point lives in one bin), so no dedup is needed.

    ``bin_width`` must be positive, in the column's own units (epoch
    micros for timestamps); pick it near the TYPICAL interval length —
    per-interval fanout is ``(end - start) / bin_width + 1`` rows, the
    explicit knob trading replication against bucket selectivity (the
    LSH-band logic). Numeric columns must be integral (exact floor
    division both engines). Returns points columns + intervals columns
    (inner semantics); column sets must be disjoint.

    Scale shape: one exchange per side on (keys, bin) into a SortMerge
    equi-join — no nested-loop node (plan-pinned); a degenerate giant
    interval replicates only ITSELF (len/bin rows), never the points.
    Beyond-reference, brief-driven."""
    from pyspark.sql import functions as F

    if bin_width <= 0:
        raise ValueError("bin_width must be a positive integer")
    keys = list(key_cols)
    clash = (set(points.columns) - set(keys)) & (set(intervals.columns) - set(keys))
    if clash:
        raise ValueError(f"column collision between sides: {clash}")

    def fdiv(c):
        # floor division that is exact for int64 of either sign; the
        # operand is parenthesized (c may be a compound expression — an
        # unparenthesized `end - 1 DIV w` binds as `end - (1 DIV w)`)
        return F.expr(
            f"CAST(IF(({c}) >= 0, ({c}) DIV {bin_width}, "
            f"-(((-({c})) + {bin_width} - 1) DIV {bin_width})) AS BIGINT)"
        )

    p = points.withColumn("__bin", fdiv(point_col))
    iv = (
        intervals.filter(F.col(end_col) > F.col(start_col))
        .withColumn("__b0", fdiv(start_col))
        .withColumn("__b1", fdiv(f"{end_col} - 1"))
        .withColumn("__bin", F.explode(F.expr("sequence(__b0, __b1)")))
        .drop("__b0", "__b1")
    )
    joined = p.join(iv, keys + ["__bin"]).filter(
        (F.col(start_col) <= F.col(point_col))
        & (F.col(point_col) < F.col(end_col))
    )
    return joined.drop("__bin")


def profile_table(
    df,
    columns=None,
    qs=(0.5, 0.99),
    config=None,
    hll_p: int = 14,
    mg_k: int = 1024,
    rse_k: float = 3.0,
):
    """ONE-report corpus profiler — the "profile the 100 TB table before
    you process it" operator, composing the library's sketch family:

    - every column: exact row / null counts (one fused agg — a single
      corpus scan covers all columns' exact stats, min/max included);
    - numeric + timestamp columns: exact min/max plus DDSketch
      quantiles, ALL columns in one extra scan (``quantiles_multi``'s
      stack — the metric name is the group key); timestamps profile as
      epoch micros (tz-free integers, the event-analytics twin rule);
    - string columns: exact distinct count, an HLL estimate checked
      against it (``distinct_within_3rse`` — the hll-gate bound pattern),
      and the exact top value via the two-pass Misra-Gries+exact-count
      heavy hitter. Top-1 is emitted ONLY when its exact count clears the
      MG error bound (``top_count * mg_k > n_nonnull``): above the bound
      the true top is GUARANTEED among the candidates (deterministic,
      partition-order-free, ties break on the value string); at or below
      it the candidate set is partition-dependent, so the profile reports
      NULL ("no reliable heavy hitter") — deterministically, because the
      rule tests the true count.

    Returns one driver-assembled row per column: [column, dtype, n_rows,
    n_null, n_distinct, distinct_within_3rse, top_value, top_count, vmin,
    vmax, q50, q99, ...] (quantile columns follow ``qs``; string-only and
    numeric-only stats are NULL on the other side). Scale shape: two full
    scans (exact agg + stacked quantile build) plus one narrow scan per
    string column (HLL build; the heavy-hitter verify scans only the
    value column) — the per-column results that reach the driver are
    KB-scale aggregates. Beyond-reference, brief-driven."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .agg import quantiles_multi
    from .approx import heavy_hitters, hll_distinct

    cols = list(columns or df.columns)
    num_kinds = (
        T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
        T.ShortType, T.ByteType, T.DecimalType,
    )
    ts_kinds = (T.TimestampType, T.TimestampNTZType)
    numeric, strings, ts_cols = {}, [], set()
    exprs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        dt = df.schema[c].dataType
        exprs.append(F.count(c).alias(f"__nn_{c}"))
        if isinstance(dt, num_kinds):
            numeric[c] = F.col(c).cast("double")
        elif isinstance(dt, ts_kinds):
            # min/max only: a RELATIVE-accuracy sketch over raw epochs is
            # one giant bucket (2% of 1.7e15 spans the whole corpus) —
            # quantile a DURATION column instead, never an absolute epoch
            numeric[c] = F.unix_micros(F.col(c).cast("timestamp")).cast("double")
            ts_cols.add(c)
        elif isinstance(dt, T.StringType):
            strings.append(c)
            exprs.append(F.countDistinct(c).alias(f"__nd_{c}"))
    for c, e in numeric.items():
        exprs += [F.min(e).alias(f"__mn_{c}"), F.max(e).alias(f"__mx_{c}")]
    base = df.agg(*exprs).collect()[0]

    qmap = {}
    qcols = [c for c in numeric if c not in ts_cols]
    if qcols:
        qdf = quantiles_multi(
            df.select(*[numeric[c].alias(f"__v_{c}") for c in qcols]),
            [f"__v_{c}" for c in qcols],
            qs=qs,
            config=config,
        )
        qmap = {r["metric"][4:]: r for r in qdf.collect()}

    rse = 1.04 / (2.0 ** (hll_p / 2.0))  # hll_distinct's own rse formula
    rows = []
    from .agg import quantile_column_name as _qc
    qnames = [_qc(q) for q in qs]
    for c in cols:
        dt = df.schema[c].dataType.simpleString()
        n_null = int(base["__n"]) - int(base[f"__nn_{c}"])
        row = {
            "column": c,
            "dtype": dt,
            "n_rows": int(base["__n"]),
            "n_null": n_null,
            "n_distinct": None,
            "distinct_within_3rse": None,
            "top_value": None,
            "top_count": None,
            "vmin": None,
            "vmax": None,
            **{qn: None for qn in qnames},
        }
        if c in numeric:
            row["vmin"] = float(base[f"__mn_{c}"]) if base[f"__mn_{c}"] is not None else None
            row["vmax"] = float(base[f"__mx_{c}"]) if base[f"__mx_{c}"] is not None else None
            qr = qmap.get(c)
            if qr is not None:
                for qn in qnames:
                    row[qn] = float(qr[qn])
        elif c in strings:
            exact = int(base[f"__nd_{c}"])
            row["n_distinct"] = exact
            er = hll_distinct(df.select(c), c, p=hll_p).collect()[0]
            row["distinct_within_3rse"] = bool(
                abs(float(er["distinct_est"]) - exact)
                <= rse_k * float(er["rse"]) * max(exact, 1)
            )
            nn = int(base[f"__nn_{c}"])
            hh = heavy_hitters(
                df.select(c).filter(F.col(c).isNotNull()), c, k=1, mg_k=mg_k
            ).collect()
            if hh and int(hh[0]["freq"]) * mg_k > nn:
                row["top_value"] = hh[0]["value"]
                row["top_count"] = int(hh[0]["freq"])
        rows.append(row)
    schema = (
        "column string, dtype string, n_rows long, n_null long, "
        "n_distinct long, distinct_within_3rse boolean, top_value string, "
        "top_count long, vmin double, vmax double, "
        + ", ".join(f"{qn} double" for qn in qnames)
    )
    order = [
        "column", "dtype", "n_rows", "n_null", "n_distinct",
        "distinct_within_3rse", "top_value", "top_count", "vmin", "vmax",
    ] + qnames
    return df.sparkSession.createDataFrame(
        [tuple(r[k] for k in order) for r in rows], schema
    )


def frequent_pairs(
    df,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_items: Optional[int] = None,
):
    """Market-basket frequent item PAIRS with a-priori pruning (Agrawal &
    Srikant VLDB'94 two-pass shape, SON-style distributed counting).
    Brief-driven pipeline analytics (co-occurrence mining over order /
    session baskets); the reference has no relational surface.

    Pipeline: distinct (basket, item) -> per-item support -> items below
    ``min_support`` are dropped BEFORE pair expansion (the a-priori bound:
    a pair can only be frequent if both items are, so the prune is
    lossless) -> per-basket self-join with ``item_a < item_b`` (each
    qualifying pair counted exactly once) -> pair support filter ->
    confidence/lift from exact integer supports.

    Scale notes: the frequent-item dim is broadcast (both onto the basket
    filter and back onto the pair frame for sup_a/sup_b) — the head of the
    item distribution, orders of magnitude smaller than the basket frame.
    The only corpus-sized shuffle is the per-basket self-join on the
    basket key; its fanout is quadratic in FREQUENT items per basket, so
    ``max_basket_items`` optionally drops degenerate mega-baskets (a
    documented semantic change — support excludes them — standard
    a-priori practice for crawl sessions). Counts are exact integer sums,
    partition-order-free; confidence and lift are ONE double division of
    exact int64 operands each (single-rounded, engine-portable — the
    weighted-sampling precedent).

    Returns ``[item_a, item_b, support, sup_a, sup_b, n_baskets,
    confidence, lift]`` with unrounded doubles (gates apply F.round).
    """
    from pyspark.sql import functions as F

    b = (
        df.select(F.col(basket_col).alias("basket"), F.col(item_col).alias("item"))
        .filter(F.col("basket").isNotNull() & F.col("item").isNotNull())
        .distinct()
    )
    if max_basket_items is not None:
        sizes = b.groupBy("basket").agg(F.count("*").alias("__sz"))
        b = b.join(
            sizes.filter(F.col("__sz") <= max_basket_items).select("basket"),
            "basket",
        )
    # distinct pairs feed the support count, the basket filter, and the
    # pair join — materialize once
    b = b.persist()
    n_baskets = b.select("basket").distinct().count()  # post-reduce scalar
    freq = (
        b.groupBy("item")
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= min_support)
    ).persist()
    f = b.join(F.broadcast(freq.select("item")), "item").select("basket", "item")
    pairs = (
        f.alias("a")
        .join(
            f.alias("b"),
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    out = (
        pairs.join(
            F.broadcast(
                freq.select(F.col("item").alias("item_a"), F.col("sup").alias("sup_a"))
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                freq.select(F.col("item").alias("item_b"), F.col("sup").alias("sup_b"))
            ),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            "support",
            "sup_a",
            "sup_b",
            F.lit(n_baskets).cast("long").alias("n_baskets"),
            # exact int64 numerators/denominators, ONE division each
            (F.col("support").cast("double") / F.col("sup_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("support") * F.lit(n_baskets).cast("long")).cast("double")
                / (F.col("sup_a") * F.col("sup_b")).cast("double")
            ).alias("lift"),
        )
    )
    out = out.localCheckpoint(eager=True)
    freq.unpersist()
    b.unpersist()
    return out


# ---------------------------------------------------------------------------
# interval merge / coverage (dwell time, availability, span union)
# ---------------------------------------------------------------------------


def merge_intervals(
    df,
    by: str = "user_id",
    start_col: str = "start_us",
    end_col: str = "end_us",
    order_cols: Sequence[str] = (),
    episode_col: str = "episode_id",
):
    """Assign each interval to its overlap-connected EPISODE within ``by``:
    sort intervals by start, track the running max end over strictly
    previous rows, and start a new episode exactly when the current start
    exceeds it (touching intervals — start == previous end — merge; the
    union of one episode is therefore a single contiguous span
    [min start, max end] by construction). This is the classic
    merge-overlapping-intervals primitive (dwell time, service
    availability, GPU-busy spans, speech segments) expressed as ONE
    window: both passes (running max, running episode counter) share the
    same (partition by key, order by start) sort, so Catalyst plans a
    single exchange — no self-join, no Python, no iteration.

    ``start_col``/``end_col`` must be integer epoch columns (micros via
    ``F.unix_micros`` pairs exactly with DuckDB ``epoch_us``); integer
    comparisons keep the episode assignment bit-reproducible across
    engines and partitionings. ``order_cols`` breaks (start, end) ties
    deterministically — pass a unique id when duplicates are possible.

    Scale shape: the window partitions by ``by``, so skew is bounded by
    the hottest key (same property as sessionize); at 100 TB keys are
    users/devices/conversations — millions of small partitions, one
    shuffle of (key, start, end, order) only.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    order = [F.col(start_col), F.col(end_col)] + [F.col(c) for c in order_cols]
    w_prev = (
        Window.partitionBy(by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max_end = F.max(F.col(end_col)).over(w_prev)
    new_episode = prev_max_end.isNull() | (F.col(start_col) > prev_max_end)
    return df.withColumn(episode_col, F.sum(new_episode.cast("long")).over(w_run))


def interval_coverage(
    df,
    by: str = "user_id",
    start_col: str = "start_us",
    end_col: str = "end_us",
    order_cols: Sequence[str] = (),
):
    """Per-key union-of-intervals accounting over ``merge_intervals``:
    [by, n_intervals, n_episodes, covered_us, max_episode_us]. Because a
    merged episode is contiguous, its covered length is exactly
    (max end - min start) — integer micros, no float anywhere, so the
    DuckDB twin hash-matches bit-for-bit. Two hash aggregates after the
    single window shuffle; output is one row per key
    (corpus-size-independent downstream)."""
    from pyspark.sql import functions as F

    ep = merge_intervals(df, by, start_col, end_col, order_cols)
    per_ep = ep.groupBy(by, "episode_id").agg(
        F.count("*").alias("__n"),
        (F.max(end_col) - F.min(start_col)).alias("__len_us"),
    )
    return per_ep.groupBy(by).agg(
        F.sum("__n").alias("n_intervals"),
        F.count("*").alias("n_episodes"),
        F.sum("__len_us").alias("covered_us"),
        F.max("__len_us").alias("max_episode_us"),
    )


def vocab_stats(df, text_col: str = "text", id_col: str = "doc_id"):
    """One-row corpus vocabulary diagnostics for training-data triage:
    [n_docs, n_tokens, vocab_size, n_hapax, surprisal_bits, top_token,
    top_count]. ``n_hapax`` (tokens seen exactly once) vs ``vocab_size``
    is the standard OOV/tail indicator; ``surprisal_bits`` is the corpus
    total of the INTEGER-BITS unigram surprisal ``count * bitlen(n_tokens
    DIV count)`` — the ``ngram_lm`` / ``tfidf_top_terms`` trick
    (``bitlen(x) = length(bin(x))`` on both engines), so the whole row is
    exact int64 and hash-gateable where a float ``c*ln(N/c)`` entropy sum
    never could be (cross-row double summation order). The top token
    breaks count ties on the token string.

    Scale shape: tokens explode in the scan projection, ONE map-side-
    combined groupBy(token) (vocab-sized shuffle — the corpus text never
    moves), then a single-row reduce + a TakeOrderedAndProject for the
    top token; nothing corpus-sized survives the first aggregate.
    Beyond-reference, brief-driven (corpus diagnostics stage)."""
    from pyspark.sql import functions as F

    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    toks = toks.persist()
    summary = toks.agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("vocab_size"),
        F.sum((F.col("cnt") == 1).cast("long")).alias("n_hapax"),
    )
    top = (
        toks.orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(1)
        .select(F.col("token").alias("top_token"), F.col("cnt").alias("top_count"))
    )
    n_docs = df.filter(F.col(text_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # surprisal needs n_tokens on every vocab row: broadcast the 1-row agg
    surprisal = (
        toks.crossJoin(F.broadcast(summary.select("n_tokens")))
        .select(
            (
                F.col("cnt")
                * F.length(F.bin(F.expr("n_tokens DIV cnt"))).cast("long")
            ).alias("__s")
        )
        .agg(F.sum("__s").alias("surprisal_bits"))
    )
    out = (
        n_docs.crossJoin(summary)
        .crossJoin(surprisal)
        .crossJoin(top)
        .select(
            "n_docs",
            "n_tokens",
            "vocab_size",
            "n_hapax",
            "surprisal_bits",
            "top_token",
            "top_count",
        )
    )
    out = out.localCheckpoint(eager=True)
    toks.unpersist()
    return out


def edit_distance_pairs(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_edits: int = 1,
):
    """All pairs within Levenshtein distance ``max_edits`` (1 or 2) over a
    SHORT-STRING key column (names, titles, codes, normalized entity
    keys) — FastSS deletion-neighborhood blocking (Bocek et al., 2007):
    if ``ed(s, t) <= d`` then deleting the (≤ d) edited positions from
    each side yields a COMMON string, so the candidate join on the
    up-to-``d``-deletion neighborhoods is lossless by construction; every
    candidate is then verified with the exact built-in ``levenshtein``
    (both engines compute the same integer, so the output is
    hash-gateable with no recall caveat — unlike the banded Hamming join,
    whose pigeonhole needs ``max_hamming < bands``, this blocking is
    lossless for ANY string pair, including indels that shift positions).

    Returns ``[id_a, id_b, ed]`` with ``id_a < id_b`` and ``ed <=
    max_edits`` (``ed = 0`` pairs are exact duplicates and are included —
    filter if unwanted). NULL texts are dropped.

    Cost model (why the contract says SHORT strings): a string of length
    L emits 1 + L variant keys at d=1 and O(L^2) at d=2 — linear/quadratic
    per-row blowup that is the RIGHT trade for keys up to ~100 chars and
    the wrong one for documents (use the shingle/MinHash stack there).
    Only 8-byte xxhash64 variant keys shuffle, never the variant strings;
    an xxhash64 collision can only ADD a candidate, which the exact
    verify then kills, so hashing costs no recall. Hot variant keys are
    bounded by true near-dup cluster sizes (same skew class as exact
    dedup's digest groups).
    """
    from pyspark.sql import functions as F

    if max_edits not in (1, 2):
        raise ValueError(f"max_edits must be 1 or 2, got {max_edits}")
    # r6 (guide §2.4/§4): the candidate join used to be a SELF-JOIN of the
    # variant-key frame — planned as a BroadcastHashJoin whose build side
    # RE-EVALUATED the whole scan + variant generation (no exchange to
    # reuse), and the narrow customer scan ran it all on its 2 parquet
    # splits. Now: spread the scan first, generate variant keys ONCE as a
    # single SQL expression string (one py4j round trip instead of a deep
    # Column lambda tree), and expand candidate pairs INSIDE each key
    # bucket after ONE groupBy — same candidate set, one evaluation, one
    # exchange of 8-byte keys. Bucket pair expansion is a higher-order
    # transform over per-bucket id arrays (bucket sizes are true
    # near-match neighborhoods, small by construction — the HOF-on-small-
    # arrays regime).
    base = _ensure_parallelism(
        df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
        )
    )
    # all single-position deletions of s (1-based positions)
    d1 = (
        "transform(sequence(1, length({s})), i -> "
        "concat(substr({s}, 1, i-1), substr({s}, i+1, length({s}))))"
    )
    del1 = d1.format(s="__text")
    variants = (
        "case when length(__text) < 1 then array(__text) "
        f"else array(__text) || {del1} end"
    )
    if max_edits == 2:
        # delete positions i < j in one pass: drop i, then (j-1) in the
        # shortened string == dropping {i, j} from the original
        two = f"flatten(transform({del1}, s -> {d1.format(s='s')}))"
        variants = (
            f"case when length(__text) < 2 then {variants} "
            f"else ({variants}) || {two} end"
        )
    keys = base.select(
        "__id",
        F.explode(
            F.expr(f"array_distinct(transform({variants}, v -> xxhash64(v)))")
        ).alias("__k"),
    )
    cand = (
        keys.groupBy("__k")
        .agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
        .filter(F.size("__ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__ids, (x, i) -> "
                    "transform(slice(__ids, i + 2, size(__ids) - i - 1), "
                    "y -> struct(x as id_a, y as id_b))))"
                )
            ).alias("__p")
        )
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )
    return (
        cand.join(
            base.select(F.col("__id").alias("id_a"), F.col("__text").alias("__ta")),
            "id_a",
        )
        .join(
            base.select(F.col("__id").alias("id_b"), F.col("__text").alias("__tb")),
            "id_b",
        )
        .withColumn("ed", F.levenshtein("__ta", "__tb"))
        .filter(F.col("ed") <= max_edits)
        .select("id_a", "id_b", "ed")
    )


def fk_audit(relations):
    """Referential-integrity audit over (name, child_df, child_key,
    parent_df, parent_key) relations — the standard pre-training-join
    data-quality stage (orphaned facts silently vanish in inner joins;
    this measures the loss BEFORE the pipeline takes it). Per relation,
    one row: [relation, n_child, n_null_keys, n_orphans,
    n_distinct_orphan_keys] where an orphan is a non-NULL child key with
    no parent (NULL child keys are counted separately — they are missing
    data, not broken references).

    Scale shape: per relation ONE left join of the child's KEY COLUMN
    against the parent's deduplicated key (child payload never moves;
    parent key sets are usually dim-sized, so AQE broadcasts them) and
    one map-side-combined aggregate; results union to a
    relations-count-sized frame. All counts exact integers.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    outs = []
    for name, child, child_key, parent, parent_key in relations:
        pk = parent.select(F.col(parent_key).alias("__k")).distinct().withColumn(
            "__hit", F.lit(1)
        )
        j = child.select(F.col(child_key).alias("__k")).join(pk, "__k", "left")
        orphan = F.col("__k").isNotNull() & F.col("__hit").isNull()
        outs.append(
            j.agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.col("__k").isNull().cast("long")).alias("n_null_keys"),
                F.sum(orphan.cast("long")).alias("n_orphans"),
                F.countDistinct(F.when(orphan, F.col("__k"))).alias(
                    "n_distinct_orphan_keys"
                ),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def fd_profile(df, keys=(), fds=()):
    """Key-candidate and functional-dependency profiler — the schema-level
    data-quality twin of ``fk_audit`` (row-level): BEFORE a pipeline
    groups, joins, or dedups on a column set, measure whether that set
    actually identifies rows (candidate key) and whether a claimed
    attribute dependency (lhs -> rhs) actually holds. One output row per
    constraint: [constraint_name, kind, n_rows, n_groups,
    n_violations, max_cardinality].

    - ``keys``: iterable of column tuples (or single column names). Rows
      with a NULL in any key column are excluded from grouping (NULL
      cannot identify a row); n_groups = distinct non-NULL key tuples,
      n_violations = duplicated ROWS (non-NULL rows minus n_groups),
      max_cardinality = largest duplicate-group size.
    - ``fds``: iterable of (lhs_cols, rhs_col). NULL-lhs rows are
      excluded; NULL rhs values are ignored inside a group (missing data
      is not a contradiction — the fk_audit convention). n_groups =
      distinct lhs tuples, n_violations = lhs GROUPS with >1 distinct
      rhs, max_cardinality = max distinct rhs per lhs.

    Scale shape: one map-side-combined two-level aggregate per constraint
    (groupBy keys -> count / countDistinct, then ONE global agg); only
    the named columns leave the scan, no joins, results union to a
    constraints-count-sized frame. All counts exact int64.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    def _cols(spec):
        return (spec,) if isinstance(spec, str) else tuple(spec)

    outs = []
    for spec in keys:
        cols = _cols(spec)
        nn = df
        for c in cols:
            nn = nn.filter(F.col(c).isNotNull())
        per = nn.groupBy(*[F.col(c) for c in cols]).agg(
            F.count(F.lit(1)).alias("__n")
        )
        total = df.agg(F.count(F.lit(1)).alias("__t"))
        outs.append(
            per.agg(
                F.lit("key(" + ",".join(cols) + ")").alias("constraint_name"),
                F.lit("key").alias("kind"),
                F.sum("__n").alias("__nn"),
                F.count(F.lit(1)).alias("n_groups"),
                (F.sum("__n") - F.count(F.lit(1))).alias("n_violations"),
                F.max("__n").alias("max_cardinality"),
            )
            .crossJoin(F.broadcast(total))
            .select(
                "constraint_name",
                "kind",
                F.col("__t").alias("n_rows"),
                "n_groups",
                "n_violations",
                "max_cardinality",
            )
        )
    for lhs_spec, rhs in fds:
        lhs = _cols(lhs_spec)
        nn = df
        for c in lhs:
            nn = nn.filter(F.col(c).isNotNull())
        per = nn.groupBy(*[F.col(c) for c in lhs]).agg(
            F.countDistinct(F.col(rhs)).alias("__d")
        )
        total = df.agg(F.count(F.lit(1)).alias("__t"))
        outs.append(
            per.agg(
                F.lit("fd(" + ",".join(lhs) + "->" + rhs + ")").alias(
                    "constraint_name"
                ),
                F.lit("fd").alias("kind"),
                F.count(F.lit(1)).alias("n_groups"),
                F.sum((F.col("__d") > 1).cast("long")).alias("n_violations"),
                F.max("__d").alias("max_cardinality"),
            )
            .crossJoin(F.broadcast(total))
            .select(
                "constraint_name",
                "kind",
                F.col("__t").alias("n_rows"),
                "n_groups",
                "n_violations",
                "max_cardinality",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def inverted_index(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
    min_df: int = 1,
    max_postings=None,
):
    """Distributed inverted-index build: one row per word n-gram term with
    [term, df, tf_total, postings] where postings is the doc_id-sorted
    array of (doc_id, tf) structs. ``min_df`` drops tail terms entirely;
    ``max_postings`` is the STOPWORD policy — terms whose document
    frequency exceeds it keep their exact df/tf_total counts but emit
    NULL postings, so no aggregation buffer ever holds a corpus-sized
    list (a stopword's posting list IS the corpus; search engines drop
    them for the same reason).

    Scale shape: terms explode in the scan projection (whitespace
    n-grams, Catalyst-only); ONE groupBy(term, doc_id) map-side-combined
    aggregate produces the (term, doc_id, tf) frame — persisted for the
    call, since the stats pass and the list pass both consume it; the
    stopword set is derived df-side and anti-joined BROADCAST (small by
    construction — these are the highest-df terms), never the keep set
    (which is vocab-sized). Only 8-byte-ish (term, id, tf) rows shuffle;
    text never moves past the first projection. The returned lazy frame
    references the persisted (term, doc_id, tf) intermediate so its two
    consumers share one computation; the cache is session-scoped.
    """
    from pyspark.sql import functions as F

    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("__a"),
    )
    if ngram == 1:
        terms = toks.select("doc_id", F.explode("__a").alias("term"))
    else:
        # guard: Spark sequence(1, 0) DESCENDS [1, 0] — short docs must
        # produce an empty gram array, not a reversed one
        terms = toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"case when size(__a) >= {int(ngram)} then "
                    f"transform(sequence(1, size(__a) - {int(ngram) - 1}), "
                    f"i -> concat_ws(' ', slice(__a, i, {int(ngram)}))) "
                    "else array() end"
                )
            ).alias("term"),
        )
    per = (
        terms.groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    stats = per.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("tf_total")
    )
    if min_df > 1:
        stats = stats.filter(F.col("df") >= int(min_df))
    lists_src = per
    if max_postings is not None:
        over = stats.filter(F.col("df") > int(max_postings)).select("term")
        lists_src = per.join(F.broadcast(over), "term", "left_anti")
    grouped = lists_src.groupBy("term").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("doc_id"), F.col("tf")))
        ).alias("postings")
    )
    return stats.join(grouped, "term", "left").select(
        "term", "df", "tf_total", "postings"
    )


def histogram_drift(
    df_a,
    df_b,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int,
):
    """Distribution drift between two snapshots of the same column (crawl
    N vs crawl N+1, train vs incoming) as an equi-width histogram
    comparison — integer-exact end to end, so the whole report is
    hash-gateable with no float-summation-order risk: per bucket
    [bucket, count_a, count_b, rate_ppm_a, rate_ppm_b, drift_ppm] where
    rate_ppm = count * 1_000_000 DIV side_total (exact integer
    parts-per-million) and drift_ppm = |rate_ppm_a - rate_ppm_b|.
    Consumers needing chi-square/PSI derive it from the exact counts.

    Bucketing: floor((x - lo) / w), w = (hi - lo) / n_buckets baked as a
    repr'd double literal — the same two single-rounded IEEE ops in any
    engine, so bucket boundaries are bit-identical. Underflow clamps to
    bucket -1, overflow to n_buckets; NULLs are excluded on both sides.

    Scale shape: each side reduces map-side to <= n_buckets+2 rows in its
    scan pass (union + ONE tiny groupBy(bucket); no join of raw rows);
    side totals ride the same aggregate — nothing row-count-sized ever
    shuffles. Buckets absent from both sides are absent from the output.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    w = (float(hi) - float(lo)) / int(n_buckets)
    lo_lit = f"CAST('{float(lo)!r}' AS DOUBLE)"
    w_lit = f"CAST('{w!r}' AS DOUBLE)"
    bucket = (
        f"least(greatest(CAST(floor((CAST({value_col} AS DOUBLE) - {lo_lit})"
        f" / {w_lit}) AS BIGINT), -1L), {int(n_buckets)}L)"
    )
    sides = []
    for tag, d in (("a", df_a), ("b", df_b)):
        sides.append(
            d.filter(F.col(value_col).isNotNull()).select(
                F.expr(bucket).alias("bucket"), F.lit(tag).alias("__side")
            )
        )
    per = (
        reduce(lambda x, y: x.unionByName(y), sides)
        .groupBy("bucket")
        .agg(
            F.sum((F.col("__side") == "a").cast("long")).alias("count_a"),
            F.sum((F.col("__side") == "b").cast("long")).alias("count_b"),
        )
    )
    totals = per.agg(
        F.sum("count_a").alias("__ta"), F.sum("count_b").alias("__tb")
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            "count_a",
            "count_b",
            F.expr("count_a * 1000000L div __ta").alias("rate_ppm_a"),
            F.expr("count_b * 1000000L div __tb").alias("rate_ppm_b"),
            F.expr(
                "abs(count_a * 1000000L div __ta - count_b * 1000000L div __tb)"
            ).alias("drift_ppm"),
        )
    )


def quota_sample(
    df,
    quotas,
    by: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
):
    """Sample to a TARGET MIX: per stratum ``g``, the ``quotas[g]`` rows
    with the smallest ``md5(seed|id)`` digest (ties on id) — the
    domain-reweighting stage that turns an as-crawled corpus into a
    prescribed training mixture. Strata absent from ``quotas`` are
    dropped; a stratum with population below its quota yields its whole
    population (the shortfall is visible as a smaller group — callers
    audit it with one groupBy count). Same engine-reproducible digest
    contract as ``deterministic_sample``, so reruns, retries, cluster
    resizes, AND the DuckDB twin select identical rows.

    Scale shape: the quota table is a literal broadcast join (dims-sized);
    one shuffle on ``by`` + per-group row_number over the digest sort,
    rank <= quota pruned inside the window stage. Rows with NULL id are
    excluded (no stable identity); NULL strata match no quota key.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(quotas.items())],
        f"{by} string, __quota long",
    )
    h = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string")))
    w = Window.partitionBy(by).orderBy("sample_key", id_col)
    return (
        df.filter(F.col(id_col).isNotNull())
        .join(F.broadcast(qdf), by, "inner")
        .withColumn("sample_key", h)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("__quota"))
        .drop("__rk", "__quota")
    )


def dimensional_rollup(df, dims, measures, mode: str = "cube"):
    """OLAP cube/rollup report: one frame holding every dimension-subset
    aggregate (mode='cube': all 2^d subsets; mode='rollup': the d+1
    hierarchical prefixes) with ``grouping_id`` disambiguating which
    subset each row belongs to (bitmask, first dim = MSB — verified
    identical between Spark and DuckDB GROUPING()). ``measures`` are
    aggregate Columns, already aliased.

    Scale shape: Catalyst plans cube/rollup as ONE Expand (each input row
    replicated per grouping set BEFORE the exchange) + one map-side-
    combined aggregate — so cost scales as 2^len(dims) x scan rows in the
    expand; keep dims <= ~4 at corpus scale or use mode='rollup' (d+1
    replicas). Measures must be decomposable aggregates (count/sum/min/
    max) for the map-side combine to hold; cross-row float sums are not
    hash-stable — pass integer-quantized measures (cents, micros).
    """
    from pyspark.sql import functions as F

    base = df.cube(*dims) if mode == "cube" else df.rollup(*dims)
    return base.agg(*measures, F.grouping_id().alias("grouping_id"))


def pivot_report(df, row_dim, col_dim, col_values, measure):
    """Crosstab: one row per ``row_dim`` value, one column per ``col_dim``
    value in ``col_values`` holding an aggregate over that slice.
    ``measure`` is a callable mapping a boolean slice condition to an
    aggregate Column (e.g. ``lambda c: F.count(F.when(c, 1))``). The
    column universe is EXPLICIT — never inferred — so the output schema
    is deterministic with no values-discovery job; absent slices produce
    the aggregate's empty-input value (0 for the count form, NULL for
    sum/min/max).

    Scale shape: compiles to ONE groupBy(row_dim) of len(col_values)
    conditional aggregates — a single map-side-combined exchange, the
    same plan as the DuckDB twin's FILTER aggregation. Spark's native
    ``.pivot(col, values)`` was measured planning TWO aggregate stages
    and TWO exchanges (groupBy(row, col) + pivotfirst regroup); the
    conditional form halves the exchanges for decomposable measures,
    which is why this does not call it.
    """
    from pyspark.sql import functions as F

    aggs = [
        measure(F.col(col_dim) == F.lit(v)).alias(str(v)) for v in col_values
    ]
    return df.groupBy(row_dim).agg(*aggs)


def contamination_fraction(
    corpus,
    reference,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    join_on_hash: bool = False,
):
    """Fractional contamination scoring — the graded extension of
    ``cross_corpus_contamination``'s boolean flag: per corpus document,
    what SHARE of its distinct word n-grams appears anywhere in the
    reference corpus. Returns [id, n_grams, n_shared, score_bp] with
    score_bp = n_shared * 10000 DIV n_grams (exact integer basis points
    — never a float ratio, so the whole frame hash-gates). Documents
    shorter than ``shingle_n`` words shingle to [text] (whole-text
    membership), matching the boolean operator; curation policies
    threshold score_bp (e.g. drop >= 8000, audit >= 1000) instead of the
    all-or-nothing flag.

    Scale shape: identical to the boolean operator — explode to
    (doc, shingle), LEFT join against the DISTINCT reference shingle set
    (hash join on the shingle key; with ``join_on_hash`` 8-byte xxhash64
    keys shuffle instead of strings — collisions can only INFLATE a
    score, never hide contamination), then ONE groupBy(id) counting both
    totals in the same pass. No doc x doc comparison anywhere.
    """
    from pyspark.sql import functions as F

    sh_c = _ensure_parallelism(corpus.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(ngram_shingles_expr(text_col, shingle_n)).alias("__s"),
    )
    sh_r = _ensure_parallelism(reference.select(text_col)).select(
        F.explode(ngram_shingles_expr(text_col, shingle_n)).alias("__s")
    )
    if join_on_hash:
        sh_c = sh_c.select(id_col, F.xxhash64("__s").alias("__s"))
        sh_r = sh_r.select(F.xxhash64("__s").alias("__s"))
    ref = sh_r.distinct().withColumn("__hit", F.lit(1))
    per = (
        sh_c.distinct()
        .join(ref, "__s", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("__hit").isNotNull().cast("long")).alias("n_shared"),
        )
    )
    return corpus.select(id_col).join(per, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
        F.when(
            F.coalesce("n_grams", F.lit(0)) > 0,
            F.expr("n_shared * 10000L div n_grams"),
        ).alias("score_bp"),
    )


def key_skew_profile(df, cols):
    """Pre-join/pre-groupBy skew diagnostic: per key column, [column_name,
    n_rows, n_null, n_keys, max_count, top_key, skew_ppm] where skew_ppm
    = max_count * 1_000_000 DIV n_nonnull — the exact share of the
    hottest key in parts-per-million. The "should this join be salted"
    measurement taken BEFORE the shuffle that would hit the hot key
    (skew discipline: the two-stage sketch build bounds shuffle
    skew, because only sketch rows cross the shuffle; this operator tells
    you which keys of other shuffles need salting).

    The top key is deterministic under ties: argmax over (count, key
    string) pairs — a single struct max, never a sort of the key
    distribution. Scale shape: per column ONE map-side-combined
    groupBy(key) + one single-row reduce; outputs union to a
    columns-count-sized frame. All counts exact int64.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    outs = []
    for c in cols:
        per = (
            df.select(F.col(c).cast("string").alias("__k"))
            .filter(F.col("__k").isNotNull())
            .groupBy("__k")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        total = df.agg(
            F.count(F.lit(1)).alias("__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias("__nulls"),
        )
        outs.append(
            per.agg(
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("__n").alias("max_count"),
                F.max(F.struct(F.col("__n"), F.col("__k")))
                .getField("__k")
                .alias("top_key"),
            )
            .crossJoin(F.broadcast(total))
            .select(
                "column_name",
                F.col("__rows").alias("n_rows"),
                F.col("__nulls").alias("n_null"),
                "n_keys",
                "max_count",
                "top_key",
                F.expr(
                    "max_count * 1000000L div (__rows - __nulls)"
                ).alias("skew_ppm"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def group_robust_stats(df, by: str, value_col: str, k: float = 3.0):
    """Per-group robust location/scale + outlier accounting: [group, n,
    median, mad, n_outliers] where median is the LOWER median (the order
    statistic at position (n+1) DIV 2 — deliberately not interpolated:
    an element of the data needs NO arithmetic, so both engines return
    the identical bits), mad = lower median of |x - median|, and
    n_outliers counts rows with |x - median| > k * mad (the robust
    z-score cut that a mean/stddev rule gets wrong under the very
    outliers it hunts).

    Scale shape: two window passes (rank over value, then rank over
    deviation) + one join of the group-sized median frame + one final
    map-side-combined aggregate — every exchange hash-partitions on the
    SAME group key, so AQE reuses the partitioning; per-row state is one
    rank, never a per-group collect. NULL values are excluded.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(by).alias("__g"), F.col(value_col).cast("double").alias("__v")
    )
    w1 = Window.partitionBy("__g").orderBy("__v")
    wn = Window.partitionBy("__g")
    med = (
        base.withColumn("__rn", F.row_number().over(w1))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select("__g", F.col("__v").alias("median"), F.col("__n").alias("n"))
    )
    dev = base.join(med, "__g").select(
        "__g", "__v", "median", "n", F.abs(F.col("__v") - F.col("median")).alias("__d")
    )
    w2 = Window.partitionBy("__g").orderBy("__d")
    mad = (
        dev.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == F.expr("(n + 1) div 2"))
        .select("__g", F.col("__d").alias("mad"))
    )
    k_lit = F.expr(f"CAST('{float(k)!r}' AS DOUBLE)")
    return (
        dev.join(mad, "__g")
        .groupBy("__g")
        .agg(
            F.max("n").alias("n"),
            F.max("median").alias("median"),
            F.max("mad").alias("mad"),
            F.sum(
                (F.col("__d") > k_lit * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            F.col("__g").alias(by), "n", "median", "mad", "n_outliers"
        )
    )


def sparse_similarity_topk(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    min_df: int = 2,
    max_df: int = 50,
    top_k: int = 5,
):
    """Sparse tf-idf similarity join over posting lists — the canonical
    inverted-index consumer: for each document, its ``top_k`` neighbors
    by the INTEGER dot product of tf-idf weights over the banded term
    vocabulary (``min_df <= df <= max_df``). Weights are exact int64 —
    ``tf * bitlen(n_docs DIV df)`` (the tfidf_top_terms idf trick) — so
    dots sum order-free and the whole result hash-gates; ties rank by
    neighbor id. Returns [doc_id, neighbor_id, dot, rank].

    The df band IS the scale contract (the prefix-filtering idea): pair
    generation self-joins each term's posting list, so the partial-pair
    count is sum(df^2) over kept terms <= n_terms * max_df^2 — bounded
    regardless of corpus size; stopword-class terms (df > max_df) are
    excluded exactly as in ``inverted_index``, and tail terms below
    ``min_df`` cannot form a pair anyway. Docs sharing ONLY out-of-band
    terms never become candidates — documented recall bound, mirrored
    by the twin.

    Scale shape: one (term, doc, tf) aggregate; one vocab-sized df
    aggregate joined back on the term key; one posting self-join (the
    bounded expansion); one groupBy(pair) sum; one window for the
    per-doc top-k. Text never moves past the first projection.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("__a"),
    )
    terms = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"case when size(__a) >= {int(ngram)} then "
                f"transform(sequence(1, size(__a) - {int(ngram) - 1}), "
                f"i -> concat_ws(' ', slice(__a, i, {int(ngram)}))) "
                "else array() end"
            )
        ).alias("term"),
    )
    per = terms.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    kept = (
        per.groupBy("term")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(
            (F.col("__df") >= int(min_df)) & (F.col("__df") <= int(max_df))
        )
    )
    nd = toks.agg(F.count(F.lit(1)).alias("__nd"))
    w = (
        per.join(kept, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "term",
            "doc_id",
            F.expr("tf * length(bin(__nd div __df))").alias("__w"),
        )
    )
    wa = w.select(
        "term", F.col("doc_id").alias("id_a"), F.col("__w").alias("__wa")
    )
    wb = w.select(
        "term", F.col("doc_id").alias("id_b"), F.col("__w").alias("__wb")
    )
    dots = (
        wa.join(wb, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.expr("__wa * __wb")).alias("dot"))
    )
    sym = dots.unionByName(
        dots.select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            "dot",
        )
    )
    rk = Window.partitionBy("id_a").orderBy(
        F.col("dot").desc(), F.col("id_b")
    )
    return (
        sym.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= int(top_k))
        .select(
            F.col("id_a").alias("doc_id"),
            F.col("id_b").alias("neighbor_id"),
            "dot",
            "rank",
        )
    )
