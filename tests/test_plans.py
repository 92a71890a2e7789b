"""Physical-plan assertions: the scale-critical properties of the pipeline
must hold in the optimized plan, not just in intent —

- stage 1 reads ONLY the projected columns (column pruning reaches the scan);
- filters are pushed into the parquet scan;
- stage 1 has NO exchange (raw rows never shuffle);
- the full quantile query shuffles only once (sketch rows), plus the AQE
  final coalesce.
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from ddsparkle.spark.agg import build_partial_sketches, quantiles

pytestmark = pytest.mark.spark


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_stage1_column_pruning_and_pushdown(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    proj = df.filter(F.col("l_returnflag") == "N").select(
        "l_returnflag", F.col("l_extendedprice").alias("v")
    )
    partials = build_partial_sketches(proj, "v", ["l_returnflag"])
    plan = plan_of(partials)
    assert "ReadSchema: struct<l_extendedprice:double,l_returnflag:string>" in plan
    assert "EqualTo(l_returnflag,N)" in plan  # pushed filter
    assert "Exchange" not in plan  # stage 1 never shuffles raw rows


def test_stage1_reads_no_extra_columns(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    partials = build_partial_sketches(df, "value")
    plan = plan_of(partials)
    # 6-column table, 1-column read
    assert "ReadSchema: struct<value:double>" in plan


def test_full_query_single_shuffle_of_sketch_rows(spark, sf_dir):
    """A kernel sketch query — quantiles, and CDF and trimmed means grouped
    and keyless — is the stage-1 build, one sketch-row exchange and one
    finalize: no separate merge pass in front of the finalize."""
    from ddsparkle.spark.agg import cdf_at_values, trimmed_means

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    for res in (
        quantiles(df, "value", by="event_type", qs=(0.5,), mode="kernel"),
        cdf_at_values(df, "value", [100.0], by="event_type", mode="kernel"),
        cdf_at_values(df, "value", [100.0], mode="kernel"),
        trimmed_means(df, "value", 0.1, 0.1, by="event_type", mode="kernel"),
        trimmed_means(df, "value", 0.1, 0.1, mode="kernel"),
    ):
        plan = plan_of(res)
        # exactly one exchange in the tree: the sketch-row shuffle before the
        # vectorized finalize
        assert plan.count("+- Exchange") == 1, plan
        # build stage below the exchange, finalize stage above it: two
        # MapInArrow operators (each printed in tree + detail section)
        assert plan.count("MapInArrow") == 4, plan
        # tree prints root-first: the finalize MapInArrow precedes the
        # Exchange, the build MapInArrow follows it
        assert plan.index("MapInArrow") < plan.index("+- Exchange")
        assert plan.index("MapInArrow", plan.index("+- Exchange")) > plan.index("+- Exchange")


def test_grouping_sets_one_exchange_per_set(spark, sf_dir):
    """quantiles_grouping_sets finalizes every set straight from the
    checkpointed finest rows: one exchange per set, no merge pass."""
    import re

    from ddsparkle.spark.agg import quantiles_grouping_sets

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    sets = [["event_type", "user_id"], ["event_type"], ["user_id"], []]
    res = quantiles_grouping_sets(df, "value", ["event_type", "user_id"], sets=sets, qs=(0.5,))
    plan = plan_of(res)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == len(sets), plan


def test_sql_mode_plan_pure_jvm(spark, sf_dir):
    """mode='sql' (the auto default for log-mapping configs) must produce a
    plan with NO Python operators at all, a partial (map-side) hash
    aggregate BELOW the bucket exchange, and pruned+pushed scans."""
    from ddsparkle.config import SketchConfig

    df = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "click"
    )
    cfg = SketchConfig(mapping_kind="log", store_policy="unbounded", max_bins=0,
                       track_exact_stats=False)
    res = quantiles(df, "value", by="event_type", qs=(0.5,), config=cfg)
    plan = plan_of(res)
    assert "InPandas" not in plan and "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    # map-side combine: a partial hash aggregate below the exchange
    assert "partial_count" in plan or "partial" in plan.lower(), plan
    assert "HashAggregate" in plan, plan
    # pushdown + pruning still reach the scan
    assert "EqualTo(event_type,click)" in plan, plan
    read = [l for l in plan.splitlines() if "ReadSchema:" in l][0]
    assert "value:double" in read and "event_type:string" in read, read
    # pruned: the 2 needed columns only, not the 6-column table
    assert read.count(":") <= 3, read


def test_auto_mode_routes_log_to_sql_and_cubic_to_kernel(spark, sf_dir):
    from ddsparkle.config import SketchConfig

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    log_cfg = SketchConfig(mapping_kind="log", store_policy="unbounded", max_bins=0,
                           track_exact_stats=False)
    assert "InPandas" not in plan_of(quantiles(df, "value", qs=(0.5,), config=log_cfg))
    cubic_cfg = SketchConfig(mapping_kind="cubic", store_policy="unbounded", max_bins=0,
                             track_exact_stats=False)
    # global cubic: kernel path; the default finalize is driver-side, so
    # assert on the build-stage plan via a grouped call instead
    grouped = quantiles(df, "value", by="event_type", qs=(0.5,), config=cubic_cfg)
    assert "MapInArrow" in plan_of(grouped)


def test_sql_mode_sketch_query_one_scan_two_exchanges(spark, sf_dir):
    """A SQL-mode sketch query reads its input once: the exact stats are
    columns of the bucket aggregate (no stats join), and a collapsing
    store's clamp windows on the group keys, sharing the walk's exchange.
    Shuffles: the bucket aggregate's and the per-group one."""
    import re

    from ddsparkle.config import SketchConfig, logarithmic_collapsing_lowest_dense
    from ddsparkle.spark.agg import cdf_at_values

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    collapsing = logarithmic_collapsing_lowest_dense()
    unbounded = SketchConfig(mapping_kind="log", store_policy="unbounded", max_bins=0)
    assert collapsing.track_exact_stats and unbounded.track_exact_stats
    for res in (
        quantiles(df, "value", qs=(0.5,), config=collapsing, mode="sql"),
        quantiles(df, "value", by="event_type", qs=(0.5,), config=collapsing, mode="sql"),
        cdf_at_values(df, "value", [100.0], config=collapsing, mode="sql"),
        cdf_at_values(df, "value", [100.0], by="event_type", config=unbounded, mode="sql"),
    ):
        plan = plan_of(res)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
        assert "BroadcastExchange" not in plan and "Join" not in plan, plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan


def assert_one_finalize_over_one_exchange(plan: str):
    """A sketch-row finalize: one MapInArrow directly above the plan's only
    Exchange (each operator prints in the tree and in the detail section),
    and no grouped-map Python operator."""
    assert plan.count("+- Exchange") == 1, plan
    assert plan.count("MapInArrow") == 2, plan
    assert plan.index("MapInArrow") < plan.index("+- Exchange"), plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_stored_sketch_finalize_plan_shape(spark, sf_dir, tmp_path):
    """rollup_quantiles and rollup_cdf (global and by key) and
    finalize_from_checkpoint read stored sketch rows and finalize them in
    the same vectorized pass as quantiles(mode='kernel')."""
    from ddsparkle.config import SketchConfig
    from ddsparkle.spark.jobs import finalize_from_checkpoint
    from ddsparkle.spark.rollup import (
        build_rollup,
        read_rollup,
        rollup_cdf,
        rollup_quantiles,
        write_rollup,
    )

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    cfg = SketchConfig(track_exact_stats=False)
    write_rollup(build_rollup(df, "value", by="event_type", config=cfg), str(tmp_path / "roll"))
    roll = read_rollup(spark, str(tmp_path / "roll"))
    build_partial_sketches(df, "value", ["event_type"], cfg).write.parquet(str(tmp_path / "ck"))
    for res in (
        rollup_quantiles(roll, (0.5,)),
        rollup_quantiles(roll, (0.5,), by="event_type"),
        rollup_cdf(roll, [100.0]),
        rollup_cdf(roll, [100.0], by="event_type"),
        finalize_from_checkpoint(spark, str(tmp_path / "ck")),
        finalize_from_checkpoint(spark, str(tmp_path / "ck"), by="event_type"),
    ):
        assert_one_finalize_over_one_exchange(plan_of(res))


def test_kernel_sketch_stages_run_in_arrow(spark, sf_dir, tmp_path):
    """Every kernel sketch-row stage (build, merge, finalize, convert) is a
    MapInArrow: no MapInPandas in the plans of the kernel operators."""
    from ddsparkle.config import SketchConfig
    from ddsparkle.convert import convert_sketch_rows
    from ddsparkle.mapping import CubicallyInterpolatedMapping
    from ddsparkle.spark.agg import cdf_at_values, quantiles_grouping_sets, trimmed_means
    from ddsparkle.spark.jobs import finalize_from_checkpoint
    from ddsparkle.spark.rollup import build_rollup, compact_rollup, rollup_cdf, rollup_quantiles

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    cfg = SketchConfig(track_exact_stats=False)
    roll = build_rollup(df, "value", by="event_type", config=cfg, mode="kernel")
    partials = build_partial_sketches(df, "value", ["event_type"], cfg)
    partials.write.parquet(str(tmp_path / "ck"))
    for res in (
        quantiles(df, "value", by="event_type", qs=(0.5,), mode="kernel"),
        cdf_at_values(df, "value", [100.0], by="event_type", mode="kernel"),
        trimmed_means(df, "value", 0.1, 0.1, by="event_type", mode="kernel"),
        roll,
        compact_rollup(roll, "day"),
        rollup_quantiles(roll, (0.5,), by="event_type"),
        rollup_cdf(roll, [100.0], by="event_type"),
        quantiles_grouping_sets(df, "value", ["event_type"]),
        finalize_from_checkpoint(spark, str(tmp_path / "ck"), by="event_type"),
        convert_sketch_rows(partials, CubicallyInterpolatedMapping.from_relative_accuracy(0.02)),
    ):
        plan = plan_of(res)
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


def test_payload_fold_plan_shape(spark, sf_dir, tmp_path):
    """Every payload-sketch merge is one repartition by key plus one
    MapInPandas (approx._fold_payloads): no grouped-map Python operator, no
    sort, and the fold sits directly above the plan's only Exchange."""
    import re

    from ddsparkle.sketches import HyperLogLog
    from ddsparkle.spark.approx import cms_frequencies, hll_distinct, kll_quantiles
    from ddsparkle.spark.rollup import (
        compact_payload_rollup,
        hll_rollup,
        read_rollup,
        rollup_distinct,
        write_rollup,
    )

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    write_rollup(hll_rollup(df, "user_id", by="event_type", p=12), str(tmp_path / "roll"))
    roll = read_rollup(spark, str(tmp_path / "roll"))
    for res in (
        hll_distinct(df, "user_id", by="event_type"),
        kll_quantiles(df, "value"),
        cms_frequencies(df, "event_type", ["click"]),
        rollup_distinct(roll, by="event_type", p=12),
        compact_payload_rollup(roll, lambda b: HyperLogLog.from_bytes(b, 12, 0)),
    ):
        plan = plan_of(res)
        tree = plan.split("\n\n")[0]
        assert "FlatMapGroupsInPandas" not in plan and "Sort" not in plan, plan
        assert tree.count("Exchange") == 1, plan
        assert re.search(r"\+- MapInPandas \(\d+\)\n\s*\+- Exchange \(", tree), plan


def test_length_projection_stays_jvm_side(spark, sf_dir):
    """length(text) must be computed by Catalyst (in the Project above the
    scan), not inside Python — the Arrow channel carries only the int.
    Asserted on the stage-1 plan: a global quantiles() call finalizes its
    bounded partials driver-side, so the *result* is a local relation and
    the scan plan lives in stage 1."""
    from pyspark.sql import functions as F

    from ddsparkle.transcripts import transcripts_df

    df = transcripts_df(spark, n_convs=10, profile="tiny", seed=1)
    projected = df.select(F.length("text").cast("double").alias("text_len"))
    partials = build_partial_sketches(projected, "text_len")
    plan = plan_of(partials)
    assert "length(text" in plan  # Catalyst expression present JVM-side
    assert "Exchange" not in plan


def test_chunking_plan_fuses_into_scan(spark, sf_dir):
    """chunk_documents must be a scan -> generate -> project chain: zero
    exchanges (it runs fused into the ingest scan at corpus scale) and no
    Python stage anywhere."""
    from ddsparkle.spark.dataops import chunk_documents

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(chunk_documents(df))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "Generate" in plan  # the chunk-index explode


@pytest.fixture(scope="module")
def transcripts_parquet(spark, tmp_path_factory):
    from ddsparkle.transcripts import transcripts_df

    path = str(tmp_path_factory.mktemp("plans") / "tr")
    transcripts_df(spark, n_convs=200, profile="tiny", seed=5).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_sft_pairs_single_window(spark, transcripts_parquet):
    """The SFT pair extraction must stay ONE Window operator (both the
    frame count and the frame join share one collect_list sort) — a second
    Window would mean a second per-conversation sort of the corpus — and
    (r5) the OPERATOR output must carry NO global sort: result ordering is
    the gate's job, so pipeline callers never pay a range exchange they
    didn't ask for. Exactly one exchange total: the window's hash
    partitioning."""
    import re

    from ddsparkle.spark.transcript_ops import sft_pairs

    df = spark.read.parquet(transcripts_parquet)
    plan = plan_of(sft_pairs(df))
    # formatted explain lists each operator once in the tree and once in the
    # detail section — count the numbered detail markers
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "rangepartitioning" not in plan.lower(), plan  # no global sort


def test_contamination_all_joins_broadcast(spark, transcripts_parquet):
    """Eval-set contamination must never shuffle the corpus: every join
    (eval semi-select, train anti-join, digest probe) broadcasts the small
    side; no SortMergeJoin anywhere in the plan."""
    from ddsparkle.spark.transcript_ops import (
        conversation_contamination,
        sample_conversations,
    )

    df = spark.read.parquet(transcripts_parquet)
    eval_ids = sample_conversations(df, k=20, seed=1).select("conv_id").distinct()
    plan = plan_of(conversation_contamination(df, eval_ids))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_tool_latency_null_filter_pushed(spark, transcripts_parquet):
    """The NULL-tool filter must reach the parquet scan so only tool rows
    (~8% of turns) enter the self-join."""
    from ddsparkle.spark.transcript_ops import tool_latency_quantiles

    df = spark.read.parquet(transcripts_parquet)
    plan = plan_of(tool_latency_quantiles(df))
    assert "IsNotNull(tool)" in plan


def test_near_dup_touched_semi_join_broadcasts_at_runtime(spark, sf_dir):
    """The near_duplicates touched-docs semi-join must convert to a runtime
    BroadcastHashJoin under AQE (the static plan prints SMJ because the
    checkpointed candidate RDD has no compile-time stats) — otherwise the
    corpus would shuffle just to find its candidate-touching rows."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.dataops import minhash_lsh_candidates, minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signatures(docs, "text", "doc_id", 64, 3)
    cands = minhash_lsh_candidates(sigs, "doc_id", 16, num_perm=64).localCheckpoint(
        eager=True
    )
    touched = (
        cands.select(F.col("id_a").alias("doc_id"))
        .union(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    semi = docs.join(touched, "doc_id", "left_semi")
    semi.collect()  # the FINAL adaptive plan exists only after execution
    plan = semi._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan


def test_model_quality_scan_pruned_and_filter_pushed(spark, sf_dir):
    """The gate-shaped model-quality pipeline must read ONLY (doc_id, text)
    — mapInPandas pass-through blocks pruning, so the projection must
    happen upstream — and push the NOT NULL text filter into the scan."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.quality_model import model_quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = model_quality_score(
        docs.filter(F.col("text").isNotNull()).select("doc_id", "text")
    )
    plan = plan_of(out)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "IsNotNull(text)" in plan
    # row-local: no keyed shuffle anywhere (the only allowed exchange is
    # _ensure_parallelism's round-robin split of small single-split files,
    # a structural no-op at scale)
    assert "hashpartitioning" not in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_corpus_line_dedup_plan_jvm_side(spark, sf_dir):
    """Cross-doc line dedup must stay entirely JVM-side (no Python stages
    anywhere — the rebuild is a Catalyst HOF, the keying a builtin hash),
    the line explode must fuse into the scan stage (Generate, no exchange
    before it), and the key groupBy must partial-aggregate map-side (a
    partial SortAggregate BEFORE the key exchange — the skew bound: a hot
    boilerplate line is one partial per task, never a buffered partition)."""
    import re

    from ddsparkle.spark.dataops import corpus_line_dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = plan_of(corpus_line_dedup(df, max_df=10))
    assert "Python" not in plan and "BatchEval" not in plan
    assert re.search(r"\(\d+\) Generate\b", plan)  # explode present
    # partial aggregate precedes the key exchange: the detail section lists
    # the partial (child) SortAggregate at a higher operator id than the
    # final one, with an Exchange between them in the tree
    aggs = re.findall(r"\(\d+\) SortAggregate\b", plan)
    assert len(aggs) >= 2, plan  # partial + final == map-side combine exists


def test_assign_shards_no_global_window(spark, sf_dir):
    """The sharding prefix sum must be DISTRIBUTED: the window partitions by
    the hash-top-bits bucket (hashpartitioning exchange), never a
    SinglePartition exchange (the naive global SUM() OVER that would pull
    100 TB through one task); the offset join must broadcast; the whole
    plan stays JVM-side and the scan reads only (doc_id, text)."""
    from ddsparkle.spark.dataops import assign_shards

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(assign_shards(df, target_units=8192))
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(__b" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # no Python stage over DATA — the only Python artifact allowed is the
    # 2^bucket_bits-row driver-local offsets frame (applySchemaToPythonRDD)
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "MapInPandas" not in plan
    assert "ReadSchema" in plan
    sched = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert all(("lang" not in ln and "source" not in ln) for ln in sched), sched


def test_duplicated_spans_plan_jvm_side(spark, sf_dir):
    """Substring dedup must stay entirely JVM-side: the window explode
    fuses into the scan stage (Generate present, no Python anywhere), the
    key groupBy partial-aggregates map-side BEFORE the key exchange (the
    skew bound — a boilerplate window's count is one partial per task),
    the scan reads only (doc_id, text) with the NOT NULL filter pushed,
    and the island window sorts only within doc partitions (no
    SinglePartition exchange)."""
    import re

    from ddsparkle.spark.dataops import duplicated_spans

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = plan_of(duplicated_spans(df, k=8))
    assert "Python" not in plan and "BatchEval" not in plan
    assert re.search(r"\(\d+\) Generate\b", plan), plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "IsNotNull(text)" in plan, plan
    assert "SinglePartition" not in plan, plan
    # map-side combine on the window-key count: partial + final HashAggregate
    # pair around the key exchange
    aggs = re.findall(r"\(\d+\) HashAggregate\b", plan)
    assert len(aggs) >= 2, plan


def test_weighted_sample_broadcasts_ids_no_sortmerge(spark, sf_dir):
    """The k winning ids must come back onto the scan as a BROADCAST join
    (never a SortMergeJoin of the corpus against 200 ids), and the payload
    frame must not pass through a global sort Exchange — the top-k ran on
    the narrow (id, priority) frame at collect time."""
    from ddsparkle.spark.dataops import weighted_sample

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "w", F.length("text").cast("long")
    )
    plan = plan_of(weighted_sample(df, "w", id_col="doc_id", k=50))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_parse_json_fields_scan_fused(spark, sf_dir):
    """JSON field extraction is a pure scan projection: zero Exchange,
    zero Python stages — get_json_object/try_cast live in the same
    whole-stage-codegen span as the scan."""
    from ddsparkle.spark.dataops import parse_json_fields

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = plan_of(parse_json_fields(df, "props", {"k": ("$.k", "long")}))
    assert "Exchange" not in plan
    assert "Python" not in plan and "BatchEval" not in plan
    assert "* Project" in plan  # the codegen star: projection inside WSCG


def test_json_key_profile_map_side_combined(spark, sf_dir):
    """Key profiling: the explode fuses into the scan and the key groupBy
    partial-aggregates map-side (one partial per task per key, skew-proof
    for producer-bounded key sets); exactly one exchange."""
    import re

    from ddsparkle.spark.dataops import json_key_profile

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = plan_of(json_key_profile(df, "props"))
    assert "Python" not in plan and "BatchEval" not in plan
    assert re.search(r"\(\d+\) Generate\b", plan)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate\b", plan)) >= 2  # partial+final


def test_percentile_scores_row_local(spark, sf_dir):
    """The scoring pass is row-local: the returned frame is scan ->
    ArrowEvalPython/MapInPandas with ZERO Exchange (the sketch build ran
    eagerly at call time on its own KB-scale plan; raw rows never
    shuffle)."""
    from ddsparkle.config import SketchConfig
    from ddsparkle.spark.agg import percentile_rank_scores

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    cfg = SketchConfig(mapping_kind="log", relative_accuracy=0.01,
                       store_policy="unbounded", max_bins=0,
                       track_exact_stats=False)
    plan = plan_of(percentile_rank_scores(df, "value", by="event_type", config=cfg))
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_merge_consecutive_turns_single_exchange(spark, transcripts_parquet):
    """Turn-run merging must move text exactly ONCE: one hash-partitioning
    exchange (the repartition by conv_id), the sort local within partitions
    (no rangepartitioning), and no Window operator — run segmentation
    happens in the single mapInPandas pass."""
    import re

    from ddsparkle.spark.transcript_ops import merge_consecutive_turns

    df = spark.read.parquet(transcripts_parquet)
    plan = plan_of(merge_consecutive_turns(df))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Window" not in plan, plan


def test_truncate_to_token_budget_narrow_window(spark, transcripts_parquet):
    """Context truncation must shuffle only (conv_id, turn_idx, n_tokens):
    token counts belong in the scan projection, so the window exchange's
    input schema carries no text column and the scan reads only the three
    source columns it needs."""
    from ddsparkle.spark.transcript_ops import truncate_to_token_budget

    df = spark.read.parquet(transcripts_parquet)
    plan = plan_of(truncate_to_token_budget(df, max_tokens=64))
    # the projection under the exchange is n_tokens, not text: text appears
    # only inside the scan/project detail (size(split(text ..)) expression),
    # never as a shuffled attribute of the Exchange's output schema
    import re

    ex = re.search(r"\(\d+\) Exchange[\s\S]*?Arguments: hashpartitioning\([^\n]*", plan)
    assert ex is not None, plan
    assert "text" not in ex.group(0), ex.group(0)
    assert plan.count("ReadSchema") == 1
    assert "struct<conv_id:string,turn_idx:int,text:string>" in plan, plan


def test_burn_rate_map_side_combined_and_pruned(spark, sf_dir):
    """The per-minute aggregate must be partial+final HashAggregate (a
    minute's million events reach the exchange as one partial per task)
    and the scan must read only (ts, event_type)."""
    import re

    from ddsparkle.spark.dataops import burn_rate_alerts

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = plan_of(burn_rate_alerts(df))
    assert len(re.findall(r"\(\d+\) HashAggregate\b", plan)) >= 2, plan
    assert "struct<ts:timestamp_ntz,event_type:string>" in plan, plan


def test_cohort_retention_distinct_map_side_and_pruned(spark, sf_dir):
    """The (user, bucket) distinct must partial-aggregate map-side and the
    scan must read only (ts, user_id) — retention cost is bounded by
    distinct (user, bucket) pairs, not corpus rows."""
    import re

    from ddsparkle.spark.dataops import cohort_retention

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = plan_of(cohort_retention(df, granularity="week"))
    assert len(re.findall(r"\(\d+\) HashAggregate\b", plan)) >= 2, plan
    assert "user_id" in plan and "event_type" not in plan.split("ReadSchema")[1][:200]


def test_asof_join_no_join_node_one_exchange(spark, sf_dir):
    """asof_join is the union-window pattern: the plan must contain NO
    join operator at all — one hash exchange on the key + one sort feed
    the running-last window."""
    from ddsparkle.spark.dataops import asof_join

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    left = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("us").alias("ts_us")
    )
    right = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("us").alias("view_ts_us"),
        F.col("event_id").alias("view_event_id"),
    )
    plan = plan_of(
        asof_join(left, right, ["user_id"], "ts_us", "view_ts_us", strict=True)
    )
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoop",
                 "CartesianProduct", "ShuffledHashJoin"):
        assert node not in plan, node
    assert "Window" in plan
    # exactly one exchange, and it partitions the union by the key
    import re
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "hashpartitioning(user_id" in plan


def test_range_join_equi_join_no_nested_loop(spark, sf_dir):
    """range_join's binning rewrite must plan as an EQUI join (SortMerge/
    ShuffledHash) on (key, bin) — never BroadcastNestedLoop/cartesian,
    which is what a bare inequality join degenerates to."""
    from ddsparkle.spark.dataops import range_join

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
    )
    iv = e.select(
        "event_type",
        (F.col("day_us") + F.lit(6 * 3600 * 1_000_000)).alias("ws"),
        (F.col("day_us") + F.lit(18 * 3600 * 1_000_000)).alias("we"),
    ).distinct()
    plan = plan_of(
        range_join(
            e.select("event_id", "event_type", "us"), iv,
            "us", "ws", "we", ["event_type"], bin_width=12 * 3600 * 1_000_000,
        )
    )
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_pmi_pairs_band_broadcast_and_single_pair_exchange(spark, sf_dir):
    """pmi_pairs: the in-band vocabulary joins onto the per-doc term
    stream as a BROADCAST (never a SortMerge of the corpus against a
    ~1k-term dim), and no nested-loop node exists anywhere."""
    from ddsparkle.spark.dataops import pmi_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(pmi_pairs(docs, k=10))
    import re
    # the only nested-loop nodes are single-row broadcast crossJoins of
    # the corpus-size frame — every one must be a Cross BuildRight
    bnlj = re.findall(r"BroadcastNestedLoopJoin (\w+ \w+)", plan)
    assert all(b == "Cross BuildRight" for b in bnlj), bnlj
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # band dim broadcasts onto terms


def test_cube_single_expand_and_pivot_single_exchange(spark, sf_dir):
    """dimensional_rollup compiles to exactly ONE Expand feeding one
    (partial+final) aggregate pair — never per-grouping-set scans; a
    HashAggregate with a partial mode node proves map-side combine
    survives the expand. pivot_report with an explicit universe plans
    exactly one shuffle exchange and no values-discovery subquery."""
    from pyspark.sql import functions as F

    from ddsparkle.spark.dataops import dimensional_rollup, pivot_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    plan = plan_of(
        dimensional_rollup(ev, ["event_type", "day"], [F.count(F.lit(1)).alias("n")])
    )
    import re

    assert plan.count("Expand") >= 1
    # one scan NODE, not one per grouping set (formatted explain prints
    # each node twice: tree line + "(n) Scan parquet" detail header)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    piv = pivot_report(
        ev, "day", "event_type", ["click", "view"],
        lambda c: F.count(F.when(c, F.lit(1))),
    )
    pplan = plan_of(piv)
    assert len(re.findall(r"\(\d+\) Exchange", pplan)) == 1, pplan
    assert len(re.findall(r"\(\d+\) Scan parquet", pplan)) == 1


def test_inverted_index_stopword_antijoin_broadcast(spark, sf_dir):
    """inverted_index: the over-limit (stopword) set joins back anti-
    BROADCAST — the plan must contain a BroadcastExchange feeding the
    anti join and no SortMergeJoin LeftAnti of the vocab-sized side."""
    from ddsparkle.spark.dataops import inverted_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(inverted_index(docs, ngram=2, min_df=2, max_postings=40))
    assert "LeftAnti" in plan
    import re
    assert not re.search(r"SortMergeJoin [^\n]*LeftAnti", plan), plan


def test_contamination_fraction_no_docxdoc_join(spark, sf_dir):
    """contamination_fraction joins exploded shingles against a DISTINCT
    reference set — no nested loop / cartesian anywhere, and the corpus
    text column is pruned out after the first projection (only the
    shingle key and id survive into the join)."""
    from ddsparkle.spark.dataops import contamination_fraction

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as F

    plan = plan_of(
        contamination_fraction(
            docs.filter(F.col("source") != "src0"),
            docs.filter(F.col("source") == "src0"),
            shingle_n=8,
        )
    )
    assert "CartesianProduct" not in plan
    import re
    bnlj = re.findall(r"BroadcastNestedLoopJoin (\w+ \w+)", plan)
    assert all(b == "Cross BuildRight" for b in bnlj), bnlj


def test_snowflake_star_join_all_broadcast(spark, sf_dir):
    """revenue_by_nation: the fact table must stream through
    BroadcastHashJoins only — no SortMergeJoin, no cartesian — and the
    only shuffle exchanges are the final aggregation's (count_distinct
    plans partial+final over one hash exchange pair), never a join
    exchange of the fact table."""
    import __spark_entry__ as E

    plan = plan_of(E.q_revenue_by_nation(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    import re
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 5, plan
    # every Exchange is a hashpartitioning for the group-by keys, not a
    # join requirement on the fact side
    for args in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "r_name" in args or "n_name" in args, args


def test_rate_anomaly_one_agg_one_window_pruned_scan(spark, sf_dir):
    """rate_anomaly: the scan projects only (series, ts) — payload columns
    never leave it — one partial+final hash aggregate pair for the bucket
    counts, then ONE window over the bucket frame; no join, no extra
    exchange beyond the aggregate pair + the window's partitioning."""
    import re

    from ddsparkle.spark.dataops import rate_anomaly

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = plan_of(rate_anomaly(df))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"event_type", "ts"}, cols
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan


def test_cusum_windows_share_series_partitioning(spark, sf_dir):
    """cusum_changepoints: the reference join broadcasts (#series rows),
    and every Exchange hashes on the series key or is the aggregate pair —
    the cumulative windows and the order-statistic window reuse ONE
    series-keyed exchange, never a re-shuffle per window."""
    import re

    from ddsparkle.spark.dataops import cusum_changepoints

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = plan_of(cusum_changepoints(df))
    assert "SortMergeJoin" not in plan
    assert re.findall(r"\(\d+\) BroadcastHashJoin", plan), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"event_type", "ts"}, cols
    # exchanges: the bucket-count aggregate pair (x2 branches of the
    # self-consumed frame) — all hashpartitioning args are series/bucket
    for args in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "event_type" in args, args


def test_mann_whitney_window_over_distinct_values_only(spark, sf_dir):
    """mann_whitney_u: the only sort feeding a Window is over the DISTINCT
    value frame (post-aggregate), never the raw rows — the design that
    bounds the single-partition window by outcome cardinality; the final
    statistic is one single-row aggregate."""
    import re

    from pyspark.sql import functions as F

    from ddsparkle.spark.dataops import mann_whitney_u

    df = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("user_id") % 2 == 1).alias("g"),
        F.length("props").alias("v"),
    )
    plan = plan_of(mann_whitney_u(df, "g", "v"))
    # the Window consumes the aggregate's output: exactly one Window node,
    # and the aggregate pair sits below it (HashAggregate before Window in
    # the formatted tree's numbering)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    win_id = int(re.search(r"\((\d+)\) Window\b", plan).group(1))
    agg_ids = [int(x) for x in re.findall(r"\((\d+)\) HashAggregate", plan)]
    assert agg_ids and min(agg_ids) < win_id, plan
    assert "Join" not in plan


def test_chi2_single_global_aggregate_no_shuffle_of_rows(spark, sf_dir):
    """chi2_2x2: one partial+final global aggregate — the only Exchange is
    the SinglePartition gather of the 4-counter partials; raw rows never
    shuffle."""
    import re

    from pyspark.sql import functions as F

    from ddsparkle.spark.dataops import chi2_2x2

    df = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("user_id") % 2 == 1).alias("x"),
        (F.col("event_type") == "purchase").alias("y"),
    )
    plan = plan_of(chi2_2x2(df, "x", "y"))
    ex = re.findall(r"\(\d+\) Exchange", plan)
    assert len(ex) == 1, plan
    assert "SinglePartition" in plan
    assert "Join" not in plan


def test_ks_window_over_distinct_values_only(spark, sf_dir):
    """ks_2sample: same chassis contract as mann_whitney — the two Window
    nodes (CDF frame + totals frame) consume the distinct-value aggregate,
    never raw rows; no join."""
    import re

    from pyspark.sql import functions as F

    from ddsparkle.spark.dataops import ks_2sample

    df = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("user_id") % 2 == 1).alias("g"),
        F.col("value").alias("v"),
    )
    plan = plan_of(ks_2sample(df, "g", "v"))
    win_ids = [int(x) for x in re.findall(r"\((\d+)\) Window\b", plan)]
    assert len(win_ids) == 2, plan
    agg_ids = [int(x) for x in re.findall(r"\((\d+)\) HashAggregate", plan)]
    assert agg_ids and min(agg_ids) < min(win_ids), plan
    assert "Join" not in plan


def test_spearman_broadcast_rank_lookups_no_row_shuffle(spark, sf_dir):
    """spearman_rho: both value->rank lookups must be BroadcastHashJoins
    (rows never shuffle for a join) and no SortMergeJoin exists; the only
    hash exchanges belong to the two distinct-value aggregates."""
    import re

    from pyspark.sql import functions as F

    from ddsparkle.spark.dataops import spearman_rho

    df = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("value").alias("x"),
        (F.col("user_id") % 97).cast("double").alias("y"),
    )
    plan = plan_of(spearman_rho(df, "x", "y"))
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan


def test_bootstrap_constant_size_shuffle_broadcast_final(spark, sf_dir):
    """poisson_bootstrap_ci: the explode(Generate) must sit BELOW the
    first HashAggregate (replicate sums partial-aggregate map-side, so
    only B x groups rows reach the exchange — never B x input rows), the
    exact-stats join must be a BroadcastHashJoin, and no SortMergeJoin
    exists. Hash exchanges: (group, replicate) partials, the window's
    group re-partition, and the exact-stats aggregate."""
    import re

    from ddsparkle.spark.dataops import poisson_bootstrap_ci

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = plan_of(
        poisson_bootstrap_ci(
            df, "value", "event_id", group_cols=["event_type"]
        )
    )
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    # the Generate's output feeds a partial HashAggregate before any
    # exchange: formatted plans list nodes bottom-up per stage, so the
    # first Exchange AFTER the Generate line must come after at least one
    # HashAggregate (map-side combine of the exploded weight rows)
    gen_pos = plan.index(") Generate")
    exch_pos = plan.index(") Exchange", gen_pos)
    assert ") HashAggregate" in plan[gen_pos:exch_pos], plan[
        gen_pos:exch_pos
    ]
    assert len(re.findall(r"hashpartitioning", plan)) == 3, plan


def test_linreg_single_grouped_aggregate(spark, sf_dir):
    """linreg: ONE map-side-combined grouped aggregate — exactly one hash
    exchange, no join, no window; the scan projects only the two
    quantized columns plus the group key."""
    import re

    from ddsparkle.spark.dataops import linreg

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = plan_of(
        linreg(df, "value", "user_id", group_cols=["event_type"])
    )
    assert len(re.findall(r"hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan and "Window" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
