"""Batch jobs: checkpointed, resumable sketch builds with per-partition
lineage (north_rule: "resumable from checkpoint with per-partition lineage +
metrics").

Checkpoint design — file-granular, not task-granular: the unit of lineage is
the *source file* (``input_file_name()``), which is stable across Spark
versions, partitioning configs, and cluster sizes, unlike task/partition ids.
(Under Iceberg the natural unit is the snapshot's data-file list; same code
path, with the snapshot id mixed into the checkpoint key.)

Protocol:
1. enumerate source files; subtract files already present in the checkpoint
   table; read ONLY the remaining files (pushdown: nothing is scanned twice);
2. stage-1 build keyed by (source file x group key): one sketch row per file
   per group, written (append) to the checkpoint parquet with lineage columns
   (file, rows ingested, bin count, encoded size, build duration);
3. finalize: merge all checkpoint sketch rows per group -> quantiles.

Killing the job between 2 and 3 loses nothing; a rerun processes only missing
files and produces an identical final sketch (merge order-independence is
guaranteed by the store algebra; see tests/test_jobs.py).

Run via spark-submit:
    spark-submit --py-files ddsparkle.zip -m ddsparkle.spark.jobs ... or
    python -m ddsparkle.spark.jobs --source '/data/*.parquet' \
        --value-expr 'cast(length(text) as double)' --by role \
        --checkpoint /ckpt/textlen --output /out/textlen
"""

from __future__ import annotations

import argparse
import json
import os
import time
from typing import Optional, Sequence

from ..config import SketchConfig
from .agg import build_partial_sketches, finalize_sketch_rows, quantile_column_name

__all__ = ["build_with_checkpoint", "finalize_from_checkpoint", "run_job"]

_FILE_COL = "__source_file"


def _source_files(spark, source: str) -> list[str]:
    df = spark.read.parquet(source)
    return sorted(
        r[0] for r in df.select(_input_file()).distinct().collect()
    )


def _input_file():
    from pyspark.sql import functions as F

    return F.input_file_name()


def _completed_files(spark, checkpoint: str) -> set[str]:
    try:
        ck = spark.read.parquet(checkpoint)
    except Exception:
        return set()
    return {r[0] for r in ck.select(_FILE_COL).distinct().collect()}


def build_with_checkpoint(
    spark,
    source: str,
    value_expr: str,
    checkpoint: str,
    by: Sequence[str] | str | None = None,
    config: Optional[SketchConfig] = None,
    weight_expr: Optional[str] = None,
) -> dict:
    """Incremental stage-1: sketch every not-yet-checkpointed source file.

    Returns a metrics dict. Idempotent: rerunning after completion is a no-op.
    """
    from pyspark.sql import functions as F

    config = config or SketchConfig()
    keys = [by] if isinstance(by, str) else list(by or [])

    all_files = _source_files(spark, source)
    done = _completed_files(spark, checkpoint)
    todo = [f for f in all_files if f not in done]
    t0 = time.perf_counter()
    if todo:
        df = spark.read.parquet(*todo).withColumn(_FILE_COL, _input_file())
        projected = df.select(
            F.col(_FILE_COL),
            *[F.col(k) for k in keys],
            F.expr(value_expr).cast("double").alias("__value"),
            *([F.expr(weight_expr).cast("double").alias("__weight")] if weight_expr else []),
        )
        partials = build_partial_sketches(
            projected,
            "__value",
            key_cols=[_FILE_COL, *keys],
            config=config,
            weight_col="__weight" if weight_expr else None,
        )
        # lineage_rows: exact stat_count when tracked; otherwise the bucket
        # mass (zero_count + both stores' count sums) — identical to the row
        # count for unweighted builds, total ingested weight for weighted ones
        bucket_mass = (
            F.col("zero_count")
            + F.aggregate("neg_cnt", F.lit(0.0), lambda a, x: a + x)
            + F.aggregate("pos_cnt", F.lit(0.0), lambda a, x: a + x)
        )
        lineage = partials.withColumn(
            "lineage_bins",
            F.size("pos_idx") + F.size("neg_idx"),
        ).withColumn(
            "lineage_rows",
            F.when(F.col("has_exact"), F.col("stat_count")).otherwise(bucket_mass),
        ).withColumn(
            "lineage_bytes",
            (F.size("pos_idx") + F.size("neg_idx")) * 16 + F.lit(64),
        )
        lineage.write.mode("append").parquet(checkpoint)
    build_sec = time.perf_counter() - t0

    ck = spark.read.parquet(checkpoint)
    metrics = {
        "source_files": len(all_files),
        "files_already_done": len(done),
        "files_processed": len(todo),
        "build_sec": round(build_sec, 3),
        "checkpoint_rows": ck.count(),
        "rows_ingested": ck.agg(F.sum("lineage_rows")).collect()[0][0],
        "total_sketch_bytes": ck.agg(F.sum("lineage_bytes")).collect()[0][0],
    }
    return metrics


def finalize_from_checkpoint(
    spark,
    checkpoint: str,
    by: Sequence[str] | str | None = None,
    qs: Sequence[float] = (0.5, 0.95, 0.99),
):
    """Merge all checkpointed sketch rows per group -> quantiles DataFrame
    (same output contract as agg.quantiles via the shared finalize)."""
    keys = [by] if isinstance(by, str) else list(by or [])
    ck = spark.read.parquet(checkpoint)
    q_names = [quantile_column_name(q) for q in qs]
    return finalize_sketch_rows(ck, keys, qs, q_names)


def run_job(args) -> dict:
    from .session import get_spark

    spark = get_spark("ddsparkle-job")
    spark.sparkContext.setLogLevel("WARN")
    cfg = SketchConfig(
        mapping_kind=args.mapping,
        relative_accuracy=args.alpha,
        store_policy=args.store,
        max_bins=args.max_bins,
    )
    metrics = build_with_checkpoint(
        spark,
        args.source,
        args.value_expr,
        args.checkpoint,
        by=args.by,
        config=cfg,
        weight_expr=args.weight_expr,
    )
    result = finalize_from_checkpoint(
        spark, args.checkpoint, by=args.by, qs=[float(q) for q in args.quantiles.split(",")]
    )
    result.write.mode("overwrite").parquet(args.output)
    metrics["result_rows"] = spark.read.parquet(args.output).count()
    if args.metrics:
        os.makedirs(os.path.dirname(args.metrics) or ".", exist_ok=True)
        with open(args.metrics, "w") as f:
            json.dump(metrics, f, indent=2)
    print(json.dumps(metrics))
    return metrics


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="checkpointed DDSketch quantile build")
    p.add_argument("--source", required=True, help="parquet path/glob")
    p.add_argument("--value-expr", required=True, help="SQL expression for the value")
    p.add_argument("--weight-expr", default=None)
    p.add_argument("--by", default=None, help="group-by column")
    p.add_argument("--alpha", type=float, default=0.01)
    p.add_argument("--mapping", default="cubic", choices=["log", "lin", "quad", "cubic", "quartic"])
    p.add_argument("--store", default="collapsing_lowest")
    p.add_argument("--max-bins", type=int, default=2048)
    p.add_argument("--quantiles", default="0.5,0.95,0.99")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--metrics", default=None)
    return p


if __name__ == "__main__":
    run_job(_parser().parse_args())
