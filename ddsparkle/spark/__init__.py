"""Spark layer: mergeable sketch aggregation over DataFrames.

The aggregation protocol (SURVEY.md section 3.4) is a hand-built
partial-aggregate pipeline, because grouped-map ``applyInPandas`` alone would
shuffle raw rows (Catalyst's partial aggregation does not apply to
grouped-map pandas UDFs):

1. stage 1 — ``mapInArrow`` over the scan partitions builds one sketch per
   (task, group key): only *sketch rows* (a few KB each) ever shuffle;
2. stage 2 — ``repartition(keys)`` plus one ``mapInArrow`` merges the
   sketch rows and finalizes quantiles for every key of a partition in one
   vectorized pass;
3. a global aggregation folds its partial rows on the driver, after an
   intermediate tree-merge stage when there are more than ~fan-in of them.
"""

from .agg import (
    build_partial_sketches,
    cdf_at_values,
    merge_partials_to_sketch_rows,
    quantile_column_name,
    quantiles,
    quantiles_multi,
)
from .rollup import (
    build_payload_rollup,
    build_rollup,
    compact_payload_rollup,
    compact_rollup,
    hll_rollup,
    read_rollup,
    rollup_cdf,
    rollup_distinct,
    rollup_quantiles,
    stream_to_rollup,
    write_rollup,
)
from .session import get_spark

__all__ = [
    "quantiles",
    "quantiles_multi",
    "cdf_at_values",
    "build_partial_sketches",
    "merge_partials_to_sketch_rows",
    "quantile_column_name",
    "build_rollup",
    "write_rollup",
    "read_rollup",
    "rollup_quantiles",
    "rollup_cdf",
    "rollup_distinct",
    "compact_rollup",
    "compact_payload_rollup",
    "build_payload_rollup",
    "hll_rollup",
    "stream_to_rollup",
    "get_spark",
]
