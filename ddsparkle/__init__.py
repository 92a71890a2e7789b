"""ddsparkle — a PySpark-native distributed sketch / approximate-aggregation
library with the capabilities of DataDog/sketches-java (DDSketch).

Layers:
- ``ddsparkle.mapping`` / ``ddsparkle.store`` / ``ddsparkle.sketch`` — the
  NumPy-vectorized sketch kernel (index mappings, bucket stores, DDSketch);
- ``ddsparkle.serde`` — sketch <-> Spark-struct-row and binary codecs;
- ``ddsparkle.spark`` — mergeable UDAF layer over DataFrames
  (mapInArrow partial build, vectorized mapInArrow merge + quantile
  finalize) plus the transcript-analytics queries;
- ``ddsparkle.sketches`` — the broader mergeable-sketch family (HLL,
  count-min, Bloom, ...) reusing the same aggregation chassis;
- ``ddsparkle.transcripts`` — deterministic synthetic transcript tables.
"""

from .config import (
    SketchConfig,
    collapsing_highest_dense,
    collapsing_lowest_dense,
    logarithmic_collapsing_highest_dense,
    logarithmic_collapsing_lowest_dense,
    logarithmic_unbounded_dense,
    sparse,
    unbounded_dense,
)
from .mapping import (
    CubicallyInterpolatedMapping,
    IndexMapping,
    LinearlyInterpolatedMapping,
    LogarithmicMapping,
    QuadraticallyInterpolatedMapping,
    QuarticallyInterpolatedMapping,
)
from .sketch import DDSketch, ExactSummaryStatistics, sketch_of
from .store import BucketStore

__version__ = "0.1.0"

__all__ = [
    "SketchConfig",
    "DDSketch",
    "ExactSummaryStatistics",
    "BucketStore",
    "IndexMapping",
    "LogarithmicMapping",
    "LinearlyInterpolatedMapping",
    "QuadraticallyInterpolatedMapping",
    "CubicallyInterpolatedMapping",
    "QuarticallyInterpolatedMapping",
    "sketch_of",
    "unbounded_dense",
    "collapsing_lowest_dense",
    "collapsing_highest_dense",
    "sparse",
    "logarithmic_unbounded_dense",
    "logarithmic_collapsing_lowest_dense",
    "logarithmic_collapsing_highest_dense",
]
