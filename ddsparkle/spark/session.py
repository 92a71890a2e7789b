"""SparkSession factory tuned for the sketch workload.

Arrow is the JVM<->Python boundary for every pandas UDF stage, so batch size
and self-destruct matter; shuffle partitions default to a multiple of cores
(sketch rows are tiny — the shuffle is never the bottleneck, but the build
stage parallelism is).

Python workers start from ``ddsparkle.spark.pydaemon`` rather than
``pyspark.daemon``. Spark puts ``pyspark.zip``, the py4j zip and the
spark-core jar first on the workers' path, and every Python task calls
``importlib.invalidate_caches()``, which makes each of the worker's 16 cached
zip importers re-read its archive's whole directory: 0.23 s per task on a
4-core host, against 0.15 ms once the workers import the directory-installed
pyspark the driver uses. A trivial 64-row ``mapInPandas`` on ``local[4]``
went from 1.2-1.3 s to 0.42 s with 16 tasks, and from 0.46-0.54 s to
0.20 s with 4. The daemon is set only for local masters (workers share the
driver's environment) whose driver imported pyspark from a directory, and
``extra_conf`` can override it like any other setting.
"""

from __future__ import annotations

import os

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "ddsparkle",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1 << 16,
    extra_conf: dict | None = None,
):
    from pyspark.sql import SparkSession

    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        cpus = os.cpu_count() or 8
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            if inner.isdigit():
                cpus = int(inner)
        shuffle_partitions = max(2 * cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # pin the session tz: TIMESTAMP_NTZ casts and epoch arithmetic must
        # not depend on the host's zone (the DuckDB oracles compute naive
        # timestamps as UTC)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.worker.reuse", "true")
    )
    import pyspark

    if master.startswith("local") and os.path.isfile(pyspark.__file__):
        builder = builder.config("spark.python.daemon.module", "ddsparkle.spark.pydaemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
