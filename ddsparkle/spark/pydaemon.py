"""PySpark worker daemon that imports pyspark from its installed directory.

``get_spark`` sets this module as ``spark.python.daemon.module``. Spark puts
``pyspark.zip``, the py4j source zip and the spark-core jar ahead of
site-packages on the workers' ``PYTHONPATH``, and every Python task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
which makes each cached ``zipimporter`` re-read its archive's whole directory.
When pyspark and py4j also resolve from a directory without those archives,
this module drops the archives from ``sys.path`` and evicts their importers
before anything imports pyspark; otherwise it leaves ``sys.path`` as it is.

It then imports what every task needs (pandas, pyarrow, pyspark's Arrow
serializers and ``ddsparkle.spark.agg``), collects once and calls
``gc.freeze()`` before ``pyspark.daemon.manager()`` starts forking workers:
the fork pattern the ``gc`` docs describe. ``pyspark.daemon`` runs a full
``gc.collect()`` in a reused worker after every task, and the next task sent
to that worker waits for it. Over an unfrozen heap that collection walks
~74,000 objects (20-84 ms on a 4-core host); the forked workers inherit
those objects in the permanent generation, so it walks only what was made
since the fork (~720 objects in a small ``mapInPandas`` task), and no worker
imports pyspark's SQL and Arrow modules on its first task.

A reused worker waits for its next task inside ``pyspark.worker.main``. When
the JVM closes that idle worker's socket (after a minute idle, and for every
idle worker at ``spark.stop()``), ``main`` reads end-of-stream, writes an
error record to the closed socket and the daemon's final ``flush()`` raises
``BrokenPipeError``, which prints a traceback that reads like a failed task.
Here a worker first peeks at its socket (the bytes stay buffered for
``main``) and exits quietly when it is already closed; a task that starts,
and any error inside it, runs exactly as before.

``python -m`` imports the parent packages first, so ``ddsparkle`` and
``ddsparkle.spark`` must never import pyspark at import time.
"""

import os
import sys
import zipimport
from importlib.machinery import PathFinder


def _is_spark_archive(path: str) -> bool:
    name = os.path.basename(path)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or (name.startswith("spark-core") and name.endswith(".jar"))
    )


def drop_spark_archives() -> None:
    kept = [p for p in sys.path if not _is_spark_archive(p)]
    for name in ("pyspark", "py4j"):
        spec = PathFinder.find_spec(name, kept)
        if spec is None or not os.path.isfile(spec.origin or ""):
            return
    sys.path[:] = kept
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and _is_spark_archive(finder.archive):
            del sys.path_importer_cache[key]


def exit_if_closed(worker_main):
    """Wrap pyspark's worker entry so a worker whose socket is closed before
    a task starts exits without writing to it."""

    def main(infile, outfile):
        if not infile.peek(1):
            os._exit(0)
        return worker_main(infile, outfile)

    return main


if __name__ == "__main__":
    drop_spark_archives()
    import gc

    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    from pyspark import daemon

    import ddsparkle.spark.agg  # noqa: F401

    daemon.worker_main = exit_if_closed(daemon.worker_main)
    gc.collect()
    gc.freeze()
    daemon.manager()
