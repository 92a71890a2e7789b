"""PySpark worker daemon that imports pyspark from its installed directory.

``get_spark`` sets this module as ``spark.python.daemon.module``. Spark puts
``pyspark.zip``, the py4j source zip and the spark-core jar ahead of
site-packages on the workers' ``PYTHONPATH``, and every Python task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
which makes each cached ``zipimporter`` re-read its archive's whole directory.
When pyspark and py4j also resolve from a directory without those archives,
this module drops the archives from ``sys.path`` and evicts their importers
before anything imports pyspark; otherwise it leaves ``sys.path`` as it is.

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


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark import daemon

    daemon.manager()
