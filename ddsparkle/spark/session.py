"""SparkSession factory tuned for the sketch workload.

Arrow is the JVM<->Python boundary for every pandas UDF stage, so batch size
and self-destruct matter; shuffle partitions default to twice the master's
worker threads (``local_cores``; sketch rows are tiny — the shuffle is never
the bottleneck, but the build stage parallelism is).

Local masters (workers share the driver's host and environment) also take
three settings off the fixed cost of every Python task; ``extra_conf`` can
override each like any other setting.

- Python workers start from ``ddsparkle.spark.pydaemon`` rather than
  ``pyspark.daemon``. Spark puts ``pyspark.zip``, the py4j zip and the
  spark-core jar first on the workers' path, and every Python task calls
  ``importlib.invalidate_caches()``, which makes each of the worker's 16
  cached zip importers re-read its archive's whole directory: 0.23 s per task
  on a 4-core host, against 0.15 ms once the workers import the
  directory-installed pyspark the driver uses. A trivial 64-row
  ``mapInPandas`` on ``local[4]`` went from 1.2-1.3 s to 0.42 s with 16
  tasks, and from 0.46-0.54 s to 0.20 s with 4. The daemon is set only when
  the driver imported pyspark from a directory. It also freezes the worker
  heap before it forks (see its docstring).
- Worker I/O, ``collect()`` and the accumulator server use Unix domain
  sockets (``spark.python.unix.domain.socket.enabled``). Over loopback TCP
  the JVM never sets ``TCP_NODELAY``, so Nagle's algorithm on the JVM side
  meets delayed ACK on the Python side: from UDF entry to the end of a small
  task's input took a median 43 ms over TCP and 4.5 ms over a Unix socket
  (``local[4]``, 4-core host).
- The sockets live in a fresh ``/tmp/ddsp-*`` directory made by
  ``mkdtemp`` (mode 0700) and removed at interpreter exit; Spark does not
  always delete its socket files. In this mode pyspark's daemon skips the
  per-connection auth secret, so the directory's mode is the only access
  control and it must never be a shared directory. It is short on purpose:
  an ``AF_UNIX`` path holds at most 107 bytes and the ``/.<uuid4>.sock``
  name takes 43 of them, while Spark's default, ``java.io.tmpdir``, can be
  as long as the caller likes.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

__all__ = ["get_spark", "local_cores"]

_LOCAL = re.compile(r"local(?:\[(\*|\d+)(?:\s*,\s*\d+)?\])?")
_LOCAL_CLUSTER = re.compile(r"local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*\d+\s*\]")


def local_cores(master: str) -> int | None:
    """Worker threads of a local master, or None for any other master.

    ``local`` runs one thread, ``local[N]`` and ``local[N,F]`` (F task
    failures allowed) run N, ``local[*]`` one per core, and
    ``local-cluster[W,C,M]`` W workers of C cores each.
    """
    m = _LOCAL.fullmatch(master)
    if m:
        n = m.group(1) or "1"
        return (os.cpu_count() or 1) if n == "*" else int(n)
    m = _LOCAL_CLUSTER.fullmatch(master)
    if m:
        return int(m.group(1)) * int(m.group(2))
    return None


def _private_socket_dir() -> str:
    path = tempfile.mkdtemp(prefix="ddsp-", dir="/tmp")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


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
    cores = local_cores(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * (cores or os.cpu_count() or 8), 8)

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

    if cores is not None:
        if os.path.isfile(pyspark.__file__):
            builder = builder.config("spark.python.daemon.module", "ddsparkle.spark.pydaemon")
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true")
        builder = builder.config("spark.python.unix.domain.socket.dir", _private_socket_dir())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
