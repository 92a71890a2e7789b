"""Session factory: Python workers import pyspark from the same directory
install as the driver, not from Spark's zip archives, and fork from a frozen
heap (``ddsparkle.spark.pydaemon``); local masters talk to them over Unix
sockets in a private directory; shuffle partitions follow the master's
cores."""

import json
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark
import pytest

from ddsparkle.spark.pydaemon import drop_spark_archives
from ddsparkle.spark.session import local_cores

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.spark
def test_workers_import_the_drivers_pyspark(spark):
    """Every task calls importlib.invalidate_caches(); with no zip importer
    left in the worker, that call re-reads no archive."""

    def probe(batches):
        # defined here, not at module level: the worker cannot import this file
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"file": [pyspark.__file__], "zipimporters": [n]})

    rows = spark.range(8, numPartitions=4).mapInPandas(
        probe, "file string, zipimporters long"
    ).collect()
    assert {(r["file"], r["zipimporters"]) for r in rows} == {(pyspark.__file__, 0)}


def test_library_import_leaves_pyspark_unloaded():
    """``python -m ddsparkle.spark.pydaemon`` imports the parent packages
    before it trims sys.path, so they must not import pyspark."""
    code = "import sys, ddsparkle.spark; assert 'pyspark' not in sys.modules"
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)


def test_drop_spark_archives_only_when_a_directory_install_remains(tmp_path, monkeypatch):
    archives = []
    for name, pkg in (("pyspark.zip", "pyspark"), ("py4j-0.10-src.zip", "py4j")):
        path = str(tmp_path / name)
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
        archives.append(path)
    site = list(sys.path)
    # (path before, path after): the archives go only while pyspark and py4j
    # still resolve from a directory; a zip-only install keeps them
    for before, after in ((archives + site, site), (archives, archives)):
        monkeypatch.setattr(sys, "path", list(before))
        monkeypatch.setattr(
            sys, "path_importer_cache", {a: zipimport.zipimporter(a) for a in archives}
        )
        drop_spark_archives()
        assert sys.path == after
        kept = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        assert len(kept) == (0 if after == site else len(archives))


@pytest.mark.parametrize(
    "master, cores",
    [
        ("local", 1),
        ("local[3]", 3),
        ("local[3,2]", 3),
        ("local[3 , 2]", 3),
        ("local[*]", os.cpu_count()),
        ("local[*,4]", os.cpu_count()),
        ("local-cluster[2,3,1024]", 6),
        ("spark://host:7077", None),
        ("yarn", None),
        ("local[x]", None),
        ("localhost", None),
    ],
)
def test_local_cores(master, cores):
    assert local_cores(master) == cores


@pytest.mark.spark
def test_workers_use_unix_sockets_and_a_frozen_heap(spark):
    """A reused worker talks to the JVM over a Unix socket and inherits the
    daemon's frozen heap, so pyspark.daemon's per-task ``gc.collect()``
    walks only what the worker made since the fork."""
    from ddsparkle.spark.agg import quantiles

    df = spark.createDataFrame([(i % 4, float(i)) for i in range(64)], "k long, v double")
    quantiles(df.repartition(4), "v", by="k", mode="kernel").collect()

    def probe(batches):
        import gc
        import os

        for _ in batches:
            pass
        yield pd.DataFrame({
            "uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")],
            "frozen": [gc.get_freeze_count()],
            "tracked": [len(gc.get_objects())],
        })

    rows = spark.range(8, numPartitions=4).mapInPandas(
        probe, "uds string, frozen long, tracked long"
    ).collect()
    assert {r["uds"].lower() for r in rows} == {"true"}
    assert min(r["frozen"] for r in rows) > 0
    assert max(r["tracked"] for r in rows) < 5000


def test_socket_dir_is_private_short_and_removed(tmp_path):
    """A session whose temp dirs are too long for an AF_UNIX path still runs
    a Python task: its sockets live in a private /tmp directory that is
    gone once the driver exits."""
    long_tmp = tmp_path / ("t" * max(1, 86 - len(str(tmp_path))))
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 86
    code = f"""
import json, os, stat
from ddsparkle.spark.session import get_spark

spark = get_spark(master="local[1]", extra_conf={{
    "spark.ui.enabled": "false",
    "spark.driver.memory": "1g",
    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir={long_tmp}",
}})
d = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
n = spark.range(1).mapInPandas(lambda it: (b for b in it), "id long").count()
print(json.dumps({{"dir": d, "mode": stat.S_IMODE(os.stat(d).st_mode), "rows": n}}))
"""
    env = {**os.environ, "TMPDIR": str(long_tmp)}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env, check=True,
        capture_output=True, text=True, timeout=300,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["rows"] == 1
    assert got["mode"] == 0o700
    assert len(got["dir"]) + len("/.00000000-0000-0000-0000-000000000000.sock") <= 107
    assert not os.path.exists(got["dir"])


def test_idle_worker_exits_quietly_when_its_socket_closes():
    """A worker whose socket the JVM closes before a task starts (every idle
    reused worker at ``spark.stop()``) exits without writing to it: no
    ``BrokenPipeError`` traceback on the daemon's stderr. The daemon is
    driven the way the JVM drives it, over a Unix socket, with no JVM."""
    import socket
    import struct
    import tempfile
    import time

    sock_dir = tempfile.mkdtemp(prefix="ddsp-test-", dir="/tmp")
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYTHON_UNIX_DOMAIN_ENABLED": "true",
        "PYTHON_WORKER_FACTORY_SOCK_DIR": sock_dir,
        "SPARK_REUSE_WORKER": "1",
        "PYTHON_DAEMON_KILL_WORKER_ON_FLUSH_FAILURE": "true",
    }
    daemon = subprocess.Popen(
        [sys.executable, "-m", "ddsparkle.spark.pydaemon"], cwd=ROOT, env=env,
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    try:
        (n,) = struct.unpack("!i", daemon.stdout.read(4))
        path = daemon.stdout.read(n).decode()
        with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as s:
            s.connect(path)
            (pid,) = struct.unpack("!i", s.recv(4, socket.MSG_WAITALL))
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            pytest.fail(f"worker {pid} still running after its socket closed")
        # communicate() closes stdin, the JVM's stop: the daemon then exits
        _, err = daemon.communicate(timeout=30)
    finally:
        if daemon.poll() is None:
            daemon.kill()
            daemon.communicate()
        shutil.rmtree(sock_dir, ignore_errors=True)
    assert b"BrokenPipeError" not in err, err.decode(errors="replace")
    assert b"Traceback" not in err, err.decode(errors="replace")


def test_spark_stop_prints_no_broken_pipe_and_udf_errors_still_fail():
    """Kernel quantiles leave idle reused workers behind. The JVM closes the
    socket of a worker idle for over a minute (its reaper checks every 10 s)
    and of every idle worker at ``spark.stop()``; neither may print a
    traceback. A UDF that raises still fails its query with the Python
    error."""
    code = """
import json
import time
from ddsparkle.spark.agg import quantiles
from ddsparkle.spark.session import get_spark

spark = get_spark(master="local[4]", shuffle_partitions=8, extra_conf={
    "spark.ui.enabled": "false", "spark.driver.memory": "1g"})
spark.sparkContext.setLogLevel("ERROR")
df = spark.range(20000).selectExpr("id % 7 AS k", "CAST(id AS DOUBLE) + 1.0 AS v").repartition(8)
for _ in range(3):
    quantiles(df, "v", by="k", qs=[0.5], mode="kernel").collect()
    quantiles(df, "v", qs=[0.5], mode="kernel").collect()
time.sleep(75)  # the JVM reaps the idle workers: no race with spark.stop()

def boom(batches):
    for _ in batches:
        raise ValueError("udf-raised-on-purpose")
    yield from ()

try:
    spark.range(8, numPartitions=2).mapInPandas(boom, "id long").collect()
    error = None
except Exception as exc:
    error = f"{type(exc).__name__}: {exc}"
spark.stop()
print(json.dumps({"error": error}))
"""
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, check=True,
        capture_output=True, text=True, timeout=600,
    )
    error = json.loads(p.stdout.strip().splitlines()[-1])["error"]
    assert error is not None and "udf-raised-on-purpose" in error
    assert "ValueError" in error
    assert "BrokenPipeError" not in p.stderr, p.stderr[-3000:]
