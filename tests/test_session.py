"""Session factory: Python workers import pyspark from the same directory
install as the driver, not from Spark's zip archives
(``ddsparkle.spark.pydaemon``)."""

import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark
import pytest

from ddsparkle.spark.pydaemon import drop_spark_archives

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
