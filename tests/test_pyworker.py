"""Python-worker daemon (tstoken._pyworker): engine workers import
pyspark from the installed package, not Spark's archives, and the
archive filter keeps the archives whenever the installed packages
cannot replace them."""

import os
import zipfile

import pandas as pd
import pytest

from tstoken._pyworker import probe, without_archives

SPARK = ["/usr/local/spark/python/lib/pyspark.zip",
         "/usr/local/spark/python/lib/py4j-0.10.9.9-src.zip",
         "/usr/local/spark/jars/spark-core_2.13-4.1.2.jar"]
OTHER = ["/tmp/spark-1/userFiles-2", "/repo/src", "/usr/lib/python311.zip",
         "/usr/lib/python3.11/site-packages", "/data/deps.zip"]
PATH = OTHER[:2] + SPARK + OTHER[2:]


def test_drops_only_sparks_archives():
    assert without_archives(PATH, "4.1.2", "4.1.2", True) == OTHER


@pytest.mark.parametrize("installed, shipped, has_py4j", [
    (None, "4.1.2", True),      # no installed pyspark
    ("4.1.1", "4.1.2", True),   # installed version differs
    ("4.1.2", "4.1.2", False),  # py4j missing
    ("4.1.2", None, True),      # no pyspark.zip to compare with
])
def test_keeps_archives_unless_installed_packages_replace_them(
        installed, shipped, has_py4j):
    assert without_archives(PATH, installed, shipped, has_py4j) == PATH


def test_probe_reads_versions_without_importing(tmp_path):
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("raise ImportError\n")
    (site / "pyspark" / "version.py").write_text("__version__: str = '9.9'\n")
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/version.py", "__version__ = \"9.8\"\n")
    path = [str(archive), str(site)]
    assert probe(path) == ("9.9", "9.8", False)
    (site / "py4j").mkdir()
    (site / "py4j" / "__init__.py").write_text("")
    assert probe(path) == ("9.9", "9.8", True)


def test_engine_workers_hold_no_zipimporter(spark):
    def fn(batches):
        import sys
        import zipimport

        import pyspark
        for _ in batches:
            pass
        yield pd.DataFrame({
            "zipimporters": [sum(isinstance(v, zipimport.zipimporter)
                                 for v in sys.path_importer_cache.values())],
            "pyspark_file": [pyspark.__file__]})

    rows = spark.range(4).repartition(2).mapInPandas(
        fn, "zipimporters long, pyspark_file string").collect()
    assert rows
    for r in rows:
        assert r.zipimporters == 0, r
        assert os.path.isfile(r.pyspark_file), r  # not inside an archive
