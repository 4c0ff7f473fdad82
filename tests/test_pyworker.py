"""The engine's Python worker daemon (``pyworker``): zip importers of
Spark's installation archives keep their directory index across tasks,
while files added at run time stay importable."""

from __future__ import annotations

import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from auto_trade_data_pipeline_spark import pyworker
from auto_trade_data_pipeline_spark.session import _PACKAGE_PARENT


@pytest.fixture
def import_state():
    """Restore the interpreter's import hooks and importer cache."""
    hooks, cache = list(sys.path_hooks), dict(sys.path_importer_cache)
    yield
    sys.path_hooks[:] = hooks
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)


def _zip(path, name: str = "m.py") -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(name, "X = 1\n")
    return str(path)


def test_hook_keeps_spark_home_archives_in_both_path_forms(tmp_path, import_state):
    tmp = tmp_path.resolve()
    real = tmp / "spark-4.1.2-bin"
    home = tmp / "spark"
    inside = _zip(real / "python" / "lib" / "a.zip")
    other = _zip(tmp / "user" / "b.zip")
    home.symlink_to(real)
    as_given = os.path.join(str(home), "python", "lib", "a.zip")
    # An importer cached before install, as the daemon's own imports leave.
    sys.path_importer_cache[as_given] = zipimport.zipimporter(as_given)

    pyworker.install(str(home))

    assert type(sys.path_importer_cache[as_given]) is pyworker.SparkArchiveImporter
    assert zipimport.zipimporter not in sys.path_hooks
    hook = sys.path_hooks[0]
    assert type(hook(as_given)) is pyworker.SparkArchiveImporter
    assert type(hook(inside)) is pyworker.SparkArchiveImporter
    assert type(hook(as_given + "/pkg")) is pyworker.SparkArchiveImporter
    assert type(hook(other)) is zipimport.zipimporter
    with pytest.raises(zipimport.ZipImportError):
        hook(str(real / "python"))  # a directory is left to the next hook


def test_kept_importer_skips_the_reread(tmp_path):
    path = _zip(tmp_path / "a.zip")
    kept = pyworker.SparkArchiveImporter(path)
    _zip(tmp_path / "a.zip", name="added.py")  # rewritten in place
    kept.invalidate_caches()
    assert kept.find_spec("added") is None
    stock = zipimport.zipimporter(path)
    stock.invalidate_caches()
    assert stock.find_spec("added") is not None


def test_without_spark_home_nothing_changes(import_state):
    hooks, cache = list(sys.path_hooks), dict(sys.path_importer_cache)
    pyworker.install(None)
    pyworker.install("")
    assert sys.path_hooks == hooks
    assert sys.path_importer_cache == cache


def test_session_puts_the_package_on_the_worker_path(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == pyworker.__name__
    path = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert _PACKAGE_PARENT in path


def test_worker_importers_of_spark_archives_are_kept(spark):
    def _archive_importers(pdf: pd.DataFrame) -> pd.DataFrame:
        import sys

        rows = [
            (p, type(f).__name__)
            for p, f in sys.path_importer_cache.items()
            if "pyspark.zip" in p or "spark-core_" in p
        ]
        return pd.DataFrame(rows, columns=["path", "importer"])

    out = (
        spark.range(1)
        .groupBy("id")
        .applyInPandas(_archive_importers, "path string, importer string")
        .toPandas()
    )
    assert out["path"].str.contains("pyspark.zip").any()
    assert out["path"].str.contains("spark-core_").any()
    assert set(out["importer"]) == {pyworker.SparkArchiveImporter.__name__}


def test_files_added_after_warm_workers_import(spark, tmp_path):
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    zmod, pymod = f"late_zip_{tag}", f"late_py_{tag}"

    def load(pdf: pd.DataFrame) -> pd.DataFrame:
        import importlib

        vals = [importlib.import_module(m).VALUE for m in (zmod, pymod)]
        return pd.DataFrame({"v": vals})

    def warm(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf

    df = spark.range(2).repartition(1)
    df.groupBy("id").applyInPandas(warm, "id long").collect()

    zpath = tmp_path / f"{zmod}.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(f"{zmod}.py", "VALUE = 'zip'\n")
    ppath = tmp_path / f"{pymod}.py"
    ppath.write_text("VALUE = 'py'\n")
    sc.addPyFile(str(zpath))
    sc.addPyFile(str(ppath))

    got = spark.range(1).groupBy("id").applyInPandas(load, "v string").toPandas()
    assert sorted(got["v"]) == ["py", "zip"]
