"""The Python-worker zipimport backport (``polars_iptools_spark._pyworker``):
an unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a rewritten one is, a deleted one does not raise; it is installed in
Spark's Python workers only, never on the driver."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from polars_iptools_spark import _pyworker


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)  # a new inode, as a redeployed archive would have


def test_wrapper_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["pis_zip_mod_a"])
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # restored at teardown, whatever install() puts there
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        _pyworker.install()
        wrapped = zipimport.zipimporter.invalidate_caches
        _pyworker.install()
        assert zipimport.zipimporter.invalidate_caches is wrapped

        assert importlib.import_module("pis_zip_mod_a").NAME == "pis_zip_mod_a"
        importlib.invalidate_caches()  # first wrapped call reads and keys
        n = len(reads)
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == n  # unchanged archive: no re-read

        _write_zip(archive, ["pis_zip_mod_a", "pis_zip_mod_b"])
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        assert importlib.import_module("pis_zip_mod_b").NAME == "pis_zip_mod_b"

        os.remove(archive)
        importlib.invalidate_caches()  # deleted archive: no exception
    finally:
        for name in ("pis_zip_mod_a", "pis_zip_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_installed_in_python_workers_only(spark):
    @F.pandas_udf(StringType())
    def report(s: pd.Series) -> pd.Series:
        import sys
        import zipimport

        import polars_iptools_spark  # noqa: F401

        fn = zipimport.zipimporter.invalidate_caches
        state = f"{sys.version_info < (3, 13)}:{getattr(fn, '_pis_stat_keyed', False)}"
        return pd.Series([state] * len(s))

    got = {
        r.state
        for r in spark.range(0, 64, 1, 4).select(report("id").alias("state")).collect()
    }
    assert got in ({"True:True"}, {"False:False"})
    assert not getattr(zipimport.zipimporter.invalidate_caches, "_pis_stat_keyed", False)
