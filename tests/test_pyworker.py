"""schema_fantasy_spark.pyworker: the zipimport re-read backport that
Spark Python workers install."""

import importlib
import os
import sys
import zipfile
import zipimport

import pyspark.sql.functions as F

from schema_fantasy_spark import pyworker


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a new inode, as a rewrite by a copy would make


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "lane.zip")
    _write_zip(archive, {"sfs_zip_mod_a": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker._invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    for name in ("sfs_zip_mod_a", "sfs_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("sfs_zip_mod_a").X == 1

    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1

    _write_zip(archive, {"sfs_zip_mod_a": "X = 1\n", "sfs_zip_mod_b": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("sfs_zip_mod_b").Y == 2


def test_install_patches_workers_only(spark):
    """install() leaves the driver alone and patches a Spark Python
    worker (below Python 3.13, where the re-read is still eager)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is not pyworker._invalidate_caches

    @pandas_udf("string", PandasUDFType.SCALAR)
    def patched_by(s):
        pyworker.install()
        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

    got = spark.range(1).select(patched_by(F.col("id").cast("string"))).first()[0]
    want = "schema_fantasy_spark.pyworker" if sys.version_info < (3, 13) else "zipimport"
    assert got == want
