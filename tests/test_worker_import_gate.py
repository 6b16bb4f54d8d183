"""The kernel loader's zip-directory gate.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; before CPython 3.13 that re-reads the zip directory of every
archive the worker imported from (pyspark.zip, the spark-core jar). Once
a worker has compiled the kernel, an archive is re-read only when its
file changed on disk.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from json_schema_spark.plans import runner
from json_schema_spark.plans.runner import SparkValidator

MODULE = "jss_gate_probe_mod"


def _write_archive(path, body: str) -> None:
    # write beside and rename over: a rewritten archive gets a new inode
    tmp = path.with_name(path.name + ".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{MODULE}.py", body)
    os.replace(tmp, path)


def _compile_kernel(tag: str) -> None:
    # a kernel-cache miss, as the first batch of a worker sees it
    runner._executor_kernel((tag,), '{"type": "object"}', "{}", "draft7",
                            False, "default", True)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_archive(archive, "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(runner, "_KERNEL_CACHE", {})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, MODULE, raising=False)
    assert importlib.import_module(MODULE).VALUE == 1

    reads: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or real(a))

    _compile_kernel("first")
    importlib.invalidate_caches()  # first call after install re-reads
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    # a rewritten archive is re-read and its new module imports
    _write_archive(archive, "VALUE = 22\n")
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    del sys.modules[MODULE]
    assert importlib.import_module(MODULE).VALUE == 22

    # installing again (another kernel compile) changes nothing
    gated = zipimport.zipimporter.invalidate_caches
    _compile_kernel("second")
    assert zipimport.zipimporter.invalidate_caches is gated
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    # an archive that cannot be stat'ed is handed to the original
    os.remove(archive)
    importlib.invalidate_caches()
    assert reads == [str(archive)]


def test_kernel_worker_skips_rereads_of_unchanged_archives(spark):
    load = SparkValidator({"type": "object"}, engine="udf")._kernel_loader(True)

    @F.pandas_udf("struct<importers:long,reads:long>")
    def probe(ids: pd.Series) -> pd.DataFrame:
        load()
        importlib.invalidate_caches()  # the next task's setup call
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        return pd.DataFrame({"importers": [importers] * len(ids),
                             "reads": [len(reads)] * len(ids)})

    rows = (spark.range(4).repartition(2)
            .select(probe(F.col("id")).alias("p")).select("p.*").collect())
    # the worker does import from archives, so the check is not vacuous
    assert all(r.importers > 0 for r in rows)
    assert [r.reads for r in rows] == [0] * len(rows)
