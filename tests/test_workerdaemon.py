"""The Python worker daemon's zip-directory guard (workerdaemon)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from flinkrealtimedatawarehouse_spark import workerdaemon


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in files.items():
            z.writestr(name, body)


def test_guarded_importer_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    """No JVM: an unchanged archive is not re-read on invalidate_caches,
    and a rewritten one is, so an import after the rewrite sees it."""
    reads = []
    reread = workerdaemon._reread
    monkeypatch.setattr(workerdaemon, "_reread", lambda imp: (reads.append(imp.archive), reread(imp)))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", workerdaemon.invalidate_caches)
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"wd_probe.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_probe").VALUE == 1
        importlib.invalidate_caches()
        n = reads.count(archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == n  # unchanged: not re-read

        _write_zip(archive, {"wd_probe.py": "VALUE = 22\n", "wd_probe_new.py": "NEW = True\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1
        del sys.modules["wd_probe"]
        assert importlib.import_module("wd_probe").VALUE == 22
        assert importlib.import_module("wd_probe_new").NEW
    finally:
        for name in ("wd_probe", "wd_probe_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_udf_worker_runs_the_guarded_invalidate_caches(spark):
    """A pandas UDF's worker forks from the package's daemon: the guard is
    installed, and every zip importer it holds has recorded its archive
    (the task's own setup_spark_files already went through the guard)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def probe(ids: pd.Series) -> pd.Series:
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        stamped = bool(zips) and all(hasattr(f, "_dir_stamp") for f in zips)
        return pd.Series([f"{fn.__module__}.{fn.__name__} {stamped}"] * len(ids))

    got = {r[0] for r in spark.range(4).repartition(2).select(probe("id")).collect()}
    assert got == {"flinkrealtimedatawarehouse_spark.workerdaemon.invalidate_caches True"}
