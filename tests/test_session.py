"""get_spark sessions: the stamp-checked worker daemon and per-session
temp views."""

import importlib
import os
import sys
import zipfile
import zipimport


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    """The daemon's zipimporter.invalidate_caches skips the re-read of an
    unchanged archive and re-reads one whose stamp moved."""
    from geowarp_spark import pyworker

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["pw_mod_a"])
    sys.path.insert(0, archive)
    try:
        import pw_mod_a
        assert pw_mod_a.NAME == "pw_mod_a"
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                            pyworker.invalidate_caches)
        importlib.invalidate_caches()
        assert reads.count(archive) == 1      # first call per archive reads
        importlib.invalidate_caches()
        assert reads.count(archive) == 1      # unchanged: no re-read

        size = os.stat(archive).st_size
        _write_zip(archive, ["pw_mod_a", "pw_mod_b"])
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert os.stat(archive).st_size != size
        importlib.invalidate_caches()
        assert reads.count(archive) == 2      # rewritten: re-read
        import pw_mod_b
        assert pw_mod_b.NAME == "pw_mod_b"
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("pw_mod_a", "pw_mod_b"):
            sys.modules.pop(name, None)


def test_python_workers_run_under_the_daemon(spark):
    """Plain RDD tasks and Arrow UDF tasks both fork from
    geowarp_spark.pyworker with the wrapper installed."""
    import pandas as pd

    def wrapped():
        import sys
        import zipimport

        main = sys.modules["__main__"]
        spec = getattr(main, "__spec__", None)
        return (spec is not None and spec.name == "geowarp_spark.pyworker"
                and zipimport.zipimporter.invalidate_caches
                is main.invalidate_caches)

    def probe(batches):
        for pdf in batches:
            yield pd.DataFrame({"ok": [wrapped()] * len(pdf)})

    sc = spark.sparkContext
    assert sc.parallelize([1], 1).mapPartitions(lambda it: [wrapped()]).collect() == [True]
    assert {r.ok for r in spark.range(4).mapInPandas(probe, "ok boolean").collect()} == {True}


def test_views_follow_the_session(spark, sf_dir):
    """A newSession() shares the applicationId but not the temp-view
    catalog, so _views must register the tables in it too."""
    import __spark_entry__ as em

    em._views(spark, sf_dir)
    other = spark.newSession()
    em._views(other, sf_dir)
    assert "documents" in {t.name for t in other.catalog.listTables()}
