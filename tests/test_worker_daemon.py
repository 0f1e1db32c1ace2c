"""worker_daemon: Python workers skip re-reading unchanged zip archives."""

from __future__ import annotations

import importlib.util
import sys
import zipfile
import zipimport

from duckdb_fastlanes_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"first_mod": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    worker_daemon.invalidate_caches(importer)
    worker_daemon.invalidate_caches(importer)
    assert len(reads) <= 1

    _write_zip(archive, {"first_mod": "X = 1\n", "added_mod": "Y = 2\n"})
    before = len(reads)
    worker_daemon.invalidate_caches(importer)
    spec = importer.find_spec("added_mod")
    assert spec is not None
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.Y == 2
    assert len(reads) == before + 1


def test_importing_the_module_does_not_patch():
    assert zipimport.zipimporter.invalidate_caches is not worker_daemon.invalidate_caches


def test_engine_workers_run_the_shim(spark):
    import pyarrow as pa

    def which(batches):
        import zipimport

        for _ in batches:
            name = zipimport.zipimporter.invalidate_caches.__module__
            yield pa.RecordBatch.from_pydict({"module": [name]})

    rows = spark.range(1, numPartitions=1).mapInArrow(which, "module string").collect()
    expected = (
        "duckdb_fastlanes_spark.worker_daemon" if sys.version_info < (3, 13) else "zipimport"
    )
    assert [r.module for r in rows] == [expected]
