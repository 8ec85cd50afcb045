"""The Python worker daemon's zip re-read gate (clann_spark.worker_daemon):
unchanged archives are not re-parsed on importlib.invalidate_caches(),
changed or newly shipped ones still are."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from clann_spark import worker_daemon


def _write_zip(path: str, module: str, source: str) -> None:
    # stored, not deflated: the archive size tracks the source size
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        z.writestr(f"{module}.py", source)


@pytest.fixture
def gated(monkeypatch):
    """Install the gate for this test only, with fresh stamps, and
    count how often each archive's directory is read."""
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(worker_daemon, "_seen", {})
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon._gated(zipimport.zipimporter.invalidate_caches),
    )
    return reads


@pytest.fixture
def zip_module(tmp_path, monkeypatch):
    """A module importable only from a temp zip on sys.path."""
    name = f"_zipgate_mod_{os.getpid()}"
    path = str(tmp_path / "mods.zip")
    _write_zip(path, name, "VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    yield name, path
    sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _reimport(name: str):
    sys.modules.pop(name, None)
    return importlib.import_module(name)


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_zip_is_reread(gated, zip_module, change):
    name, path = zip_module
    assert _reimport(name).VALUE == 1
    importlib.invalidate_caches()  # stamps the archive
    st = os.stat(path)
    if change == "size":
        _write_zip(path, name, "VALUE = 22\n")
        want = 22
    else:
        _write_zip(path, name, "VALUE = 2\n")
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 5_000_000_000))
        assert os.stat(path).st_size == st.st_size
        want = 2
    importlib.invalidate_caches()
    assert _reimport(name).VALUE == want


def test_unchanged_zip_is_not_reread(gated, zip_module):
    name, path = zip_module
    assert _reimport(name).VALUE == 1
    n = gated.count(path)  # the importer read it once on creation
    importlib.invalidate_caches()  # not stamped yet: one more read
    n += 1
    assert gated.count(path) == n
    for _ in range(3):
        importlib.invalidate_caches()
    assert gated.count(path) == n
    assert _reimport(name).VALUE == 1


def test_spark_workers_run_the_gate(spark):
    """get_spark's workers fork from clann_spark.worker_daemon, so the
    gate is live inside a task."""

    def _gate_module(_batches):
        import zipimport as zi

        import pyarrow as pa

        fn = zi.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pylist([{"module": fn.__module__}])

    assert spark.conf.get("spark.python.daemon.module") == "clann_spark.worker_daemon"
    got = {
        r["module"]
        for r in spark.range(4, numPartitions=2)
        .mapInArrow(_gate_module, "module string")
        .collect()
    }
    assert got == {"clann_spark.worker_daemon"}


def test_add_py_file_after_warm_workers(spark, tmp_path):
    """A zip shipped with addPyFile once the workers are warm is still
    importable by later tasks — what Spark's per-task invalidation is
    for."""
    sc = spark.sparkContext
    sc.parallelize(range(8), 4).map(lambda x: x + 1).collect()  # warm workers
    name = f"_late_shipped_{os.getpid()}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, name, "def answer():\n    return 42\n")
    sc.addPyFile(path)

    def probe(x):
        return importlib.import_module(name).answer() + x

    assert sorted(sc.parallelize(range(4), 4).map(probe).collect()) == [42, 43, 44, 45]
