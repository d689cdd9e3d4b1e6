"""The package's stat-stamped ``zipimporter.invalidate_caches``
(``crawler_spark/__init__.py``): an archive unchanged on disk is not
re-read, a rewritten one is, and Python workers get the same behaviour."""

import importlib
import pickle
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest
from pyspark import cloudpickle
from pyspark.sql.group import GroupedData

import crawler_spark
from crawler_spark.operators.scheduler import drain_ordered

needs_wrapper = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="Python 3.12 re-reads archives lazily"
)


@pytest.fixture()
def reads(monkeypatch):
    """Archive paths whose central directory ``zipimport`` parses."""
    seen = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda path: seen.append(path) or read(path))
    return seen


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding module ``cs_zip_a``, imported once."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"cs_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    for name in ("cs_zip_a", "cs_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import cs_zip_a  # noqa: F401

    return path


def test_invalidate_caches_is_wrapped_only_below_3_12():
    method = zipimport.zipimporter.invalidate_caches
    assert hasattr(method, "__wrapped__") == (sys.version_info < (3, 12))


@needs_wrapper
def test_unchanged_archive_is_not_read_again(archive, reads):
    importlib.invalidate_caches()  # stamps every importer, this one included
    assert archive in reads
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


@needs_wrapper
def test_rewritten_archive_is_read_again_and_its_new_module_imports(archive, reads):
    importlib.invalidate_caches()
    _write_zip(archive, {"cs_zip_a": "X = 1\n", "cs_zip_b": "Y = 2\n"})  # a larger archive
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive]
    import cs_zip_b

    assert cs_zip_b.Y == 2


@needs_wrapper
def test_importing_the_package_again_wraps_once():
    method = zipimport.zipimporter.invalidate_caches
    importlib.reload(crawler_spark)
    assert zipimport.zipimporter.invalidate_caches is method
    assert not hasattr(method.__wrapped__, "__wrapped__")
    importlib.invalidate_caches()  # the reloaded package still calls the stdlib read


@needs_wrapper
def test_worker_reads_no_unchanged_archive_after_the_first_call(spark):
    """A Python task whose function refers to a library function imports
    the package on unpickling; there, a second ``invalidate_caches`` reads
    no archive."""
    lib = drain_ordered

    def _probe(batches):
        import importlib
        import zipimport

        assert callable(lib)
        seen = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: seen.append(path) or read(path)
        try:
            importlib.invalidate_caches()
            first = len(seen)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "wrapped": [hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")],
                "second": [len(seen) - first],
            }
        )

    rows = (
        spark.range(0, 4, numPartitions=2)
        .mapInArrow(_probe, "wrapped boolean, second long")
        .collect()
    )
    assert len(rows) == 2
    assert all(r.wrapped and r.second == 0 for r in rows)


def test_drain_ordered_ships_its_group_body_by_reference(spark, monkeypatch):
    """The function ``drain_ordered`` hands to ``applyInPandas`` is a
    module-level library name: cloudpickle sends it by reference, so a
    worker that runs only drain tasks still imports the package."""
    captured = []
    apply = GroupedData.applyInPandas
    monkeypatch.setattr(
        GroupedData,
        "applyInPandas",
        lambda self, fn, schema: captured.append(fn) or apply(self, fn, schema),
    )
    scheduled = spark.createDataFrame(
        [("https://h/a", "h", 0, 1, 0)], "url string, host string, priority int, seq long, salt int"
    )
    drain_ordered(scheduled)
    drain_ordered(scheduled, n_buckets=4)
    assert len(captured) == 2
    for fn in captured:
        assert pickle.loads(cloudpickle.dumps(fn)) is fn
