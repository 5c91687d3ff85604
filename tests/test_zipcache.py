"""importlib.invalidate_caches() re-reads a zip archive's directory only
when the archive changed (datasketches_cpp_spark._zipcache)."""

import importlib
import pkgutil
import sys
import zipfile
import zipimport

import pytest

import datasketches_cpp_spark  # noqa: F401  (installs the wrapper)

eager_before_312 = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads zip directories lazily; the wrapper is off",
)


@pytest.fixture
def zip_on_path(tmp_path):
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zc_first.py", "VALUE = 1\n")
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    for name in ("zc_first", "zc_second"):
        sys.modules.pop(name, None)


@pytest.fixture
def directory_reads(monkeypatch):
    calls = []
    original = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_rewritten_archive_serves_its_new_module(zip_on_path):
    import zc_first

    assert zc_first.VALUE == 1
    importlib.invalidate_caches()  # records the archive's signature
    with zipfile.ZipFile(zip_on_path, "w") as z:
        z.writestr("zc_first.py", "VALUE = 1\n")
        z.writestr("zc_second.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    import zc_second

    assert zc_second.VALUE == 2


def test_iter_modules_right_after_invalidate(zip_on_path):
    import zc_first  # noqa: F401  (caches a zipimporter for the archive)

    importlib.invalidate_caches()
    assert [m.name for m in pkgutil.iter_modules([zip_on_path])] == ["zc_first"]
    importlib.invalidate_caches()
    assert [m.name for m in pkgutil.iter_modules([zip_on_path])] == ["zc_first"]


@eager_before_312
def test_unchanged_archive_is_read_once(zip_on_path, directory_reads):
    import zc_first  # noqa: F401

    importlib.invalidate_caches()  # the first call records the signature
    directory_reads.clear()
    for _ in range(50):
        importlib.invalidate_caches()
    assert directory_reads == []


@eager_before_312
def test_spark_worker_task_reads_no_directories(spark):
    import pandas as pd

    from datasketches_cpp_spark.functions.theta import theta_sketch_agg, with_estimate

    df = spark.range(0, 4000, numPartitions=4).selectExpr("id % 7 AS g", "id AS item")
    est = with_estimate(theta_sketch_agg(df, ["g"], "item")).collect()
    assert len(est) == 7

    def probe(batches):
        import importlib
        import sys
        import zipimport

        imported_before = "datasketches_cpp_spark" in sys.modules
        import datasketches_cpp_spark  # noqa: F401

        counts = []
        original = zipimport._read_directory

        def counting(archive):
            counts[-1] += 1
            return original(archive)

        zipimport._read_directory = counting
        try:
            for _ in range(2):
                counts.append(0)
                importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "imported_before": [imported_before],
                "first_reads": [counts[0]],
                "second_reads": [counts[1]],
                "zips": [zips],
            }
        )

    schema = "imported_before boolean, first_reads long, second_reads long, zips long"
    rows = []
    for _ in range(2):
        rows += spark.range(0, 400, numPartitions=4).mapInPandas(probe, schema).collect()
    assert all(r.zips > 0 for r in rows), rows  # the workers do hold zipimporters
    assert all(r.second_reads == 0 for r in rows), rows
    # a worker that imported the library in an earlier task recorded every
    # signature during this task's own set-up: nothing is re-read at all
    warm = [r for r in rows if r.imported_before]
    assert warm, rows
    assert all(r.first_reads == 0 for r in warm), rows
