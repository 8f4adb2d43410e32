"""zipcache: importers re-read a zip archive only when its stat changed.

The unit tests drive one ``zipimporter`` over a tmp archive in this
process; the integration test runs two Python stages in a fresh
``local[2]`` session and asks a real worker, with Spark's archives on its
``sys.path``, what ``importlib.invalidate_caches()`` reads.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from metadata_enhanced_pretrain_datapipeline_spark import zipcache

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path, imported from once; yields (path, importer, reads),
    ``reads`` listing every directory read of that archive."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_mod_a": "A = 1\n"})
    monkeypatch.syspath_prepend(path)
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    assert importlib.import_module("zc_mod_a").A == 1
    importer = sys.path_importer_cache[path]
    assert isinstance(importer, zipimport.zipimporter)
    yield path, importer, reads
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_package_import_installs_the_guard_once():
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded.__module__ == zipcache.__name__
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert guarded.__wrapped__.__module__ == "zipimport"


def test_unchanged_archive_is_read_once(archive):
    path, importer, reads = archive
    del reads[:]
    importer.invalidate_caches()  # no record yet: the original re-read
    assert len(reads) == 1
    importlib.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) == 1
    assert "zc_mod_a.py" in importer._files


def test_rewritten_archive_is_reread_and_new_modules_import(archive):
    path, importer, reads = archive
    importer.invalidate_caches()
    del reads[:]
    # same bytes, later mtime
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert len(reads) == 1
    # new size: a module added
    _write_zip(path, {"zc_mod_a": "A = 1\n", "zc_mod_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("zc_mod_b").B == 2
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_deleted_archive_takes_the_original_path(archive):
    path, importer, reads = archive
    importer.invalidate_caches()
    del reads[:]
    os.remove(path)
    importer.invalidate_caches()
    # the original tried the read, failed, and emptied the importer
    assert reads == [path]
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache
    # back with the same name: read again
    _write_zip(path, {"zc_mod_a": "A = 1\n"})
    importer.invalidate_caches()
    assert reads == [path, path]
    assert "zc_mod_a.py" in importer._files


_WORKER = r"""
import json
from pyspark.sql import SparkSession
from metadata_enhanced_pretrain_datapipeline_spark.operators.dedup import minhash_signatures

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
docs = spark.createDataFrame([(i, f"doc {i} body text") for i in range(8)],
                             "doc_id long, text string")
# the package stage: its fold unpickles package functions in the workers
assert len(minhash_signatures(docs, num_hashes=4).collect()) == 8


def probe(batches):
    import importlib, os, sys, zipimport
    import pyarrow as pa
    for _ in batches:
        pass
    read = zipimport._read_directory
    calls = []
    zipimport._read_directory = lambda a: (calls.append(a), read(a))[1]
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    zips = sorted({os.path.basename(i.archive)
                   for i in sys.path_importer_cache.values()
                   if isinstance(i, zipimport.zipimporter)})
    # this function does not import the package: a guard here means the
    # worker ran the package stage, and Spark's own call before this task
    # went through it
    guard = zipimport.zipimporter.invalidate_caches.__module__
    yield pa.RecordBatch.from_pydict({"report": [json.dumps(
        {"guard": guard, "reads": calls, "zips": zips})]})


(row,) = spark.range(1, numPartitions=1).mapInArrow(probe, "report string").collect()
print(row.report)
spark.stop()
"""


def test_worker_skips_rereading_spark_archives(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    out = subprocess.run([sys.executable, "-c", _WORKER], env=env, cwd=tmp_path,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    report = json.loads(out.stdout.strip().splitlines()[-1])
    assert report["guard"] == zipcache.__name__
    assert "pyspark.zip" in report["zips"], report
    assert report["reads"] == [], report
