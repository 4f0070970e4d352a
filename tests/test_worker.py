"""The stat-checked zip-import cache of ``plans/worker.py``.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task; before CPython 3.13 each zip importer then re-reads its archive's
central directory.  Once a worker has imported the package, an importer
re-reads only when its archive changed.  The cache is checked in a fresh
interpreter (the patch is process-wide, and a test session's own
importers must not see it) over a zip holding a package and a
subpackage, and in the session's real workers.
"""

import json
import subprocess
import sys
import zipimport
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from openelevationservice_spark.functions.arrow_batches import record_batch
from openelevationservice_spark.operators.sample import pixel_index
from openelevationservice_spark.sources import fixtures as fx

ROOT = Path(__file__).resolve().parents[1]
HOOK_MODULE = "openelevationservice_spark.plans.worker"
BEFORE_313 = pytest.mark.skipif(sys.version_info >= (3, 13),
                                reason="CPython 3.13 re-reads a zip directory lazily")

#: run as ``python - <root> <archive> <case>``; prints one JSON object
FRESH = """
import importlib, json, os, sys, zipfile, zipimport
from pyspark import TaskContext

root, archive, case = sys.argv[1:]
sys.path.insert(0, root)
TaskContext._getOrCreate()  # what a Spark worker sets before it unpickles a kernel


def write(names):
    with zipfile.ZipFile(archive + ".new", "w") as z:
        for name in names:
            z.writestr(name, "")
    os.replace(archive + ".new", archive)


write(["zpkg/__init__.py", "zpkg/sub/__init__.py", "zpkg/sub/mod.py"])
sys.path.insert(0, archive)
import zpkg.sub.mod

reads = []
stdlib_read = zipimport._read_directory


def counted(path):
    reads.append(path)
    return stdlib_read(path)


zipimport._read_directory = counted
stdlib_invalidate = zipimport.zipimporter.invalidate_caches
if case == "py313":
    sys.version_info = (3, 13, 0, "final", 0)
import openelevationservice_spark


def reads_of(action):
    del reads[:]
    action()
    return reads.count(archive)


out = {"importers": sum(isinstance(i, zipimport.zipimporter) and i.archive == archive
                        for i in sys.path_importer_cache.values()),
       "hook": zipimport.zipimporter.invalidate_caches.__module__,
       "stdlib_kept": zipimport.zipimporter.invalidate_caches is stdlib_invalidate,
       "first": reads_of(importlib.invalidate_caches),
       "unchanged": reads_of(importlib.invalidate_caches)}
if case == "rewrite":
    write(["zpkg/__init__.py", "zpkg/sub/__init__.py", "zpkg/sub/mod.py",
           "zpkg/sub/extra.py"])
    out["rewritten"] = reads_of(importlib.invalidate_caches)
    import zpkg.sub.extra
    out["imported"] = zpkg.sub.extra.__name__
    out["after"] = reads_of(importlib.invalidate_caches)
print(json.dumps(out))
"""


def _fresh(tmp_path, case: str) -> dict:
    proc = subprocess.run([sys.executable, "-", str(ROOT), str(tmp_path / "z.zip"), case],
                          input=FRESH, capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout.splitlines()[-1])


@BEFORE_313
def test_unchanged_archive_is_not_reread(tmp_path):
    out = _fresh(tmp_path, "unchanged")
    assert out["hook"] == HOOK_MODULE
    assert out["importers"] >= 2
    # the first call on an importer reads as the stdlib does; then none
    assert out["first"] == out["importers"]
    assert out["unchanged"] == 0


@BEFORE_313
def test_rewritten_archive_is_reread(tmp_path):
    out = _fresh(tmp_path, "rewrite")
    assert out["rewritten"] == out["importers"]
    assert out["imported"] == "zpkg.sub.extra"
    assert out["after"] == 0


def test_installs_nothing_from_python_3_13(tmp_path):
    out = _fresh(tmp_path, "py313")
    assert out["stdlib_kept"] and out["hook"] == "zipimport"
    assert out["first"] == out["unchanged"] == out["importers"] >= 2


def test_worker_runs_the_cache_and_the_driver_does_not(spark):
    # a package kernel first, as in any query
    assert pixel_index(fx.make_images_df(spark, fx.World(nx=2, ny=2))).count() == 4
    schema = T.StructType([T.StructField("hook", T.StringType())])
    out = to_arrow_schema(schema)

    def probe(batches):
        for _ in batches:
            pass
        # ``record_batch`` is the package's: unpickling this kernel
        # imports the package in the worker, as a package kernel does
        yield record_batch(out, [pa.array([zipimport.zipimporter.invalidate_caches.__module__])])

    hooks = {r.hook for r in spark.range(0, 8, 1, 8).mapInArrow(probe, schema).collect()}
    assert hooks == {HOOK_MODULE if sys.version_info < (3, 13) else "zipimport"}
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
