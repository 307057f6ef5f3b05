"""The package's zip-invalidation guard (``relation_extraction_spark/__init__``).

Spark's Python worker calls ``importlib.invalidate_caches()`` before every
task; on CPython < 3.12 that re-parses every zip on ``sys.path``. With the
package imported, an archive is re-read only when its mtime or size changed,
and the workers that run the library's kernels carry the guard."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import relation_extraction_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OLD_ZIPIMPORT = sys.version_info < (3, 12)


def _write_module_zip(path, body):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zipguard_probe_mod.py", body)


@pytest.mark.skipif(not OLD_ZIPIMPORT, reason="CPython >= 3.12 re-reads zips lazily")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_module_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zipguard_probe_mod", raising=False)
    try:
        import zipguard_probe_mod
        assert zipguard_probe_mod.VALUE == 1

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        per_call = []
        for _ in range(2):
            before = len(reads)
            importlib.invalidate_caches()
            per_call.append(len(reads) - before)
        assert per_call == [1, 0]

        _write_module_zip(archive, "VALUE = 2  # a longer body changes the size\n")
        importlib.invalidate_caches()
        assert len(reads) == 2
        del sys.modules["zipguard_probe_mod"]
        import zipguard_probe_mod
        assert zipguard_probe_mod.VALUE == 2
        importlib.invalidate_caches()
        assert len(reads) == 2
    finally:
        sys.modules.pop("zipguard_probe_mod", None)
        sys.path_importer_cache.pop(archive, None)


def _expected_module():
    return relation_extraction_spark.__name__ if OLD_ZIPIMPORT else "zipimport"


def test_workers_carry_the_guard(spark):
    def probe(_):
        import zipimport

        import relation_extraction_spark  # noqa: F401
        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == [_expected_module()]


_OPTIMIZED_WORKER_PROBE = """
import json, zipimport
from relation_extraction_spark.session import get_spark

def probe(_):
    import sys, zipimport
    import relation_extraction_spark  # noqa: F401
    yield (zipimport.zipimporter.invalidate_caches.__module__, sys.flags.optimize)

spark = get_spark(app_name="zipguard-O", master="local[1]", shuffle_partitions=1)
try:
    rows = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
finally:
    spark.stop()
print(json.dumps({"worker": rows[0]}))
"""


def test_workers_carry_the_guard_under_python_O(tmp_path):
    """Same check with the driver and its workers run optimized
    (``PYTHONOPTIMIZE`` reaches the workers through the JVM's environment)."""
    env = dict(os.environ, PYTHONPATH=ROOT, PYTHONOPTIMIZE="1",
               SPARK_LOCAL_DIRS=str(tmp_path))
    res = subprocess.run([sys.executable, "-O", "-c", _OPTIMIZED_WORKER_PROBE],
                         cwd=str(tmp_path), env=env, capture_output=True,
                         text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    module, optimize = json.loads(line)["worker"]
    assert optimize >= 1
    assert module == _expected_module()
