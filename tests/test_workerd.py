"""The package's Python worker daemon (deepdoctection_spark.workerd): its
zipimport fix, and that Spark sessions built by get_spark really use it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from deepdoctection_spark import workerd

# Run in a fresh interpreter, so the test process's own importers stay
# untouched. Imports a package and its subpackage from a zip, counts
# zipimport._read_directory calls over 10 importlib.invalidate_caches()
# calls with the stock method and then with the installed one, and imports a
# module added by rewriting the zip.
_SCRIPT = r"""
import importlib, json, sys, zipfile, zipimport

from deepdoctection_spark import workerd

arc = sys.argv[1]

def write(extra):
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/mod.py", "X = 1\n")
        if extra:
            z.writestr("zpkg/sub/extra.py", "Y = 2\n")

write(False)
sys.path.insert(0, arc)
import zpkg.sub.mod

reads = 0
read_directory = zipimport._read_directory

def counting(path):
    global reads
    reads += 1
    return read_directory(path)

zipimport._read_directory = counting

def reads_over(n):
    before = reads
    for _ in range(n):
        importlib.invalidate_caches()
    return reads - before

stock = zipimport.zipimporter.invalidate_caches
stock_reads = reads_over(10)
installed = workerd.install()
installed_again = workerd.install()
patched_reads = reads_over(10)
importers = [i for i in sys.path_importer_cache.values()
             if isinstance(i, zipimport.zipimporter) and i.archive == arc]
shared = all(i._files is zipimport._zip_directory_cache[arc] for i in importers)
write(True)
importlib.invalidate_caches()
import zpkg.sub.extra
print(json.dumps({
    "stock_reads": stock_reads, "patched_reads": patched_reads,
    "installed": installed, "installed_again": installed_again,
    "stock_kept": zipimport.zipimporter.invalidate_caches is stock,
    "importers": len(importers), "shared": shared, "extra": zpkg.sub.extra.Y,
}))
"""


def test_invalidate_caches_rereads_only_changed_archives(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(workerd.__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        filter(None, [repo, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path / "pkgs.zip")],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    got = json.loads(proc.stdout.splitlines()[-1])
    # the rewritten zip is picked up either way
    assert got["extra"] == 2
    if sys.version_info >= (3, 13):
        assert not got["installed"] and got["stock_kept"]
        return
    assert got["importers"] >= 2  # one per package directory
    assert got["stock_reads"] >= 10 * got["importers"]
    assert got["installed"] and not got["installed_again"]
    assert got["patched_reads"] == 0
    assert got["shared"]


def test_session_workers_run_the_package_daemon(spark):
    """Every worker of a get_spark session reports the invalidate_caches
    it has; on CPython < 3.13 it must be the one workerd installs."""
    import pyarrow as pa

    def probe(batches):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"file": fn.__code__.co_filename, "name": fn.__qualname__}])

    rows = (spark.range(0, 64, 1, 8)
            .mapInArrow(probe, "file string, name string").collect())
    assert len(rows) == 8
    if sys.version_info >= (3, 13):
        assert {r.name for r in rows} == {"zipimporter.invalidate_caches"}
        return
    for r in rows:
        assert r.name == workerd._QUALNAME
        assert os.path.samefile(r.file, workerd.__file__)
