"""Pin the zip archives on a Spark Python worker's import path.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark/worker_util.py:setup_spark_files`). On CPython
3.11 each `zipimport.zipimporter` in `sys.path_importer_cache` answers
that call by re-reading its archive's whole central directory. A reused
worker holds one importer per package directory it imported from:
about a dozen for `pyspark.zip` (1.3k entries) and two for the Spark
core jar that Spark puts on the worker's `PYTHONPATH` (5.4k entries).
Measured on CPython 3.11.7 / Spark 4.1.2 (4-vCPU VM): 216-235 ms of
every task, whatever its data.

Those archives cannot change while the worker lives: `pyspark.zip`,
the py4j zip, the Spark jars and the files Spark ships to `userFiles`
(it never overwrites one). So when the engine is first imported in a
worker, every plain zipimporter already in the cache is switched to a
subclass whose `invalidate_caches` keeps the directory it has, and its
archive is remembered. Importers created later for a remembered
archive — a package directory first imported later, such as the jar's
`google/` namespace portion — are pinned by the zip path hook too.
Archives added later still get plain importers. On the driver this is
a no-op.

Unpickling an engine kernel imports the engine, once per worker
process: each kernel references a module-level engine function, which
cloudpickle pickles by reference (tests/test_worker_imports.py checks
this for every kernel factory).
"""

from __future__ import annotations

import sys
import zipimport

_pinned_archives: set[str] = set()


class _PinnedZipImporter(zipimport.zipimporter):
    """A zipimporter whose archive directory is read once."""

    def invalidate_caches(self):
        pass


def _zip_path_hook(path):
    importer = zipimport.zipimporter(path)
    if importer.archive in _pinned_archives:
        importer.__class__ = _PinnedZipImporter
    return importer


def pin_zip_importers() -> None:
    """Inside a Spark task, pin every zip archive on the import path."""
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = _PinnedZipImporter
            _pinned_archives.add(finder.archive)
    sys.path_hooks[:] = [_zip_path_hook if h is zipimport.zipimporter else h
                         for h in sys.path_hooks]
