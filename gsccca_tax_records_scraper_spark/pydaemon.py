"""Python worker daemon for `get_spark` sessions (`spark.python.daemon.module`).

Runs the stock `pyspark.daemon` with `zipimport.zipimporter.invalidate_caches`
made a no-op, so a worker task's `importlib.invalidate_caches()` no longer
re-reads every archive on the worker's path (150-250 ms per task; session.py
has the cause and the measurement). Workers fork from the daemon, so every
task inherits the no-op.

Skipping the re-read is safe: it only refreshes the index of an archive that
is already indexed, and those are Spark's own distribution files, which do
not change while a session runs. An archive added later (`addPyFile`) is a
new path and gets a fresh importer that reads its directory once.

Importing this module changes nothing; only running it as `__main__` (the
way Spark starts a daemon module) patches, so the process that builds the
session is never touched.
"""

from __future__ import annotations

import runpy
import zipimport


def _keep_archive_index(self) -> None:
    """zipimporter.invalidate_caches replacement: keep the cached index."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_archive_index
    # sys.argv stays as Spark passed it: the daemon reads the worker module
    # name from sys.argv[1]
    runpy.run_module("pyspark.daemon", run_name="__main__")
