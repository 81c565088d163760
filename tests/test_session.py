"""Session-level behaviour of the Python workers `get_spark` starts."""

from __future__ import annotations

import pyarrow as pa
import pytest


def test_worker_task_keeps_archive_index(spark):
    """A worker task's `importlib.invalidate_caches()` (PySpark calls it at
    the start of every task) must not re-read the archives already on the
    worker's path: each cached archive index keeps its identity."""

    def probe(batches):
        import importlib
        import zipimport

        for _ in batches:
            pass
        before = {k: id(v) for k, v in zipimport._zip_directory_cache.items()}
        importlib.invalidate_caches()
        after = {k: id(v) for k, v in zipimport._zip_directory_cache.items()}
        kept = all(after.get(k) == i for k, i in before.items())
        yield pa.RecordBatch.from_pydict(
            {"archives": [len(before)], "kept": [kept]}
        )

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInArrow(probe, "archives long, kept boolean")
        .collect()
    )
    assert len(rows) == 4
    if not any(r.archives for r in rows):
        pytest.skip("no zip archive is cached on the Python workers")
    assert all(r.kept for r in rows), rows
