"""Checkpoint store filesystem: manifest, _SUCCESS and table-dir operations
go through pyarrow.fs, resolved from the workdir, for plain paths and URI
workdirs alike. file:// exercises the URI route end to end in a test run,
with no SparkSession; a scheme pyarrow.fs cannot open is refused when the
store is built."""

from __future__ import annotations

import pytest

from gsccca_tax_records_scraper_spark import simulator
from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine
from gsccca_tax_records_scraper_spark.sources.checkpoint import CheckpointStore


def test_crawl_over_file_uri_matches_local(spark, tmp_path):
    wd = f"file://{tmp_path}/crawl_uri"
    eng = CrawlEngine(spark, wd, epoch_seconds=60.0)
    eng.run([1])
    sim = simulator.simulate_crawl([1], epoch_seconds=60.0)
    assert {r.url for r in eng.seen().collect()} == sim.seen_urls
    # resume over the URI store: a fresh engine reads the committed manifest
    eng2 = CrawlEngine(spark, wd, epoch_seconds=60.0)
    assert eng2.store.last_epoch() == eng.store.last_epoch()
    assert eng2.run() == 0  # already drained; no bootstrap, no new epochs


def test_uri_store_needs_no_session(tmp_path):
    """A file:// store commits, lists and reads its manifests through
    pyarrow.fs alone: no SparkSession is passed."""
    st = CheckpointStore(f"file://{tmp_path}/nospark")
    st.commit(0, meta={"n_buckets": 64})
    st.commit(1)
    again = CheckpointStore(f"file://{tmp_path}/nospark/")
    assert again.committed_epochs() == [0, 1]
    assert again.meta("n_buckets") == 64
    assert [m["epochs"] for m in again.manifests()] == [[0, 1], [0]]


def test_unusable_scheme_refused_at_construction(spark):
    """A workdir whose scheme pyarrow.fs cannot open (s3a:// is Hadoop's
    name for S3) is refused when the store or the engine is built, not at
    the first worker task that touches its segment files. Nothing is
    contacted: the scheme is refused before any client is made."""
    with pytest.raises(ValueError, match="s3a://bucket/x"):
        CheckpointStore("s3a://bucket/x")
    with pytest.raises(ValueError, match="s3a://bucket/x"):
        CrawlEngine(spark, "s3a://bucket/x")


def test_manifest_atomicity_over_uri(tmp_path):
    st = CheckpointStore(f"file://{tmp_path}/atomic")
    st.commit(0)
    st.commit(1)
    assert st.committed_epochs() == [0, 1]
    names = sorted(p.name for p in (tmp_path / "atomic").glob("MANIFEST*"))
    # versioned protocol: v2 live, v1 kept as torn-write fallback, no tmp
    assert names == ["MANIFEST-1.json", "MANIFEST-2.json"], names
    # a third commit prunes v1
    st.commit(2)
    names = sorted(p.name for p in (tmp_path / "atomic").glob("MANIFEST*"))
    assert names == ["MANIFEST-2.json", "MANIFEST-3.json"], names


def test_manifest_versioning_crash_windows(tmp_path):
    """No crash window leaves the store without a readable manifest:
    a corrupt (torn) higher version falls back to its predecessor, and a
    pre-versioning workdir (only a single-file MANIFEST.json) is refused
    instead of being read as a fresh, empty store."""
    import json

    st = CheckpointStore(tmp_path / "v")
    st.commit(0, meta={"n_buckets": 128})
    st.commit(1)
    assert st.committed_epochs() == [0, 1]
    # torn write of the NEXT version (crash mid-create on a non-atomic
    # store): readers must fall back to the intact predecessor
    (tmp_path / "v" / "MANIFEST-3.json").write_text('{"epochs": [0, 1')
    st2 = CheckpointStore(tmp_path / "v")
    assert st2.committed_epochs() == [0, 1]
    assert st2.meta("n_buckets") == 128
    # ... and the next commit supersedes the torn file with v4
    st2.commit(2)
    assert CheckpointStore(tmp_path / "v").committed_epochs() == [0, 1, 2]

    # legacy layout: only MANIFEST.json present
    legacy = tmp_path / "legacy"
    legacy.mkdir()
    (legacy / "MANIFEST.json").write_text(
        json.dumps({"epochs": [0, 1, 2], "compacted": {}, "meta": {"n_buckets": 256}})
    )
    st3 = CheckpointStore(legacy)
    with pytest.raises(ValueError, match="MANIFEST.json"):
        st3.committed_epochs()
    with pytest.raises(ValueError, match="MANIFEST.json"):
        st3.commit(3)
    assert not list(legacy.glob("MANIFEST-*.json"))


def test_meta_visible_only_after_commit(tmp_path):
    st = CheckpointStore(tmp_path / "m")
    assert st.meta("n_buckets") is None
    st.commit(0, meta={"n_buckets": 128})
    assert st.meta("n_buckets") == 128
    # a fresh store on the same workdir sees the committed value
    assert CheckpointStore(tmp_path / "m").meta("n_buckets") == 128


def test_write_refuses_schema_drift(spark, tmp_path):
    """A frame whose schema drifts from the table's declared one is refused
    before any file is written; a frame with the declared schema writes."""
    from pyspark.sql import functions as F

    st = CheckpointStore(tmp_path / "drift")
    good = spark.createDataFrame([("h", 1.5, 3)], "host string, tokens double, epoch int")
    for bad in (
        good.withColumn("tokens", F.col("tokens").cast("bigint")),
        good.drop("tokens"),
    ):
        with pytest.raises(ValueError, match="'host_state'.*tokens"):
            st.write("host_state", 3, bad)
        assert not (tmp_path / "drift" / "host_state" / "epoch=3").exists()
    with pytest.raises(ValueError, match="not a declared checkpoint table"):
        st.write("hosts", 3, good)
    st.write("host_state", 3, good)
    assert st.read_snapshot(spark, "host_state", 3).collect() == [("h", 1.5, 3)]
