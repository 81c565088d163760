"""Resume bit-identity (north_rule; SURVEY §5.6, T5).

Kill after epoch k (drop the engine object mid-run), construct a fresh
engine over the same checkpoint workdir, drain to completion: every output
table must equal the uninterrupted run's, row for row."""

from __future__ import annotations

import pytest

from gsccca_tax_records_scraper_spark.functions import urltools
from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine

SEEDS = [7]


def _table_key(eng, name):
    df = getattr(eng, name)()
    assert df is not None
    return sorted(map(str, df.collect()))


def test_resume_bit_identity(spark, tmp_path):
    a = CrawlEngine(spark, tmp_path / "a", epoch_seconds=60.0)
    a.run(SEEDS)

    b = CrawlEngine(spark, tmp_path / "b", epoch_seconds=60.0)
    b.bootstrap(SEEDS)
    b.step()
    b.step()
    del b  # "kill"
    b2 = CrawlEngine(spark, tmp_path / "b", epoch_seconds=60.0)
    b2.run()  # resume from last committed epoch

    assert a.store.committed_epochs() == b2.store.committed_epochs()
    for table in ("records", "documents", "seen", "metrics"):
        assert _table_key(a, table) == _table_key(b2, table), table


def test_zero_grant_epoch_carries_tokens(spark, tmp_path):
    """epoch_seconds so small that budget floors to 0: the engine must keep
    committing token-accrual epochs (like the simulator), not abandon the
    frontier. rate 0.25/s x 2s = 0.5 tokens -> grant on every 2nd epoch."""
    from gsccca_tax_records_scraper_spark.simulator import simulate_crawl

    eng = CrawlEngine(spark, tmp_path / "z", epoch_seconds=2.0)
    eng.bootstrap([7])
    m1 = eng.step()
    assert m1 is not None and m1["granted"] == 0  # 0.5 tokens accrued
    m2 = eng.step()
    assert m2 is not None and m2["granted"] == 1  # 1.0 tokens -> one grant
    # first 12 epochs reproduce the simulator's zero-grant-epoch cadence
    eng.run(max_epochs=10)
    sim = simulate_crawl([7], epoch_seconds=2.0, max_epochs=12)
    got = {}
    for r in eng.records().collect():
        got.setdefault(r.epoch, []).append(r.url)
    for e in range(1, 13):
        assert sorted(got.get(e, [])) == sorted(sim.grant_order[e - 1]), e


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001


def test_step_paths_release_their_caches(spark, tmp_path):
    """Every step path (normal, zero-grant, drained) and every other
    epoch-writing op (bootstrap, revoke, reseed, fold_segments) unpersists
    the frames it cached, and a drained step commits nothing: step()
    returns None, the committed epochs are unchanged and no table dir
    exists at the next epoch."""
    eng = CrawlEngine(spark, tmp_path / "n", epoch_seconds=60.0)
    base = _persisted(spark)
    eng.bootstrap(SEEDS)
    assert _persisted(spark) == base
    m = eng.step()
    assert m is not None and m["granted"] > 0
    assert _persisted(spark) == base

    z = CrawlEngine(spark, tmp_path / "z", epoch_seconds=2.0)
    z.bootstrap(SEEDS)
    base = _persisted(spark)
    m = z.step()
    assert m is not None and m["granted"] == 0
    assert _persisted(spark) == base

    eng.run()
    committed = eng.store.committed_epochs()
    base = _persisted(spark)
    assert eng.step() is None
    assert _persisted(spark) == base
    assert eng.store.committed_epochs() == committed
    assert not list(eng.store.workdir.glob(f"*/epoch={committed[-1] + 1}"))

    victims = [r.url for r in eng.seen().limit(2).collect()]
    for op in (lambda: eng.revoke(victims), lambda: eng.reseed(SEEDS), eng.fold_segments):
        base = _persisted(spark)
        op()
        assert _persisted(spark) == base


def test_failed_step_releases_its_caches(spark, tmp_path):
    """A step whose checkpoint write fails mid-epoch still unpersists every
    frame it cached, and the epoch then retries cleanly."""
    eng = CrawlEngine(spark, tmp_path / "w", epoch_seconds=60.0)
    eng.bootstrap(SEEDS)
    write = eng.store.write

    def failing_write(table, epoch, df):
        if table == "seen_exact":  # after frontier, seen_state, host_state
            raise OSError("injected write failure")
        return write(table, epoch, df)

    eng.store.write = failing_write
    base = _persisted(spark)
    with pytest.raises(OSError, match="injected"):
        eng.step()
    assert _persisted(spark) == base
    eng.store.write = write
    assert eng.step() is not None
    assert _persisted(spark) == base


def test_failed_split_commit_leaks_no_fanout(spark, tmp_path):
    """A step that stages a split and then fails to commit must not leak the
    staged fan-out into the next op's commit: after fold_segments() on the
    same engine, the committed fan-out is unchanged and every committed
    seen_state key sits in bucket url_id % n_buckets."""
    from pyspark.sql import functions as F

    from gsccca_tax_records_scraper_spark.operators import segstore

    eng = CrawlEngine(spark, tmp_path / "s", epoch_seconds=60.0, split_threshold=1)
    eng.bootstrap([1])
    n_buckets = eng.store.meta("n_buckets", urltools.N_HOST_BUCKETS)
    commit = eng.store.commit

    def failing_commit(*args, **kwargs):
        eng.store.commit = commit  # raise once
        raise OSError("injected commit failure")

    eng.store.commit = failing_commit
    with pytest.raises(OSError, match="injected"):
        eng.step()
    # the failed step did split: its uncommitted frontier is re-bucketed
    staged = spark.read.parquet(
        eng.store.table_path("frontier", eng.store.last_epoch() + 1)
    )
    assert staged.agg(F.max("host_bucket")).first()[0] >= n_buckets
    eng.fold_segments()
    assert eng.store.meta("n_buckets", urltools.N_HOST_BUCKETS) == n_buckets
    state = eng._read_seen_state(eng.store.last_epoch()).collect()
    assert state
    for r in state:
        ids, _hs = segstore.read_segment_keys(eng._seg_root, r.file)
        assert (ids % n_buckets == r.host_bucket).all(), r


def test_epoch_guards_raise(spark, tmp_path):
    """Opening an epoch on the wrong workdir state raises (an assert would
    vanish under `python -O` and let a second bootstrap commit)."""
    from gsccca_tax_records_scraper_spark.sources.checkpoint import CheckpointStore

    with pytest.raises(RuntimeError, match="bootstrap first"):
        CrawlEngine(spark, tmp_path / "e", epoch_seconds=60.0).step()
    CheckpointStore(tmp_path / "b").commit(0, meta={"state_backend": "store"})
    with pytest.raises(RuntimeError, match="already bootstrapped"):
        CrawlEngine(spark, tmp_path / "b", epoch_seconds=60.0).bootstrap(SEEDS)


def test_partial_write_ignored(spark, tmp_path):
    """An uncommitted epoch dir (crash mid-write) must not poison resume."""
    eng = CrawlEngine(spark, tmp_path / "c", epoch_seconds=60.0)
    eng.bootstrap(SEEDS)
    eng.step()
    last = eng.store.last_epoch()
    # simulate a crash mid-epoch: garbage table dir for epoch last+1, no commit
    junk = eng.store.workdir / "frontier" / f"epoch={last + 1}"
    junk.mkdir(parents=True)
    (junk / "part-00000.parquet").write_bytes(b"not a parquet file")
    eng2 = CrawlEngine(spark, tmp_path / "c", epoch_seconds=60.0)
    assert eng2.store.last_epoch() == last
    assert eng2.step() is not None  # overwrites the junk and carries on


def test_crashed_op_leaves_no_phantom_deltas(spark, tmp_path):
    """Ops write different table subsets at the same epoch number, so a
    crashed attempt's stray dirs must be purged when a DIFFERENT op later
    takes that epoch — otherwise read_deltas (which trusts any existing dir
    at a committed epoch) would surface the aborted attempt's rows.

    Crash A: a step wrote records/epoch=K+1 then died before commit; the
    operator retries with a revocation at K+1. Crash B: a revocation wrote
    revoked/epoch=E then died; a plain step commits E."""
    from pyspark.sql import functions as F

    wd = tmp_path / "ph"
    eng = CrawlEngine(spark, wd, epoch_seconds=60.0)
    eng.run(SEEDS)
    k = eng.store.last_epoch()

    # Crash A: phantom records dir at K+1 (parquet write leaves _SUCCESS)
    phantom = spark.createDataFrame(
        [("https://phantom.example/x", k + 1)], "url string, epoch int"
    )
    real = eng.records().schema
    pad = phantom
    for f in real.fields:
        if f.name not in pad.columns:
            pad = pad.withColumn(f.name, F.lit(None).cast(f.dataType))
    eng.store.write("records", k + 1, pad.select(*real.names))
    victims = sorted(r.url for r in eng.seen().filter(F.col("epoch") == 0).collect())[:2]
    res = eng.revoke(victims)
    assert res["epoch"] == k + 1
    assert eng.records().filter(F.col("url").contains("phantom")).count() == 0

    # Crash B: phantom revoked dir at the next epoch, then a real step
    e = eng.store.last_epoch() + 1
    eng.store.write(
        "revoked", e,
        spark.createDataFrame(
            [(0, 1, "https://phantom.example/y", e)],
            "host_bucket int, url_id long, url string, epoch int",
        ),
    )
    eng.reseed(SEEDS)  # takes epoch e; must purge the stray revoked dir
    assert eng.store.last_epoch() == e
    rv = eng.revoked()
    assert rv.filter(F.col("url").contains("phantom")).count() == 0
    # the real revocation lineage from crash A survives
    assert {r.url for r in rv.collect()} == set(victims)
