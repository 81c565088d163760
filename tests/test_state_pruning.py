"""Dedup state-transport pruning (r3 verdict #1): per-epoch state rows
moved through Arrow must track the TOUCHED/CHANGED bucket set, not |seen|.

The contract under test (operators/dedup.py module docstring):
  - input side: only the batch's distinct host_buckets enter the cogroup;
  - output side: a touched-but-all-dup bucket emits NO state row, and an
    admitting bucket emits only its NEW segment run — O(new keys)
    amortized (prior rows are carried forward JVM-side, bit-identical);
  - the returned snapshot is still the FULL seen state every epoch.

`handles[0]` is the persisted cogroup output, so its state rows are exactly
the rows that crossed the JVM<->Python boundary — the tests assert on it
directly instead of timing anything.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

import bench
from gsccca_tax_records_scraper_spark.operators import dedup, segstore


def _crossed_state_buckets(handles):
    out = handles[0]
    return {
        int(r[0])
        for r in out.filter(F.col("file").isNotNull()).select("host_bucket").collect()
    }


def test_alldup_batch_ships_zero_state_rows(spark, store_root):
    """A batch of 100% dups must move ZERO state rows out of Python, and the
    returned snapshot must be the prior rows verbatim (same segment files,
    same epoch stamps) — re-deduping against it still admits nothing."""
    c1 = bench._synth_candidates(spark, 8_000)
    new1, state1, h1 = dedup.dedup_candidates(c1, None, 0, store_root=store_root)
    state1 = state1.localCheckpoint()
    for h in h1:
        h.unpersist()

    new2, state2, h2 = dedup.dedup_candidates(
        c1, state1, 1, prune_state=True, store_root=store_root
    )
    assert new2.count() == 0
    # no bucket changed -> no state row crossed Arrow outbound
    assert _crossed_state_buckets(h2) == set()
    # the engine's delta write (filter epoch == current) writes nothing
    assert state2.filter(F.col("epoch") == 1).count() == 0
    # ... and the snapshot is the prior rows bit-for-bit
    prior = {r.host_bucket: r for r in state1.collect()}
    now = {r.host_bucket: r for r in state2.collect()}
    assert prior.keys() == now.keys()
    for b in prior:
        assert prior[b].file == now[b].file, b
        assert prior[b].epoch == now[b].epoch == 0
    for h in h2:
        h.unpersist()
    # idempotence at one more epoch: the carried snapshot still dedups
    new3, _, h3 = dedup.dedup_candidates(
        c1, state2, 2, prune_state=True, store_root=store_root
    )
    assert new3.count() == 0
    for h in h3:
        h.unpersist()


def test_confined_batch_ships_only_touched_buckets(spark, store_root):
    """Candidates confined to a few buckets must move only those buckets'
    state rows into (and at most those out of) the cogroup, while the
    returned snapshot still covers every bucket."""
    c1 = bench._synth_candidates(spark, 8_000)
    new1, state1, h1 = dedup.dedup_candidates(c1, None, 0, store_root=store_root)
    state1 = state1.localCheckpoint()
    n_buckets = state1.count()
    for h in h1:
        h.unpersist()

    # fresh urls confined to host_bucket < 5 (plus dups in the same range)
    fresh = bench._synth_candidates(spark, 8_000, start=8_000).filter(
        F.col("host_bucket") < 5
    )
    dups = c1.filter(F.col("host_bucket") < 5)
    batch = fresh.unionByName(dups)
    n_fresh = fresh.count()
    assert n_fresh > 0

    new2, state2, h2 = dedup.dedup_candidates(
        batch, state1, 1, prune_state=True, store_root=store_root
    )
    assert new2.count() == n_fresh
    crossed = _crossed_state_buckets(h2)
    assert crossed and crossed <= set(range(5)), crossed
    # delta write = exactly the changed buckets
    changed = {
        int(r[0])
        for r in state2.filter(F.col("epoch") == 1).select("host_bucket").collect()
    }
    assert changed == crossed
    # full snapshot: every bucket present, untouched buckets' rows verbatim;
    # changed buckets hold prior keys + the admitted ones across their live
    # segment rows (disjoint runs, each sorted)
    rows_by_bucket: dict[int, list] = {}
    for r in state2.collect():
        rows_by_bucket.setdefault(r.host_bucket, []).append(r)
    assert len(rows_by_bucket) == n_buckets
    prior = {r.host_bucket: r for r in state1.collect()}  # one seg per bucket
    for b, rs in rows_by_bucket.items():
        if b not in changed:
            assert len(rs) == 1
            assert rs[0].file == prior[b].file
            assert rs[0].epoch == prior[b].epoch
        else:
            keys = [segstore.read_segment_keys(store_root, r.file)[0] for r in rs]
            all_ids = np.concatenate(keys)
            prior_ids = segstore.read_segment_keys(store_root, prior[b].file)[0]
            assert len(all_ids) == len(np.unique(all_ids))  # disjoint segments
            assert set(prior_ids) <= set(all_ids)
            assert len(all_ids) > len(prior_ids)
            for ids in keys:
                assert (np.diff(ids) >= 0).all()
    for h in h2:
        h.unpersist()


def test_pruned_plan_reads_only_touched_state(spark, tmp_path, store_root):
    """The static isin predicate must reach the seen_state parquet scan
    (PushedFilters) THROUGH the engine's live-row windows (they partition
    by host_bucket, so Catalyst pushes the predicate below them), so a
    bucketed/sorted state table prunes at the file level on a real
    deployment."""
    from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine

    c1 = bench._synth_candidates(spark, 8_000)
    new1, state1, h1 = dedup.dedup_candidates(c1, None, 0, store_root=store_root)
    path = str(tmp_path / "seen_state")
    state1.repartitionByRange(8, "host_bucket").sortWithinPartitions(
        "host_bucket"
    ).write.parquet(path)
    for h in h1:
        h.unpersist()

    # the engine's exact read path: storage -> live-row filter -> dedup
    stored = CrawlEngine._latest_state_rows(spark.read.parquet(path))
    batch = bench._synth_candidates(spark, 8_000, start=8_000).filter(
        F.col("host_bucket") < 5
    )
    new2, state2, h2 = dedup.dedup_candidates(
        batch, stored, 1, prune_state=True, store_root=store_root
    )
    plan = h2[0]._jdf.queryExecution().toString()
    # the cogroup input's parquet scan carries the host_bucket In-filter
    assert "host_bucket" in plan and ("In(host_bucket" in plan or "in(host_bucket" in plan.lower()), plan[-2000:]
    assert new2.count() == batch.count()
    for h in h2:
        h.unpersist()


def test_append_emits_only_new_run(spark, store_root):
    """LSM output contract: an admitting batch that is SMALL relative to the
    prior bucket state must serialize out only its new segment rows —
    O(new keys), lo == seg (pure append), prior segment bytes untouched."""
    c1 = bench._synth_candidates(spark, 30_000)
    _n, state1, h1 = dedup.dedup_candidates(c1, None, 0, store_root=store_root)
    state1 = state1.localCheckpoint()
    prior_keys = 30_000
    for h in h1:
        h.unpersist()

    small = bench._synth_candidates(spark, 500, start=30_000)
    new2, state2, h2 = dedup.dedup_candidates(
        small, state1, 1, prune_state=True, store_root=store_root
    )
    n_admitted = new2.count()
    assert n_admitted == 500
    out_rows = h2[0].filter(F.col("file").isNotNull()).collect()
    emitted = sum(
        len(segstore.read_segment_keys(store_root, r.file)[0]) for r in out_rows
    )
    # pure appends: every emitted row covers nothing and the new segments
    # hold exactly the admitted keys
    assert all(r.lo == r.seg for r in out_rows)
    assert emitted == n_admitted, (emitted, n_admitted, prior_keys)
    # ... and the snapshot still dedups everything
    new3, _, h3 = dedup.dedup_candidates(
        c1.unionByName(small), state2.localCheckpoint(), 2, store_root=store_root
    )
    assert new3.count() == 0
    for h in h2 + h3:
        h.unpersist()
