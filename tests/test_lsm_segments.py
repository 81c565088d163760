"""LSM-segmented seen state (r3 verdict #1, the remaining O(|seen|) term):
an epoch's state OUTPUT is its new segment run, never a rewrite of the
bucket's history — except when the size-tiered rule deliberately absorbs
the newest runs (amortized O(log |seen|) rewrites per key).

Contract under test (operators/dedup.py module docstring):
  - successive admitting epochs append segment rows (lo == seg) or absorb a
    newest-suffix of the stack (lo < seg), never rewrite untouched runs;
  - live segment count per bucket stays <= MAX_SEGS;
  - the union of per-epoch DELTAS, re-read through the engine's
    live-row filter (_latest_state_rows), reconstructs exactly the
    in-memory snapshot — superseded storage rows are dropped;
  - the reconstructed state dedups exactly (no loss, no resurrection).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

import bench
from gsccca_tax_records_scraper_spark.operators import dedup, segstore
from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine

# equal-sized epochs: under the binary-counter merge rule the live run
# sizes mirror the binary digits of the epoch count, so this window shows
# both pure appends (odd counts) and absorbs (carry epochs: 2, 4, 8, ...)
N_EPOCHS = 10
PER_EPOCH = 2_500


def _drive(spark, tmp_path, store_root):
    """N_EPOCHS of fresh candidates; returns (snapshot, delta_paths)."""
    state = None
    paths = []
    handles: list = []
    for e in range(N_EPOCHS):
        cands = bench._synth_candidates(spark, PER_EPOCH, start=e * PER_EPOCH)
        _new, state_new, h = dedup.dedup_candidates(
            cands, state, e, store_root=store_root
        )
        p = str(tmp_path / f"delta_{e}")
        state_new.filter(F.col("epoch") == e).write.parquet(p)
        paths.append(p)
        state = state_new.localCheckpoint()
        for hh in handles:
            hh.unpersist()
        handles = h
    for hh in handles:
        hh.unpersist()
    return state, paths


def test_tiering_bounds_and_storage_reconstruction(spark, tmp_path, store_root):
    snapshot, paths = _drive(spark, tmp_path, store_root)
    rows = snapshot.collect()

    # (1) live segment count per bucket bounded; both behaviors occurred
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.host_bucket, []).append(r)
    assert max(len(rs) for rs in by_bucket.values()) <= dedup.MAX_SEGS
    all_deltas = spark.read.parquet(*paths)
    emitted = all_deltas.filter(F.col("epoch") > 0).collect()
    assert any(r.lo == r.seg for r in emitted), "no pure append happened"
    assert any(r.lo < r.seg for r in emitted), "no absorb happened"

    # (2) segments are disjoint sorted runs covering every admitted key
    total = 0
    for rs in by_bucket.values():
        ids = np.concatenate(
            [segstore.read_segment_keys(store_root, r.file)[0] for r in rs]
        )
        assert len(ids) == len(np.unique(ids))
        total += len(ids)
    assert total == N_EPOCHS * PER_EPOCH

    # (3) union-of-deltas re-read through the engine's live filter equals
    # the in-memory snapshot row-for-row (superseded rows are dropped)
    live = CrawlEngine._latest_state_rows(all_deltas)
    live_rows = {
        (r.host_bucket, r.seg): (r.file, r.lo, r.epoch) for r in live.collect()
    }
    snap_rows = {(r.host_bucket, r.seg): (r.file, r.lo, r.epoch) for r in rows}
    assert live_rows == snap_rows
    # storage really held superseded rows for the filter to drop (absorbs
    # happened, so the raw union must be strictly larger than the live set)
    assert all_deltas.count() > len(live_rows)

    # (4) the reconstructed state dedups exactly: everything ever admitted
    # is a dup, a fresh batch is fully admitted
    replay = bench._synth_candidates(spark, N_EPOCHS * PER_EPOCH)
    new, _, h = dedup.dedup_candidates(
        replay, live.localCheckpoint(), N_EPOCHS, store_root=store_root
    )
    assert new.count() == 0
    for hh in h:
        hh.unpersist()
    fresh = bench._synth_candidates(
        spark, 2_000, start=N_EPOCHS * PER_EPOCH
    )
    new2, _, h2 = dedup.dedup_candidates(fresh, live, N_EPOCHS, store_root=store_root)
    assert new2.count() == 2_000
    for hh in h2:
        hh.unpersist()


def test_merge_segments_folds_to_one_run(spark, tmp_path, store_root):
    """The compaction fold: every bucket collapses to a single lo=0 run
    holding exactly the union of its live segment keys."""
    snapshot, _ = _drive(spark, tmp_path, store_root)
    folded = dedup.merge_segments(snapshot, store_root=store_root).localCheckpoint()
    rows = folded.collect()
    per_bucket = {}
    for r in rows:
        assert r.lo == 0
        assert r.host_bucket not in per_bucket
        per_bucket[r.host_bucket] = segstore.read_segment_keys(store_root, r.file)[0]
        assert (np.diff(per_bucket[r.host_bucket]) >= 0).all()
    assert sum(len(v) for v in per_bucket.values()) == N_EPOCHS * PER_EPOCH
    # folded state still dedups exactly and admits fresh urls
    replay = bench._synth_candidates(spark, N_EPOCHS * PER_EPOCH)
    new, _, h = dedup.dedup_candidates(replay, folded, N_EPOCHS + 1, store_root=store_root)
    assert new.count() == 0
    for hh in h:
        hh.unpersist()


def test_live_segments_transitive_coverage(store_root):
    """Spark-free check of the defensive storage-read filter: a chain of
    merges (A absorbed 1-4, B later absorbed A without covering [1,4))
    must still kill rows 1-4 — dead rows' lo feeds the running min — and
    same-seg replacements resolve by newest epoch."""

    def row(seg, lo, epoch, tag):
        ids = np.array([tag], dtype=np.int64)
        bloom_b = dedup._build_run(ids)
        fname = segstore.write_segment(store_root, 0, seg, bloom_b, ids, ids)
        return (0, seg, lo, 1, epoch, fname)

    rows = [
        row(0, 0, 0, 100),   # live (below every interval)
        row(1, 1, 1, 101),   # dead: absorbed by A
        row(2, 2, 2, 102),   # dead: absorbed by A
        row(3, 3, 3, 103),   # dead: absorbed by A
        row(4, 4, 4, 104),   # dead: absorbed by A
        row(5, 1, 5, 105),   # A = merge of [1,5) -> dead: absorbed by B
        row(6, 6, 6, 106),   # dead: absorbed by B
        row(7, 5, 7, 107),   # B = merge of [5,7) -> live
        row(7, 5, 9, 108),   # B' = revoke replacement of B (same seg) -> wins
    ]
    shuffled = [rows[i] for i in np.random.default_rng(7).permutation(len(rows))]
    segs = dedup._live_segments(dedup._meta_table(shuffled), store_root)  # order-proof
    assert [(s["seg"], s["lo"]) for s in segs] == [(0, 0), (7, 5)]
    # the replacement epoch won the same-seg tie
    assert int(dedup.seg_keys(segs[1])[0][0]) == 108


def test_revoke_replaces_only_touched_segments(spark, tmp_path, store_root):
    """Revocation on a multi-segment bucket must re-serialize ONLY the
    segment rows that lost a key (same seg, same lo, new epoch); untouched
    segments carry through bit-identical, and the revoked urls re-admit."""
    snapshot, _ = _drive(spark, tmp_path, store_root)
    snapshot = snapshot.localCheckpoint()
    # urls from the THIRD epoch: after the epoch-8 cascade they live in a
    # specific segment of each bucket
    victims = bench._synth_candidates(spark, 300, start=2 * PER_EPOCH).select(
        "url", "url_id", "host_bucket"
    ).withColumn("url_h", F.xxhash64("url"))
    n_victims = victims.count()

    snap2, handles = dedup.revoke_seen(snapshot, victims, epoch=99, store_root=store_root)
    snap2 = snap2.localCheckpoint()
    for h in handles:
        h.unpersist()

    prior = {(r.host_bucket, r.seg): r for r in snapshot.collect()}
    now = {(r.host_bucket, r.seg): r for r in snap2.collect()}
    assert prior.keys() == now.keys()  # revocation never changes the stack shape
    changed = [k for k in now if now[k].epoch == 99]
    assert changed
    removed = 0
    for k in prior:
        if k in changed:
            a = segstore.read_segment_keys(store_root, prior[k].file)[0]
            b = segstore.read_segment_keys(store_root, now[k].file)[0]
            assert len(b) < len(a) and set(b) <= set(a)
            assert now[k].lo == prior[k].lo
            removed += len(a) - len(b)
        else:
            assert now[k].file == prior[k].file
            assert now[k].epoch == prior[k].epoch
    assert removed == n_victims
    # the revoked urls are re-admitted; everything else stays a dup
    replay = bench._synth_candidates(spark, N_EPOCHS * PER_EPOCH)
    new, _, h = dedup.dedup_candidates(replay, snap2, 100, store_root=store_root)
    assert new.count() == n_victims
    for hh in h:
        hh.unpersist()


def _simulate_tiering(batches: list[int]) -> tuple[list[int], int]:
    """Drive tier_absorb over a sequence of batch sizes exactly the way the
    cogroup does (operators/dedup.py _fused_fn): each epoch's new run
    absorbs sizes[j+1:] and lands with their accumulated size. Returns the
    final live-stack sizes and the total keys WRITTEN over the run's life
    (first write + every rewrite) — the write-amplification numerator."""
    sizes: list[int] = []
    written = 0
    for n in batches:
        j = dedup.tier_absorb(sizes, n)
        run = n + sum(sizes[j + 1:])
        written += run
        sizes = sizes[: j + 1] + [run]
    return sizes, written


def test_tier_absorb_binary_counter_bounds():
    """The merge rule's two complexity claims, locked over long horizons:
    live-stack depth ~ log2(epochs) and total bytes written ~ N * log2
    (each key rewritten once per doubling of the data above it). The old
    twice-the-next-run rule measured ~N^0.9 amplification (32x at 10^4
    equal epochs); this pins the replacement well under that."""
    for n_epochs in (100, 1_000, 10_000):
        sizes, written = _simulate_tiering([1_000] * n_epochs)
        total = 1_000 * n_epochs
        depth_bound = int(np.log2(n_epochs)) + 1
        assert len(sizes) <= depth_bound
        assert sum(sizes) == total  # keys conserved, never dropped
        amp = written / total
        assert amp <= depth_bound  # O(log) rewrites per key
    # equal epochs: live sizes are exactly the binary digits of the count
    sizes, _ = _simulate_tiering([1] * 0b1011010)
    assert sizes == [64, 16, 8, 2]


def test_tier_absorb_properties_random_batches():
    """Property test over arbitrary batch-size sequences: keys conserved,
    live depth within max(binary bound, MAX_SEGS), rewrites amortized
    O(log), and the decision is a pure function of sizes (resume-stable)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=1, max_value=10**7), min_size=1,
                    max_size=60))
    def check(batches):
        sizes, written = _simulate_tiering(batches)
        total = sum(batches)
        assert sum(sizes) == total
        assert len(sizes) <= dedup.MAX_SEGS
        # amortized O(log): every key rewritten at most once per >=1.8x
        # growth of the data above it, plus the MAX_SEGS cascade slack
        bound = int(np.log2(max(total, 2))) + dedup.MAX_SEGS
        assert written <= total * bound
        assert dedup.tier_absorb(list(sizes), 17) == dedup.tier_absorb(
            list(sizes), 17
        )

    check()


def test_tier_absorb_adversarial_batches_respect_cap():
    """Geometric DECREASING batches are the worst case for stack depth
    (each run is too small to absorb the bigger one below); the MAX_SEGS
    valve must hold there, and a recovery epoch must still conserve keys."""
    batches = [2 ** k for k in range(30, 0, -1)]
    sizes, _ = _simulate_tiering(batches)
    assert len(sizes) <= dedup.MAX_SEGS
    assert sum(sizes) == sum(batches)
    # determinism / resume-stability: same history -> same decision
    assert dedup.tier_absorb(sizes, 123) == dedup.tier_absorb(list(sizes), 123)


def test_engine_fold_segments_maintenance(spark, tmp_path):
    """CrawlEngine.fold_segments (explicit major compaction): resets every
    bucket to ONE live run, preserves the seen set exactly, commits a
    resume-safe epoch, and the engine keeps dedup'ing correctly after."""
    eng = CrawlEngine(spark, tmp_path / "fold", epoch_seconds=60.0)
    eng.run([1, 2])
    seen_before = {r.url for r in eng.seen().collect()}
    out = eng.fold_segments()
    assert out["segments_after"] <= out["segments_before"]
    live = eng._latest_state_rows(eng._read_seen_state(out["epoch"]))
    per_bucket = live.groupBy("host_bucket").count().collect()
    assert per_bucket and all(r["count"] == 1 for r in per_bucket)
    assert {r.url for r in eng.seen().collect()} == seen_before
    # a fresh engine resumes across the fold and reseeding re-admits
    # nothing (the folded state still knows every url)
    eng2 = CrawlEngine(spark, tmp_path / "fold", epoch_seconds=60.0)
    res = eng2.reseed([1, 2])
    assert res["new_urls"] == 0
    assert {r.url for r in eng2.seen().collect()} == seen_before
