"""Property tests for the blocked-Bloom seen-set prefilter (SURVEY §5.5)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gsccca_tax_records_scraper_spark.operators import seenset

IDS = st.lists(st.integers(min_value=0, max_value=2**60 - 1), max_size=300, unique=True)


@given(IDS)
@settings(max_examples=30, deadline=None)
def test_bloom_no_false_negatives(ids):
    bb = seenset.BlockedBloom.for_capacity(max(len(ids), 16))
    arr = np.array(ids, dtype=np.uint64)
    bb.insert(arr)
    assert bb.contains(arr).all()


def test_bloom_fpr_bound():
    rs = np.random.RandomState(7)
    inserted = rs.randint(0, 2**60, size=50_000).astype(np.uint64)
    probes = rs.randint(0, 2**60, size=50_000).astype(np.uint64)
    bb = seenset.BlockedBloom.for_capacity(50_000)
    bb.insert(inserted)
    fpr = bb.contains(probes).mean()
    assert fpr < 1e-4, fpr


def test_bloom_serialization_roundtrip():
    ids = np.arange(1000, dtype=np.uint64) * 2654435761
    bb = seenset.BlockedBloom.for_capacity(2000)
    bb.insert(ids)
    bb2 = seenset.BlockedBloom.from_bytes(bb.to_bytes())
    assert bb2.n_blocks == bb.n_blocks
    assert bb2.contains(ids).all()
    assert np.array_equal(bb2.words, bb.words)


# ------------------------------------------------- overflow rebuild (r2 #9)

def test_dedup_rebuilds_overflowing_bucket(spark, store_root):
    """Runs size their own filters: across two epochs every live segment's
    bloom (read back from the segment store) holds its run at a healthy
    capacity, keeps the FPR bounded, and stays exact (re-deduping the same
    candidates admits zero; fresh urls admit fully)."""
    import bench
    from gsccca_tax_records_scraper_spark.operators import dedup, segstore

    def check_filters(state):
        rows = state.collect()
        assert rows
        probes = np.arange(10**6, 10**6 + 20_000, dtype=np.uint64)
        fprs = []
        for r in rows:
            bloom_b, _layout = segstore.read_segment_filters(store_root, r.file)
            bb = seenset.BlockedBloom.from_bytes(bloom_b)
            assert bb.n_items == r.n_items
            assert bb.capacity >= bb.n_items, (r.host_bucket, bb.capacity, bb.n_items)
            fprs.append(bb.contains(probes).mean())
        # FPR stays at the 32-bits/key bound
        assert float(np.mean(fprs)) < 1e-4, fprs

    c1 = bench._synth_candidates(spark, 2000, start=0)
    new1, state1, h1 = dedup.dedup_candidates(c1, None, 0, store_root=store_root)
    state1 = state1.localCheckpoint()
    for h in h1:
        h.unpersist()
    check_filters(state1)
    # exactness: same candidates again -> 0 admitted
    new2, state2, h2 = dedup.dedup_candidates(c1, state1, 1, store_root=store_root)
    assert new2.count() == 0
    # a second epoch: fresh urls keep inserting correctly
    c2 = bench._synth_candidates(spark, 2000, start=2000)
    new3, state3, h3 = dedup.dedup_candidates(c2, state1, 1, store_root=store_root)
    assert new3.count() == 2000
    check_filters(state3)
    for h in h2 + h3:
        h.unpersist()


def test_from_bytes_immutable_view():
    """mutable=False skips the deserialization copy (the probe path reads
    filters straight off the Arrow/store buffer): contains() agrees with
    the mutable twin, mutation raises instead of corrupting the buffer."""
    import numpy as np

    rng = np.random.default_rng(21)
    ids = rng.integers(0, 1 << 60, size=2000).astype(np.int64)
    bloom = seenset.BlockedBloom.for_capacity(2000)
    bloom.insert(ids.view(np.uint64))
    probe = rng.integers(0, 1 << 60, size=500).astype(np.int64).view(np.uint64)
    bb = bloom.to_bytes()
    b_ro = seenset.BlockedBloom.from_bytes(bb, mutable=False)
    assert (b_ro.contains(probe) == seenset.BlockedBloom.from_bytes(bb).contains(probe)).all()
    with pytest.raises(ValueError):
        b_ro.insert(ids[:4].view(np.uint64))


def test_probe_segments_bloom_negative_skips_key_load(tmp_path):
    """A bloom-negative non-member must NOT pull a store-backed segment's
    key arrays (lazy `ids` never materializes); a true member resolves
    exactly and loads them."""
    import numpy as np

    from gsccca_tax_records_scraper_spark.operators import dedup, segstore

    rng = np.random.default_rng(33)
    ids = np.sort(rng.integers(0, 1 << 59, size=4096).astype(np.int64))
    hs = rng.integers(-(1 << 62), 1 << 62, size=4096).astype(np.int64)
    bloom_b = dedup._build_run(ids)
    root = str(tmp_path / "segs")
    name = segstore.write_segment(root, 0, 0, bloom_b, ids, hs)
    bloom = seenset.BlockedBloom.from_bytes(bloom_b)
    cand = np.arange(1000, dtype=np.int64) + (3 << 58)
    neg = cand[~bloom.contains(cand.view(np.uint64))]
    assert len(neg)
    probe_id = neg[:1]
    assert probe_id[0] not in set(ids.tolist())
    segstore.clear_cache()
    seg = {"n": len(ids), "bloom_b": bloom_b, "_keys_from": (root, name)}
    got = dedup.probe_segments([seg], probe_id, np.zeros(1, dtype=np.int64))
    assert not got[0] and "ids" not in seg, "bloom negative pulled the key arrays"
    # a genuine member (correct hash) probes True and loads keys lazily
    k = 17
    got2 = dedup.probe_segments([seg], ids[k:k+1], hs[k:k+1])
    assert got2[0] and "ids" in seg
