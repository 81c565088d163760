"""Property tests for the blocked-Bloom + cuckoo seen-set (SURVEY §5.5)."""

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
    bb = seenset.BlockedBloom.for_capacity(50_000, bits_per_key=16)
    bb.insert(inserted)
    fpr = bb.contains(probes).mean()
    assert fpr < 0.01, fpr


def test_bloom_serialization_roundtrip():
    ids = np.arange(1000, dtype=np.uint64) * 2654435761
    bb = seenset.BlockedBloom.for_capacity(2000)
    bb.insert(ids)
    bb2 = seenset.BlockedBloom.from_bytes(bb.to_bytes())
    assert bb2.n_blocks == bb.n_blocks
    assert bb2.contains(ids).all()
    assert np.array_equal(bb2.words, bb.words)


@given(IDS)
@settings(max_examples=30, deadline=None)
def test_cuckoo_insert_lookup_roundtrip(ids):
    cf = seenset.CuckooFilter.for_capacity(max(len(ids), 16))
    arr = np.array(ids, dtype=np.uint64)
    failed = cf.insert(arr)
    assert failed == 0
    assert cf.contains(arr).all()


def test_cuckoo_delete():
    rs = np.random.RandomState(3)
    ids = np.unique(rs.randint(0, 2**60, size=5000).astype(np.uint64))
    cf = seenset.CuckooFilter.for_capacity(len(ids))
    assert cf.insert(ids) == 0
    removed = cf.delete(ids[:500])
    assert removed.all()
    # remaining ids still present
    assert cf.contains(ids[500:]).all()


def test_cuckoo_serialization_roundtrip():
    ids = (np.arange(3000, dtype=np.uint64) + 1) * 0x9E3779B9
    cf = seenset.CuckooFilter.for_capacity(4096)
    cf.insert(ids)
    cf2 = seenset.CuckooFilter.from_bytes(cf.to_bytes())
    assert cf2.contains(ids).all()
    assert cf2.n_buckets == cf.n_buckets


def test_cuckoo_load_factor():
    # at the sizing rule (84% of 4-slot buckets) inserts must not fail
    cap = 10_000
    cf = seenset.CuckooFilter.for_capacity(cap)
    rs = np.random.RandomState(11)
    ids = np.unique(rs.randint(0, 2**60, size=cap).astype(np.uint64))
    assert cf.insert(ids) == 0


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
            bloom_b, _cuckoo_b, _layout = segstore.read_segment_filters(store_root, r.file)
            bb = seenset.BlockedBloom.from_bytes(bloom_b)
            assert bb.n_items == r.n_items
            assert bb.capacity >= bb.n_items, (r.host_bucket, bb.capacity, bb.n_items)
            fprs.append(bb.contains(probes).mean())
        # FPR stays at the healthy 16-bits/key bound
        assert float(np.mean(fprs)) < 0.01, fprs

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
    cuckoo = seenset.CuckooFilter.for_capacity(2000)
    assert cuckoo.insert(ids.view(np.uint64)) == 0
    probe = rng.integers(0, 1 << 60, size=500).astype(np.int64).view(np.uint64)
    bb, cb = bloom.to_bytes(), cuckoo.to_bytes()
    b_ro = seenset.BlockedBloom.from_bytes(bb, mutable=False)
    c_ro = seenset.CuckooFilter.from_bytes(cb, mutable=False)
    assert (b_ro.contains(probe) == seenset.BlockedBloom.from_bytes(bb).contains(probe)).all()
    assert (c_ro.contains(probe) == seenset.CuckooFilter.from_bytes(cb).contains(probe)).all()
    with pytest.raises(ValueError):
        b_ro.insert(ids[:4].view(np.uint64))
    with pytest.raises(ValueError):
        c_ro.delete(ids[:4].view(np.uint64))


def test_probe_segments_cuckoo_confirm_skips_key_load(tmp_path):
    """A bloom false positive alone must NOT pull a store-backed segment's
    key arrays: the cuckoo confirm rejects it first (lazy `ids` never
    materializes). A true member still resolves exactly."""
    import numpy as np

    from gsccca_tax_records_scraper_spark.operators import dedup, segstore

    rng = np.random.default_rng(33)
    ids = np.sort(rng.integers(0, 1 << 59, size=4096).astype(np.int64))
    hs = rng.integers(-(1 << 62), 1 << 62, size=4096).astype(np.int64)
    bloom_b, cuckoo_b = dedup._build_run(ids, hs)
    root = str(tmp_path / "segs")
    name = segstore.write_segment(root, 0, 0, bloom_b, cuckoo_b, ids, hs)
    bloom = seenset.BlockedBloom.from_bytes(bloom_b)
    cuckoo = seenset.CuckooFilter.from_bytes(cuckoo_b)
    member = set(ids.tolist())
    # scan for a bloom-positive / cuckoo-negative non-member (bloom FPR ~1%,
    # joint FPR is the product, so such ids exist in a modest scan)
    cand = np.arange(2_000_000, dtype=np.int64) + (3 << 58)
    bp = bloom.contains(cand.view(np.uint64))
    cp = cuckoo.contains(cand.view(np.uint64))
    fp = cand[(bp & ~cp) & ~np.isin(cand, ids)]
    assert len(fp), "no bloom-FP/cuckoo-negative id found; enlarge the scan"
    probe_id = fp[:1]
    segstore.clear_cache()
    seg = {"n": len(ids), "bloom_b": bloom_b, "cuckoo_b": cuckoo_b,
           "_keys_from": (root, name)}
    got = dedup.probe_segments([seg], probe_id, np.zeros(1, dtype=np.int64))
    assert not got[0] and "ids" not in seg, "cuckoo confirm failed to skip key load"
    # a genuine member (correct hash) probes True and loads keys lazily
    k = 17
    got2 = dedup.probe_segments([seg], ids[k:k+1], hs[k:k+1])
    assert got2[0] and "ids" in seg
    assert probe_id[0] not in member
