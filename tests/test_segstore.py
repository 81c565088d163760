"""Segment-store backend (operators/segstore.py): write-once payload files,
worker-process cache, a keep-first reference oracle, engine GC, crash
orphans.

The engine-level store coverage rides in test_crawl_e2e/test_resume/
test_compaction/test_split/test_revoke/test_checkpoint_uri (file:// URI
root through pyarrow.fs included); this file covers the store's own
contract.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from gsccca_tax_records_scraper_spark.operators import dedup, segstore
from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine

import bench


def _mk_arrays(n, seed):
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.integers(0, 1 << 60, size=n).astype(np.int64))
    hs = rng.integers(-(1 << 62), 1 << 62, size=n).astype(np.int64)
    return ids, hs


def test_roundtrip_idempotent_and_cached(tmp_path):
    root = str(tmp_path / "segs")
    ids, hs = _mk_arrays(1000, 1)
    bloom_b = dedup._build_run(ids)
    segstore.clear_cache()
    name = segstore.write_segment(root, 7, 3, bloom_b, ids, hs)
    assert name.startswith("b00007-s000003-") and name.endswith(".seg")
    # rewrite converges on the same name and leaves one file (retry/replay
    # idempotency: content-addressed write-once)
    assert segstore.write_segment(root, 7, 3, bloom_b, ids, hs) == name
    assert os.listdir(root) == [name]
    b2, i2, h2 = segstore.read_segment(root, name)
    assert b2 == bloom_b
    assert (i2 == ids).all() and (h2 == hs).all()
    st = segstore.cache_stats()
    # write-through populated the cache: the read above was a hit
    assert st["hits"] >= 1 and st["entries"] >= 1
    # a cold process (cleared cache) reads the same bytes from disk
    segstore.clear_cache()
    b3, i3, _h3 = segstore.read_segment(root, name)
    assert b3 == bloom_b and (i3 == ids).all()
    # the cache is PART-granular (filters / keys load independently so
    # probes can skip key bytes): a cold whole read = two misses
    assert segstore.cache_stats()["misses"] == 2


def test_lru_byte_budget_evicts(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SEG_CACHE_MB", "1")  # 1 MiB budget
    root = str(tmp_path / "segs")
    segstore.clear_cache()
    names = []
    for b in range(12):  # ~200 KB payload each -> ~2.4 MB total
        ids, hs = _mk_arrays(12_000, b)
        bloom_b = dedup._build_run(ids)
        names.append(segstore.write_segment(root, b, 0, bloom_b, ids, hs))
    st = segstore.cache_stats()
    assert st["bytes"] <= 1 << 20
    assert st["entries"] < 12  # oldest evicted
    # evicted entries still readable (from disk), newest still cached
    for name in names:
        segstore.read_segment(root, name)
    segstore.clear_cache()


def test_truncated_segment_refused(tmp_path):
    """A segment file whose size disagrees with its header's lengths (cut
    short by one byte) or whose ids and hs lengths differ is refused, read
    cold, with an error naming the file, not a numpy reshape error."""
    root = str(tmp_path / "segs")
    ids, hs = _mk_arrays(300, 5)
    name = segstore.write_segment(root, 3, 0, dedup._build_run(ids), ids, hs)
    path = os.path.join(root, name)
    with open(path, "rb") as f:
        data = f.read()
    with open(path, "wb") as f:
        f.write(data[:-1])
    segstore.clear_cache()  # write_segment pre-fills the cache
    with pytest.raises(ValueError, match=name):
        segstore.read_segment(root, name)
    segstore.clear_cache()
    with pytest.raises(ValueError, match=name):
        segstore.read_segment_keys(root, name)
    # same total size, but the header moves 8 bytes from hs to ids
    magic, n_bloom, n_ids, n_hs = segstore._HEADER.unpack_from(data)
    skewed = segstore._HEADER.pack(magic, n_bloom, n_ids + 8, n_hs - 8)
    with open(path, "wb") as f:
        f.write(skewed + data[segstore._HEADER.size:])
    segstore.clear_cache()
    with pytest.raises(ValueError, match=name):
        segstore.read_segment(root, name)
    segstore.clear_cache()


def test_gseg1_segment_refused(tmp_path):
    """A segment in the previous format (magic GSEG1, a second filter
    section) is refused by its magic, naming the file."""
    import struct

    root = tmp_path / "segs"
    root.mkdir()
    ids, hs = _mk_arrays(100, 6)
    bloom_b, second_b = dedup._build_run(ids), bytes(512)
    ids_b, hs_b = ids.tobytes(), hs.tobytes()
    header = struct.pack(
        "<6sQQQQ", b"GSEG1\n", len(bloom_b), len(second_b), len(ids_b), len(hs_b)
    )
    name = "b00001-s000000-0123456789abcdef.seg"
    (root / name).write_bytes(header + bloom_b + second_b + ids_b + hs_b)
    segstore.clear_cache()
    with pytest.raises(ValueError, match=name):
        segstore.read_segment(str(root), name)


def test_store_matches_keep_first_reference(spark, store_root):
    """Two-epoch differential check against a plain-Python keep-first
    reference: the admitted rows are the first (crawl-order) candidate of
    every id not already seen, each bucket's live segments hold exactly
    that bucket's seen ids, and a bucket's segments are disjoint."""
    c0 = bench._synth_candidates(spark, 6000, start=0, n_buckets=16)
    # epoch 1 overlaps epoch 0 and repeats 500 ids later in crawl order
    later = bench._synth_candidates(spark, 500, start=7000, n_buckets=16).withColumn(
        "crawl_order", F.col("crawl_order").withField("depth", F.lit(4))
    )
    c1 = bench._synth_candidates(spark, 6000, start=3000, n_buckets=16).unionByName(later)

    def order_key(r):
        co = r.crawl_order
        return (co.depth, co.seed_id, co.page, co.link_order)

    seen: dict[int, int] = {}  # url_id -> host_bucket
    state, handles = None, []
    for epoch, cands in enumerate((c0, c1)):
        first: dict[int, tuple] = {}
        for r in cands.collect():
            if r.url_id not in seen:
                k = order_key(r)
                if r.url_id not in first or k < first[r.url_id][0]:
                    first[r.url_id] = (k, r.host_bucket)
        new, state, h = dedup.dedup_candidates(cands, state, epoch, store_root=store_root)
        got = {r.url_id: order_key(r) for r in new.collect()}
        assert got == {u: k for u, (k, _b) in first.items()}
        seen.update({u: b for u, (_k, b) in first.items()})
        state = state.localCheckpoint()
        for hh in handles:
            hh.unpersist()
        handles = h
    for hh in handles:
        hh.unpersist()

    rows_by_bucket: dict[int, list] = {}
    for r in state.collect():
        rows_by_bucket.setdefault(r.host_bucket, []).append(tuple(r))
    assert set(rows_by_bucket) == set(seen.values())
    for b, rows in rows_by_bucket.items():
        segs = dedup._live_segments(dedup._meta_table(rows), store_root)
        keys = [dedup.seg_keys(s)[0] for s in segs]
        union = np.sort(np.concatenate(keys))
        want = sorted(u for u, ub in seen.items() if ub == b)
        assert union.tolist() == want
        assert sum(len(k) for k in keys) == len(np.unique(union))  # disjoint


def test_engine_refuses_non_store_workdir(spark, tmp_path):
    """A store workdir records its backend and reopens; a workdir committed
    by any other backend (payload rows, no `file` column) is refused with
    an error naming that backend instead of being misread."""
    from gsccca_tax_records_scraper_spark.sources.checkpoint import CheckpointStore

    wd = tmp_path / "crawl"
    eng = CrawlEngine(spark, wd, epoch_seconds=60.0)
    eng.run(seed_ids=[1, 2], max_epochs=2)
    # segment files exist and metadata references resolve
    seg_dir = wd / "segments"
    files = {f for f in os.listdir(seg_dir) if f.endswith(".seg")}
    assert files
    state = eng._read_seen_state(eng.store.last_epoch())
    referenced = {r[0] for r in state.select("file").collect()}
    assert referenced <= files
    assert eng.store.meta("state_backend") == "store"
    CrawlEngine(spark, wd, epoch_seconds=60.0)  # reopens fine
    # an inline-backend workdir, and one predating the meta key (which
    # always meant inline), are refused
    for name, meta in (("inline", {"state_backend": "inline"}), ("unkeyed", {})):
        st = CheckpointStore(tmp_path / name)
        st.commit(0, meta=meta)
        with pytest.raises(ValueError, match="'inline' backend"):
            CrawlEngine(spark, tmp_path / name, epoch_seconds=60.0)


def test_engine_gc_reclaims_orphans(spark, tmp_path):
    """Crash orphans (files written, manifest never committed) and runs
    retired by compaction are reclaimed at the post-commit GC; everything
    the committed metadata still names survives."""
    wd = tmp_path / "crawl"
    eng = CrawlEngine(spark, wd, epoch_seconds=60.0, compact_every=2)
    eng.run(seed_ids=[1, 2, 3], max_epochs=1)
    seg_dir = str(wd / "segments")
    # plant a crash orphan: a valid name no metadata references
    orphan = os.path.join(seg_dir, "b99999-s000000-deadbeefdeadbeef.seg")
    with open(orphan, "wb") as f:
        f.write(b"GSEG1\n" + b"\x00" * 32)
    # drive past a compaction epoch (compact_every=2)
    eng.run(max_epochs=3)
    last = eng.store.last_epoch()
    assert last >= 2, "compaction epoch not reached"
    assert not os.path.exists(orphan)
    # every file referenced by ANY retained manifest view still exists,
    # and nothing outside those views remains (files a compaction retires
    # survive one extra commit while the predecessor manifest names them)
    referenced = set()
    for m in eng.store.manifests():
        df = eng.store.read_deltas(spark, "seen_state", max(m["epochs"]), manifest=m)
        if df is not None:
            referenced |= {r[0] for r in df.select("file").distinct().collect()}
    on_disk = {f for f in os.listdir(seg_dir) if f.endswith(".seg")}
    assert referenced <= on_disk
    stray = on_disk - referenced
    assert not stray, f"unreclaimed orphans: {stray}"
    # crawl results stay readable after GC
    assert eng.seen().count() > 0
    state = eng._read_seen_state(last)
    assert state.agg(F.sum("n_items")).first()[0] == eng.seen().select("url_id").distinct().count()


def test_uri_root_via_pyarrow(tmp_path):
    """file:// URI roots route through pyarrow.fs (the cluster DFS path)."""
    root = f"file://{tmp_path}/segs"
    ids, hs = _mk_arrays(500, 9)
    bloom_b = dedup._build_run(ids)
    name = segstore.write_segment(root, 1, 0, bloom_b, ids, hs)
    segstore.clear_cache()
    b2, i2, _h2 = segstore.read_segment(root, name)
    assert b2 == bloom_b and (i2 == ids).all()
    # GC over the URI listing
    removed = segstore.gc_segments(root, set())
    assert removed == 1
    assert segstore.gc_segments(root, set()) == 0


def test_gc_preserves_manifest_fallback_view(spark, tmp_path):
    """commit() retains the predecessor manifest as a torn-write fallback;
    segment GC must not delete payload files that predecessor view still
    references, or the fallback resumes into FileNotFoundError. Simulate
    the fallback: crawl past a compaction (GC fires), roll back by
    deleting the newest manifest, and resume — the engine must come up on
    the predecessor view and finish the crawl."""
    import re

    wd = tmp_path / "crawl"
    eng = CrawlEngine(spark, wd, epoch_seconds=60.0, compact_every=2)
    eng.bootstrap(seed_ids=[1, 2, 3])
    while eng.store.last_epoch() is None or eng.store.last_epoch() < 3:
        if not eng.step():
            break
    assert eng.store.last_epoch() >= 2, "compaction epoch not reached"
    # the predecessor view must be fully readable from disk after GC
    manifests = eng.store.manifests()
    assert len(manifests) >= 2, "no predecessor manifest retained"
    seg_dir = str(wd / "segments")
    on_disk = {f for f in os.listdir(seg_dir) if f.endswith(".seg")}
    prev = manifests[1]
    df = eng.store.read_deltas(spark, "seen_state", max(prev["epochs"]), manifest=prev)
    prev_files = {r[0] for r in df.select("file").distinct().collect()}
    missing = prev_files - on_disk
    assert not missing, f"GC broke the fallback view: {missing}"
    # roll back: drop the newest manifest, resume on the predecessor
    names = sorted(
        (f for f in os.listdir(wd) if re.match(r"MANIFEST-\d+\.json$", f)),
        key=lambda f: int(re.findall(r"\d+", f)[0]),
    )
    os.remove(os.path.join(wd, names[-1]))
    eng2 = CrawlEngine(spark, wd, epoch_seconds=60.0, compact_every=2)
    eng2.run(seed_ids=[1, 2, 3])
    from gsccca_tax_records_scraper_spark import simulator

    sim = simulator.simulate_crawl([1, 2, 3], epoch_seconds=60.0)
    assert {r.url for r in eng2.seen().collect()} == sim.seen_urls


def test_gc_reclaims_dead_pid_tmp_files(tmp_path):
    """A worker killed between the tmp write and os.replace leaves
    '<name>.seg.tmp.<pid>' behind; GC reclaims it once the pid is dead but
    never touches a live writer's tmp file."""
    import subprocess
    import sys

    root = str(tmp_path / "segs")
    ids, hs = _mk_arrays(200, 3)
    bloom_b = dedup._build_run(ids)
    name = segstore.write_segment(root, 2, 0, bloom_b, ids, hs)

    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    dead_pid = int(dead.stdout.strip())
    orphan_dead = os.path.join(root, f"{name}.tmp.{dead_pid}")
    orphan_live = os.path.join(root, f"{name}.tmp.{os.getpid()}")
    for p in (orphan_dead, orphan_live):
        with open(p, "wb") as f:
            f.write(b"partial")

    removed = segstore.gc_segments(root, {name})
    assert removed == 1
    assert not os.path.exists(orphan_dead)
    assert os.path.exists(orphan_live)  # live pid: possibly mid-write
    assert os.path.exists(os.path.join(root, name))  # referenced seg kept


def test_gc_tmp_cross_host_grace(tmp_path):
    """Tmp files tagged with ANOTHER host's name (shared-NFS writer on a
    different box) have no pid table to consult here: kept while fresh,
    reclaimed past the grace age. A same-host file whose pid is alive but
    whose mtime is past the grace age is pid REUSE (a real writer finishes
    in seconds), not a live writer, and is reclaimed too."""
    import socket
    import time

    root = str(tmp_path / "segs")
    os.makedirs(root)
    fresh_remote = os.path.join(root, "b00001-s000000-aaaa.seg.tmp.1@elsewhere")
    old_remote = os.path.join(root, "b00001-s000001-bbbb.seg.tmp.1@elsewhere")
    old_local_live = os.path.join(
        root, f"b00001-s000002-cccc.seg.tmp.{os.getpid()}@{socket.gethostname()}"
    )
    for p in (fresh_remote, old_remote, old_local_live):
        with open(p, "wb") as f:
            f.write(b"partial")
    past = time.time() - 2 * segstore._tmp_grace_sec()
    os.utime(old_remote, (past, past))
    os.utime(old_local_live, (past, past))
    removed = segstore.gc_segments(root, set())
    assert removed == 2
    assert os.path.exists(fresh_remote)  # possibly mid-write on the other host
    assert not os.path.exists(old_remote)  # abandoned: past grace
    assert not os.path.exists(old_local_live)  # live pid + old file = pid reuse


def test_gc_skips_when_state_view_unreadable(spark, tmp_path, monkeypatch):
    """A committed manifest whose seen_state view cannot be read right now
    (flaky mount, torn object-store read) means the referenced set would be
    INCOMPLETE — GC must delete NOTHING rather than reclaim live payloads."""
    wd = tmp_path / "crawl"
    eng = CrawlEngine(spark, wd, epoch_seconds=60.0)
    eng.run(seed_ids=[1], max_epochs=1)
    seg_dir = str(wd / "segments")
    before = set(os.listdir(seg_dir))
    assert any(f.endswith(".seg") for f in before)
    monkeypatch.setattr(eng.store, "read_deltas", lambda *a, **k: None)
    assert eng._gc_segments() == 0
    assert set(os.listdir(seg_dir)) == before
    # no readable manifest at all: likewise a no-op, never "delete all"
    monkeypatch.setattr(eng.store, "manifests", lambda: [])
    assert eng._gc_segments() == 0
    assert set(os.listdir(seg_dir)) == before


def test_uri_write_recreates_removed_root(tmp_path):
    """The per-process 'dir already created' memo goes stale when the root
    is removed and recreated under a surviving worker; the write path must
    re-create the directory and retry instead of failing the epoch."""
    import shutil

    root = f"file://{tmp_path}/segs"
    ids, hs = _mk_arrays(100, 11)
    bloom_b = dedup._build_run(ids)
    segstore.write_segment(root, 1, 0, bloom_b, ids, hs)
    shutil.rmtree(tmp_path / "segs")
    ids2, hs2 = _mk_arrays(100, 12)
    bloom2 = dedup._build_run(ids2)
    name2 = segstore.write_segment(root, 1, 1, bloom2, ids2, hs2)
    segstore.clear_cache()
    _b, i2, _h = segstore.read_segment(root, name2)
    assert (i2 == ids2).all()
