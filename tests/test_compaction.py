"""Delta compaction: folded seen_exact reads must be content-identical and
resume must stay bit-identical across a compaction boundary."""

from __future__ import annotations

import json

from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine
from gsccca_tax_records_scraper_spark.simulator import simulate_crawl

SEEDS = [4]


def test_compaction_preserves_content_and_resume(spark, tmp_path):
    comp = CrawlEngine(spark, tmp_path / "comp", epoch_seconds=60.0, compact_every=2)
    comp.bootstrap(SEEDS)
    comp.step()
    comp.step()  # epoch 2 -> compaction committed
    manifest = comp.store._manifest()
    assert manifest["compacted"] == {"seen_exact": 2, "seen_state": 2}
    assert (comp.store.workdir / "seen_exact" / "compacted=2" / "_SUCCESS").exists()
    # the seen_state compaction folds superseded rows: LIVE rows only (the
    # store backend keeps the LSM stack — folding payloads to one run per
    # cadence would be a linear-amplification O(|seen|) rewrite), so the
    # compacted dir must equal its own live-filter fixpoint and stay within
    # the tier rule's segment bound
    comp_state = spark.read.parquet(str(comp.store.workdir / "seen_state" / "compacted=2"))
    per_seg = comp_state.groupBy("host_bucket", "seg").count().collect()
    assert per_seg and all(r["count"] == 1 for r in per_seg)
    from gsccca_tax_records_scraper_spark.operators import dedup
    per_bucket = comp_state.groupBy("host_bucket").count().collect()
    assert all(r["count"] <= dedup.MAX_SEGS for r in per_bucket)
    assert comp._latest_state_rows(comp_state).count() == comp_state.count()
    del comp
    comp2 = CrawlEngine(spark, tmp_path / "comp", epoch_seconds=60.0, compact_every=2)
    comp2.run()  # resume across the compaction boundary

    # compacted reads must equal the simulator ground truth exactly
    sim = simulate_crawl(SEEDS, epoch_seconds=60.0)
    assert {r.url for r in comp2.seen().collect()} == sim.seen_urls
    assert comp2.records().count() == len(sim.records)
    assert comp2.documents().count() == len(sim.spans)


def test_seen_state_delta_writes_only_touched_buckets(spark, tmp_path):
    """seen_state is a row-superseding delta table: an epoch's dir holds
    rows ONLY for buckets that epoch changed (zero-grant epochs write none;
    a 1-grant epoch writes at most the fetched page's outlink buckets), and
    the latest-per-bucket read reconstructs the full state."""
    eng = CrawlEngine(spark, tmp_path / "d", epoch_seconds=2.0)  # ~1 grant / 2 epochs
    eng.bootstrap([7])
    n_buckets_written = {}
    for _ in range(6):
        m = eng.step()
        assert m is not None
        e = eng.store.last_epoch()
        delta = spark.read.parquet(eng.store.table_path("seen_state", e))
        n_buckets_written[e] = delta.count()
        if m["granted"] == 0:
            assert n_buckets_written[e] == 0, (e, m)
        else:
            # one fetched page yields a handful of outlinks -> few buckets
            assert n_buckets_written[e] <= max(m["new_urls"], 1), (e, m)
    total_state = eng._read_seen_state(eng.store.last_epoch())
    # full reconstruction: live segment rows per (bucket, seg) exactly once,
    # id counts add up to the seen set
    per_seg = total_state.groupBy("host_bucket", "seg").count().collect()
    assert all(r["count"] == 1 for r in per_seg)
    n_ids = sum(int(r.n_items) for r in total_state.collect())
    assert n_ids == eng.seen().count()


def test_compaction_relabels_seen_exact_after_split(spark, tmp_path):
    """r3 verdict #6: per-epoch seen_exact deltas keep the bucket labels of
    the fan-out that produced them, but the compacted fold must RELABEL to
    the committed fan-out so post-split lineage queries group uniformly."""
    from pyspark.sql import functions as F

    from gsccca_tax_records_scraper_spark.functions import urltools

    eng = CrawlEngine(
        spark, tmp_path / "rl", epoch_seconds=60.0, compact_every=2, split_threshold=2
    )
    eng.run(SEEDS)
    n_new = eng.store.meta("n_buckets", urltools.N_HOST_BUCKETS)
    assert n_new > urltools.N_HOST_BUCKETS  # at least one split happened
    comp_epoch = eng.store.compacted_epoch("seen_exact")
    assert comp_epoch is not None
    folded = spark.read.parquet(eng.store.compacted_path("seen_exact", comp_epoch))
    # the fold relabels every row to the fan-out live at THAT compaction
    # (a later split re-relabels at the next fold), so the folded dir must
    # be UNIFORM under exactly one fan-out from the split ladder — never a
    # mix of historical bucketings
    ladder = []
    nb = urltools.N_HOST_BUCKETS
    while nb <= n_new:
        ladder.append(nb)
        nb *= 2
    uniform = [
        n for n in ladder
        if folded.filter(
            F.col("host_bucket") != F.pmod(F.col("url_id"), F.lit(n)).cast("int")
        ).count() == 0
    ]
    assert uniform, f"folded seen_exact mixes bucket labelings (ladder={ladder})"
    # content unchanged by relabeling
    sim = simulate_crawl(SEEDS, epoch_seconds=60.0)
    assert {r.url for r in eng.seen().collect()} == sim.seen_urls


def test_orphan_compaction_dir_ignored(spark, tmp_path):
    """A compaction dir written but never committed must not be read."""
    eng = CrawlEngine(spark, tmp_path / "o", epoch_seconds=60.0, compact_every=0)
    eng.bootstrap(SEEDS)
    eng.step()
    # fake a crash: compacted dir exists with GARBAGE, manifest never updated
    orphan = eng.store.workdir / "seen_exact" / "compacted=1"
    orphan.mkdir(parents=True)
    (orphan / "part-00000.parquet").write_bytes(b"junk")
    n_before = eng.seen().count()
    assert eng.store.compacted_epoch("seen_exact") is None
    assert eng.seen().count() == n_before  # reads deltas, ignores orphan
    assert eng.step() is not None  # crawl continues fine
