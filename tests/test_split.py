"""Dynamic hot-bucket fan-out (SURVEY §4.1, r2 verdict #7): splitting the
seen-state fan-out must preserve the seen SET exactly, halve per-bucket
load, and stay consistent across resume (fan-out rides in the manifest)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

import bench
from gsccca_tax_records_scraper_spark import simulator
from gsccca_tax_records_scraper_spark.functions import urltools
from gsccca_tax_records_scraper_spark.operators import dedup, seenset, segstore
from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine


def test_split_preserves_membership_and_halves_buckets(spark, store_root):
    c1 = bench._synth_candidates(spark, 20_000)
    new1, state1, h1 = dedup.dedup_candidates(c1, None, 0, store_root=store_root)
    state1 = state1.localCheckpoint()
    for h in h1:
        h.unpersist()
    n_old = urltools.N_HOST_BUCKETS
    split = dedup.split_seen_state(
        state1, n_old, n_old * 2, store_root=store_root
    ).localCheckpoint()
    rows = split.collect()
    assert len(rows) == n_old * 2
    # every key landed in its id % (2n) bucket, arrays still sorted, and the
    # rebuilt filters contain exactly the bucket's keys
    total = 0
    for r in rows:
        bloom_b, ids, _hs = segstore.read_segment(store_root, r.file)
        total += len(ids)
        assert (ids % (n_old * 2) == r.host_bucket).all()
        assert (np.diff(ids) >= 0).all()
        assert r.n_items == len(ids)
        bloom = seenset.BlockedBloom.from_bytes(bloom_b)
        if len(ids):
            assert bloom.contains(ids.view(np.uint64)).all()
    assert total == 20_000
    # per-bucket load halved (id-uniform keys): max new-bucket count is well
    # under the old max
    old_max = max(r.n_items for r in state1.collect())
    new_max = max(r.n_items for r in rows)
    assert new_max < old_max
    # membership is EXACT after the split: the same candidates re-bucketed at
    # the new fan-out admit zero...
    c1_re = c1.withColumn(
        "host_bucket", urltools.host_bucket_col(F.col("url_id"), n_old * 2)
    )
    new2, _, h2 = dedup.dedup_candidates(c1_re, split, 1, store_root=store_root)
    assert new2.count() == 0
    # ...and fresh candidates still admit fully
    c2 = bench._synth_candidates(spark, 5_000, start=20_000).withColumn(
        "host_bucket", urltools.host_bucket_col(F.col("url_id"), n_old * 2)
    )
    new3, _, h3 = dedup.dedup_candidates(c2, split, 1, store_root=store_root)
    assert new3.count() == 5_000
    for h in h2 + h3:
        h.unpersist()


def test_pending_backlog_triggers_split(spark, tmp_path):
    """SURVEY §4.1 hot-host trigger: one host's PENDING count crossing
    threshold-per-bucket doubles the fan-out even when no bucket's SEEN
    state is large."""
    eng = CrawlEngine(spark, tmp_path / "p", epoch_seconds=60.0, split_threshold=50)
    seen_cands = bench._synth_candidates(spark, 2000)  # max bucket seen ~45 < 50
    # build the state in the engine's own segment store
    _new, state, h = dedup.dedup_candidates(
        seen_cands, None, 0, store_root=eng._seg_root
    )
    state = state.localCheckpoint()
    for hh in h:
        hh.unpersist()
    assert max(r.n_items for r in state.collect()) <= 50
    backlog = bench._synth_candidates(spark, 20_000)  # 20k pending, one host
    state2, frontier2, n_new = eng._maybe_split(
        state, backlog, 1, urltools.N_HOST_BUCKETS
    )
    assert n_new == 2 * urltools.N_HOST_BUCKETS
    assert state2.count() == n_new
    assert frontier2.select(F.max("host_bucket")).first()[0] >= urltools.N_HOST_BUCKETS


def test_grant_set_invariant_under_fanout(spark):
    """SURVEY §7 hard part (b): the politeness budget is per-HOST, never
    per-bucket — doubling the bucket fan-out (what a split does to the
    frontier) must grant the IDENTICAL per-host prefix in total crawl
    order, for skewed budgets that bite (budget << pending)."""
    from gsccca_tax_records_scraper_spark.operators import politeness

    pending = bench._synth_candidates(spark, 6_000).withColumn(
        "host",
        F.when(F.pmod(F.col("url_id"), F.lit(7)) == 0, F.lit("img.gsccca.org"))
        .otherwise(F.col("host")),
    )
    budgets = spark.createDataFrame(
        [("search.gsccca.org", 37, 37.0), ("img.gsccca.org", 11, 11.0)],
        "host string, budget long, tokens_before double",
    )
    n_old = urltools.N_HOST_BUCKETS
    g_old, _ = politeness.grant(pending, budgets, 1, n_buckets=n_old)
    re_bucketed = pending.withColumn(
        "host_bucket", urltools.host_bucket_col(F.col("url_id"), n_old * 2)
    )
    g_new, _ = politeness.grant(re_bucketed, budgets, 1, n_buckets=n_old * 2)
    old_ids = {r.url_id for r in g_old.select("url_id").collect()}
    new_ids = {r.url_id for r in g_new.select("url_id").collect()}
    assert old_ids == new_ids and len(old_ids) == 37 + 11
    # ... and both equal the brute-force per-host prefix in total order
    rows = pending.select(
        "url_id", "host", "crawl_order.depth", "crawl_order.seed_id",
        "crawl_order.page", "crawl_order.link_order",
    ).collect()
    by_host: dict = {}
    for r in sorted(rows, key=lambda r: (r.depth, r.seed_id, r.page, r.link_order, r.url_id)):
        by_host.setdefault(r.host, []).append(r.url_id)
    expect = set(by_host["search.gsccca.org"][:37]) | set(by_host["img.gsccca.org"][:11])
    assert old_ids == expect


def test_split_engine_grants_identical_schedule(spark, tmp_path):
    """An engine that SPLITS mid-crawl must fetch exactly the same urls in
    exactly the same epochs as one that never splits: the budget stays
    per-host across the re-bucketing, so the schedule is invariant."""
    ea = CrawlEngine(spark, tmp_path / "nosplit", epoch_seconds=60.0)
    ea.run([3, 4])
    eb = CrawlEngine(spark, tmp_path / "split", epoch_seconds=60.0, split_threshold=2)
    eb.run([3, 4])
    assert eb.store.meta("n_buckets", urltools.N_HOST_BUCKETS) > urltools.N_HOST_BUCKETS

    def schedule(e):
        return [
            (r.epoch, r.url)
            for r in e.records().orderBy(
                "epoch", "crawl_order.depth", "crawl_order.seed_id",
                "crawl_order.page", "crawl_order.link_order", "url_id",
            ).collect()
        ]

    assert schedule(ea) == schedule(eb)


def test_engine_split_e2e_seen_set_equality(spark, tmp_path):
    """Drive a crawl with a tiny split threshold: the fan-out must double
    (committed in the manifest), and the final seen set must still equal the
    simulator's exactly; a fresh engine resumes under the new fan-out."""
    eng = CrawlEngine(spark, tmp_path / "c", epoch_seconds=60.0, split_threshold=2)
    eng.run([1, 2])
    n_buckets = eng.store.meta("n_buckets", urltools.N_HOST_BUCKETS)
    assert n_buckets > urltools.N_HOST_BUCKETS  # at least one split
    sim = simulator.simulate_crawl([1, 2], epoch_seconds=60.0)
    assert {r.url for r in eng.seen().collect()} == sim.seen_urls
    # resume: fresh engine reads the committed fan-out, crawl is drained
    eng2 = CrawlEngine(spark, tmp_path / "c", epoch_seconds=60.0, split_threshold=2)
    assert eng2.store.meta("n_buckets", urltools.N_HOST_BUCKETS) == n_buckets
    assert eng2.run() == 0
