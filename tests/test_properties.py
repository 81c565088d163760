"""Property tests over the engine's core invariants (SURVEY §5.5):
dedup idempotence f(f(x)) == f(x), keep-first minimality, and the
politeness budget cap under adversarial frontiers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gsccca_tax_records_scraper_spark.operators import dedup, politeness

import bench


@pytest.fixture(scope="module")
def robots(spark):
    return spark.createDataFrame(
        [("search.gsccca.org", [], 0.25, 10)],
        "host string, disallow_prefixes array<string>, rate_per_sec double, burst int",
    )


def test_dedup_idempotent(spark, tmp_path, store_root):
    """Re-presenting already-admitted candidates yields zero new rows."""
    cands = bench._synth_candidates(spark, 20_000)
    new1, state1, _h1 = dedup.dedup_candidates(cands, None, 0, store_root=store_root)
    ss = str(tmp_path / "ss")
    state1.write.parquet(ss)
    n1 = new1.count()
    assert n1 == 20_000
    new2, _, _h2 = dedup.dedup_candidates(
        cands, spark.read.parquet(ss), 1, store_root=store_root
    )
    assert new2.count() == 0


def test_dedup_keep_first_picks_crawl_order_min(spark, store_root):
    """Duplicate url_ids collapse to the min crawl-order row."""
    base = bench._synth_candidates(spark, 1000)
    # clone with strictly later crawl order (higher depth)
    later = base.withColumn(
        "crawl_order",
        F.struct(
            F.col("crawl_order.seed_id").alias("seed_id"),
            F.col("crawl_order.page").alias("page"),
            F.col("crawl_order.link_order").alias("link_order"),
            (F.col("crawl_order.depth") + 5).alias("depth"),
        ),
    )
    new_rows, _, _h = dedup.dedup_candidates(
        base.unionByName(later), None, 0, store_root=store_root
    )
    rows = new_rows.collect()
    assert len(rows) == 1000
    assert all(r.crawl_order.depth == 1 for r in rows)


@pytest.mark.parametrize("epoch_seconds,n_pending", [(40.0, 500), (400.0, 50), (4.0, 3)])
def test_budget_cap_property(spark, robots, epoch_seconds, n_pending):
    """No grant set ever exceeds floor(rate*T) + burst, and when pending
    exceeds the budget exactly budget rows are granted."""
    pending = bench._synth_candidates(spark, n_pending)
    budgets = politeness.compute_budgets(pending, robots, None, epoch_seconds)
    granted, state_after = politeness.grant(pending, budgets, 1)
    n = granted.count()
    cap = int(0.25 * epoch_seconds)  # no carry on epoch 1
    assert n <= cap
    assert n == min(cap, n_pending)
    # token accounting: tokens_after = tokens_before - granted
    st = {r.host: r.tokens for r in state_after.collect()}
    assert st["search.gsccca.org"] == pytest.approx(0.25 * epoch_seconds - n)


def test_grant_order_is_global_min_prefix(spark, robots):
    """The granted set is exactly the first-k rows in total crawl order —
    two-phase pruning must not change the answer."""
    pending = bench._synth_candidates(spark, 2000)
    budgets = politeness.compute_budgets(pending, robots, None, 400.0)  # k=100
    granted, _ = politeness.grant(pending, budgets, 1)
    key = lambda r: (  # noqa: E731
        r.crawl_order.depth, r.crawl_order.seed_id, r.crawl_order.page,
        r.crawl_order.link_order, r.url_id,
    )
    all_sorted = sorted(pending.collect(), key=key)
    got = sorted(granted.collect(), key=key)
    assert [key(r) for r in got] == [key(r) for r in all_sorted[: len(got)]]


def test_dedup_keepfirst_fast_and_slow_paths_agree(spark, store_root):
    """Optimization-round guard for the keep-first fast path: buckets whose
    url_ids are unique take a single argsort, dup-carrying buckets take the
    full 6-key lexsort (operators/dedup._fused_fn). Build a batch where
    buckets < 16 carry duplicates (slow path) and the rest are unique (fast
    path) and assert the admitted set matches the JVM window reference
    keep_first_in_batch on BOTH kinds of bucket."""
    base = bench._synth_candidates(spark, 2000)
    later = base.filter(F.col("host_bucket") < 16).withColumn(
        "crawl_order",
        F.struct(
            F.col("crawl_order.seed_id").alias("seed_id"),
            F.col("crawl_order.page").alias("page"),
            F.col("crawl_order.link_order").alias("link_order"),
            (F.col("crawl_order.depth") + 7).alias("depth"),
        ),
    )
    cands = base.unionByName(later)
    new_rows, _, handles = dedup.dedup_candidates(cands, None, 0, store_root=store_root)
    got = {(r.url_id, r.crawl_order.depth) for r in new_rows.collect()}
    want = {
        (r.url_id, r.crawl_order.depth)
        for r in dedup.keep_first_in_batch(cands).collect()
    }
    for h in handles:
        h.unpersist()
    assert len(got) == 2000
    assert got == want
    # every duplicated id must have kept the ORIGINAL (depth=1) row
    assert all(d == 1 for (_u, d) in got)
