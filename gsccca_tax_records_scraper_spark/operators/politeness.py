"""Per-host politeness: token bucket + robots gate + skew-aware grant (SURVEY W4/T6).

The reference throttles with serial uniform(3000,5000)ms sleeps before every
browser action (lien_index_scraper.py:96-97 and call sites), i.e. an implicit
per-host rate of ~0.25 req/s at concurrency 1. Here that contract becomes an
explicit per-epoch token bucket:

    budget(host, epoch) = int(min(carry + rate*T,  rate*T + burst))

and the grant set is the first `budget` pending frontier rows of that host in
the total crawl order (depth, seed_id, page, link_order, url_id) — so grant
order reproduces the reference's FIFO (north_rule).

Skew: the whole crawl hits search.gsccca.org (SURVEY §4.1), so a naive
`Window.partitionBy(host)` puts ~100% of rows in one task. Grants are
therefore computed in two phases:
  phase 1 (parallel): within each (host, host_bucket) shard, rank locally and
           keep only rows with local_rank <= budget — a provable superset of
           the grant set, at most budget rows per shard;
  phase 2 (small): global per-host rank over the <= budget * n_buckets
           survivors, keep rank <= budget.
Phase 1 runs at full parallelism over the salted buckets; phase 2 touches at
most budget*n_buckets rows regardless of frontier size.

The robots gate (north_rule; absent in the login-gated reference) filters
candidate URLs whose path starts with a disallowed prefix before they ever
enter the frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import order_cols


def jitter_ms_col(url_id, lo_ms: int = 3000, hi_ms: int = 5000, seed: int = 42):
    """Deterministic politeness jitter (SURVEY F13): the reference sleeps
    uniform(3000,5000)ms per action (lien_index_scraper.py:96-97). A crawl
    schedule needs the same spread WITHOUT wall-clock randomness, and
    F.rand(seed) is partition-layout-dependent, so the jitter is a pure hash
    of (url_id, seed) — stable under any repartitioning."""
    h = F.xxhash64(url_id, F.lit(seed))
    return (F.pmod(h, F.lit(hi_ms - lo_ms)) + F.lit(lo_ms)).cast("int")


def apply_robots_gate(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop candidate URLs matching a disallowed path prefix for their host.
    robots is tiny (one row per host) -> broadcast join."""
    path = F.regexp_replace(F.col("url"), r"^[a-z]+://[^/]+", "")
    joined = candidates.withColumn("__path", path).join(
        F.broadcast(robots.select("host", "disallow_prefixes")), "host", "left"
    )
    blocked = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array()),
        lambda p: F.col("__path").startswith(p),
    )
    return joined.filter(~blocked).drop("__path", "disallow_prefixes")


def compute_budgets(
    pending: DataFrame,
    robots: DataFrame,
    host_state: DataFrame | None,
    epoch_seconds: float,
) -> DataFrame:
    """One row per host with a pending URL: (host, budget, tokens_before).
    tokens carry over epochs capped at rate*T + burst (matches simulator)."""
    hosts = pending.select("host").distinct()
    joined = hosts.join(F.broadcast(robots.select("host", "rate_per_sec", "burst")), "host", "left")
    joined = joined.withColumn("rate_per_sec", F.coalesce("rate_per_sec", F.lit(1.0)))
    joined = joined.withColumn("burst", F.coalesce("burst", F.lit(1)))
    if host_state is not None:
        joined = joined.join(host_state.select("host", "tokens"), "host", "left")
        joined = joined.withColumn("carry", F.coalesce("tokens", F.lit(0.0))).drop("tokens")
    else:
        joined = joined.withColumn("carry", F.lit(0.0))
    refill = F.col("rate_per_sec") * F.lit(epoch_seconds)
    tok = F.least(F.col("carry") + refill, refill + F.col("burst"))
    return joined.withColumn("tokens_before", tok).withColumn(
        "budget", F.floor(tok).cast("long")
    ).select("host", "budget", "tokens_before")


def grant(
    pending: DataFrame,
    budgets: DataFrame,
    epoch: int,
    fan_in: int = 8,
    n_buckets: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (granted_rows, host_state_after). Grant = first `budget`
    pending rows per host in total crawl order (exact FIFO parity with the
    reference), computed skew-free as a fan-in tournament:

      level 0   rank within (host, host_bucket), keep local_rank <= budget —
                full parallelism over the salted buckets, provable superset.
      level i   rank within (host, host_bucket // fan_in^i), keep <= budget —
                each task merges at most fan_in * budget survivor rows.
      final     rank within host alone over <= fan_in * budget rows.

    No task ever sorts more than fan_in*budget rows (vs buckets*budget for a
    single global per-host window — at cluster budgets of ~1e6 and 4096
    buckets that would be ~4e9 rows in ONE task). Levels = log_fan(buckets),
    each an exact keep-first-budget, so the composition is the exact
    per-host top-budget."""
    from ..functions.urltools import N_HOST_BUCKETS

    if n_buckets is None:
        n_buckets = N_HOST_BUCKETS
    with_budget = pending.join(F.broadcast(budgets), "host", "inner")

    w_local = Window.partitionBy("host", "host_bucket").orderBy(*order_cols())
    survivors = (
        with_budget.withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= F.col("budget"))
        .drop("__lr")
    )
    div = fan_in
    while div < n_buckets:
        w_mid = Window.partitionBy(
            "host", F.floor(F.col("host_bucket") / F.lit(div))
        ).orderBy(*order_cols())
        survivors = (
            survivors.withColumn("__mr", F.row_number().over(w_mid))
            .filter(F.col("__mr") <= F.col("budget"))
            .drop("__mr")
        )
        div *= fan_in
    w_host = Window.partitionBy("host").orderBy(*order_cols())
    granted = (
        survivors.withColumn("__r", F.row_number().over(w_host))
        .filter(F.col("__r") <= F.col("budget"))
        .drop("__r", "budget", "tokens_before")
    )

    # counted from the very frame returned: a caller that caches `granted`
    # then serves this plan from the cache too, instead of re-running the
    # tournament when host_state_after is written
    granted_counts = granted.groupBy("host").agg(F.count("*").alias("granted_n"))
    host_state_after = (
        budgets.join(granted_counts, "host", "left")
        .withColumn("granted_n", F.coalesce("granted_n", F.lit(0)))
        .select(
            "host",
            (F.col("tokens_before") - F.col("granted_n")).alias("tokens"),
            F.lit(epoch).alias("epoch"),
        )
    )
    return granted, host_state_after
