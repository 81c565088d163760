"""Physical-plan assertions (the 100-TB story, SURVEY §4).

Correctness tests say the answer is right; these say the PLAN is right:
filters and projections reach the parquet scan, small dims broadcast, the
hot paths stay inside WholeStageCodegen, and the politeness grant never
windows the full frontier by raw host."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod


from conftest import explain  # shared plan-string helper


def test_filter_pushdown_reaches_scan(spark, sf01):
    df = (
        spark.read.parquet(f"{sf01}/orders.parquet")
        .filter(F.col("o_orderkey") == 42)
        .select("o_orderkey", "o_orderstatus")
    )
    plan = explain(df)
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]" in plan
    # column pruning: only the two selected columns in ReadSchema
    assert "o_totalprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_dim_join_is_broadcast(spark, sf01):
    df = entrymod.queries()["dim_broadcast_join"](spark, sf01)
    plan = explain(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_join_strategy(spark, sf01):
    df = entrymod.queries()["anti_join_unseen"](spark, sf01)
    plan = explain(df)
    assert "LeftAnti" in plan


def test_tpch_q1_wholestage_codegen(spark, sf01):
    df = entrymod.queries()["tpch_q1"](spark, sf01)
    plan = explain(df)
    # aggregation is partial (map-side combine) before the exchange
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2
    # the hot path compiles into whole-stage codegen (codegen explain mode;
    # the AQE formatted plan hides the codegen annotation pre-execution)
    codegen = df.sparkSession._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen" in codegen


def test_grant_has_no_full_host_window(spark, tmp_path):
    """The politeness grant's first window must partition by
    (host, host_bucket) — a raw-host window would serialize the hot host."""
    from gsccca_tax_records_scraper_spark.operators import politeness
    import bench

    pending = bench._synth_candidates(spark, 1000)
    robots = spark.createDataFrame(
        [("search.gsccca.org", [], 0.25, 10)],
        "host string, disallow_prefixes array<string>, rate_per_sec double, burst int",
    )
    budgets = politeness.compute_budgets(pending, robots, None, 60.0)
    granted, _ = politeness.grant(pending, budgets, 1)
    plan = explain(granted)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    # fan-in tournament: (host, host_bucket) -> (host, bucket//8) -> host;
    # every level's task input is bounded by fan_in * budget rows
    assert len(specs) == 3
    # the first (full-frontier) window must shard on host_bucket; the
    # host-only window runs LAST, over <= fan_in*budget survivors. (the
    # literal single-host column itself constant-folds out of the spec.)
    first = [sp.split(",")[0] for sp in specs]
    # level 0 partitions on host_bucket (a partition key carries no ASC)
    assert first[0].startswith("host_bucket") and "ASC" not in first[0]
    # the mid level partitions on the pre-projected floor(bucket/fan_in)
    # expression (Spark aliases complex partition exprs to _w<N>)
    assert first[1].startswith("_w") and "ASC" not in first[1]
    assert "floor" in plan.lower()
    # the final window partitions on host only (constant-folds out here), so
    # its spec starts directly with an ORDER column
    assert "ASC" in first[2]


def test_global_topk_is_take_ordered(spark, sf01):
    """global top-k must be TakeOrderedAndProject (per-partition heaps),
    never a row_number window over an unpartitioned ORDER BY (single-task
    global sort)."""
    df = entrymod.queries()["global_topk"](spark, sf01)
    plan = explain(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_simhash_near_pairs_not_cartesian(spark, sf01):
    """the banded simhash join must be a hash equi-join on (band, value) —
    no cartesian/nested-loop theta join (the O(N^2) scale-killer)."""
    from gsccca_tax_records_scraper_spark.operators import textdedup

    docs = spark.read.parquet(f"{sf01}/documents.parquet")
    fps = textdedup.simhash_fingerprints(docs, bits=16)
    df = textdedup.simhash_near_pairs(fps, max_hamming=2, bits=16)
    plan = explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scan_partition_count_respects_input(spark, sf01):
    li = spark.read.parquet(f"{sf01}/lineitem.parquet")
    # 600k rows in a single small file: must not explode into tiny tasks
    assert li.rdd.getNumPartitions() <= 32


def test_neardup_pairs_plan_shape(spark, sf01):
    """banded sign-LSH near-dup: candidate generation is posting-list style
    (bucket groupBy + distinct = exactly 2 shuffles), never a cartesian /
    nested-loop pair join; the exact-cosine verify joins run on the PRUNED
    pair set, which AQE broadcasts against the vector table."""
    df = entrymod.queries()["cosine_neardup_pairs"](spark, sf01)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    assert len(re.findall(r"Exchange (hash|range)partitioning", plan)) <= 2
    assert plan.count("BroadcastHashJoin") == 2  # both verify joins broadcast


def _plan_nodes(plan) -> list[str]:
    """Node names of a JVM plan tree, following children only: an
    InMemoryRelation is a leaf here (its cached plan already ran)."""
    names, stack = [], [plan]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return names


def _optimized_nodes(df) -> list[str]:
    return _plan_nodes(df._jdf.queryExecution().optimizedPlan())  # noqa: SLF001


def test_host_state_reads_the_cached_grant(spark):
    """politeness.grant derives host_state_after from the frame it returns,
    so once the caller caches the grant, writing the host state reads the
    cache instead of re-running the windowed tournament."""
    from gsccca_tax_records_scraper_spark.operators import politeness
    import bench

    pending = bench._synth_candidates(spark, 1000)
    robots = spark.createDataFrame(
        [("search.gsccca.org", [], 0.25, 10)],
        "host string, disallow_prefixes array<string>, rate_per_sec double, burst int",
    )
    budgets = politeness.compute_budgets(pending, robots, None, 60.0)
    granted, host_state = politeness.grant(pending, budgets, 1)
    granted = granted.cache()
    try:
        assert granted.count() == 15  # floor(0.25 * 60), no carry yet
        nodes = _plan_nodes(host_state._jdf.queryExecution().sparkPlan())  # noqa: SLF001
        assert "InMemoryTableScan" in nodes
        assert "Window" not in nodes
    finally:
        granted.unpersist()


def _parquet_state(spark, tmp_path, store_root):
    """Epoch-0 seen state written to parquet and read back through the
    engine's live-row filter (windows over a parquet scan)."""
    from gsccca_tax_records_scraper_spark.operators import dedup
    from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine
    import bench

    _new, state0, h = dedup.dedup_candidates(
        bench._synth_candidates(spark, 500), None, 0, store_root=store_root
    )
    state0.write.parquet(str(tmp_path / "state0"))
    for x in h:
        x.unpersist()
    state = CrawlEngine._latest_state_rows(spark.read.parquet(str(tmp_path / "state0")))
    assert "Window" in _optimized_nodes(state)
    return state


def _assert_delta_skips_prior_state(delta) -> None:
    nodes = _optimized_nodes(delta)
    assert "Window" not in nodes
    # a parquet scan is a LogicalRelation, named "Relation"
    assert "Relation" not in nodes


def test_dedup_delta_skips_prior_state(spark, tmp_path, store_root):
    """The carried branch of the dedup snapshot holds only earlier-epoch
    rows, so the delta write's filter(epoch == E) folds it away: no window
    and no scan of the prior state."""
    from gsccca_tax_records_scraper_spark.operators import dedup
    import bench

    state = _parquet_state(spark, tmp_path, store_root)
    _new, snap, h = dedup.dedup_candidates(
        bench._synth_candidates(spark, 300, start=400), state, 1,
        store_root=store_root,
    )
    try:
        _assert_delta_skips_prior_state(snap.filter(F.col("epoch") == 1))
    finally:
        for x in h:
            x.unpersist()


def test_revoke_delta_skips_prior_state(spark, tmp_path, store_root):
    from gsccca_tax_records_scraper_spark.operators import dedup
    import bench

    state = _parquet_state(spark, tmp_path, store_root)
    rev = bench._synth_candidates(spark, 20).select(
        "host_bucket", "url_id", F.xxhash64("url").alias("url_h")
    )
    snap, h = dedup.revoke_seen(state, rev, 1, store_root=store_root)
    try:
        _assert_delta_skips_prior_state(snap.filter(F.col("epoch") == 1))
    finally:
        for x in h:
            x.unpersist()


def test_robots_frame_is_local_relation(spark, tmp_path):
    """Driver-built frames cross to the JVM as Arrow local data, not as a
    pickled-row RDD."""
    from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine

    nodes = _optimized_nodes(CrawlEngine(spark, tmp_path / "r").robots_df())
    assert "LocalRelation" in nodes
    assert "LogicalRDD" not in nodes


def test_checkpoint_reads_launch_no_job(spark, tmp_path):
    """Checkpoint reads pass the table's declared schema, so opening a
    committed table launches no schema-inference job."""
    import time
    import uuid

    from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine

    wd = tmp_path / "reads"
    eng = CrawlEngine(spark, wd, epoch_seconds=60.0)
    eng.bootstrap([1])
    assert eng.step() is not None
    fresh = CrawlEngine(spark, wd, epoch_seconds=60.0)
    k = fresh.store.last_epoch()
    sc = spark.sparkContext
    group = f"ckpt-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "checkpoint reads")
    try:
        fresh.store.read_snapshot(spark, "frontier", k)
        fresh.store.read_snapshot(spark, "host_state", k)
        fresh.store.read_deltas(spark, "seen_state", k)
        # fence: a job in its own group; once the status tracker lists it,
        # every earlier job start has been processed too (one ordered queue)
        sc.setJobGroup(group + "-fence", "fence")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tr = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tr.getJobIdsForGroup(group + "-fence") and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tr.getJobIdsForGroup(group + "-fence")
    assert list(tr.getJobIdsForGroup(group)) == []
