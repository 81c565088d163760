"""Streaming wrappers: epoch crawl via foreachBatch (T1) and windowed
metrics with watermark (T7)."""

from __future__ import annotations

import pytest

from gsccca_tax_records_scraper_spark import simulator
from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine
from gsccca_tax_records_scraper_spark.streaming.epoch_stream import run_streaming_crawl
from gsccca_tax_records_scraper_spark.streaming.windows import (
    streaming_tumbling_metrics,
    tumbling_metrics,
)


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file_uri"])
def test_streaming_crawl_matches_batch(spark, tmp_path, uri):
    seeds = [4]
    wd = f"file://{tmp_path}/stream" if uri else tmp_path / "stream"
    eng = CrawlEngine(spark, wd, epoch_seconds=60.0)
    n = run_streaming_crawl(eng, seeds, tick_seconds=0.5)
    assert n >= 1
    sim = simulator.simulate_crawl(seeds, epoch_seconds=60.0)
    assert {r.url for r in eng.seen().collect()} == sim.seen_urls
    assert eng.store.last_epoch() == sim.epochs


def test_streaming_window_agg_matches_batch(spark, sf001, tmp_path):
    events = spark.read.parquet(f"{sf001}/events.parquet")
    batch = {
        (r.window_start, r.event_type): (r.n, r.total)
        for r in tumbling_metrics(events, "1 hour").collect()
    }
    # the file streaming source wants a directory; stage the table into one
    src = str(tmp_path / "events_dir")
    events.repartition(8).write.parquet(src)
    # complete mode for the inspection sink: every trigger rewrites the full
    # result, so the memory table equals the final aggregation
    q = streaming_tumbling_metrics(
        spark, src, events.schema, "1 hour", query_name="metrics_stream_test",
        output_mode="complete",
    )
    try:
        q.processAllAvailable()
        streamed = {
            (r.window_start, r.event_type): (r.n, r.total)
            for r in spark.sql("SELECT * FROM metrics_stream_test").collect()
        }
    finally:
        q.stop()
    assert streamed == batch


# ----------------------- applyInPandasWithState streaming seen-set (T2/T3)

def test_streaming_dedup_fanout_migration(spark, tmp_path, store_root):
    """r3 ADVICE #2: a fan-out change needs a FRESH checkpoint + state
    rebuild (state is keyed by the old bucket ids). reseed_frame replays the
    already-admitted urls at the new fan-out; after the replay drains, live
    dups are still dropped and only genuinely-new urls admit — exactly-once
    survives the re-sharding."""
    import json

    from gsccca_tax_records_scraper_spark.functions import urltools
    from gsccca_tax_records_scraper_spark.streaming.stateful import (
        reseed_frame,
        streaming_dedup,
    )

    urls = [f"https://search.gsccca.org/Lien/liendetails.asp?id={i}" for i in range(30)]
    n_old, n_new = 8, 16

    def rows(us, nb):
        return [
            {
                "host_bucket": urltools.host_bucket_of(urltools.url_id(u), nb),
                "url_id": urltools.url_id(u),
                "url": u,
            }
            for u in us
        ]

    # phase 1: original stream at fan-out 8 admits urls[:20]
    src1 = tmp_path / "src1"
    src1.mkdir()
    (src1 / "b0.json").write_text("\n".join(json.dumps(r) for r in rows(urls[:20], n_old)))
    stream1 = (
        spark.readStream.schema("host_bucket int, url_id long, url string")
        .json(str(src1))
    )
    q1 = (
        streaming_dedup(stream1, store_root=store_root)
        .writeStream.outputMode("append").format("memory")
        .queryName("mig_phase1")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .start()
    )
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    admitted1 = spark.sql("SELECT host_bucket, url_id, url FROM mig_phase1")
    assert admitted1.count() == 20

    # phase 2: FRESH checkpoint + source at fan-out 16. The replay frame
    # (admitted output relabeled to the new fan-out) drains FIRST, then the
    # live batch arrives with 15 dups + 10 new urls.
    src2 = tmp_path / "src2"
    src2.mkdir()
    replay = [r.asDict() for r in reseed_frame(admitted1, n_new).collect()]
    (src2 / "a_replay.json").write_text("\n".join(json.dumps(r) for r in replay))
    (src2 / "b_live.json").write_text(
        "\n".join(json.dumps(r) for r in rows(urls[5:30], n_new))
    )
    stream2 = (
        spark.readStream.schema("host_bucket int, url_id long, url string")
        .option("maxFilesPerTrigger", 1)  # replay file (lexically first) drains first
        .json(str(src2))
    )
    q2 = (
        streaming_dedup(stream2, store_root=store_root)
        .writeStream.outputMode("append").format("memory")
        .queryName("mig_phase2")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = [r.url for r in spark.sql("SELECT url FROM mig_phase2").collect()]
    # replay re-admits the 20 (they are new to THIS stream) + exactly the
    # 10 genuinely-new live urls; the 15 live dups are dropped
    assert len(got) == len(set(got)) == 30
    assert sorted(got) == sorted(urls)
    # every replayed/admitted url landed in its NEW bucket
    bad = spark.sql(
        f"SELECT * FROM mig_phase2 WHERE host_bucket != pmod(url_id, {n_new})"
    ).count()
    assert bad == 0


def test_streaming_dedup_store_backend(spark, tmp_path):
    """URLs delivered across several micro-batches, with duplicates both
    within and across batches: the admitted stream carries each url exactly
    once, first delivery wins, state persists across triggers. The state
    rows hold segment METADATA only — payloads live in the store, so the
    per-commit state write is O(MAX_SEGS) however large the seen set."""
    import json
    import os

    from gsccca_tax_records_scraper_spark.functions import urltools
    from gsccca_tax_records_scraper_spark.streaming.stateful import streaming_dedup

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "segs")

    def write_batch(name, urls):
        rows = [
            {
                "host_bucket": urltools.host_bucket_of(urltools.url_id(u)),
                "url_id": urltools.url_id(u),
                "url": u,
            }
            for u in urls
        ]
        (src / f"{name}.json").write_text("\n".join(json.dumps(r) for r in rows))

    u = [f"https://search.gsccca.org/Lien/liendetails.asp?id={i}" for i in range(60)]
    write_batch("b0", u[:25] + u[:5])          # in-batch dups
    write_batch("b1", u[10:40])                # cross-batch dups
    write_batch("b2", u[35:60] + u[0:3])       # more cross-batch dups

    stream = (
        spark.readStream.schema("host_bucket int, url_id long, url string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        streaming_dedup(stream, store_root=root)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("admitted_store")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [r.url for r in spark.sql("SELECT url FROM admitted_store").collect()]
    assert sorted(got) == sorted(u)
    assert len(got) == len(set(got)) == 60
    # segment files exist; multi-micro-batch buckets stacked/absorbed runs
    assert any(f.endswith(".seg") for f in os.listdir(root))


def _stream_synth_batches(spark, src, batches):
    """Write each (start, n) slice of bench._synth_candidates as one JSON
    source file, named so they drain in order one per trigger."""
    import json

    import bench

    src.mkdir()
    for i, (start, n) in enumerate(batches):
        rows = bench._synth_candidates(spark, n, start=start).select(
            "host_bucket", "url_id", "url"
        ).collect()
        (src / f"b{i}.json").write_text("\n".join(json.dumps(r.asDict()) for r in rows))
    return (
        spark.readStream.schema("host_bucket int, url_id long, url string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )


def _state_rows(spark, ckpt):
    """The streaming dedup's state: every bucket's live seen_state rows."""
    from pyspark.sql import functions as F

    return (
        spark.read.format("statestore").load(str(ckpt))
        .select(F.explode("value.groupState.segs").alias("s")).select("s.*")
    )


def test_streaming_state_is_seen_state(spark, tmp_path, store_root):
    """The streaming state rows ARE seen_state rows: same field names and
    types as the batch table, and the batch dedup accepts them as its seen
    set — every streamed url is a dup there, every fresh one admits."""
    import bench

    from gsccca_tax_records_scraper_spark.operators import dedup
    from gsccca_tax_records_scraper_spark.sources.checkpoint import TABLES
    from gsccca_tax_records_scraper_spark.streaming.stateful import streaming_dedup

    stream = _stream_synth_batches(spark, tmp_path / "src", [(0, 300), (200, 300)])
    ckpt = tmp_path / "ckpt"
    q = (
        streaming_dedup(stream, store_root=store_root)
        .writeStream.outputMode("append").format("memory")
        .queryName("state_is_seen_state")
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.sql("SELECT url FROM state_is_seen_state").distinct().count() == 500

    state = _state_rows(spark, ckpt)
    assert [(f.name, f.dataType) for f in state.schema] == [
        (f.name, f.dataType) for f in TABLES["seen_state"]
    ]
    rows = state.collect()
    assert sum(r.n_items for r in rows) == 500
    epoch = max(r.epoch for r in rows) + 1
    cands = bench._synth_candidates(spark, 600)
    new, _, handles = dedup.dedup_candidates(cands, state, epoch, store_root=store_root)
    try:
        got = {r.url for r in new.select("url").collect()}
        fresh = {r.url for r in bench._synth_candidates(spark, 100, start=500).collect()}
        assert got == fresh
    finally:
        for h in handles:
            h.unpersist()


def test_streaming_dedup_replay_is_exactly_once(spark, tmp_path, store_root):
    """Micro-batch replay: drop the last batch's commit and restart, so the
    stream re-runs that batch against the state it rolled back to. The
    state rows and the segment files come out identical (the replayed run
    converges on the same content-addressed file) and the sink holds each
    url once."""
    import os

    from pyspark.sql import functions as F

    from gsccca_tax_records_scraper_spark.streaming.stateful import streaming_dedup

    stream = _stream_synth_batches(
        spark, tmp_path / "src", [(0, 300), (200, 300), (400, 300)]
    )
    ckpt, out = tmp_path / "ckpt", tmp_path / "out"

    def run():
        q = (
            streaming_dedup(stream, store_root=store_root)
            .writeStream.outputMode("append").format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        try:
            q.processAllAvailable()
            return [p["batchId"] for p in q.recentProgress]
        finally:
            q.stop()

    def snapshot():
        state = spark.read.format("statestore").load(str(ckpt)).select(
            F.to_json(F.struct("key", "value"))
        )
        return (
            sorted(r[0] for r in state.collect()),
            sorted(f for f in os.listdir(store_root) if f.endswith(".seg")),
        )

    run()
    before = snapshot()
    last = max(int(f) for f in os.listdir(ckpt / "commits") if f.isdigit())
    (ckpt / "commits" / str(last)).unlink()
    (ckpt / "commits" / f".{last}.crc").unlink(missing_ok=True)
    assert last in run()  # the restart re-ran the uncommitted batch
    assert snapshot() == before
    sink = spark.read.parquet(str(out))
    assert sink.count() == sink.select(F.countDistinct("url")).first()[0] == 700
