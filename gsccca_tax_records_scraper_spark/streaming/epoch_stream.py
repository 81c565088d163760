"""Structured-Streaming wrapper around the epoch crawl loop (SURVEY T1/§1.2).

The reference is a resumable batch loop, not a stream; epochs are the
Spark-idiomatic equivalent, and this wrapper drives them from a streaming
trigger: a rate source ticks, foreachBatch runs one `CrawlEngine.step()`,
and the query stops itself once the frontier drains. Checkpoint/exactly-once
semantics live in the engine's own epoch manifest (the foreachBatch body is
idempotent per epoch: a re-fired epoch overwrites its uncommitted output and
re-commits the same manifest entry).
"""

from __future__ import annotations

from ..plans.epoch import CrawlEngine


def run_streaming_crawl(
    engine: CrawlEngine,
    seed_ids: list[int] | None = None,
    tick_seconds: float = 1.0,
    max_epochs: int = 1000,
) -> int:
    """Drive the crawl from a streaming trigger; returns epochs run."""
    spark = engine.spark
    if engine.store.last_epoch() is None:
        assert seed_ids is not None
        engine.bootstrap(seed_ids)

    state = {"done": False, "epochs": 0}

    def one_epoch(_batch_df, _batch_id: int) -> None:
        if state["done"] or state["epochs"] >= max_epochs:
            state["done"] = True
            return
        if engine.step() is None:
            state["done"] = True
        else:
            state["epochs"] += 1

    ticks = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", max(1, int(1 / tick_seconds)))
        .load()
    )
    query = (
        ticks.writeStream.foreachBatch(one_epoch)
        .trigger(processingTime=f"{tick_seconds} seconds")
        .option("checkpointLocation", f"{engine.store.workdir}/_stream_ckpt")
        .start()
    )
    try:
        import time

        while not state["done"]:
            time.sleep(0.2)
            if query.exception() is not None:
                raise query.exception()
    finally:
        query.stop()
    return state["epochs"]
