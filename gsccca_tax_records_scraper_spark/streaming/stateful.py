"""Streaming URL-seen dedup: applyInPandasWithState (SURVEY §2.9 T2/T3).

The batch engine carries the blocked-Bloom-filtered seen set through epoch
checkpoint tables. This module is the same operator as a CUSTOM STATEFUL
STREAMING operator (north_star asks for Structured Streaming equivalents):
candidate URLs arrive on a stream, state is the per-host_bucket live
segment list kept in the streaming state store, and the output stream is
the admitted (first-ever-seen) URLs. Late/duplicate re-deliveries are
absorbed exactly like the batch path (T3): a URL already in the bucket's
exact key set is dropped, a bloom false positive is resolved against the
segment's exact 128-bit keys.

State layout: one state row per host_bucket holding the bucket's LIVE
`seen_state` rows (the batch table's schema, sources/checkpoint.TABLES) —
the same metadata the batch engine commits, so `dedup._live_segments`
parses both and `dedup.append_run` probes and appends for both. Payloads
are the batch engine's immutable content-addressed segment files
(operators/segstore.py), probed through the worker cache and appended
O(new keys) per micro-batch, so state commits stay O(MAX_SEGS) rows at any
seen-set size. A stream has no epoch: each row's `epoch` is stamped with
its `seg`, which grows by one on every micro-batch that admits into the
bucket. Output mode is append (admitted urls are immutable facts).

applyInPandasWithState, not an Arrow API: PySpark 4.1 has no Arrow-native
stateful grouped operator.

GroupStateTimeout: none — the seen set never expires (a crawl's visited set
is permanent for the run's lifetime).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, StructType

from ..operators import dedup
from ..sources.checkpoint import TABLES

# state: one row per host_bucket — its LIVE seen_state rows (<= MAX_SEGS);
# payloads live in the store
_SEGMENT_LIST_SCHEMA = StructType().add("segs", ArrayType(TABLES["seen_state"]))
_OUTPUT_SCHEMA = "host_bucket int, url_id long, url string"


def _dedup_group_store(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    store_root: str,
) -> Iterator[pd.DataFrame]:
    """One host_bucket's micro-batch: keep the first delivery of each url,
    then one `dedup.append_run` over the bucket's live segments — the batch
    cogroup's probe, absorb rule and run writer. The state row lists the
    live `seen_state` rows only: an admitting micro-batch keeps the rows
    below the new run's coverage floor (`seg < lo`) and adds the run's row,
    so the per-micro-batch state commit is O(MAX_SEGS) rows however large
    the seen set.

    Exactly-once under micro-batch REPLAY (post-crash re-execution against
    rolled-back state): the replayed batch re-derives the same new-key run,
    whose content-addressed name converges on the already-written file —
    the write skips, the state row is re-committed identically. Files
    from uncommitted batches are invisible orphans (gc_segments)."""
    rows = [tuple(r) for r in state.get[0]] if state.exists else []
    segs = dedup._live_segments(dedup._meta_table(rows), store_root)
    # a stream has no epoch: the new run's row is stamped with its seg
    seg = segs[-1]["seg"] + 1 if segs else 0
    batch = pd.concat(list(pdfs), ignore_index=True).drop_duplicates("url_id")
    new_mask, row = dedup.append_run(
        segs, int(key[0]), batch["url_id"].to_numpy(dtype="int64"),
        batch["url_h"].to_numpy(dtype="int64"), seg, store_root,
    )
    if row is None:
        return
    _bucket, _seg, lo, *_ = row
    state.update(([r for r in rows if r[1] < lo] + [row],))
    yield batch.loc[new_mask, ["host_bucket", "url_id", "url"]]


def streaming_dedup(candidates: DataFrame, *, store_root: str) -> DataFrame:
    """candidates: a STREAMING DataFrame with (host_bucket int, url_id long,
    url string). Returns the admitted-urls stream (append mode): each url
    appears exactly once across the stream's lifetime, first delivery wins.

    The batch engine's segment store under `store_root` carries the
    payloads (operators/segstore.py): a bucket's state holds its live
    `seen_state` metadata rows only, so micro-batch state commits are
    O(metadata) however large the seen set. The 128-bit identity (url_id + xxhash64(url)) matches the
    batch path. State is keyed by host_bucket, so a fan-out change needs a
    FRESH streaming checkpoint plus a state rebuild: replay the seen urls
    (the batch lineage table seen_exact, or this stream's own admitted
    output) through the new-fan-out stream first — reseed_frame builds that
    replay input — then attach the live candidate source. A plain restart
    with more buckets would find empty state under the new keys and
    re-admit already-seen urls."""

    def fn(key, pdfs, state):
        return _dedup_group_store(key, pdfs, state, store_root)

    return (
        candidates.withColumn("url_h", F.xxhash64("url"))
        .groupBy("host_bucket")
        .applyInPandasWithState(
            fn,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_SEGMENT_LIST_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def reseed_frame(seen_urls: DataFrame, n_buckets: int) -> DataFrame:
    """State-rebuild input for a fan-out change (see streaming_dedup):
    relabel already-seen urls — the batch lineage table seen_exact, or this
    stream's own admitted output — to the NEW bucket fan-out. Write this
    frame to the new stream's source (e.g. its file/Kafka ingest dir) and
    let it drain BEFORE attaching live candidates: every url lands in its
    new bucket's state, so the rebuilt stream is exactly-once again.
    Replay order does not matter (first delivery wins and these are all
    firsts); duplicates across replay+live are absorbed like any late
    re-delivery (T3)."""
    from ..functions.urltools import host_bucket_col

    return seen_urls.select(
        host_bucket_col(F.col("url_id"), n_buckets).alias("host_bucket"),
        "url_id",
        "url",
    )
