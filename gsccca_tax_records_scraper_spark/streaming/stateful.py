"""Streaming URL-seen dedup: applyInPandasWithState (SURVEY §2.9 T2/T3).

The batch engine carries the blocked-Bloom + cuckoo seen set through epoch
checkpoint tables. This module is the same operator as a CUSTOM STATEFUL
STREAMING operator (north_star asks for Structured Streaming equivalents):
candidate URLs arrive on a stream, state is the per-host_bucket live
segment list kept in the streaming state store, and the output stream is
the admitted (first-ever-seen) URLs. Late/duplicate re-deliveries are
absorbed exactly like the batch path (T3): a URL already in the bucket's
exact key set is dropped, a bloom false positive is resolved against the
segment's exact 128-bit keys.

State layout: the batch engine's LSM backend (operators/segstore.py) —
state rows hold live segment metadata only, payloads are immutable
content-addressed files probed through the worker cache and appended
O(new keys) per micro-batch, so state commits stay O(MAX_SEGS) at any
seen-set size. Output mode is append (admitted urls are immutable facts).

GroupStateTimeout: none — the seen set never expires (a crawl's visited set
is permanent for the run's lifetime).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators import dedup, segstore

# state: one row per host_bucket — LIVE segment metadata only (JSON
# [[seg, lo, n, file]] — <= MAX_SEGS entries); payloads live in the store
_SEGMENT_LIST_SCHEMA = "meta string, n_items long"
_OUTPUT_SCHEMA = "host_bucket int, url_id long, url string"


def _dedup_group_store(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    store_root: str,
) -> Iterator[pd.DataFrame]:
    """One host_bucket's micro-batch: the state-store row holds LIVE segment
    metadata only; payload bytes live in the segment store, read through
    the worker cache and written once per micro-batch (the LSM absorb rule
    bounds both the probe fan-out and the amortized rewrite). The
    per-micro-batch state commit is therefore O(MAX_SEGS metadata),
    however large the seen set.

    Exactly-once under micro-batch REPLAY (post-crash re-execution against
    rolled-back state): the replayed batch re-derives the same new-key run,
    whose content-addressed name converges on the already-written file —
    the write skips, the metadata row is re-committed identically. Files
    from uncommitted batches are invisible orphans (gc_segments)."""
    bucket = int(key[0])
    entries: list = json.loads(state.get[0]) if state.exists else []
    segs = []
    for seg_id, lo, _n, fname in entries:
        # lazy keys, like the batch path: filters load now, key arrays
        # only when a bloom positive needs exact resolve or a tier merge
        # absorbs the run (dedup.seg_keys)
        bloom_b, cuckoo_b, _ = segstore.read_segment_filters(store_root, fname)
        segs.append({"seg": seg_id, "lo": lo, "bloom_b": bloom_b,
                     "cuckoo_b": cuckoo_b, "n": int(_n),
                     "_keys_from": (store_root, fname)})
    admitted = []
    batch_ids = np.zeros(0, dtype=np.int64)
    batch_hs = np.zeros(0, dtype=np.int64)
    for pdf in pdfs:
        if pdf.empty:
            continue
        # in-batch keep-first (urls may repeat within one micro-batch)
        pdf = pdf.drop_duplicates("url_id", keep="first")
        ids = pdf["url_id"].to_numpy(dtype="int64")
        hs = pdf["url_h"].to_numpy(dtype="int64")
        seen = dedup.probe_segments(segs, ids, hs)
        if len(batch_ids):
            # earlier chunks of this micro-batch already admitted these
            seen |= dedup.probe_sorted_keys(batch_ids, batch_hs, ids, hs)
        new = pdf[~seen]
        if len(new):
            nids = new["url_id"].to_numpy(dtype="int64")
            nhs = new["url_h"].to_numpy(dtype="int64")
            batch_ids = np.concatenate([batch_ids, nids])
            batch_hs = np.concatenate([batch_hs, nhs])
            o = np.lexsort((batch_hs, batch_ids))
            batch_ids, batch_hs = batch_ids[o], batch_hs[o]
            admitted.append(new[["host_bucket", "url_id", "url"]])
    if len(batch_ids):
        # shared run-emission rule (ordering + absorb + filters): one
        # implementation with the batch cogroup, so the operators can't
        # desynchronize on seg_id/lo/absorb semantics
        run_ids, run_hs, seg_id, lo, bloom_b, cuckoo_b = dedup.emit_run(
            segs, batch_ids, batch_hs
        )
        fname = segstore.write_segment(
            store_root, bucket, seg_id, bloom_b, cuckoo_b, run_ids, run_hs
        )
        # the state row lists LIVE entries only: absorbed ones drop now
        # (no coverage-interval reconstruction on a state-store read)
        entries = [e for e in entries if not (lo <= e[0] < seg_id)]
        entries.append([seg_id, lo, int(len(run_ids)), fname])
        state.update((json.dumps(entries), int(sum(e[2] for e in entries))))
    if admitted:
        yield pd.concat(admitted, ignore_index=True)


def streaming_dedup(candidates: DataFrame, *, store_root: str) -> DataFrame:
    """candidates: a STREAMING DataFrame with (host_bucket int, url_id long,
    url string). Returns the admitted-urls stream (append mode): each url
    appears exactly once across the stream's lifetime, first delivery wins.

    The batch engine's segment store under `store_root` carries the
    payloads (operators/segstore.py): state rows hold live segment METADATA
    only, so micro-batch state commits are O(metadata) however large the
    seen set. The 128-bit identity (url_id + xxhash64(url)) matches the
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
