"""Frontier URL dedup: J1 as a bloom-prefiltered exact membership check
(SURVEY J1/T2), with the seen set carried IN per-bucket state SEGMENTS
(log-structured: an epoch appends a run, it never rewrites the history).

Reference semantics: keep the FIRST occurrence of each URL, in discovery
order (ordered-dict dedup realestate_index_scraper.py:474; drop_duplicates
:510). Scale design (north_star):

  ONE cogroup   candidate rows (full payload, flattened) cogrouped on
                host_bucket with the bucket's state SEGMENT rows.
                host_bucket is a pure function of url_id, so every duplicate
                of a url lands in the same group. A bucket's seen set is the
                UNION of its live segments; each segment is an IMMUTABLE
                sorted run — blocked-Bloom + cuckoo filter bytes (sized to
                the run) PLUS the run's sorted exact key arrays (60-bit sha1
                url_id + independent 64-bit xxhash64, packed int64 binary —
                16 bytes/url, no row materialization). Inside (numpy over
                Arrow, vectorized):
                (a) keep-first: np.lexsort on (url_id, depth, seed, page,
                    link_order, parent) + first-occurrence mask — the
                    group-local keep-first IS the global keep-first;
                (b) per-segment blocked-Bloom probe, largest segment first —
                    negatives are DEFINITELY absent from that segment;
                (c) positives resolve EXACTLY against that segment's sorted
                    key arrays via np.searchsorted (128-bit identity:
                    collision odds ~1e-18 at 10^10 urls); a url found in any
                    segment is seen, one found in none is new;
                (d) confirmed-new keys become ONE new segment (canonical
                    (id,h) order, filters built for exactly that run) —
                    size-tiered compaction below decides whether the run
                    also absorbs the newest existing segments.
                Output = the kept-first NEW rows (full payload) + at most
                one NEW segment row per bucket. Existing segments are
                NEVER re-serialized by an append — that is the point.

  Logarithmic segment merging (LSM, binary-counter rule): segments stack
  newest-on-top with seg ids 0,1,2,...; the new run absorbs the top of the
  stack while (i) the next segment down is no bigger than the run
  accumulated so far — under steady equal-size epochs the live run sizes
  mirror the binary digits of the epoch count (Bentley–Saxe logarithmic
  method), so each key is rewritten once per doubling of the data above
  it: O(log |seen|/batch) rewrites per key over the crawl's life, and the
  live stack depth is bounded by the same log — or (ii) more than
  MAX_SEGS segments would remain (probe-fan-out safety valve; see
  tier_absorb for why the old twice-the-next-run rule degenerated to
  ~N^0.9 write amplification). The emitted row's [lo, seg) interval
  records which segments it replaced — `lo == seg` is a pure append.
  Per-epoch serialized output is O(new keys) amortized (measured: flat
  per-epoch deltas while the seen set grew 10x, write amplification
  tracking the binary-counter bound).

Per epoch that is ONE shuffle and ONE JVM<->Python crossing, no join and no
aggregation, and the state bytes leave the dataflow entirely. Payloads live
in content-addressed write-once files (operators/segstore.py — the same
shape as Structured Streaming's per-partition state-store files); the
cogroup's state side carries METADATA rows only (bucket, seg, lo, n_items,
epoch, file), the probing worker loads payloads through a process-level LRU
that immutable segments keep trivially coherent (spark.python.worker.reuse
makes it survive across epochs), and a new run is written to the store by
the worker that built it — so per-epoch Arrow/shuffle traffic is O(batch
rows + touched-bucket metadata) in, O(admitted rows + one metadata row per
changed bucket) out, regardless of the seen set's size (bench.py --growth
evidences the near-flat epoch time as the seen set grows). Payload I/O is
lazy at PART granularity: a probe loads only a segment's FILTERS (bloom +
cuckoo, ~0.6 B/key — ~3% of a run's bytes) on first touch; the packed key
arrays (16 B/key) load only when a bloom positive needs exact resolve or a
tier merge absorbs the run — so a fresh-heavy epoch's read cost tracks the
batch's hit count, not the history's size. New-run writes are O(new keys),
LSM-amortized.

At 10^10 urls the state is ~160 GB across 4096 buckets (~40 MB/bucket —
fine per task). Storage-bucketing seen_state by host_bucket removes the
state-side shuffle on a real cluster (written per-bucket; the cogroup reads
co-located partitions). Per-epoch state-byte movement is proportional to
the TOUCHED bucket set, in both directions (the r3 verdict's #1):

  - input: the state side is metadata rows only (at most fan-out x
    MAX_SEGS), and a bucket with state but no candidates returns at once,
    so no state payload byte is read for an untouched bucket. A caller can
    still prune the state side to the batch's distinct host_buckets before
    the cogroup (`prune_state` in dedup_candidates: a bounded <= fan-out
    driver collect builds a static `isin` predicate); the engine does not,
    since that collect costs one extra scan of the candidate lineage and
    the metadata rows it would drop are few;
  - output: a touched bucket that admitted NOTHING (every candidate was a
    dup) emits no state row at all, and a bucket that DID admit emits only
    its new segment (plus whatever the tiering absorbed) — existing
    segment bytes never re-cross Arrow for an append. The full snapshot
    the caller gets back is rebuilt JVM-side as new-rows UNION (prior
    state anti-join the new rows' [lo, seg) coverage intervals), so
    surviving rows are the prior epoch's rows verbatim (bit-identical,
    original epoch stamp preserved).

State rows are epoch-stamped only when CREATED, and the engine writes them
as per-epoch DELTAS (latest row per (bucket, seg) + coverage-interval
supersession on read, periodic compaction): the epoch filter on the
carried side prunes the prior-state scan entirely at write time (per-epoch
delta dirs have constant epoch stats), so an epoch's state I/O — Arrow,
shuffle AND parquet — tracks the touched set on the way in and the NEW
KEYS (amortized) on the way out.

The decision remains exact w.r.t. the seen SET; the filters only skip work
(a candidate must be bloom-positive AND cuckoo-positive before a segment's
key arrays are pulled for the exact resolve), never claim "seen" on their
own. The cuckoo additionally carries the deletion / recrawl-revocation
capability (north_star): removing a url from a bloom is impossible, from
the cuckoo it is an O(1) fingerprint delete.

The `seen_exact` checkpoint table is still WRITTEN per epoch (export,
lineage, and disaster rebuild all read it) but the hot dedup path no longer
reads it at all.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..sources.checkpoint import TABLES
from . import seenset, segstore

_ORDER_COLS = [
    "crawl_order.depth",
    "crawl_order.seed_id",
    "crawl_order.page",
    "crawl_order.link_order",
    "url_id",
]
_FLAT_ORDER = ["co_depth", "co_seed_id", "co_page", "co_link_order", "url_id"]
# the Arrow-crossing payload is SLIM: host, status and the three
# derivable lineage fields (seed_id/depth always equal crawl_order's for a
# freshly-discovered candidate, discovered_epoch is the admitting epoch) are
# recomputed JVM-side after the cogroup instead of crossing twice — ~40
# bytes/row saved each way on a bandwidth-bound path. Contract: dedup input
# rows are freshly-discovered candidates (status "", lineage derived), which
# every engine path satisfies by construction (_finalize_candidates).
_FLAT_SCHEMA = (
    StructType().add("url_id", "long").add("url", "string")
    .add("host_bucket", "integer").add("priority", "double")
    .add("co_seed_id", "long").add("co_page", "integer")
    .add("co_link_order", "integer").add("co_depth", "integer")
    .add("lin_parent", "long")
)
_PAYLOAD_COLS = _FLAT_SCHEMA.names
# seen_state metadata rows (operators/segstore.py): the payload lives in a
# content-addressed write-once file; only these rows ride the Spark plan.
# seg: the segment's id within its bucket (newer = higher); lo: the row
# supersedes segments in [lo, seg) — lo == seg for a pure append, lo == 0
# for a full rewrite. A bucket's LIVE segments are the latest row per
# (bucket, seg) minus every seg covered by a higher row's interval.
_META_SCHEMA = TABLES["seen_state"]
_PA_META = to_arrow_schema(_META_SCHEMA)
_META_COLS = _PA_META.names
# cogroup output: the payload columns, then the metadata columns (NULL on
# admitted rows, set on the bucket's appended state row)
_OUT_META_SCHEMA = StructType(
    _FLAT_SCHEMA.fields + [f for f in _META_SCHEMA.fields if f.name != "host_bucket"]
)
_PA_OUT_META = to_arrow_schema(_OUT_META_SCHEMA)

# probe fan-out bound: a candidate checks at most this many segment blooms.
# The binary-counter merge rule keeps the live count at ~log2(|seen|/batch)
# on its own (13 at 10^4 equal epochs); this cap only catches adversarial
# batch-size sequences (it takes a 2^24 batch-size spread to hit it).
MAX_SEGS = 24


def order_cols() -> list:
    """The total grant/dedup order (matches simulator.order_key)."""
    return [F.col(c) for c in _ORDER_COLS]


def _flatten(df: DataFrame) -> DataFrame:
    return df.select(
        "url_id", "url", "host_bucket", "priority",
        F.col("crawl_order.seed_id").alias("co_seed_id"),
        F.col("crawl_order.page").alias("co_page"),
        F.col("crawl_order.link_order").alias("co_link_order"),
        F.col("crawl_order.depth").alias("co_depth"),
        F.col("lineage.parent_url_id").alias("lin_parent"),
    )


def _unflatten(df: DataFrame, epoch: int) -> DataFrame:
    """Rebuild the FRONTIER shape from the slim payload: host from the url
    (codegen'd regexp), status "" (fresh candidates by contract), lineage
    seed/depth from crawl_order, discovered_epoch = the admitting epoch."""
    host = F.lower(F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1))
    return df.select(
        "url_id", "url", host.alias("host"), "host_bucket", "priority",
        F.struct(
            F.col("co_seed_id").alias("seed_id"),
            F.col("co_page").alias("page"),
            F.col("co_link_order").alias("link_order"),
            F.col("co_depth").alias("depth"),
        ).alias("crawl_order"),
        F.lit("").alias("status"),
        F.struct(
            F.col("lin_parent").alias("parent_url_id"),
            F.col("co_seed_id").alias("seed_id"),
            F.col("co_depth").alias("depth"),
            F.lit(epoch).cast("int").alias("discovered_epoch"),
        ).alias("lineage"),
    )


def keep_first_in_batch(candidates: DataFrame) -> DataFrame:
    """Standalone stage-1 (used by the contract surface): one row per
    url_id, the first by crawl order."""
    w = Window.partitionBy("url_id").orderBy(*order_cols())
    return (
        candidates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def find_sorted_keys(
    seen_ids: np.ndarray, seen_hs: np.ndarray, q_ids: np.ndarray, q_hs: np.ndarray
) -> np.ndarray:
    """Exact 128-bit lookup of (q_ids, q_hs) in the (id-sorted, non-empty)
    seen key arrays: each query's position in them, -1 when absent. Two
    searchsorted passes + a direct compare for the (dominant) unique-id
    case; the ultra-rare 60-bit id collision ranges are scanned. The one
    lookup behind both the dedup probe and revocation."""
    lo = np.searchsorted(seen_ids, q_ids, side="left")
    hi = np.searchsorted(seen_ids, q_ids, side="right")
    pos = np.full(len(q_ids), -1, dtype=np.int64)
    hit = hi - lo == 1
    hit[hit] = seen_hs[lo[hit]] == q_hs[hit]
    pos[hit] = lo[hit]
    for j in np.flatnonzero(hi - lo > 1):
        m = np.flatnonzero(seen_hs[lo[j]:hi[j]] == q_hs[j])
        if len(m):
            pos[j] = lo[j] + m[0]
    return pos


def _live_segments(right: pa.Table, store_root: str) -> list[dict]:
    """Parse a bucket's METADATA rows into live segments, seg-ascending;
    each live segment's filters load from the store through the
    worker-process LRU — dead rows never touch the store at all.

    Engine paths hand this function live rows only (the snapshot carry drops
    superseded rows eagerly), but storage reads between compactions can
    still contain them, so the coverage rule is re-applied here, mirroring
    _latest_state_rows: newest epoch wins per (bucket, seg), then walking
    seg-DESCENDING a running min of `lo` over ALL rows already walked kills
    any seg it covers. Dead rows' `lo` must feed the running min too —
    coverage is transitive (a dead row's keys, and the keys of everything
    ITS interval covered, live on inside whichever row absorbed it, even
    though the absorber's own interval need not reach that far down)."""
    seg_a, lo_a = right["seg"].to_numpy(), right["lo"].to_numpy()
    n_a, files = right["n_items"].to_numpy(), right["file"].to_pylist()
    order = np.lexsort((-right["epoch"].to_numpy(), -seg_a))
    segs: list[dict] = []
    min_lo = None
    prev_seg = None
    for i in order:
        seg, lo = int(seg_a[i]), int(lo_a[i])
        covered = (min_lo is not None and min_lo <= seg) or seg == prev_seg
        prev_seg = seg
        min_lo = lo if min_lo is None else min(min_lo, lo)
        if covered:
            continue  # superseded: same seg at an older epoch, or inside
            #           a newer row's (transitive) [lo, seg) coverage
        # LAZY keys: only the probe prefilters (bloom + cuckoo, ~3% of a
        # run's bytes) load here; the packed key arrays load through
        # seg_keys() the first time something actually needs them — exact
        # resolve of a bloom positive, a tier merge, revocation. A
        # fresh-heavy epoch therefore reads O(filters), not O(|seen|).
        bloom_b, cuckoo_b, _ = segstore.read_segment_filters(store_root, files[i])
        segs.append(
            {"seg": seg, "lo": lo, "bloom_b": bloom_b, "cuckoo_b": cuckoo_b,
             "n": int(n_a[i]), "_keys_from": (store_root, files[i])}
        )
    segs.reverse()  # seg-ascending (oldest first)
    return segs


def seg_keys(s: dict) -> tuple[np.ndarray, np.ndarray]:
    """A segment's packed sorted key arrays, loading (and memoizing) them
    from the store on first need — see _live_segments' lazy key load."""
    if "ids" not in s:
        s["ids"], s["hs"] = segstore.read_segment_keys(*s["_keys_from"])
    return s["ids"], s["hs"]


def probe_segments(segs: list[dict], q_ids: np.ndarray, q_hs: np.ndarray) -> np.ndarray:
    """Exact membership of (q_ids, q_hs) in the union of the segments:
    per-segment bloom prefilter (largest run first — most hits resolve
    there and drop out of the later probes), cuckoo CONFIRM of the bloom
    positives, then exact resolve against the segment's sorted key arrays.

    The cuckoo confirm is what makes the lazy key loading pay off on
    fresh-heavy epochs: a bloom false positive alone would pull the
    segment's full key arrays (16 B/key — ~97% of its bytes) off the
    store; requiring both filters to agree drops the false-pull rate from
    the bloom's ~1% to the product of the two. Sound because segments
    have no cuckoo false negatives by construction: _build_run places
    EVERY fingerprint (rebuild-doubled until none fail) and revocation
    only deletes keys verified present in the exact arrays — same-
    fingerprint copies within a bucket pair are interchangeable, so a
    surviving key always keeps a findable copy."""
    seen = np.zeros(len(q_ids), dtype=bool)
    if not len(q_ids):
        return seen
    undecided = np.ones(len(q_ids), dtype=bool)
    for s in sorted(segs, key=lambda s: -s["n"]):
        if not s["n"]:
            continue
        idx = np.flatnonzero(undecided)
        if not len(idx):
            break
        bloom = seenset.BlockedBloom.from_bytes(s["bloom_b"], mutable=False)
        maybe = bloom.contains(q_ids[idx].view(np.uint64))
        mi = idx[maybe]
        if len(mi):
            cuckoo = seenset.CuckooFilter.from_bytes(s["cuckoo_b"], mutable=False)
            mi = mi[cuckoo.contains(q_ids[mi].view(np.uint64))]
        if len(mi):
            seen_ids, seen_hs = seg_keys(s)
            fi = mi[find_sorted_keys(seen_ids, seen_hs, q_ids[mi], q_hs[mi]) >= 0]
            seen[fi] = True
            undecided[fi] = False
    return seen


def tier_absorb(sizes: list[int], n_new: int) -> int:
    """Logarithmic-merge (binary-counter) absorb decision for a new run of
    `n_new` keys landing on a stack of live segments with `sizes`
    (seg-ascending): returns j such that segments j+1.. are absorbed into
    the new run. The new run swallows the newest segments while (i) the
    next one down is NO BIGGER than the run accumulated so far — with
    steady equal-size epochs the live run sizes mirror the binary digits of
    the epoch count (Bentley–Saxe), so each key is rewritten once per
    doubling of the data above it, O(log |seen|/batch) times over the
    crawl's life, with the live stack depth bounded by the same log — or
    (ii) more than MAX_SEGS segments would remain (a probe-fan-out safety
    valve for adversarial batch-size sequences; a 2^MAX_SEGS batch-size
    spread is needed to reach it). The previous rule (absorb only when the
    accumulated run reached TWICE the next segment) never merged the
    equal-size runs of a steady crawl, so every merge was the count-cap
    cascade folding the WHOLE stack — measured write amplification grew
    ~N^0.9 (32x at 10^4 epochs vs 6x for this rule, 254x vs 8x at 10^5).

    "No bigger" carries a 25% tolerance (sizes[j] <= 1.25 * accumulated):
    real epochs hash-split a batch across buckets, so per-bucket run sizes
    carry a few percent of jitter, and the EXACT comparison flips absorb
    decisions bucket-by-bucket at every equal-size boundary — bucket
    phases desynchronize and per-epoch write volume smears into a
    growing mixture (measured 62->157 MB over 10 equal epochs). With the
    tolerance every bucket makes the same decision, the whole table stays
    phase-locked to the clean binary-carry pattern (per-epoch writes
    1,2,1,4,1,2,1,8,... x batch), and same-phase epochs do bit-identical
    work — what the growth benchmark's flatness comparison relies on. For
    exact powers of two the decisions are unchanged (the tolerance only
    matters within a jitter band), so the binary-digit invariant and the
    O(log) rewrite bound hold as before (tests/test_lsm_segments.py).
    Depends only on sizes -> deterministic, resume-stable. Shared by the
    batch cogroup and the streaming state operator."""
    cum = n_new
    j = len(sizes) - 1
    while j >= 0 and (sizes[j] <= cum + (cum >> 2) or j + 2 > MAX_SEGS):
        cum += sizes[j]
        j -= 1
    return j


def _build_run(ids: np.ndarray, hs: np.ndarray) -> tuple[bytes, bytes]:
    """Bloom + cuckoo bytes for an immutable run, sized to exactly its keys
    (segments are never inserted into after creation, so no overflow path).
    The cuckoo must place EVERY fingerprint (revocation deletes depend on
    them) — rebuild doubled until none fail."""
    cap = max(len(ids), 64)
    bloom = seenset.BlockedBloom.for_capacity(cap)
    cuckoo = seenset.CuckooFilter.for_capacity(cap)
    if len(ids):
        bloom.insert(ids.view(np.uint64))
        while cuckoo.insert(ids.view(np.uint64)):
            cuckoo = seenset.CuckooFilter.for_capacity(
                cuckoo.n_buckets * seenset.CuckooFilter.SLOTS * 2
            )
    bloom.n_items = len(ids)
    return bloom.to_bytes(), cuckoo.to_bytes()


def _write_run(
    store_root: str, bucket: int, seg: int, lo: int, epoch: int,
    ids: np.ndarray, hs: np.ndarray,
) -> tuple:
    """Build a (canonically ordered) run's filters, write it to the store
    and return its _META_COLS metadata row. Write-once, content-addressed:
    retries and replays converge on the same file name. Every seen-set
    writer except revocation (which keeps a segment's bloom capacity)
    goes through here."""
    bloom_b, cuckoo_b = _build_run(ids, hs)
    fname = segstore.write_segment(store_root, bucket, seg, bloom_b, cuckoo_b, ids, hs)
    return (bucket, seg, lo, len(ids), epoch, fname)


def append_run(
    segs: list[dict], bucket: int, ids: np.ndarray, hs: np.ndarray,
    epoch: int, store_root: str,
) -> tuple[np.ndarray, tuple | None]:
    """Admit (ids, hs) — unique keys — against a bucket's live segment
    stack: probe, then write the not-yet-seen keys as ONE new run in
    canonical (id, h) order, absorbing the segments tier_absorb names.
    Shared by the batch cogroup (_fused_fn) and the streaming state
    operator (streaming/stateful._dedup_group_store), so the two cannot
    desynchronize on seg/lo/absorb semantics. Returns (new_mask, the run's
    metadata row); the row is None when nothing is new. Its lo is the
    run's coverage floor: == seg for a pure append, the lowest absorbed
    seg otherwise, 0 for a full fold."""
    new_mask = ~probe_segments(segs, ids, hs)
    if not new_mask.any():
        return new_mask, None
    new_ids, new_hs = ids[new_mask], hs[new_mask]
    o = np.lexsort((new_hs, new_ids))
    new_ids, new_hs = new_ids[o], new_hs[o]
    j = tier_absorb([s["n"] for s in segs], len(new_ids))
    seg_id = segs[-1]["seg"] + 1 if segs else 0
    if j == len(segs) - 1:  # pure append (also the empty-state case)
        run_ids, run_hs, lo = new_ids, new_hs, seg_id
    else:
        absorbed = segs[j + 1:]
        absorbed_keys = [seg_keys(s) for s in absorbed]
        run_ids = np.concatenate([k[0] for k in absorbed_keys] + [new_ids])
        run_hs = np.concatenate([k[1] for k in absorbed_keys] + [new_hs])
        oo = np.lexsort((run_hs, run_ids))
        run_ids, run_hs = run_ids[oo], run_hs[oo]
        # full rewrite marks lo=0 so storage GC kills every older row
        lo = 0 if j < 0 else absorbed[0]["seg"]
    return new_mask, _write_run(store_root, bucket, seg_id, lo, epoch, run_ids, run_hs)


def _meta_table(rows: list[tuple]) -> pa.Table:
    """_META_COLS-ordered tuples -> metadata rows (the one place the
    revoke/merge/split UDF outputs get their types)."""
    return pa.Table.from_pylist([dict(zip(_META_COLS, r)) for r in rows], schema=_PA_META)


def _pa_col(arr) -> pa.Array:
    return arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr


def _fused_fn(epoch: int, store_root: str):
    """Cogroup body: keep-first + per-segment probe + new-run emission
    (size-tiered absorb). left = flattened candidate rows (full payload +
    url_h); right = the bucket's live segment METADATA rows (an absent group
    means an empty seen set — no seen-ids-without-state desync is possible
    by construction). Payloads are read through the worker's segment cache
    (operators/segstore.py) and the new run is WRITTEN to the store from
    here. Returns the kept-first NEW candidate rows (state columns NULL)
    plus AT MOST ONE new segment metadata row (file non-NULL, payload
    columns NULL but host_bucket; append_run writes it): an all-dup
    bucket emits no state row, an admitting bucket emits only its new run
    plus whatever the tiering absorbed — un-absorbed segments never
    re-cross Arrow outbound (the caller carries them forward JVM-side,
    bit-identical), and no payload bytes cross Arrow in either direction.

    ARROW-NATIVE (applyInArrow): the decisions need only the int64 key/
    order columns (zero-copy numpy views of the Arrow buffers); the url
    strings of admitted rows move JVM -> worker -> JVM as Arrow buffer
    slices (one C-level take) and never materialize as Python/pandas
    objects. The former pandas path built ~24M Python str objects per
    bench epoch on the way in and again on the way out — measured ~12% of
    the whole dedup epoch at sf-bench scale."""

    def fn(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0:
            # no candidates touched this bucket: nothing admitted, nothing
            # changed — emit nothing (prior segments are carried JVM-side)
            return _PA_OUT_META.empty_table()
        left = left.combine_chunks()
        segs = _live_segments(right, store_root) if right.num_rows else []
        bucket = left["host_bucket"][0].as_py()

        ids = left["url_id"].to_numpy()
        # (a) keep-first per url_id in total crawl order. FAST PATH: when
        # the bucket's ids are already unique (steady-state crawls where
        # upstream batches pre-dedup, and the bench's synthetic frontier),
        # the 6-key lexsort collapses to a single argsort on url_id — the
        # tie-break keys only matter WITHIN equal-id groups, and with no
        # dups the lexsort order is fully determined by its primary key,
        # so kept_idx is bit-identical on both paths (ordered by url_id).
        sidx = np.argsort(ids, kind="stable")
        ids_sorted = ids[sidx]
        first_mask = np.empty(len(sidx), dtype=bool)
        first_mask[0] = True
        first_mask[1:] = ids_sorted[1:] != ids_sorted[:-1]
        if first_mask.all():
            kept_idx = sidx
        else:
            # dup-carrying bucket: full crawl-order lexsort (keys listed
            # minor-first, url_id last = primary), then first-per-id
            order = np.lexsort(
                (
                    left["lin_parent"].to_numpy(),
                    left["co_link_order"].to_numpy(),
                    left["co_page"].to_numpy(),
                    left["co_seed_id"].to_numpy(),
                    left["co_depth"].to_numpy(),
                    ids,
                )
            )
            ids_sorted = ids[order]
            first_mask[0] = True
            first_mask[1:] = ids_sorted[1:] != ids_sorted[:-1]
            kept_idx = order[first_mask]
        # (b)-(d) per-segment probe + exact resolve, then the confirmed-new
        # keys become one run (canonical order + size-tiered absorb: state
        # bytes must not depend on partition layout)
        new_mask, row = append_run(
            segs, bucket, ids[kept_idx], left["url_h"].to_numpy()[kept_idx],
            epoch, store_root,
        )
        # touched-but-unchanged bucket: every candidate was a dup, so the
        # state is byte-identical to last epoch's — emit NO state row; the
        # caller reuses the prior rows JVM-side, and the bucket's state
        # bytes never cross Arrow outbound
        if row is None:
            return _PA_OUT_META.empty_table()

        # admitted payload rows (kept-first order, metadata NULL) + ONE
        # state row (payload NULL but host_bucket). Only CHANGED buckets
        # get here, so the row's stamp is the current epoch: the engine's
        # delta write (filter epoch == current) writes exactly these rows
        take = pa.array(kept_idx[new_mask])
        admitted = pa.Table.from_arrays(
            [_pa_col(left[c].take(take)) for c in _PAYLOAD_COLS]
            + [pa.nulls(len(take), f.type) for f in _PA_OUT_META if f.name not in _PAYLOAD_COLS],
            schema=_PA_OUT_META,
        )
        state_row = pa.Table.from_pylist([dict(zip(_META_COLS, row))], schema=_PA_OUT_META)
        return pa.concat_tables([admitted, state_row])

    return fn


def revoke_seen(
    seen_state: DataFrame,
    revoked: DataFrame,
    epoch: int,
    *,
    store_root: str,
) -> tuple[DataFrame, list[DataFrame]]:
    """Recrawl revocation (north_star deletion capability): remove urls from
    the seen set so the next discovery re-admits them. Reference analog:
    re-scraping after clearing resume state (lien_index_scraper.py:114-128).

    `revoked` carries (host_bucket, url_id, url_h). Per matching SEGMENT,
    the keys are deleted from its packed sorted arrays, the matching cuckoo
    fingerprints take the O(1) delete the table is maintained for, and the
    bloom — which cannot delete — is rebuilt from the segment's remaining
    keys at the same capacity (deterministic bytes). Only segments that
    actually lost a key re-serialize: the replacement row keeps its seg and
    lo, so it supersedes per (bucket, seg) without disturbing the coverage
    intervals; untouched segments and buckets are carried JVM-side.
    Returns (full_snapshot, persisted) — callers unpersist `persisted`
    after consuming the snapshot; the engine's delta write (filter
    epoch == current) persists only the changed rows.

    Requests for urls that are not in the seen set are no-ops (exactness
    lives in the key arrays; the filters only ever skip work).

    Precondition: every `seen_state` row is stamped with an epoch earlier
    than `epoch` (prior state was committed at an earlier epoch). The
    carried branch keeps only such rows, so the snapshot's
    `filter(epoch == current)` folds to the replaced rows alone — no
    prior-state scan, no window."""
    rev = revoked.select("host_bucket", "url_id", "url_h")
    buckets = [int(r[0]) for r in rev.select("host_bucket").distinct().collect()]
    state_src = seen_state.filter(F.col("host_bucket").isin(buckets))

    def fn(left: pa.Table, right: pa.Table) -> pa.Table:
        if right.num_rows == 0 or left.num_rows == 0:
            # nothing seen here / nothing requested
            return _PA_META.empty_table()
        segs = _live_segments(right, store_root)
        bucket = right["host_bucket"][0].as_py()
        q_ids = left["url_id"].to_numpy()
        q_hs = left["url_h"].to_numpy()
        # canonical (id, h) processing order: deterministic state bytes
        o = np.lexsort((q_hs, q_ids))
        q_ids, q_hs = q_ids[o], q_hs[o]
        outs = []
        for s in segs:
            seen_ids, seen_hs = seg_keys(s)
            if not len(seen_ids):
                continue
            pos = find_sorted_keys(seen_ids, seen_hs, q_ids, q_hs)
            del_idx = np.unique(pos[pos >= 0])
            if not len(del_idx):
                continue  # segment untouched: prior row carried JVM-side
            removed_ids = seen_ids[del_idx]
            keep = np.ones(len(seen_ids), dtype=bool)
            keep[del_idx] = False
            seen_ids2, seen_hs2 = seen_ids[keep], seen_hs[keep]
            # header-only peek: from_bytes would copy the whole filter
            # buffer just to read its block count
            old_n_blocks = int(
                seenset.BlockedBloom.HEADER.unpack_from(s["bloom_b"])[0]
            )
            bloom = seenset.BlockedBloom(old_n_blocks)
            if len(seen_ids2):
                bloom.insert(seen_ids2.view(np.uint64))
            bloom.n_items = len(seen_ids2)
            cuckoo = seenset.CuckooFilter.from_bytes(s["cuckoo_b"])
            cuckoo.delete(removed_ids.view(np.uint64))
            # new content -> new name; the row supersedes per (bucket, seg)
            # and the old file becomes a GC orphan
            fname = segstore.write_segment(
                store_root, bucket, s["seg"], bloom.to_bytes(),
                cuckoo.to_bytes(), seen_ids2, seen_hs2,
            )
            outs.append((bucket, s["seg"], s["lo"], len(seen_ids2), epoch, fname))
        return _meta_table(outs)

    out = (
        rev.groupBy("host_bucket")
        .cogroup(state_src.groupBy("host_bucket"))
        .applyInArrow(fn, _META_SCHEMA)
        .persist()
    )
    carried = seen_state.filter(F.col("epoch") < epoch).join(
        F.broadcast(out.select("host_bucket", "seg")),
        ["host_bucket", "seg"],
        "left_anti",
    )
    return out.unionByName(carried), [out]


def merge_segments(seen_state: DataFrame, *, store_root: str) -> DataFrame:
    """Fold each bucket's live segment rows into ONE run (seg = the max live
    seg id, lo = 0, epoch = the bucket's newest row epoch — all
    deterministic). The engine's compaction folds metadata only — running
    this fold on a cadence would add an O(|seen|) payload rewrite per
    cadence (linear write amplification, which the binary-counter tier
    rule exists to avoid) — so this is an EXPLICIT maintenance op
    (pre-export, read-amplification floor resets). Input rows must already
    be live (CrawlEngine._latest_state_rows). The fold reads/writes
    segment-store files and emits metadata rows; retired filenames become
    orphans for gc_segments."""

    def fn(rows: pa.Table) -> pa.Table:
        segs = _live_segments(rows, store_root)
        bucket = rows["host_bucket"][0].as_py()
        if segs:
            all_keys = [seg_keys(s) for s in segs]
            ids = np.concatenate([k[0] for k in all_keys])
            hs = np.concatenate([k[1] for k in all_keys])
            o = np.lexsort((hs, ids))
            ids, hs = ids[o], hs[o]
            seg_id = segs[-1]["seg"]
        else:
            ids = np.zeros(0, dtype=np.int64)
            hs = np.zeros(0, dtype=np.int64)
            seg_id = 0
        epoch = int(rows["epoch"].to_numpy().max())
        return _meta_table([_write_run(store_root, bucket, seg_id, 0, epoch, ids, hs)])

    # the input is at most fan-out x MAX_SEGS metadata rows, so AQE would
    # coalesce the groupBy's shuffle to ONE task and fold every bucket's
    # segments one after another; an explicit-count repartition is never
    # coalesced, and the groupBy reuses its hash partitioning
    n = seen_state.sparkSession.sparkContext.defaultParallelism
    return (
        seen_state.repartition(n, "host_bucket")
        .groupBy("host_bucket")
        .applyInArrow(fn, _META_SCHEMA)
    )


def split_seen_state(
    seen_state: DataFrame, n_old: int, n_new: int, *, store_root: str
) -> DataFrame:
    """Raise the host-bucket fan-out n_old -> n_new (SURVEY §4.1 hot-bucket
    splitting): because host_bucket = url_id % n, doubling (or any 2^k
    multiple) is CONSISTENT — bucket b's keys land only in buckets
    {b + j*n_old}, so each state row splits locally. Filters are rebuilt per
    new bucket from the row's segment keys (no seen_exact scan, no shuffle
    — mapInArrow over the state rows, embarrassingly parallel). The sorted
    key arrays stay sorted under the mask, so split state bytes remain
    partition-layout-independent."""
    assert n_new > n_old and n_new % n_old == 0, (n_old, n_new)

    def fn(batches):
        for batch in batches:
            outs = []
            for row in batch.to_pylist():
                _bb, _cb, ids, hs = segstore.read_segment(store_root, row["file"])
                for nb in range(row["host_bucket"], n_new, n_old):
                    sel = (ids % n_new) == nb
                    # seg and lo pass through: sibling buckets inherit the
                    # parent's segment history (coverage intervals stay
                    # valid — each sibling got the same seg-id set), and
                    # later appends continue from the shared max seg
                    outs.append(_write_run(
                        store_root, nb, row["seg"], row["lo"], row["epoch"],
                        ids[sel], hs[sel],
                    ))
            yield from _meta_table(outs).to_batches()

    return seen_state.mapInArrow(fn, _META_SCHEMA)


def dedup_candidates(
    candidates: DataFrame,
    seen_state: DataFrame | None,
    epoch: int,
    *,
    store_root: str,
    prune_state: bool = False,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """Returns (new_rows, full_seen_state_snapshot_for_epoch, persisted).

    `candidates` is FRONTIER-shaped. `seen_state` is the segment metadata
    table (_META_SCHEMA; None on the first epoch) and names the whole
    seen set per bucket; the payload bytes live in write-once files under
    `store_root` that the Python workers read through a process cache and
    write directly (operators/segstore.py) — state payload crosses neither
    Arrow direction nor any shuffle, so per-epoch dataflow is O(batch rows
    + touched-bucket metadata).
    `persisted` are the frames this call cached internally — callers MUST
    unpersist them once new_rows/state have been consumed (the engine does;
    never clear the session-wide cache, other users' frames live there too).

    Per-epoch state transport: metadata rows only on the way IN (with
    `prune_state=True`, only the batch's distinct buckets' rows) and
    O(new keys), amortized, on the way OUT — an all-dup bucket emits
    nothing and an admitting bucket emits only its new segment run; the
    returned snapshot reuses the prior epoch's un-absorbed rows verbatim
    (module docstring has the full story).

    `prune_state` costs one extra scan of the candidate lineage (the
    distinct-bucket collect), so it is the CALLER's call; the engine
    leaves it off, since the state side it would prune is at most
    fan-out x MAX_SEGS metadata rows and an untouched bucket's group
    returns without reading any segment.

    Precondition: every `seen_state` row is stamped with an epoch earlier
    than `epoch` (prior state was committed at an earlier epoch). The
    carried branch keeps only such rows, so the snapshot's
    `filter(epoch == current)` folds to the changed rows alone: Catalyst
    prunes the whole carried branch, windows and state scan included.
    """
    spark = candidates.sparkSession
    # lin_parent is the only nullable int64 (seed rows have no parent): a
    # batch mixing nulls with 60-bit ids would cross Arrow as float64 and
    # silently corrupt the ids, so nulls ride as -1 and are restored after
    flat = _flatten(candidates).withColumn(
        "lin_parent", F.coalesce(F.col("lin_parent"), F.lit(-1).cast("long"))
    )
    cand_side = flat.select(*_PAYLOAD_COLS, F.xxhash64("url").alias("url_h"))
    if seen_state is None:
        state_src = spark.createDataFrame([], _META_SCHEMA)
    elif prune_state:
        # state-input pruning: only the buckets this batch touches enter the
        # cogroup. The distinct-bucket collect is BOUNDED (<= fan-out ints,
        # engine default 64, 4096 at 10^10 urls) and builds a STATIC isin
        # predicate, so a host_bucket-sorted/bucketed state table prunes the
        # scan itself — a politeness-limited epoch ships only the touched
        # buckets' state bytes through Arrow, not the crawl's whole history.
        touched = [
            int(r[0])
            for r in cand_side.select("host_bucket").distinct().collect()
        ]
        state_src = seen_state.filter(F.col("host_bucket").isin(touched))
    else:
        state_src = seen_state

    # ONE cogroup: keep-first + probe + exact resolve + merge (+ rebuild);
    # arrow-native (applyInArrow) so admitted urls cross as buffer slices,
    # not Python objects — see _fused_fn
    out = (
        cand_side.groupBy("host_bucket")
        .cogroup(state_src.groupBy("host_bucket"))
        .applyInArrow(_fused_fn(epoch, store_root), _OUT_META_SCHEMA)
        .persist()
    )
    changed = out.filter(F.col("file").isNotNull()).select(*_META_COLS)
    if seen_state is None:
        updated_state = changed
    else:
        # full snapshot = new segment rows UNION every prior row they did
        # not absorb: a new row's [lo, seg) interval names exactly the
        # segments it replaced (empty for a pure append), so the anti-join
        # keeps all other prior rows verbatim — original bytes, original
        # epoch stamps. The epoch < current guard (the precondition above)
        # lets the engine's delta write, which filters epoch == current,
        # fold this whole carried branch away in the optimizer. The join
        # side is bounded (<= one row per touched bucket) and broadcast.
        cov = changed.select(
            F.col("host_bucket").alias("__b"),
            F.col("lo").alias("__lo"),
            F.col("seg").alias("__hi"),
        )
        carried = seen_state.filter(F.col("epoch") < epoch).join(
            F.broadcast(cov),
            (F.col("host_bucket") == F.col("__b"))
            & (F.col("seg") >= F.col("__lo"))
            & (F.col("seg") < F.col("__hi")),
            "left_anti",
        )
        updated_state = changed.unionByName(carried)
    new_flat = out.filter(F.col("file").isNull()).select(*_PAYLOAD_COLS).withColumn(
        "lin_parent",
        F.when(F.col("lin_parent") == -1, F.lit(None).cast("long")).otherwise(
            F.col("lin_parent")
        ),
    )
    return _unflatten(new_flat, epoch), updated_state, [out]
