"""Partitioned URL-seen set: blocked Bloom + cuckoo filter (SURVEY J1/T2, §4.3).

The reference dedups URLs with an in-memory ordered dict + pandas
drop_duplicates (realestate_index_scraper.py:474,510) and SQLite natural keys
(dashboard/utils/init_scraper.py:74-78) — single-process, RAM-bound. At a
10^10-URL frontier that state must be partitioned, serializable, and cheap to
probe. Design (north_star):

  - **Blocked (split-block) Bloom filter** — the probe hot path. One 512-bit
    cache-line block per key, 8 probe bits (one per 64-bit word), fully
    vectorized in numpy over Arrow batches. Same layout as Parquet's SBBF.
  - **Cuckoo filter** — 16-bit fingerprints, 4 slots/bucket, 2 candidate
    buckets; supports deletion (re-crawl revocation), bulk insert is
    vectorized with a per-item kick-loop fallback for overflow.
  - Both serialize to bytes, stored per immutable seen-set segment
    (operators/segstore.py) alongside the run's packed exact key arrays;
    the `seen_state` table carries the segments' metadata epoch -> epoch
    (explicit state, SURVEY T2).

Membership protocol (exact, not probabilistic): bloom-negative => definitely
new (no resolve needed); bloom-positive => resolved exactly against the
bucket's sorted 128-bit key arrays (np.searchsorted, in the same cogroup —
see operators/dedup.py). The filters only *save work*; they never decide
"seen" on their own.

Everything is deterministic: hash mixing is splitmix64 on url_id, no seeds
from wall clock.
"""

from __future__ import annotations

import struct

import numpy as np

_U64 = np.uint64


def _mix64(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer — vectorized uint64 mixing."""
    z = x + _U64(salt)
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


class BlockedBloom:
    """Split-block Bloom: 8 words/block, one probe bit per word."""

    HEADER = struct.Struct("<QQ")  # n_blocks, n_items

    def __init__(self, n_blocks: int, words: np.ndarray | None = None, n_items: int = 0):
        self.n_blocks = n_blocks
        self.words = words if words is not None else np.zeros(n_blocks * 8, dtype=np.uint64)
        self.n_items = n_items

    @classmethod
    def for_capacity(cls, capacity: int, bits_per_key: int = 16) -> "BlockedBloom":
        n_blocks = max(1, (capacity * bits_per_key + 511) // 512)
        return cls(int(n_blocks))

    @property
    def capacity(self) -> int:
        """Design capacity at the default 16 bits/key (fpr stays healthy up
        to here; beyond it the filter still works, fpr degrades)."""
        return self.n_blocks * 512 // 16

    def _probes(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(block[n] int64, h2[n] uint64): each key touches one 512-bit
        block; probe bit j of word j is the j-th 6-bit field of h2. The
        per-word indices/masks are derived COLUMN-WISE by the callers — the
        old shape materialized (n,8) word_idx/mask broadcasts, and those
        three 24M-element temporaries were the single hottest lines of a
        run build (~10x the cost of everything else combined)."""
        ids = ids.astype(np.uint64, copy=False)
        h1 = _mix64(ids, 0x9E3779B97F4A7C15)
        h2 = _mix64(ids, 0xC2B2AE3D27D4EB4F)
        block = (h1 % _U64(self.n_blocks)).astype(np.int64)
        return block, h2

    def contains(self, ids: np.ndarray) -> np.ndarray:
        if len(ids) == 0:
            return np.zeros(0, dtype=bool)
        block, h2 = self._probes(np.asarray(ids))
        rows = self.words.reshape(-1, 8)[block]  # one cache line per key
        out = np.ones(len(block), dtype=bool)
        for j in range(8):
            bit = (h2 >> _U64(6 * j)) & _U64(63)
            out &= (rows[:, j] >> bit) & _U64(1) != 0
        return out

    def insert(self, ids: np.ndarray) -> None:
        """Bulk insert. OR-accumulation is order-independent: sort keys by
        their (single) target block, fold each block's bit pattern per word
        with `bitwise_or.reduceat` over column-wise 1D masks, then OR the
        unique blocks in with one vectorized scatter."""
        if len(ids) == 0:
            return
        block, h2 = self._probes(np.asarray(ids))
        order = np.argsort(block, kind="stable")
        sb, sh2 = block[order], h2[order]
        starts = np.flatnonzero(np.concatenate(([True], sb[1:] != sb[:-1])))
        folded = np.empty((len(starts), 8), dtype=np.uint64)
        for j in range(8):
            m = _U64(1) << ((sh2 >> _U64(6 * j)) & _U64(63))
            folded[:, j] = np.bitwise_or.reduceat(m, starts)
        self.words.reshape(-1, 8)[sb[starts]] |= folded
        self.n_items += len(ids)

    def to_bytes(self) -> bytes:
        return self.HEADER.pack(self.n_blocks, self.n_items) + self.words.tobytes()

    @classmethod
    def from_bytes(cls, b: bytes, mutable: bool = True) -> "BlockedBloom":
        """mutable=False skips the buffer copy: the words stay a read-only
        view over `b` — fine for contains(), insert() would raise."""
        n_blocks, n_items = cls.HEADER.unpack_from(b)
        words = np.frombuffer(b, dtype=np.uint64, offset=cls.HEADER.size)
        if mutable:
            words = words.copy()
        return cls(int(n_blocks), words, int(n_items))


class CuckooFilter:
    """16-bit fingerprint, 4 slots/bucket, 2 candidate buckets, deletable."""

    HEADER = struct.Struct("<QQ")  # n_buckets, n_items
    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_buckets: int, table: np.ndarray | None = None, n_items: int = 0):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"
        self.n_buckets = n_buckets
        self.table = (
            table if table is not None else np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        )
        self.n_items = n_items

    @classmethod
    def for_capacity(cls, capacity: int) -> "CuckooFilter":
        need = max(8, int(capacity / (cls.SLOTS * 0.84)) + 1)
        return cls(1 << (need - 1).bit_length())

    def _fp_buckets(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        ids = np.asarray(ids, dtype=np.uint64)
        fp = (_mix64(ids, 0x165667B19E3779F9) & _U64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 means empty slot
        mask = _U64(self.n_buckets - 1)
        b1 = (_mix64(ids, 0x27D4EB2F165667C5) & mask).astype(np.int64)
        alt = (_mix64(fp.astype(np.uint64), 0x9E3779B97F4A7C15) & mask).astype(np.int64)
        b2 = b1 ^ alt
        return fp, b1, b2

    def contains(self, ids: np.ndarray) -> np.ndarray:
        if len(ids) == 0:
            return np.zeros(0, dtype=bool)
        fp, b1, b2 = self._fp_buckets(ids)
        in1 = (self.table[b1] == fp[:, None]).any(axis=1)
        in2 = (self.table[b2] == fp[:, None]).any(axis=1)
        return in1 | in2

    def insert(self, ids: np.ndarray) -> int:
        """Bulk insert; returns number that failed (table full). One
        vectorized segmented first-fit round per candidate bucket (b1 then
        b2); leftovers take the classic kick loop. The old shape — four
        slot-passes each paying an `np.unique` sort — made run builds
        cuckoo-bound; this is two stable sorts total."""
        if len(ids) == 0:
            return 0
        fp, b1, b2 = self._fp_buckets(ids)
        pending = np.arange(len(fp))
        for bucket in (b1, b2):
            if len(pending) == 0:
                break
            pending = self._place_round(fp, bucket, pending)
        failed = self._kick_rounds(fp, b1, pending) if len(pending) else 0
        self.n_items += len(ids) - failed
        return failed

    def _place_round(
        self, fp: np.ndarray, bucket: np.ndarray, pending: np.ndarray
    ) -> np.ndarray:
        """One first-fit round: group the pending keys by target bucket
        (stable sort keeps pending order within a group), give each key a
        within-group rank r, and send it to its bucket's (r+1)-th currently
        free slot (free-slot count unrolled over the 4 slots in int8 — an
        axis-1 cumsum materialized an (n,4) int64 temporary that cost more
        than the sort). Keys ranked past the bucket's free-slot count stay
        pending. Returns the still-pending indices; deterministic."""
        bk = bucket[pending]
        order = np.argsort(bk, kind="stable")
        sp, sb = pending[order], bk[order]
        newgrp = np.concatenate(([True], sb[1:] != sb[:-1]))
        starts = np.flatnonzero(newgrp)
        rank = np.arange(len(sp)) - starts[np.cumsum(newgrp) - 1]
        consider = np.flatnonzero(rank < self.SLOTS)
        free = self.table[sb[consider]] == 0
        want = (rank[consider] + 1).astype(np.int8)
        cum = np.zeros(len(consider), dtype=np.int8)
        slot = np.full(len(consider), -1, dtype=np.int8)
        for s in range(self.SLOTS):
            cum += free[:, s]
            hit = (slot < 0) & free[:, s] & (cum == want)
            slot[hit] = s
        ok = slot >= 0
        placed_idx = consider[ok]
        self.table[sb[placed_idx], slot[ok]] = fp[sp[placed_idx]]
        keep = np.ones(len(sp), dtype=bool)
        keep[placed_idx] = False
        return sp[keep]

    def _kick_rounds(self, fp: np.ndarray, b1: np.ndarray, pending: np.ndarray) -> int:
        """Vectorized cuckoo kicking for the keys both first-fit rounds
        could not place (the per-item Python loop dominated large-run
        builds). Each active item carries a (fingerprint, bucket) walk
        state; per round, one designated item per bucket (first in stable
        order) either takes a free slot or swaps with a deterministic
        victim slot and walks to the victim's alt bucket; contenders on the
        same bucket wait unchanged. An item that exceeds MAX_KICKS swaps
        fails (caller rebuilds the filter doubled). Deterministic: the
        victim choice is the same per-fingerprint LCG the scalar loop used,
        and round order is stable."""
        cur_fp = fp[pending].astype(np.uint16).copy()
        cur_b = b1[pending].astype(np.int64).copy()
        rng = cur_fp.astype(np.uint64)
        kicks = np.zeros(len(pending), dtype=np.int32)
        failed = 0
        active = np.arange(len(pending))
        mask = _U64(self.n_buckets - 1)
        while len(active):
            ab = cur_b[active]
            order = np.argsort(ab, kind="stable")
            sa, sb_ = active[order], ab[order]
            first = np.concatenate(([True], sb_[1:] != sb_[:-1]))
            writers = sa[first]  # one item per bucket this round
            rows = self.table[cur_b[writers]]
            free = rows == 0
            has_free = free.any(axis=1)
            slot = free.argmax(axis=1)
            # place the lucky ones
            placed = writers[has_free]
            self.table[cur_b[placed], slot[has_free]] = cur_fp[placed]
            # kick for the rest: swap with the LCG-chosen victim slot
            kickers = writers[~has_free]
            if len(kickers):
                r = (rng[kickers] * _U64(1103515245) + _U64(12345)) & _U64(0x7FFFFFFF)
                rng[kickers] = r
                vslot = (r % _U64(self.SLOTS)).astype(np.int64)
                victim = self.table[cur_b[kickers], vslot].copy()
                self.table[cur_b[kickers], vslot] = cur_fp[kickers]
                cur_fp[kickers] = victim
                alt = (
                    _mix64(victim.astype(np.uint64), 0x9E3779B97F4A7C15) & mask
                ).astype(np.int64)
                cur_b[kickers] = cur_b[kickers] ^ alt
                kicks[kickers] += 1
            done = np.zeros(len(pending), dtype=bool)
            done[placed] = True
            over = kicks >= self.MAX_KICKS
            failed += int(over[active].sum() - over[placed].sum())
            done |= over
            active = active[~done[active]]
            # non-writers simply retry next round
        return failed

    def delete(self, ids: np.ndarray) -> np.ndarray:
        """Remove one fingerprint copy per id; returns bool removed[]."""
        fp, b1, b2 = self._fp_buckets(ids)
        removed = np.zeros(len(fp), dtype=bool)
        for i in range(len(fp)):
            for b in (b1[i], b2[i]):
                slots = np.where(self.table[b] == fp[i])[0]
                if len(slots):
                    self.table[b, slots[0]] = 0
                    removed[i] = True
                    self.n_items -= 1
                    break
        return removed

    def to_bytes(self) -> bytes:
        return self.HEADER.pack(self.n_buckets, self.n_items) + self.table.tobytes()

    @classmethod
    def from_bytes(cls, b: bytes, mutable: bool = True) -> "CuckooFilter":
        """mutable=False skips the buffer copy (read-only view — fine for
        contains(), insert()/delete() would raise)."""
        table = np.frombuffer(b, dtype=np.uint16, offset=cls.HEADER.size)
        if mutable:
            table = table.copy()
        n_buckets, n_items = cls.HEADER.unpack_from(b)
        return cls(int(n_buckets), table.reshape(int(n_buckets), cls.SLOTS),
                   int(n_items))
