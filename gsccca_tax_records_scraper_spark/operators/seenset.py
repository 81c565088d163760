"""Partitioned URL-seen set: one blocked Bloom per segment (SURVEY J1/T2, §4.3).

The reference dedups URLs with an in-memory ordered dict + pandas
drop_duplicates (realestate_index_scraper.py:474,510) and SQLite natural keys
(dashboard/utils/init_scraper.py:74-78) — single-process, RAM-bound. At a
10^10-URL frontier that state must be partitioned, serializable, and cheap to
probe. Design (north_star):

  - **Blocked (split-block) Bloom filter** — the probe prefilter. One
    512-bit cache-line block per key, 8 probe bits (one per 64-bit word),
    fully vectorized in numpy over Arrow batches. Same layout as Parquet's
    SBBF. Sized at BITS_PER_KEY = 32 (4 B/key): a false-positive rate of
    ~0.001-0.002%, so a non-member pulls a segment's key arrays about once
    in 60k probes.
  - It serializes to bytes, stored per immutable seen-set segment
    (operators/segstore.py) alongside the run's packed exact key arrays;
    the `seen_state` table carries the segments' metadata epoch -> epoch
    (explicit state, SURVEY T2). Segments are never mutated: deletion
    (recrawl revocation) rewrites a segment from its remaining keys, so the
    filter needs no delete operation.

Membership protocol (exact, not probabilistic): bloom-negative => definitely
new (no resolve needed); bloom-positive => resolved exactly against the
bucket's sorted 128-bit key arrays (np.searchsorted, in the same cogroup —
see operators/dedup.py). The filter only *saves work*; it never decides
"seen" on its own.

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
    BITS_PER_KEY = 32

    def __init__(self, n_blocks: int, words: np.ndarray | None = None, n_items: int = 0):
        self.n_blocks = n_blocks
        self.words = words if words is not None else np.zeros(n_blocks * 8, dtype=np.uint64)
        self.n_items = n_items

    @classmethod
    def for_capacity(cls, capacity: int) -> "BlockedBloom":
        n_blocks = max(1, (capacity * cls.BITS_PER_KEY + 511) // 512)
        return cls(int(n_blocks))

    @property
    def capacity(self) -> int:
        """Design capacity at BITS_PER_KEY (fpr stays at its bound up to
        here; beyond it the filter still works, fpr degrades)."""
        return self.n_blocks * 512 // self.BITS_PER_KEY

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
