"""Executor-side segment store: dedup state payloads as write-once files.

Spark Structured Streaming keeps stateful-operator state in per-partition
state-store files on executor storage (HDFSBackedStateStore / RocksDB),
checkpointed to a DFS — state never rides through the query's shuffles.
This module gives the frontier dedup (operators/dedup.py) the same shape:

  - segment PAYLOADS (blocked-Bloom filter bytes and the packed sorted
    key arrays) live in CONTENT-ADDRESSED, WRITE-ONCE files under
    ``<workdir>/segments`` — written by the Python worker that built the
    run, read by the workers that probe it;
  - only segment METADATA rows (host_bucket, seg, lo, n_items, epoch,
    file — tens of bytes) flow through the Spark plan, its shuffles, the
    checkpoint parquet, and the JVM<->Python Arrow channel.

Why this is the scale design (the r3 verdict's finding #1, final form):
with state inline in the rows, every epoch ships the touched buckets'
full state bytes JVM -> Arrow -> Python even though the DECISION work is
O(batch); at a 10^10-url frontier that is ~40 MB per touched bucket per
epoch, forever, on the memory-bandwidth-bound serialization path. With a
store, the per-epoch dataflow cost is O(batch rows + metadata); payload
bytes move only (a) on a worker's first probe of a segment — after which
the process-level LRU below serves repeats for free (Spark reuses Python
workers across tasks/jobs by default: ``spark.python.worker.reuse``), and
(b) when a new run is written, which the LSM tiering already amortizes to
O(new keys). Immutability makes the cache trivially coherent: a filename
names one byte string forever, so there is no invalidation protocol — the
LSM absorb/compaction/revocation paths all emit NEW files and retire old
names through the metadata, never mutating a written file.

Durability story (mirrors the engine's manifest protocol,
sources/checkpoint.py): segment files are flushed before the epoch's
metadata parquet is written, and the manifest commit that publishes the
metadata is the atomic step — a crash in between leaves orphan files that
no committed metadata references (invisible to readers, reclaimed by
``gc_segments`` after the next committed compaction). Task retries and
speculative duplicates are idempotent by construction: a segment's name
is derived from its content hash, so two attempts write identical bytes
to the same name (the second sees it exists and skips).

Filesystem reach: every root, plain path or URI (file://, hdfs://, ...),
resolves through ``pyarrow.fs`` (``resolve_root`` in
sources/checkpoint.py, the checkpoint store's own resolution), the
Arrow-native filesystem bindings every executor already ships; a scheme
it cannot open (s3a:// is Hadoop's name, not Arrow's) is refused when the
engine's checkpoint store is built. Writes go to a
``<name>.tmp.<pid>@<host>`` file that is then moved onto the name; on
object stores the move is copy+delete, which write-once naming makes
safe (a reader never finds a partial file under the final name).
"""

from __future__ import annotations

import hashlib
import os
import socket
import struct
import threading
import time
from collections import OrderedDict

import numpy as np
import pyarrow.fs as pafs

from ..sources.checkpoint import resolve_root, write_atomic

# Segment file layout: header, then the bloom bytes, the ids array and the
# hs array (read_segment_filters checks the header against the file).
_MAGIC = b"GSEG2\n"
_HEADER = struct.Struct("<6sQQQ")  # magic + 3 payload lengths

# ----------------------------------------------------------------- caching
# One cache per Python WORKER PROCESS (module-level: survives across tasks
# because spark.python.worker.reuse=true is the default). Keyed by
# (root, filename); filenames are content-addressed, so entries can never
# go stale. Byte-budgeted LRU: at the engine's documented 10^10-url scale a
# bucket's state is ~40 MB, so the default 1 GiB holds ~25 hot buckets per
# worker; size it to executor memory via SPARK_GRAFT_SEG_CACHE_MB.
_CACHE_LOCK = threading.Lock()
_CACHE: OrderedDict[tuple[str, str], tuple] = OrderedDict()
_CACHE_BYTES = 0
_CACHE_HITS = 0
_CACHE_MISSES = 0


def _cache_budget() -> int:
    return int(os.environ.get("SPARK_GRAFT_SEG_CACHE_MB", "1024")) * (1 << 20)


def cache_stats() -> dict:
    with _CACHE_LOCK:
        return {
            "entries": len(_CACHE),
            "bytes": _CACHE_BYTES,
            "hits": _CACHE_HITS,
            "misses": _CACHE_MISSES,
        }


def clear_cache() -> None:
    global _CACHE_BYTES, _CACHE_HITS, _CACHE_MISSES
    with _CACHE_LOCK:
        _CACHE.clear()
        _CACHE_BYTES = 0
        _CACHE_HITS = 0
        _CACHE_MISSES = 0


# ------------------------------------------------------------- filesystems
_PAFS_CACHE: dict[str, tuple] = {}
_DIRS_MADE: set[str] = set()


def _pafs(root: str):
    """Memoized per root: FileSystem.from_uri builds a fresh client
    (credential resolution, connection setup) each call — unacceptable per
    probe on the hot dedup path against s3/hdfs store roots."""
    hit = _PAFS_CACHE.get(root)
    if hit is None:
        hit = _PAFS_CACHE[root] = resolve_root(root)
    return hit


def _write_bytes_once(root: str, filename: str, data: bytes) -> None:
    """Write-once create: skip when the name exists (content-addressed names
    mean the bytes are identical), else write a
    '<name>.tmp.<pid>@<host>' file and move it onto the name."""
    fs, base = _pafs(root)
    # one create_dir call per root per worker process, not per segment
    # write (an epoch emits one run per touched bucket)
    if root not in _DIRS_MADE:
        fs.create_dir(base, recursive=True)
        _DIRS_MADE.add(root)
    target = f"{base}/{filename}"
    if fs.get_file_info(target).type != pafs.FileType.NotFound:
        return
    tmp = f"{target}.tmp.{os.getpid()}@{socket.gethostname()}"
    try:
        write_atomic(fs, target, data, tmp)
    except OSError:
        # the memoized "dir exists" fact can go stale (workdir removed
        # and recreated under a surviving worker): re-create and retry
        # once before surfacing the error
        fs.create_dir(base, recursive=True)
        write_atomic(fs, target, data, tmp)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


# ------------------------------------------------------------ segment I/O
def write_segment(
    root: str,
    bucket: int,
    seg: int,
    bloom_b: bytes,
    ids: np.ndarray,
    hs: np.ndarray,
) -> str:
    """Persist an immutable run; returns its content-addressed filename.
    Deterministic given the run's content and position, so task retries,
    speculative duplicates, and resume replays converge on the same name
    with identical bytes."""
    ids_b, hs_b = ids.tobytes(), hs.tobytes()
    header = _HEADER.pack(_MAGIC, len(bloom_b), len(ids_b), len(hs_b))
    payload = header + bloom_b + ids_b + hs_b
    digest = hashlib.sha256(payload).hexdigest()[:16]
    filename = f"b{bucket:05d}-s{seg:06d}-{digest}.seg"
    _write_bytes_once(root, filename, payload)
    # pre-populate the read cache: the worker that built a run is a likely
    # prober of it next epoch (write-through keeps the first probe local)
    _cache_put(
        (root, filename, "filters"),
        len(bloom_b),
        (bloom_b, (len(bloom_b), len(ids_b), len(hs_b))),
        count_miss=False,
    )
    _cache_put(
        (root, filename, "keys"), len(ids_b) + len(hs_b), (ids, hs),
        count_miss=False,
    )
    return filename


def _cache_get(key):
    global _CACHE_HITS
    with _CACHE_LOCK:
        entry = _CACHE.get(key)
        if entry is not None:
            _CACHE.move_to_end(key)
            _CACHE_HITS += 1
            return entry[1]
    return None


def _cache_put(key, nbytes: int, value, count_miss: bool = True) -> None:
    global _CACHE_BYTES, _CACHE_MISSES
    with _CACHE_LOCK:
        if count_miss:
            _CACHE_MISSES += 1
        if key not in _CACHE:
            _CACHE[key] = (nbytes, value)
            _CACHE_BYTES += nbytes
            budget = _cache_budget()
            while _CACHE_BYTES > budget and len(_CACHE) > 1:
                _k, (sz, _v) = _CACHE.popitem(last=False)
                _CACHE_BYTES -= sz


def _open_reader(root: str, filename: str):
    fs, base = _pafs(root)
    return fs.open_input_file(f"{base}/{filename}")


def read_segment_filters(root: str, filename: str):
    """(bloom_bytes, (n_bloom, n_ids, n_hs)) — the probe prefilter plus the
    payload layout, WITHOUT the key arrays. The dedup probe loads the bloom
    of every live segment but key arrays only for segments with
    bloom-positive candidates, so a fresh-heavy epoch reads O(filters)
    bytes, not O(|seen|) (the bloom is 4 B/key against the key arrays'
    16 B/key: a fifth of a run's bytes).

    Raises ValueError naming the file when its magic is not this format's,
    when its size differs from the header's lengths plus the header, or
    when the ids and hs arrays differ in length: a truncated or foreign
    file is refused here, before any array is built from it."""
    key = (root, filename, "filters")
    v = _cache_get(key)
    if v is not None:
        return v
    with _open_reader(root, filename) as f:
        hdr = f.read(_HEADER.size)
        if len(hdr) < _HEADER.size or hdr[:len(_MAGIC)] != _MAGIC:
            raise ValueError(f"segment {filename}: bad magic {hdr[:len(_MAGIC)]!r}")
        _magic, n_bloom, n_ids, n_hs = _HEADER.unpack(hdr)
        size = f.size()
        if _HEADER.size + n_bloom + n_ids + n_hs != size or n_ids != n_hs or n_ids % 8:
            raise ValueError(
                f"segment {filename}: {size} bytes do not match its header "
                f"(bloom {n_bloom}, ids {n_ids}, hs {n_hs})"
            )
        bloom_b = f.read(n_bloom)
    value = (bloom_b, (n_bloom, n_ids, n_hs))
    _cache_put(key, n_bloom, value)
    return value


def read_segment_keys(root: str, filename: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, hs) packed sorted key arrays — loaded on demand (exact
    resolve of bloom positives, run merges, revocation, splits)."""
    key = (root, filename, "keys")
    v = _cache_get(key)
    if v is not None:
        return v
    _, (n_bloom, n_ids, n_hs) = read_segment_filters(root, filename)
    off = _HEADER.size + n_bloom
    with _open_reader(root, filename) as f:
        f.seek(off)
        data = f.read(n_ids + n_hs)
    ids = np.frombuffer(data, dtype=np.int64, count=n_ids // 8)
    hs = np.frombuffer(data, dtype=np.int64, count=n_hs // 8, offset=n_ids)
    value = (ids, hs)
    _cache_put(key, len(data), value)
    return value


def read_segment(root: str, filename: str) -> tuple[bytes, np.ndarray, np.ndarray]:
    """(bloom_bytes, ids, hs) for a stored run, through the process-level
    LRU. Arrays are read-only views over the cached buffer."""
    bloom_b, _ = read_segment_filters(root, filename)
    ids, hs = read_segment_keys(root, filename)
    return bloom_b, ids, hs


def _tmp_grace_sec() -> float:
    return float(os.environ.get("SPARK_GRAFT_SEG_TMP_GRACE_SEC", "3600"))


def _tmp_reclaimable(name: str, mtime: float) -> bool:
    """Whether an orphaned '<seg>.tmp.<pid>@<host>' file, last modified at
    `mtime` (epoch seconds), is safe to delete. A root may be SHARED (an
    NFS mount, a DFS) by writers on several hosts, so a pid probe is only
    meaningful when the writer's recorded host is this host. Rules:
      - same host: writer pid dead -> reclaim now; pid alive -> reclaim
        only past the grace age (a real writer finishes in seconds — an old
        file under a live pid is pid REUSE, not a live writer);
      - other host (or legacy pid-only name from another host's old code):
        no pid table to consult -> reclaim past the grace age only.
    The grace window (SPARK_GRAFT_SEG_TMP_GRACE_SEC, default 1h) bounds the
    orphan's lifetime without ever racing an in-flight writer."""
    suffix = name.split(".seg.tmp.", 1)[1]
    pid_s, _, host = suffix.partition("@")
    if not pid_s.isdigit():
        return False
    if time.time() - mtime > _tmp_grace_sec():
        return True
    # within grace: only a same-host dead pid is provably abandoned
    same_host = (host == socket.gethostname()) if host else True
    return same_host and not _pid_alive(int(pid_s))


def gc_segments(root: str, referenced: set[str]) -> int:
    """Delete stored segments no committed metadata references; returns the
    number removed. Run AFTER a manifest commit, with `referenced` = every
    filename readable from the committed metadata (superseded rows too —
    cheap, and keeps any still-listed history resumable). Orphans appear
    when a crash lands between file write and manifest commit, or when
    compaction/revocation retire a run's name."""
    fs, base = _pafs(root)
    removed = 0
    for info in fs.get_file_info(pafs.FileSelector(base, allow_not_found=True)):
        name = info.base_name
        if name.endswith(".seg"):
            stale = name not in referenced
        else:
            # a worker killed between the tmp write and its move leaves
            # '<name>.seg.tmp.<pid>@<host>' behind; _tmp_reclaimable
            # decides via pid probe (same host) or grace age (shared root)
            stale = ".seg.tmp." in name and _tmp_reclaimable(name, info.mtime.timestamp())
        if stale:
            try:
                fs.delete_file(f"{base}/{name}")
            except FileNotFoundError:
                continue  # raced the writer's own move: gone already
            removed += 1
    return removed
