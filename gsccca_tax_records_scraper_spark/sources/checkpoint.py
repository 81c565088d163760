"""Epoch-versioned checkpoint store (SURVEY T2/T5, §1.1 "Resume state").

The reference persists resume state as a JSON file + a per-row CSV rewrite
(lien_index_scraper.py:114-128,592-593) — a full frontier rewrite after EVERY
processed row. Here state is a set of epoch-partitioned parquet tables under
a workdir (Iceberg-style layout; plain parquet in the sandbox, the paths and
commit protocol are format-agnostic):

    <workdir>/<table>/epoch=K/*.parquet     snapshot or delta per epoch
    <workdir>/MANIFEST-<v>.json             list of COMMITTED epochs, versioned

Commit protocol: all tables for epoch K are written first; the manifest is
committed last by writing a FRESH monotonically-versioned file
(tmp + rename to a name that never existed — atomic on POSIX, HDFS and any
rename-capable store, with no delete-then-rename window in which NO
manifest exists). Readers pick the highest READABLE version (a torn or
corrupt higher version falls back to the previous one); superseded
versions are pruned best-effort after the new one lands, keeping one
predecessor. A killed job therefore always resumes from the last committed
epoch; partially-written epoch K+1 dirs are ignored and overwritten.
`commit(epoch, meta=..., compacted=...)` publishes exactly the meta keys
and table compactions it is passed: the store stages nothing between calls.
Snapshot tables (frontier/host_state) are read at exactly one epoch; delta
tables (seen_exact/seen_state/records/documents/metrics/revoked) are read
as the union of epochs <= K (seen_state additionally keeps only the latest
row per bucket — see the TABLES note).

Declared schemas: every table's schema is declared once, in TABLES. Reads
pass it to the parquet reader, so no read launches a schema-inference job;
writes (epoch tables and compactions) check the frame against it — names,
order and types, nullability ignored, since parquet reads every field back
as nullable — and refuse a drifted frame with a ValueError before any file
is written. The check is what makes the declared read safe: a column a
file lacks would otherwise read back as nulls instead of failing.

Filesystem: every manifest, _SUCCESS and table-dir operation goes through
`pyarrow.fs`, resolved once from the workdir (`resolve_root`: a URI as
given, a plain path made absolute), the same resolution the segment store
(operators/segstore.py) uses on the Python workers; parquet reads and
writes go through Spark's own filesystem. A workdir whose scheme
`pyarrow.fs` cannot open is refused at construction (`ValueError`): the
workers could not reach its segment files either. Both stores write
through `write_atomic` (tmp file, then `move` onto the final name). On
object stores a move is copy+delete, so the manifest swap is
last-writer-wins rather than atomic: one driver per workdir is the
store's contract there.
"""

from __future__ import annotations

import json
import os
import re
from itertools import zip_longest
from pathlib import Path

import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, StructType

_CRAWL_ORDER = (
    StructType().add("seed_id", "long").add("page", "integer")
    .add("link_order", "integer").add("depth", "integer")
)
# seen_exact and revoked: one lineage row per admitted / revoked url
_URL_LINEAGE = (
    StructType().add("host_bucket", "integer").add("url_id", "long")
    .add("url", "string").add("epoch", "integer")
)

# The declared schema of every checkpoint table, in column order (a
# declared read returns columns in this order). Types are built without a
# JVM because the dedup operator derives its Arrow schemas from the
# seen_state entry on the Python workers.
TABLES: dict[str, StructType] = {
    # snapshot tables
    "frontier": (
        StructType().add("url_id", "long").add("url", "string").add("host", "string")
        .add("host_bucket", "integer").add("priority", "double")
        .add("crawl_order", _CRAWL_ORDER).add("status", "string")
        .add("lineage", StructType().add("parent_url_id", "long").add("seed_id", "long")
             .add("depth", "integer").add("discovered_epoch", "integer"))
    ),
    "host_state": (
        StructType().add("host", "string").add("tokens", "double").add("epoch", "integer")
    ),
    # delta tables. seen_state is ROW-SUPERSEDING: each epoch writes only
    # the bucket rows it changed; readers keep the latest row per bucket and
    # the periodic compaction folds superseded rows away
    "seen_exact": _URL_LINEAGE,
    "revoked": _URL_LINEAGE,
    "seen_state": (
        StructType().add("host_bucket", "integer").add("seg", "integer")
        .add("lo", "integer").add("n_items", "long").add("epoch", "integer")
        .add("file", "string")
    ),
    "records": (
        StructType().add("doc_id", "string").add("url_id", "long").add("url", "string")
        .add("county", "string").add("instrument", "string").add("date_filed", "string")
        .add("book", "string").add("page_no", "string").add("debtors", "string")
        .add("claimants", "string").add("amount", "string").add("amount_value", "double")
        .add("address", "string").add("description", "string")
        .add("pdf_document_url", "string").add("media_ref", "string")
        .add("cancelled", "boolean").add("epoch", "integer").add("crawl_order", _CRAWL_ORDER)
    ),
    "documents": (
        StructType().add("doc_id", "string").add("url", "string")
        .add("spans", ArrayType(
            StructType().add("kind", "string").add("text", "string")
            .add("media_ref", "string").add("offset", "integer")
        ))
    ),
    "metrics": (
        StructType().add("epoch", "integer").add("host_bucket", "integer")
        .add("metric", "string").add("value", "long")
    ),
}


def _declared(table: str) -> StructType:
    if table not in TABLES:
        raise ValueError(f"{table!r} is not a declared checkpoint table")
    return TABLES[table]


def _write_checked(table: str, df: DataFrame, path: str) -> None:
    """Write `df` to `path` once its schema matches the table's declared
    one (names, order and types; nullability ignored at every level:
    simpleString() carries no nullability)."""
    got = [f.simpleString() for f in df.schema.fields]
    want = [f.simpleString() for f in _declared(table).fields]
    for g, w in zip_longest(got, want, fillvalue="nothing"):
        if g != w:
            raise ValueError(
                f"checkpoint table {table!r}: writing field {g!r} where {w!r}"
                " is declared"
            )
    df.write.mode("overwrite").parquet(path)


_MANIFEST_RE = re.compile(r"^MANIFEST-(\d+)\.json$")


def resolve_root(root: str | Path) -> tuple[pafs.FileSystem, str]:
    """(filesystem, path on it) for a store root: a URI as given, a plain
    path made absolute. Raises ValueError (pyarrow's ArrowInvalid) naming
    a URI whose scheme pyarrow.fs cannot open."""
    root = str(root)
    return pafs.FileSystem.from_uri(root if "://" in root else os.path.abspath(root))


def write_atomic(fs: pafs.FileSystem, path: str, data: bytes, tmp: str) -> None:
    """Write `data` to `tmp`, then move it onto `path`: readers see the old
    file or the whole new one, never a partial write."""
    with fs.open_output_stream(tmp, compression=None) as f:
        f.write(data)
    fs.move(tmp, path)


class CheckpointStore:
    def __init__(self, workdir: str | Path):
        # a Path for plain workdirs (local callers and tests join with `/`),
        # the URI string otherwise
        self.workdir = str(workdir).rstrip("/") if "://" in str(workdir) else Path(workdir)
        self._fs, self._base = resolve_root(self.workdir)
        self._fs.create_dir(self._base, recursive=True)

    def _file(self, rel: str) -> str:
        """A workdir-relative path on the store's filesystem."""
        return f"{self._base}/{rel}"

    def manifest_path(self, version: int) -> str:
        return self._file(f"MANIFEST-{version}.json")

    def _exists(self, rels: list[str]) -> list[bool]:
        infos = self._fs.get_file_info([self._file(r) for r in rels])
        return [i.type != pafs.FileType.NotFound for i in infos]

    def _manifest_versions(self) -> list[int]:
        """Committed manifest versions, newest first."""
        out = []
        sel = pafs.FileSelector(self._base, allow_not_found=True)
        for info in self._fs.get_file_info(sel):
            m = _MANIFEST_RE.match(info.base_name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out, reverse=True)

    def _read_manifest_file(self, path: str) -> dict | None:
        """Parse one manifest file; None when unreadable/torn (the ONE
        shared read path, so every caller sees identical fallback and
        default-key semantics)."""
        try:
            with self._fs.open_input_file(path) as f:
                m = json.loads(f.read())
        except (ValueError, OSError):
            return None
        m.setdefault("compacted", {})
        m.setdefault("meta", {})
        return m

    def _manifest(self) -> dict:
        """Highest READABLE versioned manifest; a torn/corrupt higher
        version (crash mid-create on a store without atomic rename) falls
        back to its predecessor, so no crash window leaves the store
        without a manifest. A pre-versioning workdir (single-file
        MANIFEST.json only) is refused: reading it as empty would silently
        start a fresh crawl over the old one."""
        for v in self._manifest_versions():
            m = self._read_manifest_file(self.manifest_path(v))
            if m is not None:
                return m
        if self._exists(["MANIFEST.json"])[0]:
            raise ValueError(
                f"{self.workdir} has only a pre-versioning MANIFEST.json; this"
                " store reads MANIFEST-<v>.json manifests only — start a fresh"
                " workdir"
            )
        return {"epochs": [], "compacted": {}, "meta": {}}

    def manifests(self) -> list[dict]:
        """Every READABLE retained manifest, newest first: the current
        version plus the predecessor commit() keeps for torn-write
        fallback. Segment GC unions referenced files over ALL of these so a
        reader that falls back to the predecessor never dangles on a
        reclaimed payload file."""
        out = []
        for v in self._manifest_versions():
            m = self._read_manifest_file(self.manifest_path(v))
            if m is not None:
                out.append(m)
        return out

    def committed_epochs(self) -> list[int]:
        return sorted(self._manifest()["epochs"])

    def last_epoch(self) -> int | None:
        epochs = self.committed_epochs()
        return epochs[-1] if epochs else None

    def meta(self, key: str, default=None):
        """Small committed key/value state riding in the manifest (e.g. the
        current host-bucket fan-out) — written only by commit(meta=...)."""
        return self._manifest()["meta"].get(key, default)

    def table_path(self, table: str, epoch: int) -> str:
        return f"{self.workdir}/{table}/epoch={epoch}"

    def clean_epoch(self, epoch: int) -> None:
        """Remove every table dir a CRASHED attempt may have left at
        `epoch`. Ops write different table subsets at the same epoch number
        (step: records/documents; revoke: revoked; fold/reseed: neither), so
        a crashed step retried as e.g. a revocation would otherwise leave
        the aborted fetch's records/documents dirs in place — and
        read_deltas, which trusts any existing dir at a committed epoch,
        would surface those phantom rows the moment the replacement op
        commits the epoch. Called when an epoch transaction opens, before
        its first write; parquet 'overwrite' mode only protects the tables
        the op itself writes."""
        rels = [f"{table}/epoch={epoch}" for table in TABLES]
        for rel, found in zip(rels, self._exists(rels)):
            if found:
                self._fs.delete_dir(self._file(rel))

    def write(self, table: str, epoch: int, df: DataFrame) -> None:
        _write_checked(table, df, self.table_path(table, epoch))

    def read_snapshot(self, spark: SparkSession, table: str, epoch: int) -> DataFrame:
        return spark.read.schema(_declared(table)).parquet(self.table_path(table, epoch))

    def compacted_path(self, table: str, epoch: int) -> str:
        return f"{self.workdir}/{table}/compacted={epoch}"

    def compacted_epoch(self, table: str) -> int | None:
        return self._manifest()["compacted"].get(table)

    def read_deltas(
        self,
        spark: SparkSession,
        table: str,
        upto_epoch: int,
        manifest: dict | None = None,
    ) -> DataFrame | None:
        """Union of the table's delta dirs up to `upto_epoch`, reading the
        latest committed compaction instead of the deltas it folded in.
        `manifest` pins the view to a specific retained manifest (see
        manifests()); default is the current one."""
        schema = _declared(table)
        comp = (
            manifest["compacted"].get(table)
            if manifest is not None
            else self.compacted_epoch(table)
        )
        paths = []
        start = 0
        if comp is not None and comp <= upto_epoch:
            paths.append(self.compacted_path(table, comp))
            start = comp + 1
        epochs = range(start, upto_epoch + 1)
        done = self._exists([f"{table}/epoch={e}/_SUCCESS" for e in epochs])
        paths += [self.table_path(table, e) for e, ok in zip(epochs, done) if ok]
        if not paths:
            return None
        return spark.read.schema(schema).parquet(*paths)

    def compact_deltas(
        self, spark: SparkSession, table: str, upto_epoch: int, transform=None
    ) -> bool:
        """Fold all deltas <= upto_epoch into one partitioned dir; returns
        whether it wrote one (False: the table has no deltas). Readers
        switch over only once a commit names the compaction
        (`commit(..., compacted={table: upto_epoch})`), so a crash
        mid-compaction leaves an ignored orphan dir. Old delta dirs are
        retained (cheap, crash-safe; a vacuum step can remove them once the
        compaction is committed). `transform` (DataFrame -> DataFrame) folds
        row-superseding tables — e.g. seen_state keeps only the latest row
        per bucket."""
        df = self.read_deltas(spark, table, upto_epoch)
        if df is None:
            return False
        if transform is not None:
            df = transform(df)
        _write_checked(table, df, self.compacted_path(table, upto_epoch))
        return True

    def commit(
        self,
        epoch: int,
        *,
        meta: dict | None = None,
        compacted: dict[str, int] | None = None,
    ) -> None:
        """Publish `epoch` as committed, together with exactly the manifest
        meta keys in `meta` and the table compactions in `compacted` (table
        -> folded epoch); the store itself stages nothing between calls."""
        m = self._manifest()
        epochs = set(m["epochs"])
        epochs.add(epoch)
        m["compacted"].update(compacted or {})
        m["meta"].update(meta or {})
        versions = self._manifest_versions()
        v_new = (versions[0] if versions else 0) + 1
        # commit = create the NEXT version under a fresh name (no moment
        # without a readable manifest), then prune superseded versions
        # best-effort, keeping one predecessor for torn-write fallback
        path = self.manifest_path(v_new)
        write_atomic(
            self._fs,
            path,
            json.dumps(
                {"epochs": sorted(epochs), "compacted": m["compacted"],
                 "meta": m["meta"]}
            ).encode(),
            tmp=f"{path}.tmp",
        )
        for v in versions:
            if v <= v_new - 2:
                try:
                    self._fs.delete_file(self.manifest_path(v))
                except FileNotFoundError:
                    pass
