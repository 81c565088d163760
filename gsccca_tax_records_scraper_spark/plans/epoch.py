"""Epoch crawl driver (SURVEY §3.1 "Spark lifecycle equivalent", T1-T6).

One epoch = one Spark batch job over the frontier:

    pending --politeness grant--> fetch+parse (mapInPandas)
        --> records + interleaved-span documents (append)
        --> outlinks --canonicalize/junk/robots--> dedup vs seen --> frontier'

Epoch 0 is the search phase: seeds -> synthetic SERP pages -> link extraction
-> the initial frontier (reference: get_search_results,
lien_index_scraper.py:362-549). Every epoch commits a checkpoint (frontier /
host_state snapshots + seen_exact / seen_state / records / documents /
metrics deltas — seen_state rows are written only for buckets the epoch
CHANGED and read latest-per-bucket); a killed run resumes from the last
committed epoch and, all
UDFs being deterministic (no wall clock, no unseeded random), continues
bit-identically (north_rule, tested in tests/test_resume.py).

Shuffle budget per epoch (the 100-TB story):
  - grant: 1 shuffle on (host, host_bucket) at full parallelism + 1 tiny
    shuffle on host over <= budget*n_buckets survivor rows (skew-safe).
  - fetch: no shuffle (narrow mapInPandas over granted).
  - dedup: 1 shuffle (the cogroup on host_bucket = url_id hash — balanced,
    no host skew); the bucket's whole seen set is named by its segment
    metadata rows (filters + packed sorted key arrays live in the segment
    store), so no seen-side join or aggregation exists. The state input is
    metadata rows only (<= fan-out x MAX_SEGS) and unchanged buckets emit no
    state row, so per-epoch parquet state traffic is O(touched buckets),
    with the probe/merge work O(batch).
  - writes are partition-local.

Materialization budget per epoch: each epoch product is computed once. The
grant, its budgets, the fetched pages and the admitted rows are cached and
every checkpoint write and metric reads them from the cache: the host_state
plan is derived from the cached grant frame itself (no second tournament),
and the seen_state delta write filters a snapshot whose carried branch is
stamped with earlier epochs, so it folds to the changed rows (no prior-state
scan, no window). Frames the driver builds (robots rules, metrics rows,
revoke lists, seeds) cross to the JVM as Arrow local data (`_local_df`:
a LocalRelation), never as pickled rows through a Python worker.

Epoch transaction: every op that writes an epoch runs in `with
self._epoch() as ep:`. Opening reads the manifest once (previous epoch,
fan-out) and drops what a crashed attempt left at this epoch; frames given
to `ep.cache(df)` / `ep.hold(handles)` are unpersisted however the block
exits (commit, failure, drained frontier); a split stages its fan-out in
`ep.meta`, so a failed op cannot leak it into a later commit;
`ep.commit(metrics, ...)` writes the tables and publishes exactly `ep.meta`
and the tables it compacted. An omitted frontier carries the previous
snapshot, an omitted host_state the previous one re-stamped to this epoch
(empty at epoch 0), an omitted new_rows / seen_state an empty delta.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce
from pathlib import Path

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .. import sitegen
from ..functions import extract, urltools
from ..operators import dedup, politeness
from ..simulator import RobotsRule, default_robots
from ..sources.checkpoint import TABLES, CheckpointStore

_FETCH_SCHEMA = (
    "url_id long, url string, seed_id long, page int, depth int, link_order int, "
    "doc_id string, county string, instrument string, date_filed string, "
    "book string, page_no string, debtors string, claimants string, "
    "amount string, amount_value double, address string, description string, "
    "pdf_document_url string, media_ref string, cancelled boolean, ocr_text string, "
    "outlink_urls array<string>"
)

_CANDIDATE_COLS = ["url", "seed_id", "page", "link_order", "depth", "parent_url_id"]


def _local_df(spark: SparkSession, rows: list[tuple], schema: str | StructType) -> DataFrame:
    """Driver-built rows as Arrow local data: the frame plans as a
    LocalRelation, with no pickled-row RDD and no Python-worker pass."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)


def _bucket_counts(new_rows: DataFrame) -> dict[int, int]:
    """Admitted rows per host bucket, in one action (their sum is the
    epoch's admitted total)."""
    return {
        int(r["host_bucket"]): int(r["n"])
        for r in new_rows.groupBy("host_bucket").agg(F.count("*").alias("n")).collect()
    }


def _span(kind: str, text, media_ref, offset: int):
    return F.struct(
        F.lit(kind).alias("kind"),
        text.alias("text"),
        media_ref.alias("media_ref"),
        F.lit(offset).cast("int").alias("offset"),
    )


def span_col():
    """Interleaved span sequence built JVM-side from the parsed columns —
    mirrors extract.record_spans exactly (tests assert span equality against
    the simulator, which uses the Python version)."""
    empty = F.lit("")
    header = F.concat_ws(
        "|", F.col("county"), F.col("instrument"), F.col("date_filed"),
        F.col("book"), F.col("page_no"),
    )
    parties = F.concat(F.col("debtors"), F.lit("; "), F.col("claimants"))
    # callers select spans only for non-cancelled rows
    return F.array(
        _span("text", header, empty, 0),
        _span("text", F.col("description"), empty, 1),
        _span("text", parties, empty, 2),
        _span("media", empty, F.col("media_ref"), 3),
        _span("text", F.col("ocr_text"), empty, 4),
    )


def _fetch_parse(it):
    """mapInPandas body: synthetic fetch (deterministic page generator keyed
    by url — the sandbox stand-in for the network) + vectorized parse.
    Replaces the reference's goto+parse_lien_data loop
    (lien_index_scraper.py:552-597,600-756)."""
    for pdf in it:
        if pdf.empty:
            continue
        # parse doc_no from the url ONCE per batch; html/ocr/media_ref all
        # key off it (the per-url variants re-split the url per call)
        doc_no = pdf["url"].str.rsplit("id=", n=1).str[-1].astype("int64")
        pages = [sitegen.detail_page_no(n) for n in doc_no.to_numpy()]
        html = pd.Series([p[0] for p in pages], index=pdf.index)
        ocr = pd.Series([p[1] for p in pages], index=pdf.index)
        parsed = extract.parse_detail_frame(
            pd.DataFrame({"url": pdf["url"], "html": html, "ocr_text": ocr})
        )
        out = pd.DataFrame(
            {
                "url_id": pdf["url_id"],
                "url": pdf["url"],
                "seed_id": pdf["seed_id"],
                "page": pdf["page"],
                "depth": pdf["depth"],
                "link_order": pdf["link_order"],
                "doc_id": "doc_" + doc_no.astype(str),
                "media_ref": doc_no.map(sitegen.media_ref),
            }
        )
        for c in (
            "county", "instrument", "date_filed", "book", "page_no", "debtors",
            "claimants", "amount", "amount_value", "address", "description",
            "pdf_document_url", "cancelled",
        ):
            out[c] = parsed[c].values
        out.loc[out["cancelled"], "media_ref"] = ""
        out["ocr_text"] = ocr.where(~out["cancelled"], "")
        # vectorized outlink extraction + canonicalization (one extractall
        # over the Arrow batch); cancelled pages contribute no html, so no
        # links — span assembly happens JVM-side (span_col in this module)
        out["outlink_urls"] = urltools.extract_outlinks_frame(
            pdf["url"], html.where(~out["cancelled"], "")
        )
        yield out


class _Epoch:
    """One open epoch transaction (module docstring): what its opening read
    established, the frames it holds and the manifest meta it stages."""

    def __init__(self, eng: CrawlEngine, prev: int | None, n_buckets: int):
        self.eng = eng
        self.prev = prev
        self.epoch = 0 if prev is None else prev + 1
        self.n_buckets = n_buckets  # the committed fan-out
        self.meta: dict = {}  # published by commit(), dropped on failure
        self.held: list[DataFrame] = []  # unpersisted when the epoch closes

    def cache(self, df: DataFrame) -> DataFrame:
        df = df.cache()
        self.held.append(df)
        return df

    def hold(self, handles: list[DataFrame]) -> None:
        """Frames an operator persisted internally (dedup's handles)."""
        self.held.extend(handles)

    def commit(
        self,
        metrics: dict[str, int],
        *,
        frontier: DataFrame | None = None,
        seen_state: DataFrame | None = None,
        host_state: DataFrame | None = None,
        new_rows: DataFrame | None = None,
        records: DataFrame | None = None,
        documents: DataFrame | None = None,
        revoked: DataFrame | None = None,
        bucket_counts: dict[int, int] | None = None,
    ) -> None:
        """Write the epoch's tables, fold deltas on the compaction cadence,
        publish the manifest, then GC segments. `new_rows` / `revoked` need
        (host_bucket, url_id, url); both become lineage rows of this epoch."""
        eng, st, spark, epoch = self.eng, self.eng.store, self.eng.spark, self.epoch
        if frontier is None:
            frontier = st.read_snapshot(spark, "frontier", self.prev)
        if host_state is None:
            host_state = (
                _local_df(spark, [], TABLES["host_state"])
                if self.prev is None
                else st.read_snapshot(spark, "host_state", self.prev).select(
                    "host", "tokens", F.lit(epoch).cast("int").alias("epoch")
                )
            )
        if seen_state is None:
            seen_state = _local_df(spark, [], TABLES["seen_state"])
        if new_rows is None:
            new_rows = _local_df(spark, [], TABLES["seen_exact"])

        def lineage(df: DataFrame) -> DataFrame:
            return df.select("host_bucket", "url_id", "url", F.lit(epoch).alias("epoch"))

        st.write("frontier", epoch, frontier.repartition(8, "host_bucket"))
        # delta write: only the bucket rows this epoch changed (stamped with
        # the current epoch by the dedup cogroup / split / revoke / fold)
        st.write("seen_state", epoch, seen_state.filter(F.col("epoch") == epoch))
        st.write("host_state", epoch, host_state)
        st.write("seen_exact", epoch, lineage(new_rows))
        if records is not None:
            st.write("records", epoch, records)
        if documents is not None:
            st.write("documents", epoch, documents)
        if revoked is not None:
            st.write("revoked", epoch, lineage(revoked))
        mrows = [(epoch, -1, k, int(v)) for k, v in sorted(metrics.items())]
        # per-partition lineage/metrics (north_rule): admitted-per-bucket
        per_bucket = [
            (epoch, b, "admitted", n) for b, n in sorted((bucket_counts or {}).items())
        ]
        st.write(
            "metrics",
            epoch,
            _local_df(
                spark,
                (mrows + per_bucket) or [(epoch, -1, "noop", 0)],
                TABLES["metrics"],
            ),
        )
        # fold the deltas on a cadence so resume reads O(1) dirs, not
        # O(epochs). Per-epoch seen_exact deltas keep the labels of the
        # fan-out that produced them (lineage); the fold RELABELS to the
        # fan-out being committed (a split staged this epoch included). The
        # seen_state fold is a live-row filter only: a payload fold would add
        # an O(|seen|) rewrite every cadence, the linear amplification the
        # tier rule avoids (fold_segments() is the explicit maintenance op).
        compacted: dict[str, int] = {}
        if epoch > 0 and eng.compact_every and epoch % eng.compact_every == 0:
            nb = self.meta.get("n_buckets", self.n_buckets)
            for table, transform in (
                ("seen_exact", lambda df: df.withColumn(
                    "host_bucket", urltools.host_bucket_col(F.col("url_id"), nb)
                )),
                ("seen_state", eng._latest_state_rows),
            ):
                if st.compact_deltas(spark, table, epoch, transform=transform):
                    compacted[table] = epoch
        st.commit(epoch, meta=self.meta, compacted=compacted)
        # segment-store GC rides the compaction cadence, AFTER the commit
        # that retired the old metadata: files the committed metadata no
        # longer names (absorbed runs, pre-revocation rewrites, crash
        # orphans) are reclaimed; a crash before this point only delays GC
        if compacted:
            eng._gc_segments()


class CrawlEngine:
    """The frontier + scheduler engine. All state lives in the checkpoint
    store; the object itself is stateless between steps (kill-safe)."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str | Path,
        epoch_seconds: float = 400.0,
        robots_rules: dict[str, RobotsRule] | None = None,
        compact_every: int = 8,
        split_threshold: int | None = None,
    ):
        self.spark = spark
        self.store = CheckpointStore(workdir)
        self.epoch_seconds = epoch_seconds
        self.robots_rules = robots_rules if robots_rules is not None else default_robots()
        self.compact_every = compact_every
        # seen-set segment store (operators/dedup.py, operators/segstore.py):
        # payloads in write-once content-addressed files under
        # <workdir>/segments, read/written by the Python workers through a
        # process-level cache; only metadata rows ride the plan/checkpoint.
        # A workdir records its backend in the manifest meta; one committed
        # with any other (payload rows, no `file` column) is refused rather
        # than misread.
        if self.store.last_epoch() is not None:
            backend = self.store.meta("state_backend", "inline")
            if backend != "store":
                raise ValueError(
                    f"workdir {self.store.workdir} holds seen-set state committed"
                    f" by the {backend!r} backend; only the segment-store backend"
                    " ('store') is supported — start a fresh workdir"
                )
        self._seg_root = f"{self.store.workdir}/segments"
        # hot-bucket splitting (SURVEY §4.1): when any bucket's seen count
        # exceeds this, the fan-out DOUBLES at that epoch's commit (state
        # rows split locally, frontier re-bucketed; the committed fan-out
        # rides in the manifest so resume and later epochs agree). None =
        # fixed fan-out.
        self.split_threshold = split_threshold
        self._validate_robots(self.robots_rules)

    def _validate_robots(self, rules: dict[str, RobotsRule]) -> None:
        # livelock guard: budget = floor(min(carry + r*T, r*T + burst)) can
        # never reach 1 when r*T + burst < 1 — the engine would commit empty
        # epochs forever without draining the frontier. Reject up front.
        for host, rule in rules.items():
            if rule.rate_per_sec * self.epoch_seconds + rule.burst < 1:
                raise ValueError(
                    f"robots rule for {host!r}: rate_per_sec*epoch_seconds + burst"
                    f" = {rule.rate_per_sec * self.epoch_seconds + rule.burst:.3f} < 1;"
                    " the token budget floors to 0 forever (raise burst,"
                    " rate, or epoch_seconds)"
                )

    def update_robots(self, rules: dict[str, RobotsRule]) -> None:
        """Mid-crawl robots/politeness refresh (r4 verdict, missing #5):
        the admission disallow gate and the per-host rate/burst budgets
        are both built from `robots_df()`, which is rebuilt from these
        rules EVERY step — so an update takes effect at the next epoch
        boundary with no state migration. Already-admitted frontier rows
        are NOT retroactively dropped (they passed the gate in force when
        discovered; the reference's fixed-rules behavior) — a caller
        tightening rules who also wants committed URLs gone uses
        `revoke`, the existing removal mechanism. Rules are an ENGINE
        INPUT, not checkpoint state: like a production crawler re-reading
        robots.txt, the caller supplies current rules on resume. The
        constructor's livelock guard applies."""
        self._validate_robots(rules)
        self.robots_rules = rules

    # ----------------------------------------------------------- inputs
    def robots_df(self) -> DataFrame:
        rows = [
            (h, list(r.disallow_prefixes), r.rate_per_sec, r.burst)
            for h, r in sorted(self.robots_rules.items())
        ]
        return _local_df(
            self.spark,
            rows,
            "host string, disallow_prefixes array<string>, rate_per_sec double, burst int",
        )

    @staticmethod
    def _latest_state_rows(df: DataFrame) -> DataFrame:
        """A bucket's LIVE segment rows from a union of state deltas:
        (1) latest row per (bucket, seg) — revocation/split supersede in
        place (at most one row per seg per epoch, so desc-epoch order is
        deterministic); (2) drop segments covered by a newer row's
        [lo, seg) interval — an epoch's new run records which older
        segments it absorbed. Coverage is transitive (an absorbed row's
        keys live on inside its absorber), so a running min of `lo` over
        the higher segs decides. Both windows partition by host_bucket and
        sort desc(seg), so Catalyst plans ONE exchange + one sort."""
        from pyspark.sql import Window

        w = Window.partitionBy("host_bucket").orderBy(
            F.desc("seg"), F.desc("epoch")
        )
        latest = (
            df.withColumn("__prev", F.lag("seg").over(w))
            .filter(F.col("__prev").isNull() | (F.col("__prev") != F.col("seg")))
            .drop("__prev")
        )
        w2 = (
            Window.partitionBy("host_bucket")
            .orderBy(F.desc("seg"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            latest.withColumn("__mlo", F.min("lo").over(w2))
            .filter(F.col("__mlo").isNull() | (F.col("__mlo") > F.col("seg")))
            .drop("__mlo")
        )

    def _read_seen_state(self, upto_epoch: int) -> DataFrame | None:
        """seen_state is a row-superseding delta table: union the deltas and
        keep the LATEST row per bucket (each epoch writes only the buckets
        it changed — per-epoch state I/O scales with the touched set)."""
        df = self.store.read_deltas(self.spark, "seen_state", upto_epoch)
        return None if df is None else self._latest_state_rows(df)

    @contextmanager
    def _epoch(self, first: bool = False):
        """Open the next epoch transaction (module docstring); its cached
        frames are released however the block exits."""
        m = self.store._manifest()
        prev = max(m["epochs"], default=None)
        # not an assert: under `python -O` a second bootstrap would commit
        if (prev is None) != first:
            raise RuntimeError("workdir already bootstrapped" if first else "bootstrap first")
        ep = _Epoch(self, prev, int(m["meta"].get("n_buckets", urltools.N_HOST_BUCKETS)))
        # phantom-delta guard: ops write different table subsets, so parquet
        # overwrite alone cannot clear a crashed attempt's dirs at this epoch
        self.store.clean_epoch(ep.epoch)
        try:
            yield ep
        finally:
            for df in ep.held:  # never clear the session-wide cache
                df.unpersist()

    # ------------------------------------------------- candidate plumbing
    def _finalize_candidates(self, df: DataFrame, ep: _Epoch) -> DataFrame:
        """Raw (url, seed_id, page, link_order, depth, parent_url_id) rows ->
        FRONTIER-shaped rows: junk filter (P2), canonical ids/host JVM-side."""
        url_id = urltools.url_id_col(F.col("url"))
        host = F.lower(F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1))
        return (
            df.filter(~F.lower(F.col("url")).contains("maxrows"))
            .withColumn("url_id", url_id)
            .withColumn("host", host)
            .withColumn(
                "host_bucket",
                urltools.host_bucket_col(F.col("url_id"), ep.n_buckets),
            )
            .withColumn("priority", F.col("depth").cast("double"))
            .withColumn(
                "crawl_order",
                F.struct(
                    F.col("seed_id").cast("long").alias("seed_id"),
                    F.col("page").cast("int").alias("page"),
                    F.col("link_order").cast("int").alias("link_order"),
                    F.col("depth").cast("int").alias("depth"),
                ),
            )
            .withColumn("status", F.lit(""))
            .withColumn(
                "lineage",
                F.struct(
                    F.col("parent_url_id").cast("long").alias("parent_url_id"),
                    F.col("seed_id").cast("long").alias("seed_id"),
                    F.col("depth").cast("int").alias("depth"),
                    F.lit(ep.epoch).cast("int").alias("discovered_epoch"),
                ),
            )
            .select(
                "url_id", "url", "host", "host_bucket", "priority",
                "crawl_order", "status", "lineage",
            )
        )

    def _admit(
        self,
        ep: _Epoch,
        raw_candidates: DataFrame,
        robots: DataFrame,
        carried: DataFrame | None = None,
    ) -> tuple[DataFrame, dict[int, int], DataFrame, DataFrame]:
        """Junk filter + robots gate + dedup, then the tail every admitting
        op shares: cache the admitted rows, count them per bucket in one
        action, append them to the `carried` frontier (None: they are the
        whole frontier) and stage a split, if any, in `ep.meta`.
        Returns (new_rows, bucket_counts, seen_state', frontier').
        `robots` is the caller's robots_df(), built once per epoch.
        The seen_state snapshot names the whole seen set (segment metadata
        per bucket), so the hot path reads ONE snapshot — the
        seen_exact delta table is write-only here (export/lineage)."""
        cands = self._finalize_candidates(raw_candidates, ep)
        gated = politeness.apply_robots_gate(cands, robots)
        seen_state = self._read_seen_state(ep.prev) if ep.prev is not None else None
        new_rows, state, handles = dedup.dedup_candidates(
            gated, seen_state, ep.epoch, store_root=self._seg_root
        )
        ep.hold(handles)
        new_rows = ep.cache(new_rows)
        # one action for all admission metrics (total + per-bucket)
        bucket_counts = _bucket_counts(new_rows)
        frontier = new_rows if carried is None else carried.unionByName(new_rows)
        state, frontier, n_new = self._maybe_split(
            state, frontier, ep.epoch, ep.n_buckets
        )
        if n_new is not None:
            ep.meta["n_buckets"] = n_new
        return new_rows, bucket_counts, state, frontier

    def _maybe_split(
        self, seen_state: DataFrame, frontier: DataFrame, epoch: int,
        n_old: int,
    ) -> tuple[DataFrame, DataFrame, int | None]:
        """Double the bucket fan-out `n_old` (the committed one — an open
        epoch's `ep.n_buckets`) when any bucket's seen count crosses
        split_threshold. State rows split locally from their segments' key
        arrays; the frontier is re-bucketed JVM-side (a pure column
        rewrite).
        Returns (state', frontier', n_new | None). The caller stages n_new
        in `ep.meta`, visible at that epoch's commit — a crash or failure
        before commit leaves the old fan-out and old snapshots, so resume
        and the next op stay consistent. This epoch's seen_exact/metrics
        deltas keep the PRE-split bucket labels (per-epoch lineage is
        labeled by the bucketing that produced it)."""
        if not self.split_threshold:
            return seen_state, frontier, None
        # two triggers (SURVEY §4.1): a bucket's SEEN state outgrowing its
        # shard, or one host's PENDING backlog exceeding threshold-per-bucket
        # (the hot-host case — more buckets directly widens the politeness
        # tournament's parallel phase-1)
        # a bucket's seen count = sum over its live segment rows
        mx_seen = (
            seen_state.groupBy("host_bucket")
            .agg(F.sum("n_items").alias("s"))
            .agg(F.max("s").alias("m"))
            .first()["m"]
        )
        mx_pend = (
            frontier.groupBy("host").count().agg(F.max("count").alias("m")).first()["m"]
        )
        if (mx_seen is None or int(mx_seen) <= self.split_threshold) and (
            mx_pend is None or int(mx_pend) <= self.split_threshold * n_old
        ):
            return seen_state, frontier, None
        n_new = n_old * 2
        # stamp every split row with the current epoch: a split rewrites ALL
        # buckets, and the delta write keeps only rows stamped this epoch
        state2 = dedup.split_seen_state(
            seen_state, n_old, n_new, store_root=self._seg_root
        ).withColumn("epoch", F.lit(epoch).cast("int"))
        frontier2 = frontier.withColumn(
            "host_bucket", urltools.host_bucket_col(F.col("url_id"), n_new)
        )
        return state2, frontier2, n_new

    def _gc_segments(self) -> int:
        """Reclaim segment files no committed seen_state row references.
        The referenced set is EVERY filename readable under EVERY retained
        manifest — the current one AND the predecessor commit() keeps for
        torn-write fallback — so a reader that falls back (corrupt newest
        manifest on a non-rename store, manual rollback) never dangles on
        a reclaimed payload. Superseded rows count too: still listed means
        still resumable. Files a compaction retires therefore survive one
        extra commit (until the pre-compaction manifest itself is pruned)
        — bounded lag, and crash orphans are reclaimed immediately.
        Bounded driver collect: one string per metadata row, <= fan-out x
        MAX_SEGS per manifest view after a compaction, taken for all views
        in one pass."""
        from ..operators import segstore

        views: list[DataFrame] = []
        for m in self.store.manifests():
            epochs = m.get("epochs") or []
            if not epochs:
                continue
            df = self.store.read_deltas(
                self.spark, "seen_state", max(epochs), manifest=m
            )
            if df is None:
                # the manifest names committed epochs but none of the
                # seen_state dirs it points at are readable right now
                # (flaky mount, torn object-store read): the referenced
                # set would be INCOMPLETE, and GC with an incomplete set
                # deletes live payloads — skip this cadence entirely;
                # orphans just wait for the next compaction commit
                return 0
            views.append(df.select("file"))
        if not views:
            # no readable committed view at all (e.g. every retained
            # manifest read failed transiently): never treat that as
            # "nothing is referenced"
            return 0
        files = reduce(DataFrame.union, views).distinct().collect()
        return segstore.gc_segments(self._seg_root, {r[0] for r in files})

    # ------------------------------------------------------------ phases
    def _serp_raw_candidates(self, seed_ids: list[int]) -> DataFrame:
        """Search-phase candidate rows: seeds -> synthetic SERP pages ->
        extracted links (reference: get_search_results,
        lien_index_scraper.py:362-549). Used by bootstrap and reseed."""
        seeds = _local_df(self.spark, [(int(s),) for s in seed_ids], "seed_id long")

        def gen_serp(it):
            for pdf in it:
                rows = []
                for seed_id in pdf["seed_id"]:
                    for page in range(1, sitegen.n_serp_pages(int(seed_id)) + 1):
                        base = sitegen.serp_base_url(int(seed_id), page)
                        html = sitegen.serp_html(int(seed_id), page)
                        for i, raw in enumerate(urltools.extract_raw_hrefs(html)):
                            rows.append(
                                (urltools.canonicalize(base, raw), int(seed_id), page, i, 1, None)
                            )
                yield pd.DataFrame(rows, columns=_CANDIDATE_COLS)

        return seeds.repartition(max(2, min(32, len(seed_ids)))).mapInPandas(
            gen_serp,
            "url string, seed_id long, page int, link_order int, depth int, parent_url_id long",
        )

    def bootstrap(self, seed_ids: list[int]) -> None:
        """Epoch 0: search phase. seeds -> SERP pages -> initial frontier."""
        with self._epoch(first=True) as ep:
            # pin the backend in the manifest so resume can verify it
            ep.meta["state_backend"] = "store"
            new_rows, bucket_counts, state, frontier = self._admit(
                ep, self._serp_raw_candidates(seed_ids), self.robots_df()
            )
            ep.commit(
                {"admitted": sum(bucket_counts.values()), "seeds": len(seed_ids)},
                frontier=frontier, seen_state=state, new_rows=new_rows,
                bucket_counts=bucket_counts,
            )

    def bootstrap_forms(self, forms: list[dict]) -> list[int]:
        """Epoch 0 from structured seed FORMS (S1): each form (party_type,
        instrument_type, county, search_name, from/to_date, ... — the
        reference's form_data, lien_index_scraper.py:331-354) maps to a
        deterministic seed_id; returns the seed ids used."""
        from ..sources import seedforms

        seed_ids = [seedforms.seed_id_of_form(f) for f in forms]
        self.bootstrap(seed_ids)
        return seed_ids

    def step(self) -> dict | None:
        """Run one drain epoch; returns metric counts, or None when the
        frontier is empty (crawl complete)."""
        with self._epoch() as ep:
            prev, epoch = ep.prev, ep.epoch
            pending = self.store.read_snapshot(self.spark, "frontier", prev)
            robots = self.robots_df()
            prev_host_state = self.store.read_snapshot(self.spark, "host_state", prev)

            budgets = ep.cache(politeness.compute_budgets(
                pending, robots, prev_host_state if prev > 0 else None,
                self.epoch_seconds,
            ))
            granted, host_state_new = politeness.grant(
                pending, budgets, epoch, n_buckets=ep.n_buckets
            )
            # host_state_new counts this very frame, so its write reads the cache
            granted = ep.cache(granted)
            n_granted = granted.count()
            # drained frontier: nothing is written before this point, so a
            # drained crawl commits nothing (a grant implies pending rows, so
            # the emptiness check runs only when nothing was granted)
            if n_granted == 0 and pending.isEmpty():
                return None
            # carry state for hosts with no pending urls this epoch
            host_state = host_state_new.unionByName(
                prev_host_state.select("host", "tokens", F.lit(epoch).alias("epoch")).join(
                    host_state_new.select("host"), "host", "left_anti"
                )
            )
            if n_granted == 0:
                # zero-grant epoch (tokens still fractional): commit the token
                # accrual and carry on — the simulator does the same; returning
                # None here would abandon a non-empty frontier
                counts = {"granted": 0, "new_urls": 0, "cancelled": 0}
                ep.commit(counts, host_state=host_state)
                return {"epoch": epoch, **counts}

            fetched = ep.cache(
                granted.select(
                    "url_id", "url",
                    F.col("crawl_order.seed_id").alias("seed_id"),
                    F.col("crawl_order.page").alias("page"),
                    F.col("crawl_order.depth").alias("depth"),
                    F.col("crawl_order.link_order").alias("link_order"),
                ).mapInPandas(_fetch_parse, _FETCH_SCHEMA)
            )

            records = fetched.select(
                "doc_id", "url_id", "url", "county", "instrument", "date_filed",
                "book", "page_no", "debtors", "claimants", "amount", "amount_value",
                "address", "description", "pdf_document_url", "media_ref", "cancelled",
                F.lit(epoch).cast("int").alias("epoch"),
                F.struct(
                    F.col("seed_id"), F.col("page"), F.col("link_order"), F.col("depth")
                ).alias("crawl_order"),
            )
            documents = fetched.filter(~F.col("cancelled")).select(
                "doc_id", "url", span_col().alias("spans")
            )

            children = (
                fetched.filter(~F.col("cancelled"))
                .select(
                    "url_id", "seed_id", "page", "depth",
                    F.posexplode("outlink_urls").alias("link_order", "url"),
                )
                .select(
                    "url",
                    "seed_id", "page", "link_order",
                    (F.col("depth") + 1).alias("depth"),
                    F.col("url_id").alias("parent_url_id"),
                )
            )
            new_rows, bucket_counts, seen_state, frontier_next = self._admit(
                ep, children, robots,
                carried=pending.join(granted.select("url_id"), "url_id", "left_anti"),
            )
            n_cancelled = int(
                fetched.agg(F.sum(F.col("cancelled").cast("int")).alias("nc")).first()["nc"]
                or 0
            )
            counts = {"granted": n_granted, "new_urls": sum(bucket_counts.values()),
                      "cancelled": n_cancelled}
            ep.commit(
                counts, frontier=frontier_next, seen_state=seen_state,
                host_state=host_state, new_rows=new_rows, records=records,
                documents=documents, bucket_counts=bucket_counts,
            )
        return {"epoch": epoch, **counts}

    def revoke(self, urls: list[str]) -> dict:
        """Recrawl revocation (north_star deletion capability; reference
        analog: re-scraping after clearing resume state,
        lien_index_scraper.py:114-128). Commits an epoch that removes `urls`
        from the seen set — each touched segment is rewritten from its
        remaining keys, with a bloom built for them — so the NEXT
        discovery of any of them (outlink or reseed) is admitted again.
        Urls never seen are no-ops. The revocation is lineage-tracked in the
        `revoked` delta table (a seen_exact rebuild = seen_exact minus
        revoked, last-wins by epoch)."""
        with self._epoch() as ep:
            seen_state = self._read_seen_state(ep.prev)
            assert seen_state is not None
            # list for convenience; a DataFrame with a `url` column for scale
            # (a 10^8-url revocation should not ride through the driver)
            rev = (
                urls
                if isinstance(urls, DataFrame)
                else _local_df(self.spark, [(u,) for u in urls], "url string")
            )
            uid = urltools.url_id_col(F.col("url"))
            n_requested = len(urls) if not isinstance(urls, DataFrame) else int(rev.count())
            rev = rev.select(
                "url",
                uid.alias("url_id"),
                urltools.host_bucket_col(uid, ep.n_buckets).alias("host_bucket"),
                F.xxhash64("url").alias("url_h"),
            )
            snapshot, handles = dedup.revoke_seen(
                seen_state, rev, ep.epoch, store_root=self._seg_root
            )
            ep.hold(handles)
            delta = snapshot.filter(F.col("epoch") == ep.epoch)
            # actually-removed count: bounded aggs over the replaced SEGMENT
            # rows (per-(bucket,seg) supersession — untouched segments of a
            # touched bucket don't enter either sum)
            changed_pairs = [
                (int(r[0]), int(r[1]))
                for r in delta.select("host_bucket", "seg").collect()
            ]
            pairs_df = _local_df(
                self.spark, changed_pairs or [(-1, -1)], "host_bucket int, seg int"
            )
            before = seen_state.join(
                F.broadcast(pairs_df), ["host_bucket", "seg"], "left_semi"
            ).agg(F.sum("n_items")).first()[0] or 0
            after = delta.agg(F.sum("n_items")).first()[0] or 0
            n_removed = int(before) - int(after)
            ep.commit(
                {"revoked_requested": n_requested, "revoked_removed": n_removed},
                seen_state=snapshot, revoked=rev,
            )
        return {"epoch": ep.epoch, "revoked": n_removed}

    def reseed(self, seed_ids: list[int]) -> dict:
        """Re-run the search phase against the CURRENT crawl state: SERP
        candidates are deduped against the live seen set, so only urls never
        seen — or explicitly revoked since — are admitted to the frontier
        (reference analog: re-running the scraper after clearing resume
        state). Returns admission counts; follow with step()/run() to drain."""
        with self._epoch() as ep:
            new_rows, bucket_counts, state, frontier = self._admit(
                ep, self._serp_raw_candidates(seed_ids), self.robots_df(),
                carried=self.store.read_snapshot(self.spark, "frontier", ep.prev),
            )
            n_new = sum(bucket_counts.values())
            ep.commit(
                {"reseeded": len(seed_ids), "new_urls": n_new},
                frontier=frontier, seen_state=state, new_rows=new_rows,
                bucket_counts=bucket_counts,
            )
        return {"epoch": ep.epoch, "new_urls": n_new}

    def fold_segments(self) -> dict:
        """Explicit LSM maintenance (major compaction): fold each bucket's
        live segment stack to ONE run, resetting the probe/read-
        amplification floor to a single segment per bucket — run it before
        an export or a long read-heavy phase, like a manual VACUUM.
        Deliberately NOT on the compaction cadence: a periodic payload
        fold would re-add the linear write amplification the binary-
        counter tier rule exists to avoid (operators/dedup.py
        tier_absorb). Commits a normal epoch (resume-safe, lineage-
        metered); retired payload files become orphans the next
        compaction-cadence GC reclaims."""
        with self._epoch() as ep:
            live = self._read_seen_state(ep.prev)
            assert live is not None
            segs_before = int(live.count())
            # restamp to the folding epoch so the delta write (filter
            # epoch == current) captures every folded row; the fold row's
            # lo=0 interval supersedes the bucket's whole prior stack on read
            folded = dedup.merge_segments(live, store_root=self._seg_root).withColumn(
                "epoch", F.lit(ep.epoch).cast("int")
            )
            ep.commit({"fold_segments_before": segs_before}, seen_state=folded)
        segs_after = int(self._read_seen_state(ep.epoch).count())
        return {"epoch": ep.epoch, "segments_before": segs_before,
                "segments_after": segs_after}

    def run(self, seed_ids: list[int] | None = None, max_epochs: int = 1000) -> int:
        """Bootstrap (if needed) + drain; returns the number of drain epochs
        executed by THIS invocation (0 when resuming a drained crawl).
        max_epochs bounds this invocation, not the absolute epoch number."""
        if self.store.last_epoch() is None:
            assert seed_ids is not None
            self.bootstrap(seed_ids)
        n = 0
        while n < max_epochs:
            if self.step() is None:
                break
            n += 1
        return n

    # ----------------------------------------------------------- outputs
    def records(self) -> DataFrame | None:
        return self.store.read_deltas(self.spark, "records", self.store.last_epoch() or 0)

    def documents(self) -> DataFrame | None:
        return self.store.read_deltas(self.spark, "documents", self.store.last_epoch() or 0)

    def seen(self) -> DataFrame | None:
        return self.store.read_deltas(self.spark, "seen_exact", self.store.last_epoch() or 0)

    def metrics(self) -> DataFrame | None:
        return self.store.read_deltas(self.spark, "metrics", self.store.last_epoch() or 0)

    def revoked(self) -> DataFrame | None:
        """Lineage of revoked urls (None when nothing was ever revoked);
        a seen_exact disaster rebuild = seen_exact minus revoked, last
        stamp wins."""
        return self.store.read_deltas(self.spark, "revoked", self.store.last_epoch() or 0)
