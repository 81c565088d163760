"""Workload `polite_crawl`: CrawlEngine epochs under the reference's
politeness, with a session restart and resume before the timed epochs.

Setup starts a session, runs the single-threaded simulator over the same
seeds (the correctness oracle), bootstraps the crawl (epoch 0) and stops
that session; a fresh session is started for the rest of the run. The
timed window is one whole compaction cycle, two epochs in a closed loop,
each issued when the previous one has committed. Epoch 1, on a new
CrawlEngine over the existing workdir, is the cold operation: Python
workers, segment cache and manifest reads all start cold. Epoch 2 is the
warm one, and it compacts. The window is fixed at these two epochs (about
25 s on 4 cores), so `--seconds` does not change it.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path
from statistics import fmean as mean

from harness import RssSampler, Session, file_sizes, gc_seconds

N_SEEDS = 2000  # ~21k frontier urls: both hosts stay budget-bound for the run
EPOCH_SECONDS = 400.0  # 0.25 + 0.5 req/s -> ~300 grants per epoch
COMPACT_EVERY = 2  # epoch 1 resumes (plain), epoch 2 compacts


def seed_ids(seed: int) -> list[int]:
    """The run's seed picks a block of N_SEEDS consecutive seed ids."""
    base = 1 + (seed % 10_000) * N_SEEDS
    return list(range(base, base + N_SEEDS))


def _instrument_store(store, tracer) -> None:
    """Spans around the checkpoint store's I/O, wrapped on the engine's own
    store instance (where every checkpoint read and write executes)."""
    for name, span in (
        ("write", "checkpoint.write"),
        ("commit", "checkpoint.commit"),
        ("compact_deltas", "checkpoint.compact"),
        ("read_snapshot", "checkpoint.read"),
        ("read_deltas", "checkpoint.read"),
        ("_manifest", "checkpoint.manifest"),
    ):
        setattr(store, name, tracer.wrap(span, getattr(store, name)))


class _Epochs:
    """Runs epochs and, when tracing, records per-epoch layer figures."""

    def __init__(self, spark, eng, tracer, wd: Path):
        self.spark, self.eng, self.tracer, self.wd = spark, eng, tracer, wd
        self.rows: list[dict] = []

    def step(self) -> dict:
        tr = self.tracer
        # listings and replays run between epochs, outside every span
        before = file_sizes(self.wd) if tr.enabled else None
        t0 = time.monotonic()
        with tr.span("epoch.step") as sp:
            res = self.eng.step()
        dt = time.monotonic() - t0
        if res is None:
            raise RuntimeError("frontier drained inside the timed window")
        row = {"epoch": res["epoch"], "s": dt, "granted": res["granted"],
               "new": res["new_urls"]}
        if tr.enabled:
            row.update(self._layers(sp, before, res["epoch"]))
        self.rows.append(row)
        print("epoch", row["epoch"], f"s={dt:.3f}", f"granted={row['granted']}",
              file=sys.stderr)
        return row

    def _layers(self, sp: dict, before: dict, epoch: int) -> dict:
        tr = self.tracer
        after = file_sizes(self.wd)
        seg_dir = str(self.wd / "segments") + "/"
        new = {p: n for p, n in after.items() if p not in before}
        seg = {p: n for p, n in new.items() if p.startswith(seg_dir)}
        ckpt = {p: n for p, n in new.items() if not p.startswith(seg_dir)}
        grant_s, budget = self._grant_replay(epoch)
        fetch_s, outlinks = self._fetch_replay(epoch)
        return {
            "jobs": tr.inclusive(sp, "jobs"),
            "stages": tr.inclusive(sp, "stages"),
            "tasks": tr.inclusive(sp, "tasks"),
            "self_s": tr.self_s(sp),
            "write_s": tr.sum_named(sp, "checkpoint.write"),
            "commit_s": tr.sum_named(sp, "checkpoint.commit"),
            "compact_s": tr.sum_named(sp, "checkpoint.compact"),
            "read_s": tr.sum_named(sp, "checkpoint.read")
            + tr.sum_named(sp, "checkpoint.manifest"),
            "files": len(ckpt),
            "bytes": sum(ckpt.values()),
            "seg_files": len(seg),
            "seg_bytes": sum(seg.values()),
            "grant_s": grant_s,
            "budget": budget,
            "fetch_s": fetch_s,
            "outlinks": outlinks,
        }

    def _grant_replay(self, epoch: int) -> tuple[float, int]:
        """Replays the politeness layer on the epoch's committed input: the
        pending frontier and host state of epoch - 1."""
        from pyspark.sql import functions as F

        from gsccca_tax_records_scraper_spark.functions import urltools
        from gsccca_tax_records_scraper_spark.operators import politeness

        st, prev = self.eng.store, epoch - 1
        pending = st.read_snapshot(self.spark, "frontier", prev)
        host_state = st.read_snapshot(self.spark, "host_state", prev) if prev > 0 else None
        robots = self.eng.robots_df()
        n_buckets = int(st.meta("n_buckets", urltools.N_HOST_BUCKETS))
        t0 = time.monotonic()
        budgets = politeness.compute_budgets(pending, robots, host_state, EPOCH_SECONDS)
        granted, _hs = politeness.grant(pending, budgets, epoch, n_buckets=n_buckets)
        granted.write.format("noop").mode("overwrite").save()
        grant_s = time.monotonic() - t0
        budget = budgets.agg(F.sum("budget")).first()[0] or 0
        return grant_s, int(budget)

    def _fetch_replay(self, epoch: int) -> tuple[float, int]:
        """Replays fetch+parse on the urls the epoch granted (its committed
        records), the same mapInPandas the epoch runs. Also returns the
        outlink candidates it hands to admission: every link on every
        non-cancelled page."""
        from pyspark.sql import functions as F

        from gsccca_tax_records_scraper_spark.plans.epoch import _FETCH_SCHEMA, _fetch_parse

        granted = self.eng.store.read_snapshot(self.spark, "records", epoch).select(
            "url_id", "url",
            F.col("crawl_order.seed_id").alias("seed_id"),
            F.col("crawl_order.page").alias("page"),
            F.col("crawl_order.depth").alias("depth"),
            F.col("crawl_order.link_order").alias("link_order"),
        )
        t0 = time.monotonic()
        n = (
            granted.mapInPandas(_fetch_parse, _FETCH_SCHEMA)
            .filter(~F.col("cancelled"))
            .agg(F.sum(F.size("outlink_urls")))
            .first()[0]
        )
        return time.monotonic() - t0, int(n or 0)


def _check(eng, sim, last_epoch: int) -> set[int]:
    """Epochs (0 = bootstrap) whose output differs from the simulator: the
    urls admitted, the grant order and the span sequences."""
    from gsccca_tax_records_scraper_spark import simulator

    bad: set[int] = set()
    sim_seen: dict[int, set[str]] = {}
    for r in sim.frontier:
        sim_seen.setdefault(r["lineage"]["discovered_epoch"], set()).add(r["url"])
    eng_seen: dict[int, set[str]] = {}
    for r in eng.seen().select("url", "epoch").collect():
        eng_seen.setdefault(int(r.epoch), set()).add(r.url)
    for e in range(last_epoch + 1):
        if eng_seen.get(e, set()) != sim_seen.get(e, set()):
            bad.add(e)
    epoch_of: dict[str, int] = {}
    by_epoch: dict[int, list] = {}
    for r in eng.records().select("url", "url_id", "epoch", "crawl_order").collect():
        by_epoch.setdefault(int(r.epoch), []).append(r)
        epoch_of[r.url] = int(r.epoch)
    for e in range(1, last_epoch + 1):
        got = sorted(
            by_epoch.get(e, []),
            key=lambda r: simulator.order_key(
                {"crawl_order": r.crawl_order.asDict(), "url_id": r.url_id}
            ),
        )
        if [r.url for r in got] != sim.grant_order[e - 1]:
            bad.add(e)
    granted = {u for g in sim.grant_order[:last_epoch] for u in g}
    want_docs = {u for u in granted if u in sim.spans}
    got_docs = set()
    for d in eng.documents().select("url", "spans").collect():
        got_docs.add(d.url)
        spans = [(s.kind, s.text, s.media_ref, s.offset) for s in d.spans]
        if spans != sim.spans.get(d.url):
            bad.add(epoch_of.get(d.url, last_epoch))
    for u in want_docs ^ got_docs:
        bad.add(epoch_of.get(u, last_epoch))
    return bad


def run(ctx) -> dict:
    from gsccca_tax_records_scraper_spark import simulator
    from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine

    tracer = ctx.tracer
    wd = ctx.work / "crawl"
    seeds = seed_ids(ctx.seed)
    sess = Session(ctx.work, "perfbench_polite_crawl")

    def engine(spark):
        eng = CrawlEngine(spark, wd, epoch_seconds=EPOCH_SECONDS,
                          compact_every=COMPACT_EVERY)
        if tracer.enabled:
            _instrument_store(eng.store, tracer)
        return eng

    with RssSampler() as rss:
        t0 = time.monotonic()
        spark = sess.start()
        tracer.sc = spark.sparkContext
        starts = [(sess.start_s, sess.warm_s)]
        t1 = time.monotonic()
        sim = simulator.simulate_crawl(
            seeds, epoch_seconds=EPOCH_SECONDS, max_epochs=COMPACT_EVERY
        )
        t2 = time.monotonic()
        with tracer.span("epoch.bootstrap"):
            engine(spark).bootstrap(seeds)
        t3 = time.monotonic()
        # the bootstrapping session goes away; a fresh one resumes the workdir
        sess.stop()
        # no warm-up: the resume epoch spawns the new session's Python workers
        spark = sess.start(warm=False)
        tracer.sc = spark.sparkContext
        starts.append((sess.start_s, sess.warm_s))
        spark._jvm.System.gc()  # the first session's garbage is set-up's
        setup_s = time.monotonic() - t0
        print(f"setup s={setup_s:.3f} session={t1 - t0:.3f} simulator={t2 - t1:.3f} "
              f"bootstrap={t3 - t2:.3f} restart={sess.start_s:.3f}", file=sys.stderr)

        gc0 = gc_seconds(spark)
        t0 = time.monotonic()
        eng = engine(spark)
        epochs = _Epochs(spark, eng, tracer, wd)
        resume = epochs.step()
        cold_s = time.monotonic() - t0
        warm = epochs.step()
        gc_s = gc_seconds(spark) - gc0
        bad = _check(eng, sim, warm["epoch"])
        live_segs = sum(1 for p in (wd / "segments").iterdir() if p.suffix == ".seg")
        sess.stop()

    window = epochs.rows
    # the urls the engine granted (its step results) over the whole window:
    # 300 per epoch on every seed, since the frontier stays budget-bound. Each
    # granted url is one page fetched and parsed, so on this workload both
    # rates are this one figure; the outlinks or admitted urls per epoch
    # would vary with the seed.
    rate = sum(r["granted"] for r in window) / sum(r["s"] for r in window)
    e2e = {
        "setup_s": setup_s,
        "op_s.p50": warm["s"],
        "cold_s": cold_s,
        "pages_per_s": rate,
        "urls_per_s": rate,
    }
    layers = {
        "session.start_s": sum(s for s, _w in starts),
        "session.warm_s": sum(w for _s, w in starts),
        "jvm.gc_s": gc_s,
        "mem.peak_rss_mb": rss.peak_mb,
    }
    if tracer.enabled:
        # per-epoch counts from the plain epoch (the resume): the same epoch
        # on every run of a seed, so they repeat exactly
        layers.update({
            "epoch.jobs": resume["jobs"],
            "epoch.stages": resume["stages"],
            "epoch.tasks": resume["tasks"],
            "epoch.self_s": mean(r["self_s"] for r in window),
            "grant.s": mean(r["grant_s"] for r in window),
            "grant.rows": resume["granted"],
            "grant.fill": resume["granted"] / resume["budget"],
            "checkpoint.write_s": mean(r["write_s"] for r in window),
            "checkpoint.commit_s": mean(r["commit_s"] for r in window),
            "checkpoint.compact_s": warm["compact_s"],
            "checkpoint.read_s": resume["read_s"],
            "checkpoint.files": resume["files"],
            "checkpoint.bytes": resume["bytes"],
            "fetch.s": mean(r["fetch_s"] for r in window),
            "fetch.pages": resume["granted"],
            "fetch.outlinks": resume["outlinks"],
            "dedup.candidates": resume["outlinks"],
            "dedup.new": resume["new"],
            "dedup.admit_ratio": resume["new"] / resume["outlinks"],
            "segstore.files_written": resume["seg_files"],
            "segstore.bytes_written": resume["seg_bytes"],
            "segstore.live_files": live_segs,
        })
    return {
        "e2e": e2e,
        "layers": layers,
        "counts": [
            "epoch.jobs", "epoch.stages", "epoch.tasks", "grant.rows",
            "checkpoint.files", "checkpoint.bytes", "fetch.pages", "fetch.outlinks",
            "dedup.new", "segstore.files_written", "segstore.bytes_written",
        ],
        "attempted": 1 + len(epochs.rows),
        "failed": len(bad),
    }
