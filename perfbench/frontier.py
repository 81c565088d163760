"""Workload `frontier_scale`: the frontier kernels alone, at the shapes of
the repo's kernel bench scaled to this machine, with no epoch orchestration.

Setup starts a session, builds a seen set of N_SEEN synthetic urls in the
segment store as two runs per host bucket (the older run larger, so the
tier rule keeps both: the fold has real work), and persists N_PAGES
synthetic granted urls for the fetch replay. Each rep, issued when the
previous one has finished, then runs:

  dedup   N_CAND candidates, the first half already seen, through
          dedup.dedup_candidates against the seen set, materializing the new
          rows and the changed-state delta, as an epoch does
  fetch   mapInPandas(_fetch_parse) over the granted urls
  revoke  dedup.revoke_seen of N_REVOKE seen urls, materializing the
          changed-state delta
  fold    dedup.merge_segments of the live seen set to one run per bucket

Each kernel's segment files are removed after the rep, so every rep pays
the same writes (the store's names are content addressed; a repeat would
otherwise skip them).

The seed picks the synthetic id offset of the whole input; the expected
new, revoked and folded counts follow from the id ranges.
"""

from __future__ import annotations

import os
import sys
import time
from statistics import median

from harness import RssSampler, Session, gc_seconds

N_SEEN = 250_000
N_CAND = 2 * N_SEEN  # ids [base, base + N_CAND): the first N_SEEN are seen
N_PAGES = 25_000
N_REVOKE = 5_000  # every REVOKE_STRIDE-th seen id
REVOKE_STRIDE = N_SEEN // N_REVOKE
N_BUCKETS = 64  # the engine's default host-bucket fan-out
OLD_RUN = N_SEEN * 4 // 5  # older run > 1.25 x newer run: the tier rule keeps both
MIN_REPS = 4  # the cold rep and three warm ones, so a median drops one outlier


def id_base(seed: int) -> int:
    """The run's seed picks the synthetic id offset."""
    return (seed % 100_000) * 10 * N_CAND


class _Kernels:
    def __init__(self, spark, tracer, root: str, base: int):
        self.spark, self.tracer, self.root, self.base = spark, tracer, root, base
        self.seg_root = f"{root}/segments"

    def cands(self, start: int, n: int):
        import bench

        return bench._synth_candidates(self.spark, n, start, N_BUCKETS)

    def segs(self) -> dict[str, int]:
        return {
            f: os.path.getsize(os.path.join(self.seg_root, f))
            for f in os.listdir(self.seg_root)
            if f.endswith(".seg")
        }

    def drop_new_segs(self, keep: dict) -> None:
        for f in self.segs():
            if f not in keep:
                os.remove(os.path.join(self.seg_root, f))

    # ----------------------------------------------------------- setup
    def build(self):
        """The seen set: two runs per bucket, the live rows written as the
        metadata table the kernels read."""
        from gsccca_tax_records_scraper_spark.operators import dedup
        from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine

        _new0, st0, h0 = dedup.dedup_candidates(
            self.cands(self.base, OLD_RUN), None, 0, store_root=self.seg_root
        )
        st0.write.parquet(f"{self.root}/seen0")
        st0 = self.spark.read.parquet(f"{self.root}/seen0")
        for h in h0:
            h.unpersist()
        _new1, st1, h1 = dedup.dedup_candidates(
            self.cands(self.base + OLD_RUN, N_SEEN - OLD_RUN), st0, 1,
            store_root=self.seg_root,
        )
        CrawlEngine._latest_state_rows(st1).repartitionByRange(
            N_BUCKETS, "host_bucket"
        ).sortWithinPartitions("host_bucket").write.parquet(f"{self.root}/seen")
        for h in h1:
            h.unpersist()
        return self.spark.read.parquet(f"{self.root}/seen")

    def granted(self):
        from pyspark.sql import functions as F

        g = (
            self.cands(self.base, N_PAGES)
            .select(
                "url_id", "url",
                F.col("crawl_order.seed_id").alias("seed_id"),
                F.col("crawl_order.page").alias("page"),
                F.col("crawl_order.depth").alias("depth"),
                F.col("crawl_order.link_order").alias("link_order"),
            )
            .repartition(2 * self.spark.sparkContext.defaultParallelism)
            .persist()
        )
        g.count()
        return g

    def revoke_batch(self):
        """Every REVOKE_STRIDE-th seen url, as (host_bucket, url_id, url_h)."""
        from pyspark.sql import functions as F

        doc_id = F.substring_index("url", "id=", -1).cast("long")
        rev = (
            self.cands(self.base, N_SEEN)
            .filter((doc_id - self.base) % REVOKE_STRIDE == 0)
            .select("host_bucket", "url_id", F.xxhash64("url").alias("url_h"))
            .persist()
        )
        rev.count()
        return rev

    # ------------------------------------------------------------ kernels
    def dedup(self, seen) -> int:
        from pyspark.sql import functions as F

        from gsccca_tax_records_scraper_spark.operators import dedup

        with self.tracer.span("dedup"):
            new, state, h = dedup.dedup_candidates(
                self.cands(self.base, N_CAND), seen, 2, store_root=self.seg_root
            )
            n_new = new.count()
            state.filter(F.col("epoch") == 2).write.format("noop").mode("overwrite").save()
        for x in h:
            x.unpersist()
        return n_new

    def fetch(self, granted) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from gsccca_tax_records_scraper_spark.plans.epoch import _FETCH_SCHEMA, _fetch_parse

        with self.tracer.span("fetch"):
            r = (
                granted.mapInPandas(_fetch_parse, _FETCH_SCHEMA)
                .agg(F.count("*"), F.sum(F.size("outlink_urls")))
                .first()
            )
        return int(r[0]), int(r[1] or 0)

    def revoke(self, seen, rev) -> tuple[float, int]:
        """Seconds taken by the revoke and the action that materializes its
        delta, and the keys it removed. The removed count comes from a check
        query (the rewritten segments' keys before the revoke) that runs
        after the timed part."""
        from pyspark.sql import functions as F

        from gsccca_tax_records_scraper_spark.operators import dedup

        t = time.monotonic()
        with self.tracer.span("revoke"):
            snap, h = dedup.revoke_seen(seen, rev, 3, store_root=self.seg_root)
            delta = snap.filter(F.col("epoch") == 3).persist()
            after = delta.agg(F.sum("n_items")).first()[0] or 0
        dt = time.monotonic() - t
        pairs = delta.select("host_bucket", "seg")
        before = (
            seen.join(F.broadcast(pairs), ["host_bucket", "seg"], "left_semi")
            .agg(F.sum("n_items"))
            .first()[0]
            or 0
        )
        delta.unpersist()
        for x in h:
            x.unpersist()
        return dt, int(before) - int(after)

    def fold(self, seen) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from gsccca_tax_records_scraper_spark.operators import dedup

        with self.tracer.span("fold"):
            r = (
                dedup.merge_segments(seen, store_root=self.seg_root)
                .agg(F.count("*"), F.sum("n_items"))
                .first()
            )
        return int(r[0]), int(r[1] or 0)


def run(ctx) -> dict:
    tracer, seconds = ctx.tracer, ctx.seconds
    root = str(ctx.work / "frontier")
    os.makedirs(f"{root}/segments")
    sess = Session(ctx.work, "perfbench_frontier_scale")

    with RssSampler() as rss:
        t0 = time.monotonic()
        spark = sess.start()
        tracer.sc = spark.sparkContext
        k = _Kernels(spark, tracer, root, id_base(ctx.seed))
        seen = k.build()
        granted = k.granted()
        rev = k.revoke_batch()
        base_segs = k.segs()
        spark._jvm.System.gc()  # the build's garbage is set-up's
        setup_s = time.monotonic() - t0

        gc0 = gc_seconds(spark)
        reps, bad = [], 0
        w0 = time.monotonic()
        while len(reps) < MIN_REPS or time.monotonic() - w0 < seconds:
            r = {}
            t = time.monotonic()
            n_new = k.dedup(seen)
            r["dedup_s"] = time.monotonic() - t
            r["seg"] = {f: n for f, n in k.segs().items() if f not in base_segs}
            k.drop_new_segs(base_segs)
            t = time.monotonic()
            pages, outlinks = k.fetch(granted)
            r["fetch_s"] = time.monotonic() - t
            r["revoke_s"], revoked = k.revoke(seen, rev)
            k.drop_new_segs(base_segs)
            t = time.monotonic()
            n_after, n_items = k.fold(seen)
            r["fold_s"] = time.monotonic() - t
            k.drop_new_segs(base_segs)
            r["s"] = r["dedup_s"] + r["fetch_s"] + r["revoke_s"] + r["fold_s"]
            r.update(new=n_new, pages=pages, outlinks=outlinks, revoked=revoked,
                     segs_after=n_after)
            # fetch is deterministic: every rep must find the first rep's links
            outlinks0 = reps[0]["outlinks"] if reps else outlinks
            bad += sum((
                n_new != N_CAND - N_SEEN,
                pages != N_PAGES or outlinks != outlinks0,
                revoked != N_REVOKE,
                n_after != N_BUCKETS or n_items != N_SEEN,
            ))
            reps.append(r)
            print("rep", len(reps), *(f"{x}={r[x]:.3f}" for x in
                  ("dedup_s", "fetch_s", "revoke_s", "fold_s")), file=sys.stderr)
            spark._jvm.System.gc()  # keep rep-over-rep heap state comparable
        gc_s = gc_seconds(spark) - gc0
        segs_before = seen.count()
        sess.stop()

    # medians over the warm reps: a rep slowed by a passing disturbance
    # (another tenant, a GC) drops out instead of shifting the figure
    warm = reps[1:]
    e2e = {
        "setup_s": setup_s,
        "op_s.p50": median(r["s"] for r in warm),
        "cold_s": reps[0]["s"],
        "pages_per_s": N_PAGES / median(r["fetch_s"] for r in warm),
        "urls_per_s": N_CAND / median(r["dedup_s"] for r in warm),
    }
    layers = {"session.start_s": sess.start_s, "session.warm_s": sess.warm_s,
              "jvm.gc_s": gc_s, "mem.peak_rss_mb": rss.peak_mb}
    if tracer.enabled:
        seg = reps[0]["seg"]
        layers.update({
            "fetch.s": median(r["fetch_s"] for r in warm),
            "fetch.pages": reps[0]["pages"],
            "fetch.outlinks": reps[0]["outlinks"],
            "dedup.s": median(r["dedup_s"] for r in warm),
            "dedup.candidates": N_CAND,
            "dedup.new": reps[0]["new"],
            "dedup.admit_ratio": reps[0]["new"] / N_CAND,
            "segstore.files_written": len(seg),
            "segstore.bytes_written": sum(seg.values()),
            "segstore.live_files": len(base_segs),
            "revoke.s": median(r["revoke_s"] for r in warm),
            "revoke.rows": reps[0]["revoked"],
            "fold.s": median(r["fold_s"] for r in warm),
            "fold.segments_before": segs_before,
            "fold.segments_after": reps[0]["segs_after"],
        })
    return {
        "e2e": e2e,
        "layers": layers,
        "counts": [
            "fetch.pages", "fetch.outlinks", "dedup.new", "segstore.files_written",
            "segstore.bytes_written", "segstore.live_files", "revoke.rows",
            "fold.segments_before", "fold.segments_after",
        ],
        "attempted": 4 * len(reps),
        "failed": bad,
    }
