#!/usr/bin/env python
"""spark-submit entry point for the crawl engine.

Cluster usage (north_star: multi-executor via --py-files):

    cd /root/repo && zip -r /tmp/engine.zip gsccca_tax_records_scraper_spark
    spark-submit --py-files /tmp/engine.zip \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        scripts/run_crawl.py --workdir /shared/crawl --seeds 0-158 \
        --epoch-seconds 400

The workdir may be a path visible to the driver and the executors (local
disk or a shared mount) or a URI that both pyarrow.fs and Spark open
(file://, hdfs://): the checkpoint manifests and the segment files go
through pyarrow.fs, the parquet tables through Spark. Hadoop's s3a:// is
not a pyarrow.fs scheme and is refused at start. Manifests are versioned
MANIFEST-<v>.json files, so the commit point is never absent mid-swap
(see sources/checkpoint.py; exercised end-to-end by test_checkpoint_uri).

Local sandbox usage:

    python scripts/run_crawl.py --workdir /tmp/crawl --seeds 1,2,3

Resume: re-run with the same --workdir and no --seeds; the engine continues
from the last committed epoch checkpoint.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def parse_seeds(spec: str) -> list[int]:
    out: list[int] = []
    try:
        for part in spec.split(","):
            if "-" in part:
                lo, hi = part.split("-", 1)
                out.extend(range(int(lo), int(hi) + 1))
            else:
                out.append(int(part))
    except ValueError:
        raise SystemExit(
            f"--seeds: cannot parse {spec!r} — expected comma-separated ints"
            " and lo-hi ranges, e.g. '1,2,3' or '0-158'"
        ) from None
    if not out:
        raise SystemExit("--seeds: empty seed list")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--seeds", default=None, help="e.g. '1,2,3' or '0-158'")
    ap.add_argument("--epoch-seconds", type=float, default=400.0)
    ap.add_argument("--max-epochs", type=int, default=1000)
    ap.add_argument("--cores", type=int, default=None, help="local mode only")
    ap.add_argument("--streaming", action="store_true",
                    help="drive epochs from a streaming trigger (foreachBatch)")
    args = ap.parse_args()

    from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine
    from gsccca_tax_records_scraper_spark.session import get_spark

    spark = get_spark(app_name="crawl", cores=args.cores)
    engine = CrawlEngine(spark, args.workdir, epoch_seconds=args.epoch_seconds)
    seeds = parse_seeds(args.seeds) if args.seeds else None

    if args.streaming:
        from gsccca_tax_records_scraper_spark.streaming.epoch_stream import (
            run_streaming_crawl,
        )

        epochs = run_streaming_crawl(engine, seeds, max_epochs=args.max_epochs)
    else:
        epochs = engine.run(seeds, max_epochs=args.max_epochs)

    seen = engine.seen()
    docs = engine.documents()
    print(json.dumps({
        "epochs": engine.store.last_epoch(),
        "epochs_this_run": epochs,
        "seen_urls": seen.count() if seen is not None else 0,
        "documents": docs.count() if docs is not None else 0,
        "workdir": str(args.workdir),
    }))


if __name__ == "__main__":
    main()
