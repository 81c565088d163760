"""Crawl-engine benchmark: one workload per invocation, closed loop, on
local[nproc] in this single process.

    python3 perfbench/run.py --workload polite_crawl --seed 1 --seconds 20 --trace 0

Workloads (README.md here has the rationale and the metric definitions):
  polite_crawl    CrawlEngine epochs under the reference's politeness, with
                  a session restart and resume before the timed epochs
  frontier_scale  the dedup, fetch+parse, revoke and fold kernels over
                  synthetic frontier-scale inputs

`--trace 0` prints the end-to-end metrics; `--trace 1` wraps spans around
the calls into each layer and prints the per-layer metrics, a self-time
table and the tracing overhead, and writes the span dump under
`.perfbench/traces/`. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Every file the run writes stays under `.perfbench/` in the checkout: the
scratch directory (Spark local dirs, temp files, checkpoints, segment
stores) is removed when the run ends; trace dumps and the count records
used by the repeat check (keyed by workload, seed and a digest of the
measured code) stay.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"

E2E = {
    "setup_s": "s",
    "op_s.p50": "s",
    "cold_s": "s",
    "pages_per_s": "1/s",
    "urls_per_s": "1/s",
}

LAYERS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "jvm.gc_s": "s",
    "epoch.jobs": "count",
    "epoch.stages": "count",
    "epoch.tasks": "count",
    "epoch.self_s": "s",
    "grant.s": "s",
    "grant.rows": "count",
    "grant.fill": "ratio",
    "checkpoint.write_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.compact_s": "s",
    "checkpoint.read_s": "s",
    "checkpoint.files": "count",
    "checkpoint.bytes": "bytes",
    "fetch.s": "s",
    "fetch.pages": "count",
    "fetch.outlinks": "count",
    "dedup.s": "s",
    "dedup.candidates": "count",
    "dedup.new": "count",
    "dedup.admit_ratio": "ratio",
    "segstore.files_written": "count",
    "segstore.bytes_written": "bytes",
    "segstore.live_files": "count",
    "revoke.s": "s",
    "revoke.rows": "count",
    "fold.s": "s",
    "fold.segments_before": "count",
    "fold.segments_after": "count",
    "mem.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}


def _prepare_env(work: Path) -> None:
    """Point every temp and scratch location of this process, the JVM it
    launches and the Python workers at `work`, and put the repo and this
    directory on the workers' import path (mapInPandas bodies import the
    engine package and the harness)."""
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), str(HERE)] + ([path] if path else []))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # every JVM launched (the launcher and the driver): no perf-data files
    # in the system temp dir, and its own temp files under `work`
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    )
    # the session factory's generic JVM warm-up is replaced by the
    # benchmark's own: the Python worker pool plus each workload's set-up
    os.environ["SPARK_GRAFT_NO_WARM"] = "1"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _code_digest() -> str:
    """Digest of the code a run measures: the engine package, `bench.py`
    (the frontier inputs come from it) and this directory's modules."""
    files = sorted((ROOT / "gsccca_tax_records_scraper_spark").rglob("*.py"))
    files += [ROOT / "bench.py", *sorted(HERE.glob("*.py"))]
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:16]


def _check_counts(workload: str, seed: int, counts: dict) -> bool:
    """Count metrics must repeat exactly across traced runs of one seed on
    the same code: the first such run records them, every later one
    compares. Runs of other code (a change that lowers a count, say) keep
    records of their own, so only identical code is compared."""
    rec = OUT / "counts" / f"{workload}-seed{seed}-{_code_digest()}.json"
    if rec.exists():
        return json.loads(rec.read_text()) == counts
    rec.parent.mkdir(parents=True, exist_ok=True)
    rec.write_text(json.dumps(counts, sort_keys=True))
    return True


def _dump_trace(workload: str, seed: int, tracer, layers: dict) -> None:
    table = tracer.self_table()
    path = OUT / "traces" / f"{workload}-seed{seed}-{os.getpid()}.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(
        {"workload": workload, "seed": seed, "spans": tracer.spans,
         "self_time": table, "overhead_s": tracer.overhead_s, "layers": layers},
        indent=1, default=str,
    ))
    print(f"{'span':<24}{'calls':>7}{'total_s':>10}{'self_s':>10}")
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{name:<24}{row['calls']:>7}{row['total_s']:>10.3f}{row['self_s']:>10.3f}")
    print(f"tracing overhead: {tracer.overhead_s:.3f} s "
          f"({layers['trace.overhead_frac']:.2%} of the traced operations)")
    print(f"span dump: {path}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["polite_crawl", "frontier_scale"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path[:0] = [str(ROOT), str(HERE)]
    # fail before writing anything or starting a JVM when the engine is not
    # importable
    import gsccca_tax_records_scraper_spark  # noqa: F401

    import harness

    work = OUT / "work" / f"{args.workload}-{os.getpid()}"
    _prepare_env(work)

    if args.workload == "polite_crawl":
        import crawl as workload
    else:
        import frontier as workload

    tracer = harness.Tracer(bool(args.trace))
    try:
        res = workload.run(
            SimpleNamespace(seed=args.seed, seconds=args.seconds, work=work, tracer=tracer)
        )
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    failed = res["failed"]
    if args.trace:
        counts = {k: res["layers"].get(k, 0) for k in res["counts"]}
        if not _check_counts(args.workload, args.seed, counts):
            print("count metrics differ from an earlier traced run of this seed",
                  file=sys.stderr)
            failed += 1
        res["layers"]["trace.overhead_frac"] = tracer.overhead_frac()
        layers = {k: res["layers"].get(k, 0.0) for k in LAYERS}
        _dump_trace(args.workload, args.seed, tracer, layers)
        metrics = {k: {"value": v, "unit": LAYERS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    t0 = time.monotonic()
    main()
    print(f"wall {time.monotonic() - t0:.1f} s", file=sys.stderr)
