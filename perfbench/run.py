"""Benchmark entry point.

    python3 perfbench/run.py --workload extraction --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads are listed in
``perfbench/catalog.py``; ``perfbench/extraction.py`` and
``perfbench/curation.py`` describe what a run of each does. Every run
generates its inputs from the seed (cached under ``.bench_cache/``),
sets up a ``local[<cores>]`` session, times the workload for
``--seconds`` and checks every output outside the timed window.

It prints one report line and then the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of ``catalog.PER_LAYER``. Scratch files live under
``.bench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_KEEP = 12

import catalog  # noqa: E402  (perfbench/ is the script's own directory)
import envinfo  # noqa: E402
from envinfo import log  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="pdf_extract_spark benchmark")
    ap.add_argument("--workload", required=True, choices=list(catalog.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=catalog.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--table-docs", type=int, default=None,
                    help="curation_suite table size (default: catalog.TABLE_DOCS)")
    return ap.parse_args(argv)


def result_line(metrics: dict, trace: bool, correct: bool, attempted: int,
                failed: int) -> dict:
    wanted = catalog.PER_LAYER if trace else catalog.END_TO_END
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u}
                        for n, u, *_ in wanted}}


def trim_cache(cache: str, keep: int) -> None:
    """Keep the ``keep`` most recently built input sets."""
    entries = sorted((os.path.getmtime(os.path.join(cache, e)), e) for e in os.listdir(cache))
    for _, e in entries[:-keep]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pdf_extract_spark")):
        log(f"no pdf_extract_spark package next to {HERE}; run from a full checkout")
        return 2
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    cache = os.path.join(ROOT, ".bench_cache")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(cache, exist_ok=True)
    # everything the run, Spark and its workers write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    import gen
    import sparkside
    import zerospark

    cores = envinfo.cores()
    conf = sparkside.session_conf(cores, work)
    meter = envinfo.EnvMeter(ROOT)
    try:
        if args.workload == "extraction":
            import extraction as runner
        else:
            import curation as runner
        res = runner.run(args, work, cores, conf, ROOT, cache)
    finally:
        sparkside.stop_all()
        zerospark.stop_tracker()
        killed = sparkside.reap_descendants(os.getpid())
        if killed:
            log(f"killed leftover processes {killed}")
        shutil.rmtree(work, ignore_errors=True)
        trim_cache(cache, CACHE_KEEP)
    details = dict(res["details"], workload=args.workload, seed=args.seed,
                   seconds=args.seconds, traced=args.trace,
                   env=meter.finish(conf, gen.GEN_DIGEST), metrics=res["metrics"])
    print(json.dumps({"report": details}, default=str))
    print(json.dumps(result_line(res["metrics"], bool(args.trace), res["correct"],
                                 res["attempted"], res["failed"])), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
