"""Steadiness check: run the benchmark repeatedly on one commit and print,
per workload and end-to-end metric, the median, the quartiles and the
spread (interquartile range over median) of the per-run values.

    python3 perfbench/steady.py --workloads extraction curation_suite --seeds 1-10

This is the evidence behind the bounds in BENCHMARK.json: every spread
should stay well inside its metric's bound. Each run is a separate
process, exactly as ``perfbench/run.py`` is run by hand; the raw result
lines are appended to ``--out`` (JSON lines) when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import catalog  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0]
        return {"median": v, "q1": v, "q3": v, "spread": 0.0, "min": v, "max": v, "n": 1}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"),
            "min": min(values), "max": max(values), "n": len(values)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=list(catalog.WORKLOADS))
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=catalog.RUN_SECONDS)
    ap.add_argument("--table-docs", type=int, default=None,
                    help="curation_suite table size, passed through to run.py")
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)

    bounds = {n: b for n, _u, _b, b in catalog.END_TO_END}
    worst: dict[str, float] = {}
    for wl in args.workloads:
        values: dict[str, list[float]] = {n: [] for n in bounds}
        failed = 0
        for seed in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
            if args.table_docs:
                cmd += ["--table-docs", str(args.table_docs)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=900)
            run_s = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            res = json.loads(lines[-1])
            report = json.loads(lines[-2])["report"]
            env = report["env"]
            failed += res["failed"] + (0 if res["correct"] else 1)
            for n in bounds:
                values[n].append(res["metrics"][n]["value"])
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"workload": wl, "seed": seed, "run_s": run_s,
                                         "report": report, **res}) + "\n")
            print(f"{wl} seed {seed}: " + ", ".join(
                f"{n}={res['metrics'][n]['value']:.4g}" for n in bounds)
                + f", speed probe {env['speed_probe_ms_before']:.1f}"
                f"/{env['speed_probe_ms_after']:.1f} ms, run {run_s:.1f} s", flush=True)
        for n, vals in values.items():
            s = spread(vals)
            worst[n] = max(worst.get(n, 0.0), s["spread"])
            print(f"{wl:12s} {n:12s} median {s['median']:10.4g}  q1 {s['q1']:10.4g}  "
                  f"q3 {s['q3']:10.4g}  spread {s['spread']:.3f}  "
                  f"(bound {bounds[n]}, n={s['n']})")
        print(f"{wl:12s} failed checks: {failed}")
    print("largest spread per metric: " + ", ".join(
        f"{n} {v:.3f} (bound {bounds[n]})" for n, v in worst.items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
