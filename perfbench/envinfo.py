"""Environment block for every report: cores, load, steal, a machine-speed
probe, and what code and inputs ran."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess
import sys
import time


def log(msg: str) -> None:
    """Progress line on stderr; stdout carries only the report."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_jiffies() -> tuple[int, int]:
    """(busy jiffies including steal, steal jiffies) from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    busy = v[0] + v[1] + v[2] + v[5] + v[6] + v[7]
    return busy, v[7]


def speed_probe(reps: int = 5) -> float:
    """Median ms of a fixed single-thread CPU loop. Steal can read 0
    while the host still runs slower or faster, so every report carries
    this probe from before and after its run."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def tree_digest(root: str) -> str:
    """sha256 over the sorted relative paths and bytes of the .py files."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit(root: str) -> str | None:
    try:
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10, env=env)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class EnvMeter:
    """Records the environment at the start of a run and the steal and
    speed drift over it."""

    def __init__(self, root: str):
        self.root = root
        self.speed_before = speed_probe()
        self.load_before = os.getloadavg()[0]
        self._j0 = cpu_jiffies()

    def finish(self, spark_conf: dict, gen_digest: str) -> dict:
        import pyarrow
        import pyspark

        from pdf_extract_spark.sources.corpus import FIXTURE_DIR

        busy, steal = cpu_jiffies()
        d_busy, d_steal = busy - self._j0[0], steal - self._j0[1]
        return {
            "nproc": os.cpu_count(),
            "affinity": cores(),
            "load1_before": self.load_before,
            "load1_after": os.getloadavg()[0],
            "steal_share_of_busy": d_steal / d_busy if d_busy else 0.0,
            "speed_probe_ms_before": self.speed_before,
            "speed_probe_ms_after": speed_probe(),
            "commit": _commit(self.root),
            "source_digest": tree_digest(os.path.join(self.root, "pdf_extract_spark")),
            "generator_digest": gen_digest,
            "spark_conf": spark_conf,
            "reference_fixtures_present": os.path.isdir(FIXTURE_DIR),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
        }
