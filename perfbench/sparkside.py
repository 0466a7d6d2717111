"""Spark session lifetime, worker warm-up and memory sampling.

Everything Spark writes (local dirs, warehouse, JVM temp files) goes
under the benchmark's work directory.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import pandas as pd


def session_conf(cores: int, work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched heap: the JVM's resident size is then the
        # same in every run, so peak_rss_mb moves with the program, not
        # with how far the collector happened to grow the heap
        "spark.driver.memory": "1g",
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.catalogImplementation": "in-memory",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        # one scan split per input file: the generator writes equal-work
        # files, several per core, so no task packs two heavy docs
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.files.openCostInBytes": "128m",
    }


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_batches(it):
    # import the extraction path on the worker
    from pdf_extract_spark.plans import pipeline  # noqa: F401
    from pdf_extract_spark.operators.extract import extract_pdf  # noqa: F401

    for b in it:
        yield pd.DataFrame({"pid": [os.getpid()] * len(b)})


def warm_workers(spark, cores: int) -> int:
    """Run one task per core that imports the extraction path; repeat
    until every core has answered from a warmed worker. Returns the
    number of distinct worker processes seen."""
    pids: set[int] = set()
    for _ in range(3):
        rows = (spark.range(0, 2 * cores, 1, 2 * cores)
                .mapInPandas(_warm_batches, "pid long").collect())
        pids |= {r.pid for r in rows}
        if len(pids) >= cores:
            break
    return len(pids)


def set_up(conf: dict, cores: int, cycles: int):
    """Start the session and warm a Python worker on every core,
    ``cycles`` times: the first cycle starts the JVM, later ones restart
    the context in the same JVM. Returns the session and the per-cycle
    timings."""
    spark, timings = None, []
    for _ in range(cycles):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(conf)
        t1 = time.perf_counter()
        workers = warm_workers(spark, cores)
        t2 = time.perf_counter()
        timings.append({"session_s": t1 - t0, "warm_s": t2 - t1, "workers": workers})
    return spark, timings


def setup_metrics(timings: list[dict]) -> dict[str, float]:
    """``setup_s`` is the median cycle; ``setup.session_s`` is the first
    cycle's session start, which includes the JVM launch."""
    return {"setup_s": statistics.median(t["session_s"] + t["warm_s"] for t in timings),
            "setup.session_s": timings[0]["session_s"],
            "setup.warm_s": statistics.median(t["warm_s"] for t in timings)}


def timed_passes(seconds: float, one_pass) -> list:
    """Run ``one_pass(k)`` until ``seconds`` have elapsed (at least once)."""
    passes, t_start = [], time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        passes.append(one_pass(len(passes)))
    return passes


def group_io(spark, group: str) -> dict[str, int]:
    """Shuffle-write and disk-spill bytes of every stage that the jobs of
    job group ``group`` ran (skipped stages count 0)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store lags the jobs
    tracker, store, gw = sc.statusTracker(), jsc.statusStore(), sc._gateway
    stages = {s for j in tracker.getJobIdsForGroup(group)
              for s in (tracker.getJobInfo(j).stageIds if tracker.getJobInfo(j) else [])}
    out = {"shuffle_bytes": 0, "spill_bytes": 0}
    for sid in stages:
        seq = store.stageData(sid, False, gw.jvm.java.util.ArrayList(), False,
                              gw.new_array(gw.jvm.double, 0))
        for i in range(seq.size()):
            d = seq.apply(i)
            out["shuffle_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.diskBytesSpilled()
    return out


def jvm_process(spark):
    return spark.sparkContext._gateway.proc


def stop_all() -> None:
    """Stop the active context and the JVM gateway, then wait until the
    JVM and every Python worker it started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # gateway already closed with the JVM
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    for pid in kids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- process tree and memory ------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str]]:
    """pid → (ppid, comm) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        comm = s[s.index("(") + 1:s.rindex(")")]
        out[int(name)] = (int(s[s.rindex(")") + 2:].split()[1]), comm)
    return out


def descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for k in kids.get(stack.pop(), []):
            out.append(k)
            stack.append(k)
    return out


def reap_descendants(root: int, grace: float = 10.0) -> list[int]:
    """Wait up to ``grace`` seconds for every process below ``root`` to
    exit, then kill what is left and wait for it. Returns the pids that
    had to be killed."""
    deadline = time.monotonic() + grace
    left = [p for p in descendants(root) if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)  # our own child: collect it
        except ChildProcessError:  # a grandchild: wait until it is gone
            while _alive(pid):
                time.sleep(0.05)
    return left


def _vm_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class MemorySampler:
    """Peak resident memory (VmHWM) of the JVM and its Python workers.

    ``start`` resets each process's peak (``clear_refs`` 5) so only the
    timed job counts; a thread then records every process's latest peak
    until ``stop``. Children of the JVM that are not Python processes are
    left out: the JVM's short-lived helper forks briefly report the
    JVM's own size."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm = jvm_pid
        self.interval = interval
        self.peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = None

    def _members(self) -> list[int]:
        table = _proc_table()
        return [self.jvm] + [p for p in descendants(self.jvm, table)
                             if table[p][1].startswith("python")]

    def _sample(self) -> None:
        for pid in self._members():
            kb = _vm_hwm_kb(pid)
            if kb is not None:
                self.peaks[pid] = max(self.peaks.get(pid, 0), kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        for pid in self._members():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass
        self.peaks.clear()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join()
        self._sample()
        jvm = self.peaks.get(self.jvm, 0) / 1024.0
        workers = sum(v for p, v in self.peaks.items() if p != self.jvm) / 1024.0
        return {"peak_rss_mb": jvm + workers, "jvm_rss_mb": jvm, "worker_rss_mb": workers}
