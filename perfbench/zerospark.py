"""Zero-Spark passes over the same rows Spark extracts.

The extraction sinks (``extract_spans``, ``extract_html``) build their
per-document work as a function handed to ``DataFrame.mapInPandas`` (or
``mapInArrow``). ``capture_worker`` calls the public sink on a stand-in
frame that records that function instead of planning a job, so the
benchmark runs the program's own per-batch worker in-process or in a
spawned pool without depending on any private name. Both map styles are
accepted so that a sink moving from pandas to Arrow batches is measured
by the same benchmark code as its parent.
"""

from __future__ import annotations

import glob
import multiprocessing
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq


class _CaptureFrame:
    """Accepts the DataFrame calls the sinks make before their map and
    keeps the mapped function."""

    sparkSession = None

    def __init__(self):
        self.fn = None
        self.style = None

    def select(self, *cols, **kw):
        return self

    def mapInPandas(self, fn, schema, *a, **kw):
        self.fn, self.style = fn, "pandas"
        return self

    def mapInArrow(self, fn, schema, *a, **kw):
        self.fn, self.style = fn, "arrow"
        return self


def capture_worker(sink: str):
    """The per-batch worker of ``sink`` ('spans' or 'html'), wrapped with
    the two conversions Spark performs around it."""
    from pdf_extract_spark.plans import pipeline

    frame = _CaptureFrame()
    entry = pipeline.extract_spans if sink == "spans" else pipeline.extract_html
    entry(frame)
    if frame.fn is None:
        raise RuntimeError(f"{sink} sink did not map a worker function")
    return Worker(frame.fn, frame.style)


class Worker:
    """Runs a captured worker the way a Spark Python worker does: Arrow
    in, the program's function, Arrow out."""

    def __init__(self, fn, style: str):
        self.fn, self.style = fn, style

    def to_input(self, table: pa.Table):
        if self.style == "arrow":
            return table.to_batches()
        return [table.to_pandas()]

    def call(self, batches) -> list:
        return list(self.fn(iter(batches)))

    def to_output(self, outs: list) -> pa.Table:
        if self.style == "arrow":
            return pa.Table.from_batches(outs)
        import pandas as pd

        frame = pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()
        return pa.Table.from_pandas(frame, preserve_index=False)

    def run(self, table: pa.Table, clock=None) -> tuple[pa.Table, dict]:
        """Output rows plus seconds spent in each of the three steps;
        ``clock`` (a tracer) wraps each step in a span when given."""
        parts = {}
        steps = (("arrow_to_pandas", self.to_input), ("worker", self.call),
                 ("pandas_to_arrow", self.to_output))
        val = table
        for name, step in steps:
            t0 = time.perf_counter()
            if clock is None:
                val = step(val)
            else:
                with clock.span(f"pipeline.{name}"):
                    val = step(val)
            parts[name] = time.perf_counter() - t0
        return val, parts


def input_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*.parquet")))


def inproc_pass(worker: Worker, files: list[str], clock=None):
    """Single-thread pass over ``files``: (output table, step seconds)."""
    outs, total = [], {"arrow_to_pandas": 0.0, "worker": 0.0,
                       "pandas_to_arrow": 0.0}
    for f in files:
        out, parts = worker.run(pq.read_table(f), clock)
        outs.append(out)
        for k, v in parts.items():
            total[k] += v
    return pa.concat_tables(outs, promote_options="default"), total


# -- spawned pool -----------------------------------------------------------

SINKS = ("spans", "html")
_POOL_WORKERS: dict[str, Worker] = {}


def _pool_init(root: str) -> None:
    import sys

    if root not in sys.path:
        sys.path.insert(0, root)
    for sink in SINKS:
        _POOL_WORKERS[sink] = capture_worker(sink)


def _pool_task(job: tuple[str, str]) -> bytes:
    sink, path = job
    out, _ = _POOL_WORKERS[sink].run(pq.read_table(path))
    buf = pa.BufferOutputStream()
    with pa.ipc.new_stream(buf, out.schema) as w:
        w.write_table(out)
    return buf.getvalue().to_pybytes()


def _pool_ready(_: int) -> int:
    return os.getpid()


class Pool:
    """``procs`` spawned processes, each holding the captured worker of
    every sink."""

    def __init__(self, root: str, procs: int):
        ctx = multiprocessing.get_context("spawn")
        self.procs = procs
        self._pool = ctx.Pool(procs, initializer=_pool_init, initargs=(root,))
        try:
            # every process has imported the program before anything is timed
            self._pool.map(_pool_ready, range(procs), chunksize=1)
        except BaseException:
            self._pool.terminate()
            self._pool.join()
            raise

    def map(self, jobs: list[tuple[str, str]]) -> tuple[dict[str, pa.Table], float]:
        """Run (sink, input file) jobs in order; returns the output rows
        of each sink and the wall seconds."""
        t0 = time.perf_counter()
        blobs = self._pool.map(_pool_task, jobs, chunksize=1)
        wall = time.perf_counter() - t0
        parts: dict[str, list] = {}
        for (sink, _), b in zip(jobs, blobs):
            parts.setdefault(sink, []).append(pa.ipc.open_stream(b).read_all())
        return ({k: pa.concat_tables(v, promote_options="default") for k, v in parts.items()},
                wall)

    def close(self) -> None:
        self._pool.close()
        self._pool.join()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        if exc[0] is not None:
            self._pool.terminate()
            self._pool.join()
        else:
            self.close()
        return False


def stop_tracker() -> None:
    """Stop the resource tracker process a spawned pool leaves behind and
    wait for it to exit; left alone it outlives the benchmark."""
    import gc
    from multiprocessing import resource_tracker

    gc.collect()  # release the pools' semaphores before the tracker goes
    resource_tracker._resource_tracker._stop()

