"""The ``extraction`` workload: both sinks of the per-document path.

A pass is two jobs through the public entry points, in the order of
``catalog.EXTRACTION``: ``run_pipeline`` (spans sink plus lineage commit)
over PDF docs with a heavy tail, then ``extract_html`` plus a ``TableIO``
commit over web pages. A run

1. generates the inputs from the seed (cached) and the zero-Spark
   reference output of every doc: a spawned pool of one process per core
   running each sink's own per-batch worker;
2. sets up a ``local[<cores>]`` session (``sparkside.set_up``);
3. runs each job once, untimed, on one input file per core, then timed
   passes over the whole input until the run's seconds have passed;
   ``docs_per_s`` is the median pass;
4. checks every committed doc of every pass against the reference.

A traced run adds the per-layer figures of ``trace_layers``.
"""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback

import catalog
import checks
import envinfo
import gen
import sparkside
import tracing
import zerospark
from envinfo import log

KEYS = {"spans": checks.spans_key, "html": checks.html_key}


def reference_output(inputs: str, files: dict[str, list[str]], cores: int, root: str):
    """Zero-Spark output of every doc per sink, cached next to the inputs
    per program source digest; returns ({sink: table}, pool seconds or
    None if the cache answered)."""
    import pyarrow.parquet as pq

    digest = envinfo.tree_digest(os.path.join(root, "pdf_extract_spark"))
    paths = {s: os.path.join(inputs, s, f"reference-{digest}.parquet") for s in files}
    if all(os.path.exists(p) for p in paths.values()):
        return {s: pq.read_table(p) for s, p in paths.items()}, None
    with zerospark.Pool(root, cores) as pool:
        tables, wall = pool.map([(s, f) for s, fs in files.items() for f in fs])
    for s, p in paths.items():
        pq.write_table(tables[s], p + ".tmp")
        os.rename(p + ".tmp", p)
    return tables, wall


def run_job(spark, sink: str, src: str, out: str) -> None:
    """One job through the public entry point, committed to ``out``."""
    from pdf_extract_spark.plans.pipeline import extract_html, run_pipeline
    from pdf_extract_spark.sources.tableio import TableIO

    if sink == "spans":
        run_pipeline(spark, src, out, lineage_ref=out + "_lineage")
    else:
        io = TableIO(spark)
        io.write(extract_html(io.read(src)), out, mode="overwrite")


def link_subset(files: list[str], dst: str) -> str:
    os.makedirs(dst)
    for f in files:
        os.link(f, os.path.join(dst, os.path.basename(f)))
    return dst


def run(args, work: str, cores: int, conf: dict, root: str, cache: str) -> dict:
    jobs = catalog.EXTRACTION
    t0 = time.perf_counter()
    inputs = gen.cached_inputs(cache, args.workload, args.seed, jobs,
                               lambda p: gen.build_extraction(p, args.seed, jobs))
    inputs_s = time.perf_counter() - t0
    files = {s: zerospark.input_files(os.path.join(inputs, s, "docs")) for s in jobs}
    n_docs = {s: per_file * len(files[s]) for s, (_, per_file, _) in jobs.items()}

    log("reference")
    tables, pool_wall = reference_output(inputs, files, cores, root)
    reference = {s: {r["doc_id"]: KEYS[s](r) for r in t.to_pylist()} for s, t in tables.items()}
    ref_errors = {s: t.num_rows - t.column("error").null_count for s, t in tables.items()}
    del tables

    log("set-up")
    spark, setups = sparkside.set_up(conf, cores, catalog.SETUP_CYCLES)
    log("warm-up jobs")
    # one untimed task per core of each job: every worker has run both
    # sinks, a heavy doc included, before anything is timed
    for s, fs in files.items():
        run_job(spark, s, link_subset(fs[:cores], os.path.join(work, "sub", s)),
                os.path.join(work, "warmup", s))

    io_tracer = tracing.Tracer()
    if args.trace:
        io_tracer.install([t for t in tracing.TARGETS if t[2].startswith("tableio")])

    def one_pass(k: int) -> dict:
        p = {"job_s": {}, "ok": {}, "out": {}}
        n_spans = len(io_tracer.spans)
        t_pass = time.perf_counter()
        for s in jobs:
            p["out"][s] = out = os.path.join(work, "out", f"p{k}", s)
            t0 = time.perf_counter()
            try:
                run_job(spark, s, os.path.join(inputs, s, "docs"), out)
                p["ok"][s] = True
            except Exception:  # a failed job fails every doc it had
                traceback.print_exc()
                p["ok"][s] = False
            p["job_s"][s] = time.perf_counter() - t0
        p["wall_s"] = time.perf_counter() - t_pass
        p["write_s"] = sum(x[2] - x[1] for x in io_tracer.spans[n_spans:] if x[3] < 0)
        return p

    log("timed passes")
    sampler = sparkside.MemorySampler(sparkside.jvm_process(spark).pid)
    sampler.start()
    try:
        passes = sparkside.timed_passes(args.seconds, one_pass)
    finally:
        mem = sampler.stop()
        io_tracer.uninstall()

    log("check")
    failed = unexpected = 0
    for p in passes:
        p["failed"] = {}
        for s in jobs:
            if p["ok"][s]:
                got = checks.doc_failures(checks.read_rows(p["out"][s]), reference[s], KEYS[s])
                unexpected += got["unexpected"]
                p["failed"][s] = got["failed"]
            else:
                p["failed"][s] = n_docs[s]
            failed += p["failed"][s]

    total = sum(n_docs.values())
    metrics = {"docs_per_s": statistics.median(total / p["wall_s"] for p in passes),
               **sparkside.setup_metrics(setups), **mem}
    for s in jobs:
        metrics[f"job.{s}.docs_per_s"] = statistics.median(
            n_docs[s] / p["job_s"][s] for p in passes)
    details = {"passes": [{k: p[k] for k in ("wall_s", "job_s", "failed", "write_s")}
                          for p in passes],
               "setups": setups, "docs_per_pass": n_docs, "inputs_s": inputs_s,
               "reference_pool_s": pool_wall, "reference_errors": ref_errors,
               "unexpected_rows": unexpected}
    if args.trace:
        log("trace")
        metrics.update(trace_layers(spark, work, inputs, files, passes, cores, conf,
                                    metrics["docs_per_s"], details, root))
    return {"metrics": metrics, "details": details,
            "attempted": len(passes) * total, "failed": failed,
            "correct": failed == 0 and unexpected == 0}


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------

def trace_layers(spark, work, inputs, files, passes, cores, conf, docs_per_s,
                 details, root) -> dict:
    """Per-layer figures: committed-output statistics, then a
    ``local[1]`` pass, an untraced and a traced in-process pass over the
    warm-up subset (one input file per core of each sink), and the pool
    control over the whole input."""
    import pyarrow.parquet as pq

    m: dict[str, float] = {}
    last = passes[-1]["out"]
    parquet = [os.path.join(d, f) for d in last.values() for f in os.listdir(d)
               if f.endswith(".parquet")]
    m["tableio.write_s"] = statistics.median(p["write_s"] for p in passes)
    m["tableio.bytes_per_doc"] = (sum(os.path.getsize(f) for f in parquet)
                                  / sum(pq.ParquetFile(f).metadata.num_rows for f in parquet))
    mrb = int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    sizes = [pq.ParquetFile(f).metadata.num_rows for fs in files.values() for f in fs]
    m["pipeline.batches_per_doc"] = sum(math.ceil(s / mrb) for s in sizes) / sum(sizes)
    walls = pq.read_table(last["spans"] + "_lineage", columns=["wall_ms"]).column(0).to_pylist()
    m["pipeline.straggler_ratio"] = max(walls) / statistics.mean(walls)
    ms = sorted(pq.read_table(last["spans"], columns=["extract_ms"]).column(0).to_pylist())
    m["pipeline.doc_ms_p50"] = float(ms[len(ms) // 2])
    m["pipeline.doc_ms_p99"] = float(ms[min(len(ms) - 1, int(len(ms) * 0.99))])

    subs = {s: os.path.join(work, "sub", s) for s in files}
    sub_files = {s: zerospark.input_files(d) for s, d in subs.items()}
    sub_docs = sum(pq.ParquetFile(f).metadata.num_rows
                   for fs in sub_files.values() for f in fs)
    spark.stop()
    spark1 = sparkside.start_session(dict(conf, **{"spark.master": "local[1]"}))
    sparkside.warm_workers(spark1, 1)
    for s, fs in files.items():
        run_job(spark1, s, fs[-1], os.path.join(work, "warm1", s))
    t0 = time.perf_counter()
    for s, d in subs.items():
        run_job(spark1, s, d, os.path.join(work, "out1", s))
    spark1_wall = time.perf_counter() - t0
    spark1.stop()
    m["pipeline.spark1_docs_per_s"] = sub_docs / spark1_wall
    m["pipeline.scaling_eff"] = docs_per_s / (cores * m["pipeline.spark1_docs_per_s"])

    workers = {s: zerospark.capture_worker(s) for s in sub_files}
    parts = {"arrow_to_pandas": 0.0, "worker": 0.0, "pandas_to_arrow": 0.0}
    for s, fs in sub_files.items():
        for k, v in zerospark.inproc_pass(workers[s], fs)[1].items():
            parts[k] += v
    untraced = sum(parts.values())
    m["pipeline.inproc_docs_per_s"] = sub_docs / parts["worker"]
    m["pipeline.arrow_to_pandas_ms_per_doc"] = parts["arrow_to_pandas"] * 1000 / sub_docs
    m["pipeline.pandas_to_arrow_ms_per_doc"] = parts["pandas_to_arrow"] * 1000 / sub_docs
    m["pipeline.boundary_share"] = 1.0 - parts["worker"] / spark1_wall
    m["pipeline.glue_ms_per_doc"] = (spark1_wall - untraced) * 1000 / sub_docs

    with zerospark.Pool(root, cores) as pool:
        _, pool_wall = pool.map([(s, f) for s, fs in files.items() for f in fs])
    m["control.pool_docs_per_s"] = sum(sizes) / pool_wall
    m["control.scaling_eff"] = m["control.pool_docs_per_s"] / (cores * sub_docs / untraced)

    tracer = tracing.Tracer()
    with tracer:
        for s, fs in sub_files.items():
            with tracer.span(f"inproc.{s}"):
                zerospark.inproc_pass(workers[s], fs, clock=tracer)
    traced_wall = tracer.roots_wall()
    m["trace.overhead"] = traced_wall / untraced - 1.0
    m.update(layer_metrics(tracer, sub_docs))
    details["layer_trace"] = {"sub_docs": sub_docs, "spark1_wall_s": spark1_wall,
                              "inproc_parts_s": parts, "traced_wall_s": traced_wall,
                              "self_sum_s": sum(tracer.self_times()),
                              "self_s": dict(tracer.self_by_prefix()),
                              "calls": dict(tracer.calls)}
    return m


def layer_metrics(tracer, docs: int) -> dict:
    """Per-doc layer figures from one traced in-process pass."""
    own = tracer.self_by_prefix()

    def ms(prefix: str) -> float:
        return sum(v for k, v in own.items()
                   if k == prefix or k.startswith(prefix + ".")) * 1000 / docs

    return {
        "extract.self_ms_per_doc": ms("extract"),
        "pdfparse.ms_per_doc": ms("pdfparse"),
        "pdfparse.decode_calls_per_doc": tracer.calls["pdfparse.decode"] / docs,
        "textops.ms_per_doc": ms("textops"),
        "textops.runs_per_doc": tracer.sizes["textops.interpret.runs"] / docs,
        "textops.font_decoders_per_doc": tracer.calls["textops.font"] / docs,
        "glyphs.ms_per_doc": ms("glyphs"),
        "glyphs.encoding_table_calls_per_doc": tracer.calls["glyphs.encoding_table"] / docs,
        "layout.lines.ms_per_doc": ms("layout.lines"),
        "layout.xycut.ms_per_doc": ms("layout.xycut"),
        "layout.boilerplate.ms_per_doc": ms("layout.boilerplate"),
        "layout.paragraphs.ms_per_doc": ms("layout.paragraphs"),
        "textrules.normalize.ms_per_doc": ms("textrules.normalize"),
        "textrules.repair.ms_per_doc": ms("textrules.repair"),
        "textrules.join.ms_per_doc": ms("textrules.join"),
        "textrules.series_calls_per_doc": (tracer.sizes["textrules.normalize.series"]
                                           + tracer.sizes["textrules.repair.series"]) / docs,
        "langid.ms_per_doc": ms("langid"),
        "langid.calls_per_doc": tracer.calls["langid"] / docs,
        "htmlextract.ms_per_doc": ms("htmlextract"),
        "htmlout.ms_per_doc": ms("htmlout"),
    }
