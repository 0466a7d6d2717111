"""Metric catalogue: the workloads, what each run reports, and what each
layer metric is expected to move.

End-to-end metrics come from untraced runs (``--trace 0``); per-layer
metrics from a separate traced run (``--trace 1``). A per-layer metric
whose layer does no work on a workload (no query run on ``extraction``,
no PDF parsed on ``curation_suite``) reads 0 there.

``python3 perfbench/catalog.py`` prints the BENCHMARK.json this catalogue
describes.
"""

from __future__ import annotations

import json

RUN_SECONDS = 10
# set-up cycles per run: a cold start (JVM launch) and a context restart
# in the same JVM; setup_s is their median
SETUP_CYCLES = 2

# Every run starts its own Spark session and checks its own output,
# which costs ~25 s before anything is timed, and comparing two commits
# takes ~90 runs that must finish within an hour on a 4-vCPU box. So the
# two extraction sinks share one workload: each pass runs both, and the
# trace splits them by layer. The spans job is the heavy-tail case (page
# work and task skew; 63 in 64 of its docs are 1-3 page PDFs), the HTML
# job the case where the Spark-Python boundary is a large share.
WORKLOADS = {
    "extraction": "run_pipeline over 1-3 page PDFs with a 120-page Flate PDF every 64 "
                  "docs, then extract_html over multilingual web pages: both sinks",
    "curation_suite": "nine registry queries (dedup, text stats, BPE, media phash) "
                      "over a documents table large enough that operator work is "
                      "half of a pass or more",
}

# extraction jobs of one pass, in order: sink -> (input files, docs per
# file, heavy doc every N docs). Every spans file holds one heavy doc, so
# the files are equal work, three per core.
EXTRACTION = {
    "spans": (12, 64, 64),
    "html": (16, 64, 0),
}

# curation_suite: the timed query list, the table size, and the size of
# the table every query is also run on and checked against its DuckDB
# oracle (the oracles are too slow to replay at the timed size)
SUITE = ["dedup_exact", "dedup_sketch_pairs", "dedup_simhash", "text_quality",
         "text_gopher_quality", "text_unigram_surprisal", "text_decontaminate",
         "bpe_encode_stats", "media_phash_neardup"]
TABLE_DOCS = 8000
CHECK_DOCS = 256

END_TO_END = [
    # name, unit, better, bound
    ("docs_per_s", "docs/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("setup_s", "s", "lower", 0.25),
]

# "extraction:<sink>" names one job of the extraction pass; its wall is
# the per-layer metric job.<sink>.docs_per_s
_ALL = tuple(WORKLOADS)
_SPANS, _HTML_JOB = "extraction:spans", "extraction:html"
_BOTH = ("docs_per_s", (_HTML_JOB, _SPANS), ("curation_suite",))
_PDF = ("docs_per_s", (_SPANS,), (_HTML_JOB, "curation_suite"))
_HTML = ("docs_per_s", (_HTML_JOB,), (_SPANS, "curation_suite"))
_QUERY = ("docs_per_s", ("curation_suite",), ("extraction",))
_NONE = ("", (), ())


def _query_metrics() -> list[tuple]:
    out = [("q.dedup_sketch_pairs.first_s", "s", "lower", _NONE)]
    for q in SUITE:
        out += [(f"q.{q}.s", "s", "lower", _QUERY),
                (f"q.{q}.shuffle_bytes", "bytes", "lower", _QUERY),
                (f"q.{q}.spill_bytes", "bytes", "lower", _QUERY),
                (f"q.{q}.rows_out", "count", "higher", _NONE)]
    return out


# name, unit, better, (end-to-end metric it should move, workloads where
# it should move, workloads where it should not)
PER_LAYER = [
    ("job.spans.docs_per_s", "docs/s", "higher", _PDF),
    ("job.html.docs_per_s", "docs/s", "higher", _HTML),
    ("pipeline.spark1_docs_per_s", "docs/s", "higher", _BOTH),
    ("pipeline.inproc_docs_per_s", "docs/s", "higher", _BOTH),
    ("pipeline.boundary_share", "ratio", "lower", _BOTH),
    ("pipeline.arrow_to_pandas_ms_per_doc", "ms", "lower", _BOTH),
    ("pipeline.pandas_to_arrow_ms_per_doc", "ms", "lower", _BOTH),
    ("pipeline.batches_per_doc", "count", "lower", _BOTH),
    ("pipeline.glue_ms_per_doc", "ms", "lower", _BOTH),
    ("pipeline.straggler_ratio", "ratio", "lower", _PDF),
    ("pipeline.doc_ms_p50", "ms", "lower", _PDF),
    ("pipeline.doc_ms_p99", "ms", "lower", _PDF),
    ("pipeline.scaling_eff", "ratio", "higher", _PDF),
    ("control.pool_docs_per_s", "docs/s", "higher", _NONE),
    ("control.scaling_eff", "ratio", "higher", _NONE),
    ("extract.self_ms_per_doc", "ms", "lower", _PDF),
    ("pdfparse.ms_per_doc", "ms", "lower", _PDF),
    ("pdfparse.decode_calls_per_doc", "count", "lower", _PDF),
    ("textops.ms_per_doc", "ms", "lower", _PDF),
    ("textops.runs_per_doc", "count", "lower", _PDF),
    ("textops.font_decoders_per_doc", "count", "lower", _PDF),
    ("glyphs.ms_per_doc", "ms", "lower", _PDF),
    ("glyphs.encoding_table_calls_per_doc", "count", "lower", _PDF),
    ("layout.lines.ms_per_doc", "ms", "lower", _PDF),
    ("layout.xycut.ms_per_doc", "ms", "lower", _PDF),
    ("layout.boilerplate.ms_per_doc", "ms", "lower", _PDF),
    ("layout.paragraphs.ms_per_doc", "ms", "lower", _PDF),
    ("textrules.normalize.ms_per_doc", "ms", "lower", _BOTH),
    ("textrules.repair.ms_per_doc", "ms", "lower", _BOTH),
    ("textrules.join.ms_per_doc", "ms", "lower", _BOTH),
    ("textrules.series_calls_per_doc", "count", "lower", _BOTH),
    ("langid.ms_per_doc", "ms", "lower", _BOTH),
    ("langid.calls_per_doc", "count", "lower", _BOTH),
    ("htmlextract.ms_per_doc", "ms", "lower", _HTML),
    ("htmlout.ms_per_doc", "ms", "lower", _HTML),
    ("tableio.write_s", "s", "lower", _BOTH),
    ("tableio.bytes_per_doc", "bytes", "lower", _BOTH),
    ("jvm_rss_mb", "MB", "lower", ("peak_rss_mb", _ALL, ())),
    ("worker_rss_mb", "MB", "lower", ("peak_rss_mb", _ALL, ())),
    ("setup.session_s", "s", "lower", ("setup_s", _ALL, ())),
    ("setup.warm_s", "s", "lower", ("setup_s", _ALL, ())),
    *_query_metrics(),
    ("trace.overhead", "ratio", "lower", _NONE),
]


def benchmark_json() -> dict:
    """The BENCHMARK.json this catalogue describes."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b, _ in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
