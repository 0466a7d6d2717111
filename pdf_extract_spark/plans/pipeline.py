"""End-to-end Spark extraction job over interleaved-document tables.

Input/output table shape (BASELINE.json input_hint):
    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

``kind='pdf'`` spans carry base64 PDF bytes in ``text`` (or a ``file://``
pointer in ``media_ref``); ``kind='html'`` spans go through the DOM
main-content strip; ``kind='text'`` spans pass through normalize/repair;
``kind='media'`` spans pass through in order.

One document path, two sinks: ``assemble_document`` turns a document's
spans into a :class:`DocModel`, and ``extract_spans`` / ``extract_html``
are two renderers over it, so both sinks give the same language, error
and warnings for the same document.

Scale design:
  * All per-document compute runs inside ONE ``mapInPandas`` pass — a
    narrow transformation with ZERO shuffles on the extraction path. Docs
    parallelize across partitions; Catalyst prunes the two input columns.
  * Parallelism comes from scan granularity. ``run_pipeline`` passes its
    input through ``runtime.ensure_parallel_scan``, which repartitions
    only a scan narrower than the cluster (e.g. a single-file input), so
    every core gets work without a user-set partition count.
    ``arrow.maxRecordsPerBatch`` bounds batch memory so one giant doc
    can't OOM an Arrow batch.
  * Resume: output snapshot + per-partition lineage rows; a resumed run
    left-anti-joins the input against the committed output's doc_ids —
    a broadcast-able join at per-run failure scales.
"""

from __future__ import annotations

import base64
import functools
import time
import uuid
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", IntegerType()),
        ]
    )
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", SPAN_TYPE),
        StructField("lang", StringType()),
        StructField(
            "lang_dist",
            ArrayType(
                StructType(
                    [
                        StructField("lang", StringType()),
                        StructField("percent", DoubleType()),
                        StructField("rows", IntegerType()),
                    ]
                )
            ),
        ),
        StructField(
            "warnings",
            ArrayType(
                StructType(
                    [
                        StructField("method", StringType()),
                        StructField("detail", StringType()),
                        StructField("suggestion", StringType()),
                    ]
                )
            ),
        ),
        StructField("error", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("n_lines", IntegerType()),
        StructField("n_media", IntegerType()),
        StructField("extract_ms", LongType()),
        # S6 permissions probe (reference AccessPermission,
        # HTMLObject.java:87-98) — null for unencrypted docs
        StructField(
            "permission",
            StructType(
                [
                    StructField("is_encrypted", BooleanType()),
                    StructField("can_assembly", BooleanType()),
                    StructField("can_copy", BooleanType()),
                    StructField("can_print", BooleanType()),
                    StructField("can_print_degraded", BooleanType()),
                    StructField("can_modified", BooleanType()),
                    StructField("can_modify_annotations", BooleanType()),
                    StructField("can_fill_in_form", BooleanType()),
                    StructField("can_screen_reader", BooleanType()),
                ]
            ),
        ),
    ]
)

_RULESET_CACHE: dict[str, Any] = {}
_SCORER_CACHE: dict[str, Any] = {}


def _get_ruleset(config: dict | None):
    """Compile the broadcast rule config once per executor process.

    Cache key is a content digest, not ``id(config)``: a long-lived
    executor Python worker serves many jobs, and after one job's config
    dict is garbage-collected a different config can land at the same
    object id and would silently receive the stale compiled ruleset."""
    import hashlib
    import json

    from ..functions.textrules import RuleSet

    key = (
        hashlib.sha256(
            json.dumps(config, sort_keys=True, default=str).encode()
        ).hexdigest()
        if config is not None else ""
    )
    rs = _RULESET_CACHE.get(key)
    if rs is None:
        rs = RuleSet(config)
        _RULESET_CACHE[key] = rs
    return rs


def _get_scorer(sj_model, sj_threshold: float | None):
    """Resolve the W4 sentence-join scorer once per executor process —
    the Spark analogue of the reference's lazily-started, per-language
    shared worker (PDFExtract.java:1723-1754): an ARPA prefix path is
    parsed once per Python worker and cached; a scorer object (small
    model) rides the task closure. Returns None when no model is
    configured, or the string ``"missing"`` when a path was given but
    unreadable (degrades to a per-doc warning, the reference's
    model-missing behavior at PDFExtract.java:1299-1324)."""
    if sj_model is None:
        return None
    if not isinstance(sj_model, str):
        if sj_threshold is not None:
            sj_model.threshold = sj_threshold
        return sj_model
    key = f"{sj_model}|{sj_threshold}"
    sc = _SCORER_CACHE.get(key)
    if sc is None:
        from ..functions.sentencejoin import SentenceJoinScorer

        try:
            # .blm binary (fast executor load) or ARPA prefix; load()
            # applies an explicit threshold, keeps the model's otherwise
            sc = SentenceJoinScorer.load(sj_model, sj_threshold)
        except (OSError, ValueError):
            sc = "missing"
        _SCORER_CACHE[key] = sc
    return sc


def _resolve_scorer(rules, sj_model, sj_threshold: float | None):
    """The W4 scorer for a job: ``sj_model`` if given, else the
    per-language models declared in the rule config
    (``sentencejoin_model``, Config.java:126) — the in-process form of
    the reference's one-worker-per-language cache (X2)."""
    scorer = _get_scorer(sj_model, sj_threshold)
    if scorer is None and getattr(rules, "sj_models", None):
        scorers: dict[str, Any] = {}
        any_missing = False
        for lang, prefix in rules.sj_models.items():
            sc = _get_scorer(prefix, sj_threshold)
            if sc == "missing":
                any_missing = True
            elif sc is not None:
                scorers[lang] = sc
        if scorers:
            scorer = scorers
        elif any_missing:
            scorer = "missing"
    return scorer


@dataclass
class DocModel:
    """Everything either sink renders for one document."""

    spans: list[tuple[str, str, str]] = field(default_factory=list)  # kind,text,media_ref
    # pdf lines (pagenos offset past earlier parts) plus one synthesized
    # line per html-tier block and per text span, each on its own page
    lines: list = field(default_factory=list)
    lang_counts: dict[str, int] = field(default_factory=dict)  # detected lines
    lang_attr: str = ""  # first declared <html lang>
    warnings: list[tuple[str, str, str]] = field(default_factory=list)  # method,detail,suggestion
    errors: list[str] = field(default_factory=list)  # per failed part, offset order
    permission: dict | None = None  # first non-null pdf part's
    n_pages: int = 0
    n_lines: int = 0
    n_media: int = 0

    def language(self) -> tuple[str, list[tuple[str, float, int]]]:
        """Majority over every part's detected lines; the declared
        ``<html lang>`` only when no line in the doc was detected."""
        from ..functions.langid import doc_language

        lang, dist = doc_language(self.lang_counts)
        return lang or self.lang_attr, dist

    @property
    def error(self) -> str | None:
        return "; ".join(self.errors) or None


def assemble_document(spans, rules, max_pages: int | None = None,
                      scorer=None, time_budget_s: float | None = None,
                      hooks: dict | None = None) -> DocModel:
    """The per-document path behind both sinks: every part in offset
    order, pdf parts through ``extract_pdf``, html parts through the
    DOM main-content strip, text parts through normalize/repair, media
    parts passed through."""
    from ..functions import langid
    from ..functions.htmlextract import parse_main
    from ..operators.extract import extract_pdf
    from ..operators.layout import Line, _collapse_ws

    doc = DocModel()
    if scorer == "missing":
        # model path configured but unreadable — reference degrades to a
        # warning and skips the stage (PDFExtract.java:1299-1324)
        doc.warnings.append(("sentencejoin", "model not found",
                             "check sentence-join model prefix path"))
        scorer = None
    counts = doc.lang_counts
    page_base = 0

    def clean(text: str | None) -> str:
        return rules.repair_str(rules.normalize_str(_collapse_ws(text or ""))).strip()

    def add_line(txt: str, para: int, lang: str = "") -> None:
        doc.spans.append(("text", txt, ""))
        doc.lines.append(Line(
            page_base, 0.0, float(para), 1.0, float(para) + 0.5, 12.0, "", "",
            "normal", "normal", "#000000", txt, 0, block=para, para=para, lang=lang,
        ))

    for span in sorted(spans if spans is not None else [], key=lambda s: s["offset"]):
        kind = span["kind"]
        if kind == "pdf":
            pdf_bytes = _pdf_payload(span)
            if pdf_bytes is None:
                doc.errors.append("pdf: missing payload")
                doc.warnings.append(("payload", "no base64/text payload",
                                     "provide base64 body in text"))
                continue
            res = extract_pdf(pdf_bytes, rules, max_pages=max_pages, sj_scorer=scorer,
                              time_budget_s=time_budget_s, hooks=hooks)
            if res.error:
                doc.errors.append(res.error)
            if doc.permission is None:
                doc.permission = res.permission
            doc.warnings.extend(res.warnings)
            doc.spans.extend((k, t, m) for k, t, m, _ in res.spans)
            for ln in res.lines:
                ln.pageno += page_base
            doc.lines.extend(res.lines)
            page_base = max([page_base + res.n_pages] + [ln.pageno for ln in res.lines])
            for lang, _pct, c in res.lang_dist:
                counts[lang] = counts.get(lang, 0) + c
            doc.n_pages += res.n_pages
            doc.n_lines += res.n_lines
            doc.n_media += res.n_media
        elif kind == "html":
            # each main-content block is one paragraph on the part's own
            # page (an html doc has no page geometry)
            parsed = parse_main(span["text"] or "")
            doc.lang_attr = doc.lang_attr or parsed.lang_attr
            page_base += 1
            para = 0
            for k2, t2, m2 in parsed.out:
                if k2 == "media":
                    doc.spans.append(("media", "", m2))
                    doc.n_media += 1
                    continue
                txt = clean(t2)
                if not txt:
                    continue
                para += 1
                lang = langid.detect_reliable(txt) or ""
                if lang:
                    counts[lang] = counts.get(lang, 0) + 1
                add_line(txt, para, lang)
                doc.n_lines += 1
        elif kind == "text":
            txt = clean(span["text"])
            if txt:
                page_base += 1
                add_line(txt, 1)
        elif kind == "media":
            doc.spans.append(("media", "", span["media_ref"] or ""))
    return doc


def _doc_batches(
    batches: Iterator[pd.DataFrame], render: Callable, columns: list[str],
    config: dict | None, max_pages: int | None, sj_model=None,
    sj_threshold: float | None = None, time_budget_s: float | None = None,
    hooks: dict | None = None,
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker of both sinks: one output row per input
    document, ``render(doc_id, DocModel, extract_ms)``."""
    rules = _get_ruleset(config)
    scorer = _resolve_scorer(rules, sj_model, sj_threshold)
    for b in batches:
        rows = []
        for doc_id, spans in zip(b["doc_id"], b["spans"]):
            t0 = time.monotonic()
            doc = assemble_document(spans, rules, max_pages, scorer, time_budget_s, hooks)
            rows.append(render(str(doc_id), doc, int((time.monotonic() - t0) * 1000)))
        yield pd.DataFrame(rows, columns=columns)


def _spans_row(doc_id: str, doc: DocModel, extract_ms: int) -> dict:
    lang, dist = doc.language()
    return dict(
        doc_id=doc_id,
        spans=[{"kind": k, "text": t, "media_ref": m, "offset": i}
               for i, (k, t, m) in enumerate(doc.spans)],
        lang=lang,
        lang_dist=[{"lang": l, "percent": p, "rows": c} for l, p, c in dist],
        warnings=[{"method": m, "detail": d, "suggestion": s}
                  for m, d, s in doc.warnings],
        error=doc.error,
        n_pages=doc.n_pages,
        n_lines=doc.n_lines,
        n_media=doc.n_media,
        extract_ms=extract_ms,
        permission=doc.permission,
    )


def _pdf_payload(span) -> bytes | None:
    txt = span.get("text") if hasattr(span, "get") else span["text"]
    if txt:
        try:
            return base64.b64decode(txt, validate=False)
        except (ValueError, TypeError):
            return None
    ref = span.get("media_ref") if hasattr(span, "get") else span["media_ref"]
    if ref and ref.startswith("file://"):
        try:
            with open(ref[7:], "rb") as fh:
                return fh.read()
        except OSError:
            return None
    return None


def extract_spans(
    df: DataFrame,
    config: dict | None = None,
    max_pages: int | None = None,
    sj_model=None,
    sj_threshold: float | None = None,
    time_budget_s: float | None = None,
    hooks: dict | None = None,
) -> DataFrame:
    """The extraction operator: (doc_id, spans) → OUTPUT_SCHEMA, as a
    zero-shuffle narrow map.

    ``sj_model`` enables the W4 sentence-join stage: an ARPA model
    prefix (visible on executors, e.g. shipped with ``spark-submit
    --files``; loaded once per Python worker) or an in-memory
    ``SentenceJoinScorer``. ``time_budget_s`` is the X4 per-doc budget
    (oversized docs produce partial spans + a timeout warning instead of
    stalling a task); ``hooks`` are the §2.8 Python callables
    (closure-pickled to executors — keep them module-level functions,
    not lambdas over big state)."""
    columns = [f.name for f in OUTPUT_SCHEMA.fields]
    return df.select("doc_id", "spans").mapInPandas(
        lambda it: _doc_batches(it, _spans_row, columns, config, max_pages,
                                sj_model, sj_threshold, time_budget_s, hooks),
        schema=OUTPUT_SCHEMA,
    )


def extract_spans_mirror_dedup(df: DataFrame, **kwargs) -> DataFrame:
    """Mirror-aware extraction: web corpora carry many byte-identical
    documents (mirrors, re-crawls); extract each DISTINCT payload once
    and join the result back to every carrier doc_id.

    Plan: md5(payload) → dropDuplicates (one hash-agg shuffle of the
    payload) → the normal narrow extraction over distinct payloads →
    equi-join results back on the hash. Worth it when duplicate bytes
    dominate compute (heavy mirrored PDFs); for low-duplication corpora
    the two payload shuffles cost more than the saved extraction — this
    is why it is opt-in (BENCH.md §4: payload shuffles measured ~40%
    of extraction wall at sf0.1). Per-doc timing columns reflect the
    one real extraction, shared by its mirrors."""
    # coalesce: a null spans column must hash to a real key — md5(null)
    # is null, which never equi-joins, and the doc would silently vanish
    # where plain extract_spans emits an error row for it
    hashed = df.select("doc_id", "spans").withColumn(
        "payload_md5",
        F.md5(F.coalesce(F.to_json("spans"), F.lit("null"))),
    )
    reps = (
        hashed.select(F.col("payload_md5").alias("doc_id"), "spans")
        .dropDuplicates(["doc_id"])
    )
    extracted = extract_spans(reps, **kwargs).withColumnRenamed(
        "doc_id", "payload_md5"
    )
    out = hashed.select("doc_id", "payload_md5").join(
        extracted, "payload_md5"
    )
    return out.select(*[f.name for f in OUTPUT_SCHEMA.fields])


HTML_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("html", StringType()),
        StructField("error", StringType()),
    ]
)


def _html_row(doc_id: str, doc: DocModel, _extract_ms: int,
              keep_br: bool = False) -> dict:
    from ..functions.htmlout import render_document, render_error

    if doc.lines or not doc.errors:
        lang, dist = doc.language()
        html = render_document(doc.lines, lang, dist, doc.warnings,
                               keep_br=keep_br, permission=doc.permission)
    else:
        html = render_error(doc.error)
    return {"doc_id": doc_id, "html": html, "error": doc.error}


def extract_html(df: DataFrame, config: dict | None = None,
                 max_pages: int | None = None,
                 keep_br: bool = False) -> DataFrame:
    """S7 HTML sink: (doc_id, spans) → (doc_id, html, error) in the
    reference's alignment-optimized format — the same document path and
    narrow Arrow-batched shape as extract_spans. Media spans are dropped,
    matching the reference's image-less HTML output (PDFToHtml.java:52
    -i)."""
    render = functools.partial(_html_row, keep_br=keep_br)
    columns = [f.name for f in HTML_SCHEMA.fields]
    return df.select("doc_id", "spans").mapInPandas(
        lambda it: _doc_batches(it, render, columns, config, max_pages),
        schema=HTML_SCHEMA,
    )


LINEAGE_SCHEMA = [
    "run_id", "partition_id", "doc_ids_min", "doc_ids_max",
    "n_docs", "n_ok", "n_err", "wall_ms",
]


def lineage_frame(out: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage rows (FIXTURES.md §4): the resume surface."""
    return (
        out.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.min("doc_id").alias("doc_ids_min"),
            F.max("doc_id").alias("doc_ids_max"),
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("error").isNull(), 1)).alias("n_ok"),
            F.count(F.when(F.col("error").isNotNull(), 1)).alias("n_err"),
            F.sum("extract_ms").alias("wall_ms"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("committed_at", F.current_timestamp())
    )


def run_pipeline(
    spark: SparkSession,
    input_ref: str,
    output_ref: str,
    lineage_ref: str | None = None,
    config: dict | None = None,
    resume: bool = False,
    max_pages: int | None = None,
    sj_model: str | None = None,
    sj_threshold: float | None = None,
    time_budget_s: float | None = None,
    input_format: str = "table",
    dedup_mirrors: bool = False,
    input_asof: str | None = None,
) -> dict:
    """spark-submit entry: read → widen an under-split scan → (resume
    anti-join) → extract → commit.

    ``input_format="pdf-dir"`` reads a directory of raw PDF files (the
    reference's -I/-B modes); ``"warc"`` reads web-archive files,
    one pdf span per matching HTTP response (sources/warc.py).
    ``dedup_mirrors=True`` extracts each distinct payload once (see
    extract_spans_mirror_dedup). ``input_asof`` time-travels the table
    input to a committed snapshot (TableIO.read_asof) — reprocessing an
    exact historical corpus state. Returns a summary dict (docs in/out,
    run_id)."""
    from ..runtime import ensure_parallel_scan
    from ..sources.tableio import TableIO

    io = TableIO(spark)
    run_id = uuid.uuid4().hex
    if input_format == "pdf-dir":
        from ..sources.corpus import read_pdf_dir

        df = read_pdf_dir(spark, input_ref)
    elif input_format == "warc":
        from ..sources.warc import read_warc

        df = read_warc(spark, input_ref)
    else:
        df = (io.read_asof(input_ref, input_asof) if input_asof
              else io.read(input_ref))
    df = ensure_parallel_scan(spark, df)
    if resume and io.exists(output_ref):
        done = io.read(output_ref).select("doc_id")
        # no forced broadcast: on a resume late in a large run the
        # committed set approaches the full corpus, and a forced hint
        # bypasses AQE's size check — let AQE pick broadcast vs shuffle
        df = df.join(done, "doc_id", "left_anti")
    extract_fn = extract_spans_mirror_dedup if dedup_mirrors else extract_spans
    out = extract_fn(df, config=config, max_pages=max_pages,
                     sj_model=sj_model, sj_threshold=sj_threshold,
                     time_budget_s=time_budget_s)
    out = out.persist()
    n_out = out.count()
    # Write lineage BEFORE appending the output: on resume, `out` depends
    # on a read of output_ref (the anti-join), and appending to that path
    # invalidates/recaches every cached plan built on it — a lineage pass
    # run after the append recomputes against the just-committed output
    # and anti-joins away every row (observed: empty lineage on resumed
    # runs). Failure between the two writes only over-reports lineage;
    # resume correctness keys on committed OUTPUT doc_ids.
    lin = lineage_frame(out, run_id)
    io.write(lin, lineage_ref or output_ref.rstrip("/") + "_lineage",
             run_id=run_id, mode="append")
    io.write(out, output_ref, run_id=run_id, mode="append")
    out.unpersist()
    return {"run_id": run_id, "n_docs": n_out}
