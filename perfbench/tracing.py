"""In-memory span tracer that wraps the program's layer functions.

``Tracer.install`` replaces each target function where callers look it
up: the defining module's attribute, every ``pdf_extract_spark`` module
that imported the same object by name, or the class attribute for a
method. Each call records a span (name, start, end, parent) and bumps a
call counter; ``uninstall`` puts the originals back.

Self time is a span's duration minus its child spans; spans are
recorded on one thread, so children never overlap and the self times of
a root span's subtree sum to the root's duration.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from collections import Counter
from contextlib import contextmanager

# (module, attribute path, span name, result counter or None). Span
# names are "<layer>" or "<layer>.<part>"; counters record a size taken
# from the call's result.
TARGETS = [
    ("pdf_extract_spark.operators.extract", "extract_pdf", "extract", None),
    ("pdf_extract_spark.sources.pdfparse", "PDFDocument.__init__", "pdfparse.open", None),
    ("pdf_extract_spark.sources.pdfparse", "PDFDocument.pages", "pdfparse.pages", None),
    ("pdf_extract_spark.sources.pdfparse", "decode_stream", "pdfparse.decode", None),
    ("pdf_extract_spark.functions.textops", "interpret_page", "textops.interpret", "runs"),
    ("pdf_extract_spark.functions.textops", "FontDecoder.__init__", "textops.font", None),
    ("pdf_extract_spark.functions.glyphs", "base_encoding_table", "glyphs.encoding_table", None),
    ("pdf_extract_spark.functions.glyphs", "glyph_to_unicode", "glyphs.name", None),
    ("pdf_extract_spark.functions.glyphs", "default_width_for", "glyphs.width", None),
    ("pdf_extract_spark.operators.layout", "runs_to_lines", "layout.lines", None),
    ("pdf_extract_spark.operators.layout", "filter_offpage", "layout.lines", None),
    ("pdf_extract_spark.operators.layout", "xy_cut_leaves", "layout.xycut", None),
    ("pdf_extract_spark.operators.layout", "boilerplate_indices", "layout.boilerplate", None),
    ("pdf_extract_spark.operators.layout", "segment_paragraphs", "layout.paragraphs", None),
    ("pdf_extract_spark.functions.textrules", "RuleSet.normalize_series", "textrules.normalize", "series"),
    ("pdf_extract_spark.functions.textrules", "RuleSet.normalize_str", "textrules.normalize", None),
    ("pdf_extract_spark.functions.textrules", "RuleSet.repair_series", "textrules.repair", "series"),
    ("pdf_extract_spark.functions.textrules", "RuleSet.repair_str", "textrules.repair", None),
    ("pdf_extract_spark.functions.textrules", "RuleSet.join_char", "textrules.join", None),
    ("pdf_extract_spark.functions.textrules", "RuleSet.is_absolute_eof", "textrules.join", None),
    ("pdf_extract_spark.functions.langid", "detect_reliable", "langid", None),
    ("pdf_extract_spark.functions.htmlextract", "parse_main", "htmlextract", None),
    ("pdf_extract_spark.functions.htmlout", "render_document", "htmlout", None),
    ("pdf_extract_spark.functions.htmlout", "render_error", "htmlout", None),
    ("pdf_extract_spark.sources.tableio", "TableIO.write", "tableio.write", None),
]


def _result_size(kind: str, result) -> int:
    if kind == "runs":  # interpret_page -> (runs, medias)
        return len(result[0])
    return 1  # "series": one call


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent index]
        self.calls: Counter = Counter()
        self.sizes: Counter = Counter()
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), 0.0, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def _wrap(self, fn, name: str, size_kind: str | None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tracer.calls[name] += 1
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if size_kind is not None:
                tracer.sizes[f"{name}.{size_kind}"] += _result_size(size_kind, result)
            return result

        traced.__wrapped_by_tracer__ = True
        return traced

    # -- installing -----------------------------------------------------
    def install(self, targets=TARGETS) -> None:
        for mod_name, path, name, size_kind in targets:
            mod = importlib.import_module(mod_name)
            if "." in path:
                cls_name, attr = path.split(".")
                owner = getattr(mod, cls_name)
                orig = owner.__dict__[attr]
                self._set(owner, attr, self._wrap(orig, name, size_kind))
                continue
            orig = getattr(mod, path)
            new = self._wrap(orig, name, size_kind)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith("pdf_extract_spark"):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        self._set(m, attr, new)

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)
                           if not isinstance(owner, type) else owner.__dict__[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def __enter__(self):
        self.install()
        return self

    def __exit__(self, *exc):
        self.uninstall()
        return False

    # -- summaries ------------------------------------------------------
    def self_times(self) -> list[float]:
        """Self seconds per span: duration minus child durations."""
        own = [s[2] - s[1] for s in self.spans]
        for s in self.spans:
            if s[3] >= 0:
                own[s[3]] -= s[2] - s[1]
        return own

    def self_by_prefix(self) -> Counter:
        """Total self seconds per span name."""
        out: Counter = Counter()
        for s, own in zip(self.spans, self.self_times()):
            out[s[0]] += own
        return out

    def roots_wall(self) -> float:
        return sum(s[2] - s[1] for s in self.spans if s[3] < 0)
