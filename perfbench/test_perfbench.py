"""Tests of the benchmark's own parts: no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import base64
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import sparkside  # noqa: E402
import tracing  # noqa: E402
import zerospark  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


# -- generator --------------------------------------------------------------

def test_inputs_are_byte_identical_per_seed(tmp_path):
    for k in range(2):
        gen.build_extraction(str(tmp_path / f"x{k}"), 7, {"spans": (2, 64, 64),
                                                        "html": (1, 8, 0)})
        gen.build_curation(str(tmp_path / f"c{k}"), 7, 64, 32)
    assert _files(str(tmp_path / "x0")) == _files(str(tmp_path / "x1"))
    assert _files(str(tmp_path / "c0")) == _files(str(tmp_path / "c1"))


def test_seed_changes_content_not_work():
    a = [gen.pdf_doc(1, i, 64) for i in range(64)]
    b = [gen.pdf_doc(2, i, 64) for i in range(64)]
    assert a != b

    def pages(doc):
        pdf = base64.b64decode(next(s["text"] for s in doc["spans"] if s["kind"] == "pdf"))
        return pdf.count(b"/Type /Page ")

    assert [pages(d) for d in a] == [pages(d) for d in b]
    assert [pages(d) for d in a].count(gen.HEAVY_PAGES) == 1
    assert [len(d["spans"]) for d in a] == [len(d["spans"]) for d in b]


def test_curation_table_plants_bounded_duplicates():
    rows = gen.curation_rows(3, 64)
    texts = [r["text"] for r in rows]
    assert all(t.isascii() for t in texts)
    assert texts[1] == texts[0] and texts[5] == texts[4]
    assert texts[2] != texts[0] and len(texts[2].split()) == len(texts[0].split())
    assert len(set(texts)) == 64 - 2 * 4  # two exact copies per block of 16


# -- tracing ----------------------------------------------------------------

@pytest.fixture(scope="module")
def traced_pass(tmp_path_factory):
    root = tmp_path_factory.mktemp("trace")
    gen.build_extraction(str(root), 5, {"spans": (1, 64, 64)})
    files = zerospark.input_files(str(root / "spans" / "docs"))
    worker = zerospark.capture_worker("spans")
    runs = []
    for _ in range(2):
        tracer = tracing.Tracer()
        with tracer:
            with tracer.span("inproc"):
                out, _ = zerospark.inproc_pass(worker, files, clock=tracer)
        runs.append((tracer, out))
    return runs


def test_traced_self_times_sum_to_traced_wall(traced_pass):
    tracer, out = traced_pass[0]
    assert out.num_rows == 64
    assert tracer.calls["extract"] == 64 and tracer.calls["pdfparse.decode"] > 0
    assert sum(tracer.self_times()) == pytest.approx(tracer.roots_wall(), rel=1e-9)
    assert min(tracer.self_times()) >= -1e-6


def test_traced_counts_repeat_exactly(traced_pass):
    (a, _), (b, _) = traced_pass
    assert a.calls == b.calls and a.sizes == b.sizes


def test_tracer_puts_the_originals_back():
    from pdf_extract_spark.operators import layout

    orig = layout.xy_cut_leaves
    with tracing.Tracer():
        assert layout.xy_cut_leaves is not orig
    assert layout.xy_cut_leaves is orig


# -- output checks ----------------------------------------------------------

def test_doc_check_counts_planted_mismatches():
    rows = [{"doc_id": f"d{i}", "html": f"<p>{i}</p>", "error": None} for i in range(4)]
    reference = {r["doc_id"]: checks.html_key(r) for r in rows}
    assert checks.doc_failures(rows, reference, checks.html_key) == {
        "failed": 0, "unexpected": 0}
    bad = [dict(rows[0], html="<p>x</p>"), rows[1], rows[1], dict(rows[3], error="boom"),
           {"doc_id": "zz", "html": "", "error": None}]
    # d0 differs, d1 is duplicated, d2 is missing, d3 carries an error
    assert checks.doc_failures(bad, reference, checks.html_key) == {
        "failed": 4, "unexpected": 1}


def test_oracle_check_catches_a_planted_mismatch(tmp_path):
    from pdf_extract_spark.queries import ORACLES

    gen.build_curation(str(tmp_path), 9, 48, 16)
    documents = str(tmp_path / "full" / "documents.parquet")
    want = checks.oracle_rows(ORACLES["text_quality"], documents)
    assert len(want) == pq.ParquetFile(documents).metadata.num_rows
    assert checks.same_answer(list(reversed(want)), want)
    col = next(k for k, v in want[0].items() if isinstance(v, float))
    planted = [dict(want[0], **{col: want[0][col] + 1.0})] + want[1:]
    assert not checks.same_answer(planted, want)
    assert not checks.same_answer(want[1:], want)
    assert not checks.same_answer(want + want[:1], want)


# -- process lifetime -------------------------------------------------------

def test_pool_leaves_no_process_behind():
    with zerospark.Pool(os.path.dirname(HERE), 1):
        pass
    zerospark.stop_tracker()
    assert sparkside.reap_descendants(os.getpid(), grace=5.0) == []
