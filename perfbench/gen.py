"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, doc index): the seed
picks the words, the doc index fixes the amount of work (page counts,
paragraph counts, heavy-doc positions, planted-duplicate positions), so
two seeds cost about the same to process. Nothing here reads test fixtures or
data outside the generator itself.

PDFs are written from scratch and cover what each layer parses:

* three simple fonts, one per base encoding: Helvetica with
  /WinAnsiEncoding, Times-Roman with /MacRomanEncoding and Courier with
  no /Encoding (the StandardEncoding default), each showing accented
  words or quotes through its own code table;
* ``Tj`` lines and ``TJ`` arrays with kerning inside words and
  word-space kerns between them;
* hyphenated line ends, paragraph gaps larger than the line leading;
* heavy docs: 120 two-column pages, Flate-compressed content streams, a
  running header, a running footer and a page number on every page.

``cached_inputs`` writes a workload's tables once per (workload, seed,
shape) under a key that includes this file's digest, so a generator
change can never be served a stale cache.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
import shutil
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

with open(__file__, "rb") as _fh:
    GEN_DIGEST = hashlib.sha256(_fh.read()).hexdigest()[:16]

# ---------------------------------------------------------------------------
# vocabularies
# ---------------------------------------------------------------------------

_LANG_WORDS = {
    "en": "the of and to in is that for it with as was on be by this are "
          "from at which have not but an all were they one their there "
          "research results between during measurement structure "
          "important development different information general "
          "conditions following experiment university especially "
          "population available published considered".split(),
    "fr": "le la les de des et en un une est dans pour que qui sur pas "
          "plus avec par ce sont été élève première deuxième très "
          "développement différentes informations générale conditions "
          "expérience université particulièrement population disponible "
          "publiée considérée société économie".split(),
    "de": "der die und in den von zu das mit sich des auf für ist im "
          "dem nicht ein eine als auch es an werden aus über größere "
          "für müssen Forschung Ergebnisse zwischen während Messung "
          "Struktur wichtige Entwicklung unterschiedliche Bevölkerung "
          "verfügbar veröffentlicht Universität".split(),
    "es": "el la de que y en los del se las por un para con no una su "
          "al es lo como más pero sus le ya año también investigación "
          "resultados entre durante medición estructura importante "
          "desarrollo información generales condiciones universidad "
          "población disponible publicación".split(),
}
_PDF_LANGS = ["en", "en", "fr", "de", "es"]

_HTML_WORDS = dict(_LANG_WORDS)
_HTML_WORDS.update({
    "ru": "и в не на что с по это как из он к она но для от то все так "
          "его за же бы вы было только мне исследование результаты "
          "между развитие информация университет население "
          "доступный опубликован общество экономика".split(),
    "pl": "i w nie na się z że do to jest o jak ale po co tak za od "
          "jego już dla być przez który badania wyniki między rozwój "
          "informacja uniwersytet ludność dostępny opublikowany "
          "społeczeństwo gospodarka".split(),
})
_HTML_LANGS = ["en", "fr", "de", "es", "ru", "pl"]

# StandardEncoding codes for the few non-ASCII characters the Courier
# font shows (PDF 32000-1 Annex D); everything else stays ASCII.
_STD_CODES = {"’": 0x27, "‘": 0x60, "“": 0xAA, "”": 0xBA, "—": 0xD0,
              "ﬁ": 0xAE, "ﬂ": 0xAF}
_ENCODINGS = [  # (font resource, BaseFont, /Encoding entry, encoder)
    ("F1", "Helvetica", "/Encoding /WinAnsiEncoding",
     lambda s: s.encode("cp1252", "replace")),
    ("F2", "Times-Roman", "/Encoding /MacRomanEncoding",
     lambda s: s.encode("mac_roman", "replace")),
    ("F3", "Courier", "",
     lambda s: bytes(_STD_CODES.get(c, ord(c) if ord(c) < 127 else 0x3F)
                     for c in s)),
]


def _pdf_str(raw: bytes) -> bytes:
    return (b"(" + raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(")
            .replace(b")", b"\\)") + b")")


def _sentence(rng: random.Random, words: list[str], n: int) -> str:
    s = " ".join(rng.choice(words) for _ in range(n))
    return s[0].upper() + s[1:] + "."


# ---------------------------------------------------------------------------
# PDF writer
# ---------------------------------------------------------------------------

def _wrap(text: str, width: int) -> list[str]:
    """Greedy line wrap; a long word at a line end is hyphenated so the
    repair stage has hyphenated line ends to rejoin."""
    lines: list[str] = []
    cur = ""
    for w in text.split():
        cand = f"{cur} {w}" if cur else w
        if len(cand) <= width:
            cur = cand
            continue
        room = width - len(cur) - 2
        if len(w) >= 8 and room >= 4:
            cut = min(room, len(w) - 3)
            lines.append(f"{cur} {w[:cut]}-" if cur else f"{w[:cut]}-")
            cur = w[cut:]
        else:
            lines.append(cur)
            cur = w
    if cur:
        lines.append(cur)
    return lines


def _show_op(rng: random.Random, line: str, encode, kerned: bool) -> bytes:
    """One text-showing operator: ``Tj`` or a kerned ``TJ`` array whose
    word gaps are kern-spaces and whose words carry small inner kerns."""
    if not kerned:
        return _pdf_str(encode(line)) + b" Tj"
    parts: list[bytes] = []
    for wi, word in enumerate(line.split(" ")):
        if wi:
            parts.append(b"-250")
        if len(word) > 3:
            k = rng.randint(1, len(word) - 2)
            parts += [_pdf_str(encode(word[:k])), str(rng.choice((-12, 8, 15))).encode(),
                      _pdf_str(encode(word[k:]))]
        else:
            parts.append(_pdf_str(encode(word)))
    return b"[" + b" ".join(parts) + b"] TJ"


def _column_ops(rng: random.Random, paras: list[str], x: float, y: float,
                width: int, font_cycle: int, y_min: float) -> list[bytes]:
    """Paragraph text set in one column from (x, y) downwards: 10 pt on a
    12 pt leading, a 10 pt extra gap between paragraphs."""
    ops: list[bytes] = []
    for pi, para in enumerate(paras):
        fres, _base, _enc, encode = _ENCODINGS[(font_cycle + pi) % 3]
        ops += [b"BT", f"/{fres} 10 Tf".encode(), f"{x:.1f} {y:.1f} Td".encode()]
        kerned = pi % 2 == 1
        for line in _wrap(para, width):
            if y < y_min:
                break
            ops.append(_show_op(rng, line, encode, kerned))
            ops.append(b"0 -12 Td")
            y -= 12
        ops.append(b"ET")
        y -= 10
        if y < y_min:
            break
    return ops


def write_pdf(pages: list[bytes], flate: bool) -> bytes:
    """Assemble a PDF from per-page content streams; three shared fonts."""
    n = len(pages)
    objs: list[bytes] = [b"<< /Type /Catalog /Pages 2 0 R >>"]
    page_ids = [6 + 2 * i for i in range(n)]
    kids = " ".join(f"{p} 0 R" for p in page_ids)
    objs.append(f"<< /Type /Pages /Count {n} /Kids [ {kids} ] >>".encode())
    for _res, base, enc, _fn in _ENCODINGS:
        objs.append(f"<< /Type /Font /Subtype /Type1 /BaseFont /{base} {enc} >>"
                    .encode())
    fonts = " ".join(f"/F{i + 1} {3 + i} 0 R" for i in range(3))
    for i, content in enumerate(pages):
        objs.append((f"<< /Type /Page /Parent 2 0 R /Resources << /Font << "
                     f"{fonts} >> >> /MediaBox [0 0 612 792] "
                     f"/Contents {page_ids[i] + 1} 0 R >>").encode())
        body = zlib.compress(content, 6) if flate else content
        filt = b" /Filter /FlateDecode" if flate else b""
        objs.append(b"<< /Length " + str(len(body)).encode() + filt
                    + b" >>\nstream\n" + body + b"\nendstream")
    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(buf)
    buf += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    return bytes(buf)


def small_pdf(rng: random.Random, idx: int) -> bytes:
    """1-3 single-column pages (page count from the doc index)."""
    words = _LANG_WORDS[_PDF_LANGS[idx % len(_PDF_LANGS)]]
    pages = []
    for p in range(1 + idx % 3):
        paras = [_sentence(rng, words, 18 + (idx + p + k) % 23)
                 for k in range(3 + (idx + p) % 3)]
        title = _sentence(rng, words, 4)[:-1]
        ops = [b"BT", b"/F1 16 Tf", b"72 730 Td", _show_op(rng, title, _ENCODINGS[0][3], False),
               b"ET"]
        ops += _column_ops(rng, paras, 72, 700, 85, idx + p, 60)
        pages.append(b"\n".join(ops))
    return write_pdf(pages, flate=idx % 2 == 1)


HEAVY_PAGES = 120


def heavy_pdf(rng: random.Random, idx: int) -> bytes:
    """A 120-page two-column Flate PDF with running header and footer."""
    words = _LANG_WORDS[_PDF_LANGS[idx % len(_PDF_LANGS)]]
    journal = f"Journal of Synthetic Studies, volume {1 + idx % 40}"
    pages = []
    for p in range(HEAVY_PAGES):
        ops = [b"BT", b"/F1 8 Tf", b"72 760 Td", _show_op(rng, journal, _ENCODINGS[0][3], False),
               b"ET"]
        for col, x in enumerate((56, 324)):
            paras = [_sentence(rng, words, 25 + (p + col + k) % 20) for k in range(5)]
            ops += _column_ops(rng, paras, x, 730, 34, p + col, 70)
        ops += [b"BT", b"/F1 8 Tf", b"72 40 Td",
                _show_op(rng, "Synthetic Studies Press, all rights reserved",
                         _ENCODINGS[0][3], False),
                b"ET", b"BT", b"/F1 9 Tf", b"300 24 Td",
                _pdf_str(str(p + 1).encode()) + b" Tj", b"ET"]
        pages.append(b"\n".join(ops))
    return write_pdf(pages, flate=True)


# ---------------------------------------------------------------------------
# interleaved document rows
# ---------------------------------------------------------------------------

def _span(spans: list, kind: str, text: str = "", media_ref: str = "") -> None:
    spans.append({"kind": kind, "text": text, "media_ref": media_ref,
                  "offset": len(spans)})


def pdf_doc(seed: int, idx: int, heavy_every: int = 0) -> dict:
    """Text, media and one pdf span; every ``heavy_every``-th doc (by
    index) carries a heavy PDF instead of a small one."""
    rng = random.Random(f"pdf/{seed}/{idx}")
    spans: list[dict] = []
    words = _LANG_WORDS[_PDF_LANGS[idx % len(_PDF_LANGS)]]
    for _ in range(idx % 3):
        _span(spans, "text", _sentence(rng, words, 6 + idx % 5))
    for k in range(idx % 4):
        _span(spans, "media", media_ref=f"img://gen/{idx}/{rng.randrange(10**6)}-{k}")
    heavy = heavy_every and idx % heavy_every == heavy_every // 2
    payload = heavy_pdf(rng, idx) if heavy else small_pdf(rng, idx)
    _span(spans, "pdf", base64.b64encode(payload).decode("ascii"))
    if idx % 2:
        _span(spans, "text", _sentence(rng, words, 5))
    return {"doc_id": f"doc{idx:07d}", "spans": spans}


def html_doc(seed: int, idx: int) -> dict:
    """One page of article text inside nav/sidebar/footer chrome with
    <img> tags, plus loose text spans."""
    rng = random.Random(f"html/{seed}/{idx}")
    lang = _HTML_LANGS[idx % len(_HTML_LANGS)]
    words = _HTML_WORDS[lang]
    nav = "".join(f'<li><a href="/s{k}">{_sentence(rng, words, 2)[:-1]}</a></li>'
                  for k in range(5))
    body = [f"<h1>{_sentence(rng, words, 6)[:-1]}</h1>"]
    for k in range(3 + idx % 6):
        body.append(f"<p>{_sentence(rng, words, 30 + (idx + k) % 50)} "
                    f"{_sentence(rng, words, 12)}</p>")
        if k % 2 == 0:
            body.append(f'<img src="https://cdn.example/{idx}/{k}.jpg" '
                        f'alt="{_sentence(rng, words, 3)[:-1]}">')
    page = (f'<html lang="{lang}"><head><title>{_sentence(rng, words, 4)}</title>'
            f'</head><body><nav><ul>{nav}</ul></nav>'
            f'<div class="sidebar"><p>{_sentence(rng, words, 9)}</p>'
            f'<a href="/subscribe">Subscribe</a></div>'
            f'<article>{"".join(body)}</article>'
            f'<footer><p>Copyright {2000 + idx % 25} example.org, all rights '
            f'reserved.</p><a href="/privacy">Privacy</a></footer></body></html>')
    spans: list[dict] = []
    if idx % 3 == 0:
        _span(spans, "text", _sentence(rng, words, 8))
    _span(spans, "html", page)
    if idx % 4 == 1:
        _span(spans, "text", _sentence(rng, words, 10))
    return {"doc_id": f"doc{idx:07d}", "spans": spans}


SPAN_ARROW = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
]))
DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPAN_ARROW)])


# ---------------------------------------------------------------------------
# on-disk inputs
# ---------------------------------------------------------------------------

def write_doc_files(path: str, rows_per_file: list[list[dict]]) -> None:
    """One parquet file per list: each file is one scan split."""
    os.makedirs(path, exist_ok=True)
    for k, rows in enumerate(rows_per_file):
        pq.write_table(pa.Table.from_pylist(rows, schema=DOC_SCHEMA),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def cached_inputs(cache_root: str, workload: str, seed: int, shape: dict,
                  build) -> str:
    """Directory holding ``build(dir)``'s output for (workload, seed,
    shape), built once; the key includes the generator digest."""
    shape_key = hashlib.sha256(json.dumps(shape, sort_keys=True).encode()).hexdigest()[:8]
    path = os.path.join(cache_root, f"{workload}-s{seed}-{GEN_DIGEST}-{shape_key}")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.rename(tmp, path)
    with open(done, "w") as fh:
        json.dump({"workload": workload, "seed": seed, "gen": GEN_DIGEST,
                   "shape": shape}, fh)
    return path


def build_extraction(path: str, seed: int, jobs: dict[str, tuple]) -> None:
    """Per sink (``jobs``: sink -> (files, docs per file, heavy doc every
    N)), equal-work input files under ``<sink>/docs/``."""
    for sink, (files, per_file, heavy_every) in jobs.items():
        def make(i: int) -> dict:
            return html_doc(seed, i) if sink == "html" else pdf_doc(seed, i, heavy_every)

        write_doc_files(os.path.join(path, sink, "docs"),
                        [[make(k * per_file + j) for j in range(per_file)]
                         for k in range(files)])


def build_curation(path: str, seed: int, docs: int, check_docs: int) -> None:
    """The timed ``documents`` table under ``full/`` and its first
    ``check_docs`` rows under ``check/``."""
    rows = curation_rows(seed, docs)
    write_documents(os.path.join(path, "full"), rows)
    write_documents(os.path.join(path, "check"), rows[:check_docs])


# ---------------------------------------------------------------------------
# curation table
# ---------------------------------------------------------------------------

CURATION_SOURCES = 8
_ASCII_WORDS = {lang: [w for w in words if w.isascii()]
                for lang, words in _LANG_WORDS.items()}
DOC_TABLE_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                              ("lang", pa.string()), ("source", pa.string()),
                              ("n_chars", pa.int64())])


def curation_rows(seed: int, n: int) -> list[dict]:
    """``n`` documents of 40-200 ASCII words with planted duplicates.

    The text is ASCII, like the registry's own ``documents`` table: the
    SQL oracles hash characters with ``ascii()``. Positions follow the
    doc index: within every block of 16 docs, doc 1 repeats doc 0
    exactly, docs 2 and 3 are near duplicates of doc 0 (one and two words
    replaced), and doc 5 repeats doc 4, so no duplicate cluster has more
    than four members."""
    rows: list[dict] = []
    langs = list(_ASCII_WORDS)
    for i in range(n):
        rng = random.Random(f"doc/{seed}/{i}")
        lang = langs[i % len(langs)]
        words = _ASCII_WORDS[lang]
        k = i % 16
        if k in (1, 2, 3, 5):
            base = rows[i - (1 if k == 5 else k)]["text"].split(" ")
            for _ in range(k - 1 if k in (2, 3) else 0):
                pos = rng.randrange(len(base))
                base[pos] = rng.choice([w for w in words if w != base[pos]])
            text = " ".join(base)
        else:
            text = " ".join(rng.choice(words) for _ in range(40 + (i * 37) % 161))
        rows.append({"doc_id": i, "text": text, "lang": lang,
                     "source": f"src{i % CURATION_SOURCES}", "n_chars": len(text)})
    return rows


def write_documents(path: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=DOC_TABLE_SCHEMA),
                   os.path.join(path, "documents.parquet"))
