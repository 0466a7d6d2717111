"""P2 islink via /Annots Link rects + A2 modal-style restyle
(reference: poppler <a> tagging, PDFExtract.java:70,1459-1461; restyle
to doc modal style PDFExtract.java:783-785,822-826)."""

from pdf_extract_spark.operators.extract import extract_pdf
from pdf_extract_spark.sources.pdfparse import PDFDocument


def _pdf_with_link() -> bytes:
    s1 = b"BT /F1 12 Tf 72 700 Td (Line one) Tj 0 -14 Td (Line two) Tj ET"
    s2 = b"BT /F2 12 Tf 72 650 Td (Link text) Tj ET"
    stream = s1 + b"\n" + s2
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
        b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R "
        b"/F2 6 0 R >> >> /MediaBox [0 0 612 792] /Contents 4 0 R "
        b"/Annots [ 7 0 R ] >>",
        b"<< /Length " + str(len(stream)).encode() + b" >>\nstream\n"
        + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /Name /F1 /BaseFont /Helvetica >>",
        b"<< /Type /Font /Subtype /Type1 /Name /F2 /BaseFont /Courier-Bold >>",
        b"<< /Type /Annot /Subtype /Link /Rect [70 645 220 665] "
        b"/A << /S /URI /URI (https://example.org) >> >>",
    ]
    buf = bytearray(b"%PDF-1.4\n")
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


def test_link_rects_parsed():
    doc = PDFDocument(_pdf_with_link())
    pages = doc.pages()
    assert pages[0].link_rects == [(70.0, 645.0, 220.0, 665.0)]


def test_islink_marked_and_restyled_to_modal():
    res = extract_pdf(_pdf_with_link())
    assert res.error is None
    by_text = {ln.text: ln for ln in res.lines}
    assert not by_text["Line one"].islink
    assert not by_text["Line two"].islink
    link = by_text["Link text"]
    assert link.islink
    # A2: modal style (Helvetica, 2 of 3 lines) replaces the link's
    # Courier-Bold
    assert link.family == "Helvetica"
    assert link.weight == "normal"
    # span text itself is untouched
    texts = [t for k, t, _, _ in res.spans if k == "text"]
    assert "Link text" in texts
