"""Output checks, run outside the timed window.

* spans sink: per doc, the span sequence (kind, text, media_ref in offset
  order) plus ``lang`` and ``error`` must equal the zero-Spark pass;
* HTML sink: per doc, ``html`` and ``error`` must equal it;
* registry queries: the answer must have exactly the rows of the
  query's DuckDB oracle.

A doc fails when it is missing, duplicated, differs from the reference
or carries an error.
"""

from __future__ import annotations

from collections import Counter


def read_rows(path: str) -> list[dict]:
    """Rows of a committed parquet table or query answer."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def spans_key(row: dict) -> tuple:
    spans = sorted(row["spans"] or [], key=lambda s: s["offset"])
    seq = tuple((s["kind"], s["text"], s["media_ref"]) for s in spans)
    return seq, row["lang"] or "", row["error"]


def html_key(row: dict) -> tuple:
    return row["html"], row["error"]


def doc_failures(rows: list[dict], reference: dict[str, tuple], key) -> dict:
    """Compare output rows with ``reference`` (doc_id → key).

    Returns counts: ``failed`` docs of the reference, and ``unexpected``
    rows whose doc_id the input never had."""
    seen = Counter(r["doc_id"] for r in rows)
    by_id = {r["doc_id"]: r for r in rows}
    failed = 0
    for doc_id, want in reference.items():
        row = by_id.get(doc_id)
        if (row is None or seen[doc_id] != 1 or row["error"] is not None
                or key(row) != want):
            failed += 1
    unexpected = sum(n for d, n in seen.items() if d not in reference)
    return {"failed": failed, "unexpected": unexpected}


# -- query outputs ----------------------------------------------------------

def _cell(v) -> str:
    if isinstance(v, float):
        return f"{v:.9g}"
    return repr(v)


def frame_key(rows: list[dict]) -> tuple:
    """(column names, sorted rows) of a query result: row order and
    column order are not part of a query's answer, and floats compare
    to nine significant digits (two engines fold sums differently)."""
    cols = sorted(rows[0]) if rows else []
    return cols, sorted(tuple(_cell(r[c]) for c in cols) for r in rows)


def same_answer(got: list[dict], want: list[dict]) -> bool:
    """True when ``got`` has exactly the rows of ``want``. An empty
    answer matches only an empty answer."""
    return len(got) == len(want) and frame_key(got) == frame_key(want)


def oracle_rows(sql: str, documents: str) -> list[dict]:
    """Rows of a DuckDB oracle over one ``documents`` parquet file."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"create view documents as select * from read_parquet('{documents}')")
        return con.sql(sql).arrow().to_pylist()
    finally:
        con.close()
