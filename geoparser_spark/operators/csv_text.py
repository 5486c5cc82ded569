"""CSV/TSV text extraction: delimited rows → ordered text blocks.

Reference parity: Tika renders tabular text files as their cell text
in row order (/root/reference/geoparser_app/views.py:125 routes any
upload through auto-detect).  Contract here: one whitespace-normalized
block per non-empty row, cells joined with a single space; the
delimiter is tab if the first line contains more tabs than commas,
else comma (deterministic — no statistical sniffing); quoting and
embedded newlines follow the stdlib csv dialect.  Malformed input
degrades to plain-text-per-line (anything else degrades at the
dispatch boundary, extract.extract_span).
"""

from __future__ import annotations

import csv
import io


def _norm(s: str) -> str:
    return " ".join(s.split())


def extract_csv_text_blocks(s: str) -> list[str]:
    """Delimited text → ordered, whitespace-normalized row blocks."""
    if not s or not s.strip():
        return []
    first = s.split("\n", 1)[0]
    delim = "\t" if first.count("\t") > first.count(",") else ","
    out: list[str] = []
    try:
        for row in csv.reader(io.StringIO(s), delimiter=delim):
            b = _norm(" ".join(c for c in row if c))
            if b:
                out.append(b)
    except csv.Error:
        out = [_norm(line) for line in s.splitlines() if _norm(line)]
    return out


def make_mini_csv(rows: list[list[str]], delimiter: str = ",") -> str:
    """Fixture writer: rows → a delimited document (stdlib csv quoting,
    independent of the reader path above which goes through csv.reader
    on the full dialect)."""
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=delimiter, lineterminator="\n")
    for r in rows:
        w.writerow(r)
    return buf.getvalue()
