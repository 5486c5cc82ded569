"""Damaged payloads degrade, never raise — for EVERY registered span kind.

Table-driven over ``extract._SPAN_EXTRACTORS``: a valid payload per
kind (the package's own fixture writers; stdlib zipfile/tarfile/gzip
for the archive kinds; literals for the plain-text kinds) is truncated
and bit-flipped, and each damaged copy runs through the production
dispatch, ``extract_doc_spans_cols``, between two plain-text siblings.
A kind registered without a payload here fails the table check.
"""
from __future__ import annotations

import base64
import gzip
import io
import random
import tarfile
import zipfile

import pytest

from geoparser_spark.operators.audio_meta import make_mini_mp3
from geoparser_spark.operators.biff_legacy import make_mini_ppt, make_mini_xls
from geoparser_spark.operators.csv_text import make_mini_csv
from geoparser_spark.operators.doc_legacy import make_mini_doc
from geoparser_spark.operators.email_text import make_mini_eml
from geoparser_spark.operators.extract import (
    _SPAN_EXTRACTORS,
    extract_doc_spans_cols,
)
from geoparser_spark.operators.image_meta import make_mini_png
from geoparser_spark.operators.markdown_text import make_mini_md
from geoparser_spark.operators.office_text import (
    make_mini_docx,
    make_mini_epub,
    make_mini_odt,
    make_mini_pptx,
    make_mini_xlsx,
)
from geoparser_spark.operators.pdf_text import make_mini_pdf
from geoparser_spark.operators.video_meta import make_mini_mp4
from geoparser_spark.operators.xml_text import make_mini_xml

_LINES = [f"Line {i} of the fuzz fixture names Paris and Lagos {i * i}"
          for i in range(40)]


def _zip(entries: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in entries:
            zf.writestr(name, data)
    return buf.getvalue()


def _tar_gz(entries: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for name, data in entries:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


_TEXT = "\n".join(_LINES).encode()
_HTML = ("<html><body><nav><a href='/'>home</a></nav>"
         + "".join(f"<p>{t}</p>" for t in _LINES[:12])
         + "<img src='map.png'></body></html>")

# kind → valid payload: bytes for ``*_bytes`` kinds, str otherwise
_PAYLOADS = {
    "text": "  ".join(_LINES[:8]),
    "html": _HTML,
    "rtf": ("{\\rtf1\\ansi{\\fonttbl{\\f0 Arial;}}\\f0 "
            + "\\par ".join(_LINES[:8]) + " caf\\'e9 \\u8364?}"),
    "eml": make_mini_eml("Fuzz subject", _LINES[:6], html_body=_HTML),
    "xml": make_mini_xml(_LINES[:8]),
    "csv": make_mini_csv([[t, str(i)] for i, t in enumerate(_LINES[:8])]),
    "markdown": make_mini_md("Fuzz", _LINES[:6], image_urls=["a.png"]),
    "pdf_bytes": make_mini_pdf([_LINES[:6], _LINES[6:12]], compress=True,
                               images=[(4, 3)]),
    "docx_bytes": make_mini_docx(_LINES[:12]),
    "doc_bytes": make_mini_doc(_LINES[:8]),
    "pptx_bytes": make_mini_pptx([_LINES[:6], _LINES[6:12]]),
    "xlsx_bytes": make_mini_xlsx([[t, str(i)] for i, t in enumerate(_LINES[:12])]),
    "xls_bytes": make_mini_xls([[t, str(i)] for i, t in enumerate(_LINES[:8])]),
    "ppt_bytes": make_mini_ppt([_LINES[:4], _LINES[4:8]]),
    "epub_bytes": make_mini_epub([_LINES[:6], _LINES[6:12]]),
    "odt_bytes": make_mini_odt(_LINES[:12]),
    "image_bytes": make_mini_png(16, 8, _LINES[:3]),
    "audio_bytes": make_mini_mp3(6, id3v2_texts=_LINES[:2],
                                 id3v1=("Title", "Artist", "Album", "Note")),
    "video_bytes": make_mini_mp4(64, 48, 1500, titles=_LINES[:2]),
    "zip_bytes": _zip([("a.txt", _TEXT), ("page.html", _HTML.encode()),
                       ("report.docx", make_mini_docx(_LINES[:6])),
                       ("inner.zip", _zip([("deep.txt", _TEXT)]))]),
    "tar_bytes": _tar_gz([("a.txt", _TEXT), ("page.html", _HTML.encode())]),
    "gz_bytes": gzip.compress(_TEXT * 4),
}

N_TRUNCATIONS = 40
N_FLIPS = 80


def _damaged(raw: bytes, seed: int):
    """Deterministic truncations and 1-4-bit flips of ``raw``."""
    rng = random.Random(seed)
    for k in range(N_TRUNCATIONS):
        yield raw[: len(raw) * k // N_TRUNCATIONS]
    for _ in range(N_FLIPS):
        b = bytearray(raw)
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        yield bytes(b)


def test_every_registered_kind_has_a_fuzz_payload():
    assert sorted(_PAYLOADS) == sorted(_SPAN_EXTRACTORS)


@pytest.mark.parametrize("kind", sorted(_SPAN_EXTRACTORS))
def test_damaged_payload_degrades_never_raises(kind):
    valid = _PAYLOADS[kind]
    binary = kind.endswith("_bytes")
    raw = valid if binary else valid.encode()
    for n, bad in enumerate(_damaged(raw, seed=0)):
        payload = (base64.b64encode(bad).decode() if binary
                   else bad.decode("utf-8", errors="replace"))
        out = extract_doc_spans_cols(
            ["text", kind, "text"], ["before", payload, "after"],
            [None, None, None], [0, 1, 2], 0, 3)
        assert [o for *_, o in out] == list(range(len(out))), (kind, n)
        # the damaged span degrades alone: its siblings survive
        assert out[0] == ("text", "before", None, 0), (kind, n)
        assert out[-1][:3] == ("text", "after", None), (kind, n)
