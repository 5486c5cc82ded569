"""Archive container extraction: zip / tar(.gz) / gzip member recursion.

The reference feeds every upload through Tika's AutoDetectParser, whose
RecursiveParserWrapper unpacks archive containers and runs detection on
each entry (GeoParser hands the bytes to Tika at
/root/reference/geoparser_app/views.py:125 and indexes whatever text
comes back).  This module is the Spark-side equivalent: an archive
payload becomes an ordered span stream by walking its entries in
container order, mapping each entry's filename suffix to a span kind,
and dispatching the entry's raw bytes through the SAME guarded call the
top-level spans use (extract.extract_span), so a `.docx` inside a
`.zip` produces exactly the spans it would produce as a standalone
document.

Contracts:
  * degrade: this module only walks; every entry — a nested archive
    included — is dispatched through extract.extract_span, the one
    degrade boundary, so a damaged entry yields ``[]`` alone and its
    siblings keep their spans; a member whose own read fails (an
    encrypted or bad-CRC zip entry, a truncated tar body) is dropped
    alone; a tar stream cut short inside a member keeps the members
    read before the cut; a container that cannot be opened or walked
    at all degrades to ``[]`` at that boundary;
  * deterministic: entries are walked in the container's own order
    (zip central-directory order, tar stream order), which is part of
    the file's bytes, never filesystem or hash order;
  * bomb-guarded: per-member and total decompressed-byte caps, an
    entry-count cap, and a nesting-depth cap (an archive inside an
    archive recurses once; deeper nesting degrades to nothing for the
    inner payload, not an error).

Everything here is stdlib (zipfile/tarfile/gzip over BytesIO); it runs
inside the Arrow-batched extract kernel, so per-payload Python is the
job, not overhead.
"""
from __future__ import annotations

import gzip
import io
import logging
import tarfile
import zipfile
import zlib

_log = logging.getLogger(__name__)

#: guards — sized so a hostile archive cannot blow an Arrow task's heap
MAX_ENTRIES = 512          # entries walked per archive (incl. nested)
MAX_MEMBER_BYTES = 32 << 20   # one decompressed member
MAX_TOTAL_BYTES = 128 << 20   # sum of decompressed members per payload
MAX_DEPTH = 2              # archive-in-archive recurses once

# Entry-name suffix → span kind of extract._SPAN_EXTRACTORS (the Tika
# auto-detect role at the archive-member level); matched
# case-insensitively, and ``.tar.gz`` is checked before ``.gz``.  An
# unknown suffix is text passthrough, like the top-level dispatch's
# unknown-kind branch.
_SUFFIX_KINDS: dict = {
    ".html": "html", ".htm": "html",
    ".md": "markdown", ".markdown": "markdown",
    ".xml": "xml", ".csv": "csv", ".rtf": "rtf", ".eml": "eml",
    ".txt": "text", ".text": "text",
    ".pdf": "pdf_bytes",
    ".docx": "docx_bytes", ".doc": "doc_bytes",
    ".pptx": "pptx_bytes", ".ppt": "ppt_bytes",
    ".xlsx": "xlsx_bytes", ".xls": "xls_bytes",
    ".epub": "epub_bytes", ".odt": "odt_bytes",
    ".png": "image_bytes", ".gif": "image_bytes", ".jpg": "image_bytes",
    ".jpeg": "image_bytes", ".bmp": "image_bytes", ".tif": "image_bytes",
    ".tiff": "image_bytes",
    ".wav": "audio_bytes", ".flac": "audio_bytes", ".mp3": "audio_bytes",
    ".mp4": "video_bytes", ".m4v": "video_bytes", ".mov": "video_bytes",
    ".zip": "zip_bytes", ".tar": "tar_bytes", ".tgz": "tar_bytes",
    ".gz": "gz_bytes",
}

_ARCHIVE_KINDS = frozenset({"zip_bytes", "tar_bytes", "gz_bytes"})


class _Budget:
    """Mutable walk budget shared across nesting levels."""

    __slots__ = ("entries", "out_bytes")

    def __init__(self) -> None:
        self.entries = 0
        self.out_bytes = 0

    def admit(self, n_bytes: int) -> bool:
        if self.entries >= MAX_ENTRIES:
            return False
        if n_bytes > MAX_MEMBER_BYTES:
            return False
        if self.out_bytes + n_bytes > MAX_TOTAL_BYTES:
            return False
        self.entries += 1
        self.out_bytes += n_bytes
        return True


def _entry_kind(low: str) -> str:
    if low.endswith(".tar.gz"):
        return "tar_bytes"
    base = low.rsplit("/", 1)[-1]
    dot = base.rfind(".")
    return _SUFFIX_KINDS.get(base[dot:], "text") if dot >= 0 else "text"


def _entry_spans(name: str, raw: bytes, depth: int,
                 budget: _Budget) -> list[tuple]:
    from geoparser_spark.operators.extract import extract_span

    low = name.lower().rstrip("/")
    kind = _entry_kind(low)
    if kind not in _ARCHIVE_KINDS:
        return extract_span(kind, raw)
    if depth + 1 >= MAX_DEPTH:  # depth = current archive's level
        return []
    if kind == "gz_bytes":
        return extract_span(kind, raw, depth + 1, budget, low)
    return extract_span(kind, raw, depth + 1, budget)


def zip_spans(raw: bytes, depth: int = 0,
              budget: _Budget | None = None) -> list[tuple]:
    """ZIP container → ordered spans of its extracted entries."""
    budget = budget or _Budget()
    out: list[tuple] = []
    with zipfile.ZipFile(io.BytesIO(raw)) as zf:
        for info in zf.infolist():  # central-directory order
            if info.is_dir():
                continue
            if not budget.admit(info.file_size):
                continue
            try:
                with zf.open(info) as f:
                    # cap the actual read too — file_size is attacker data
                    member = f.read(MAX_MEMBER_BYTES + 1)
            except Exception:  # encrypted, bad CRC, unknown method
                _log.debug("zip member %r dropped", info.filename, exc_info=True)
                continue
            if len(member) > MAX_MEMBER_BYTES:
                continue
            out.extend(_entry_spans(info.filename, member, depth, budget))
    return out


def _tar_members(tf: tarfile.TarFile):
    """``tf``'s members in stream order.  A stream cut short ends the
    walk at its first unreadable header: the members before it stand."""
    members = iter(tf)
    while True:
        try:
            member = next(members)
        except StopIteration:
            return
        except (tarfile.ReadError, EOFError, zlib.error):
            _log.debug("tar stream ends early", exc_info=True)
            return
        yield member


def tar_spans(raw: bytes, depth: int = 0,
              budget: _Budget | None = None) -> list[tuple]:
    """tar / tar.gz container → ordered spans (mode ``r:*`` sniffs)."""
    budget = budget or _Budget()
    out: list[tuple] = []
    with tarfile.open(fileobj=io.BytesIO(raw), mode="r:*") as tf:
        for member in _tar_members(tf):
            if not member.isfile():
                continue
            if not budget.admit(member.size):
                continue
            try:
                f = tf.extractfile(member)
                if f is None:
                    continue
                data = f.read(MAX_MEMBER_BYTES + 1)
            except Exception:  # truncated or corrupt member body
                _log.debug("tar member %r dropped", member.name, exc_info=True)
                continue
            if len(data) > MAX_MEMBER_BYTES:
                continue
            out.extend(_entry_spans(member.name, data, depth, budget))
    return out


def gz_spans(raw: bytes, depth: int = 0, budget: _Budget | None = None,
             name: str = "") -> list[tuple]:
    """Single-member gzip → spans of the decompressed member.

    gzip carries no index: the member is dispatched by the container's
    own entry name minus ``.gz`` (``page.html.gz`` → html) when it sits
    inside an archive, as text otherwise.  A gzipped tar should arrive
    as kind ``tar_bytes`` instead — the tar opener sniffs compression
    itself.
    """
    budget = budget or _Budget()
    # bounded decompress: a .gz bomb stops at the member cap
    with gzip.GzipFile(fileobj=io.BytesIO(raw)) as gf:
        data = gf.read(MAX_MEMBER_BYTES + 1)
    if len(data) > MAX_MEMBER_BYTES or not budget.admit(len(data)):
        return []
    return _entry_spans(name[:-3], data, depth, budget)
