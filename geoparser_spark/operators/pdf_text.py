"""PDF/layout byte-stream parse into ordered text blocks.

Replaces the reference's Tika PDF extraction hop (reference:
geoparser_app/views.py:125; Tika server built at Docker/Dockerfile:33-36)
for the subset of PDF this sandbox can exercise: content streams with
``BT ... ET`` text objects and ``Tj`` / ``TJ`` / ``'`` / ``"``
show-text operators over literal ``(...)`` AND hex ``<...>`` strings.
Compressed streams inflate via stdlib zlib when the stream dict says
``/FlateDecode``.  Documented degrades (a file this module cannot
parse at all degrades at the dispatch boundary, extract.extract_span):
  * unsupported filters (DCTDecode, LZW, ...) → stream contributes
    nothing;
  * CMap-encoded multi-byte text (Identity-H etc.): embedded
    ``/ToUnicode`` CMaps (bfchar + bfrange, PDF 32000-1 §9.10.3) are
    parsed and hex strings decode through them; codes the CMap does
    not cover are SKIPPED (never emitted garbled).  If the file says
    Identity-H but embeds no ToUnicode CMap, hex strings are glyph
    ids with no text meaning — skipped entirely.  Files with several
    differently-encoded fonts share one merged CMap (font-resource
    tracking per Tf operator is out of this subset);
  * block order is content-stream order, not page-tree order — PDFs
    whose page objects are serialized out of reading order (legal per
    the xref table) come back in file order.

Output contract: one text block per page content stream (BT..ET lines
of the stream joined with a single space), in stream order — matching
the ordered-text-blocks contract of SURVEY.md §2.2 E1(b).
"""

from __future__ import annotations

import re
import zlib

_STREAM_HDR_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.DOTALL)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)")
_ENDSTREAM_RE = re.compile(rb"\r?\nendstream")
_BT_RE = re.compile(rb"BT(.*?)ET", re.DOTALL)
# show-text operators over literal AND hex strings:
#   (string) Tj | (string) ' | aw ac (string) " | [(a) -120 <68>] TJ
#   <hexdigits> Tj / ' / "
_TJ_RE = re.compile(
    rb"(?:\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>)\s*(?:Tj|'|\")"
    rb"|\[(?:[^\]\\]|\\.)*\]\s*TJ",
    re.DOTALL,
)
_STR_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]*)>")

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(raw: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal escape \ddd
                j = i + 1
                while j < min(i + 4, len(raw)) and raw[j : j + 1].isdigit():
                    j += 1
                out.append(int(raw[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            i += 1
            continue
        out += c
        i += 1
    return bytes(out)


# ---------------------------------------------------- ToUnicode CMaps

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_RANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
    rb"(?:<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\])",
    re.DOTALL,
)
_HEX_ITEM_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _utf16be(hx: bytes) -> str:
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii")).decode("utf-16-be", "ignore")
    except ValueError:
        return ""


def _parse_tounicode(body: bytes, cmap: dict[bytes, str]) -> None:
    """Merge one ToUnicode CMap stream's bfchar/bfrange sections into
    ``cmap`` (src code bytes → unicode text, PDF 32000-1 §9.10.3).
    Destination hex is UTF-16BE; a bfrange destination start increments
    its LAST code unit across the range."""
    for sec in _BFCHAR_RE.finditer(body):
        for pm in _HEXPAIR_RE.finditer(sec.group(1)):
            src, dst = pm.group(1), pm.group(2)
            if len(src) % 2:
                continue
            cmap[bytes.fromhex(src.decode("ascii"))] = _utf16be(dst)
    for sec in _BFRANGE_RE.finditer(body):
        for rm in _RANGE_RE.finditer(sec.group(1)):
            lo_h, hi_h, dst_h, dst_list = rm.groups()
            if len(lo_h) % 2 or len(hi_h) % 2:
                continue
            width = len(lo_h) // 2
            lo = int(lo_h, 16)
            hi = int(hi_h, 16)
            if hi < lo or hi - lo > 0xFFFF:  # bounded, spec caps at FF
                continue
            if dst_list is not None:
                dsts = _HEX_ITEM_RE.findall(dst_list)
                for i, code in enumerate(range(lo, hi + 1)):
                    if i >= len(dsts):
                        break
                    cmap[code.to_bytes(width, "big")] = _utf16be(dsts[i])
            else:
                base = int(dst_h, 16) if dst_h else 0
                dw = max(len(dst_h or b"") // 2, 2)
                for i, code in enumerate(range(lo, hi + 1)):
                    cmap[code.to_bytes(width, "big")] = _utf16be(
                        b"%0*X" % (dw * 2, base + i)
                    )


def _cmap_decode(raw: bytes, cmap: dict[bytes, str], width: int) -> str:
    """Decode a hex-string byte payload through the merged CMap in
    fixed-width codes; codes the CMap does not cover are skipped
    (never emitted as garbled raw bytes)."""
    out: list[str] = []
    for i in range(0, len(raw) - width + 1, width):
        out.append(cmap.get(raw[i : i + width], ""))
    return "".join(out)


_IMG_W_RE = re.compile(rb"/Width\s+(\d+)")
_IMG_H_RE = re.compile(rb"/Height\s+(\d+)")


def _stream_bodies(pdf_bytes: bytes):
    """Yield (stream_dict, decoded_body) for every stream object."""
    for m in _STREAM_HDR_RE.finditer(pdf_bytes):
        sdict = m.group(1)
        start = m.end()
        lm = _LENGTH_RE.search(sdict)
        if lm:
            # exact slice per /Length — binary (Flate) bodies may contain
            # any byte sequence, so scanning for 'endstream' is unsafe.
            body = pdf_bytes[start : start + int(lm.group(1))]
        else:
            em = _ENDSTREAM_RE.search(pdf_bytes, start)
            body = pdf_bytes[start : em.start()] if em else pdf_bytes[start:]
        if b"FlateDecode" in sdict:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                continue
        yield sdict, body


def extract_pdf_spans(pdf_bytes: bytes) -> list[tuple]:
    """Ordered (kind, text, media_ref) spans from a PDF byte string:
    one text span per content stream (decode rules below) and one
    ("image", None, "img://{codec}/{w}x{h}") media span per image
    XObject (PDF 32000-1 §8.9.5 — /Subtype /Image stream dicts with
    /Width /Height), in byte-stream order, so documents with pictures
    between pages extract as genuinely interleaved text + media.
    Unknown/undecodable streams contribute nothing."""
    # pass 1: collect every embedded ToUnicode CMap (bfchar/bfrange)
    cmap: dict[bytes, str] = {}
    for _, body in _stream_bodies(pdf_bytes):
        if b"beginbfchar" in body or b"beginbfrange" in body:
            _parse_tounicode(body, cmap)
    cmap_width = max((len(k) for k in cmap), default=0)
    identity_h = b"Identity-H" in pdf_bytes

    out: list[tuple] = []
    for sdict, body in _stream_bodies(pdf_bytes):
        if b"/Subtype" in sdict and b"/Image" in sdict:
            wm = _IMG_W_RE.search(sdict)
            hm = _IMG_H_RE.search(sdict)
            if wm and hm:
                codec = "jpeg" if b"DCTDecode" in sdict else "raw"
                out.append(
                    ("image", None,
                     f"img://{codec}/{int(wm.group(1))}x{int(hm.group(1))}"))
            continue
        if b"beginbfchar" in body or b"beginbfrange" in body:
            continue  # the CMap stream itself carries no page text
        lines: list[str] = []
        for bt in _BT_RE.finditer(body):
            parts: list[str] = []
            for op in _TJ_RE.finditer(bt.group(0)):
                for s in _STR_RE.finditer(op.group(0)):
                    if s.group(1) is not None:
                        parts.append(_unescape(s.group(1)).decode("latin-1"))
                    else:
                        # hex string <...>: whitespace allowed between
                        # digit pairs; an odd final digit is padded with
                        # 0 (PDF 32000-1 §7.3.4.3).  Three decode modes:
                        #   * a ToUnicode CMap was embedded → decode
                        #     fixed-width codes through it, skipping
                        #     unmapped codes;
                        #   * Identity-H without a CMap → glyph ids, no
                        #     text meaning: skip (never emit garble);
                        #   * otherwise plain single-byte latin-1.
                        hx = re.sub(rb"\s+", b"", s.group(2))
                        if len(hx) % 2:
                            hx += b"0"
                        try:
                            raw = bytes.fromhex(hx.decode("ascii"))
                        except ValueError:
                            continue
                        if cmap:
                            parts.append(_cmap_decode(raw, cmap, cmap_width))
                        elif identity_h:
                            continue
                        else:
                            parts.append(raw.decode("latin-1"))
            line = "".join(parts).strip()
            if line:
                lines.append(line)
        text = " ".join(" ".join(lines).split())
        if text:
            out.append(("text", text, None))
    return out


def extract_pdf_text_blocks(pdf_bytes: bytes) -> list[str]:
    """Text-only view of :func:`extract_pdf_spans` (the original
    contract; media spans dropped)."""
    return [t for k, t, _ in extract_pdf_spans(pdf_bytes) if k == "text"]


def make_mini_pdf(pages: list[list[str]], compress: bool = False,
                  images: list[tuple[int, int]] = ()) -> bytes:
    """Build a minimal valid-enough PDF byte stream for fixtures: one
    content stream per page, one BT..ET text object per line.  Used by
    the deterministic corpus generator (testing/corpus.py) — the parser
    above is NOT derived from this writer; both follow the public PDF
    content-stream grammar."""
    out = bytearray(b"%PDF-1.4\n")
    for pi, lines in enumerate(pages):
        body = b"".join(
            b"BT /F1 12 Tf 72 %d Td (%s) Tj ET\n"
            % (720 - 14 * li, line.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)").encode("latin-1", "replace"))
            for li, line in enumerate(lines)
        )
        filt = b""
        if compress:
            body = zlib.compress(body)
            filt = b" /Filter /FlateDecode"
        out += b"%d 0 obj\n<< /Length %d%s >>\nstream\n" % (pi + 1, len(body), filt)
        out += body
        out += b"\nendstream\nendobj\n"
    for ii, (w, h) in enumerate(images):
        # a REAL JPEG byte stream as the DCTDecode payload
        from geoparser_spark.operators.image_meta import make_mini_jpeg

        payload = make_mini_jpeg(w, h)
        out += (
            b"%d 0 obj\n<< /Type /XObject /Subtype /Image /Width %d"
            b" /Height %d /ColorSpace /DeviceGray /BitsPerComponent 8"
            b" /Filter /DCTDecode /Length %d >>\nstream\n"
            % (len(pages) + ii + 1, w, h, len(payload))
        )
        out += payload
        out += b"\nendstream\nendobj\n"
    out += b"%%EOF\n"
    return bytes(out)


def make_mini_pdf_identity_h(pages: list[list[str]],
                             with_tounicode: bool = True) -> bytes:
    """Identity-H fixture: text shown as 2-byte hex-string glyph codes
    with (optionally) an embedded ToUnicode CMap mapping each code to
    its character.  Writer is independent of the parser: codes are
    assigned from the fixture's own deterministic charset table and the
    CMap is emitted per PDF 32000-1 §9.10.3 bfchar syntax."""
    charset = sorted({c for lines in pages for line in lines for c in line})
    code_of = {c: i + 1 for i, c in enumerate(charset)}  # code 0 unmapped
    out = bytearray(b"%PDF-1.4\n")
    out += (
        b"1 0 obj\n<< /Type /Font /Subtype /Type0 /Encoding /Identity-H"
        b" /ToUnicode 2 0 R >>\nendobj\n"
    )
    if with_tounicode:
        entries = b"\n".join(
            b"<%04X> <%04X>" % (code_of[c], ord(c)) for c in charset
        )
        cm = (
            b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
            b"%d beginbfchar\n%s\nendbfchar\nendcmap\nend\n"
            % (len(charset), entries)
        )
        out += b"2 0 obj\n<< /Length %d >>\nstream\n" % len(cm)
        out += cm
        out += b"\nendstream\nendobj\n"
    for pi, lines in enumerate(pages):
        body = b"".join(
            b"BT /F1 12 Tf 72 %d Td <%s> Tj ET\n"
            % (720 - 14 * li,
               b"".join(b"%04X" % code_of[c] for c in line))
            for li, line in enumerate(lines)
        )
        out += b"%d 0 obj\n<< /Length %d >>\nstream\n" % (pi + 3, len(body))
        out += body
        out += b"\nendstream\nendobj\n"
    out += b"%%EOF\n"
    return bytes(out)
