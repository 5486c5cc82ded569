"""Legacy binary Excel .xls (BIFF8) and PowerPoint .ppt byte streams →
ordered text blocks.

The reference reads both via Tika auto-detect
(reference: geoparser_app/views.py:125); this is the stdlib
equivalent, built from the public [MS-XLS] (BIFF8 record stream, SST /
LABELSST / LABEL / NUMBER records, Continue-record string
continuation) and [MS-PPT] (record container tree, TextCharsAtom /
TextBytesAtom) specifications, over the same [MS-CFB] compound-file
walker the .doc path uses (doc_legacy._cfb_streams).

Contracts mirror the OOXML siblings in office_text.py:
  * .xls → one block per non-empty row, cells joined by a space,
    (sheet, row, col) order — same shape as extract_xlsx_text_blocks;
  * .ppt → one block per non-empty paragraph of each text atom
    (atoms in record-stream order, \\r / \\x0b paragraph marks) —
    same shape as extract_pptx_text_blocks.
Damaged input raises; the extract stage's one degrade boundary
(extract.extract_span) turns that into the span's ``[]``.

The fixture writers emit spec-shaped CFB containers (FAT-resident
streams padded past the 4096 mini cutoff) and real BIFF/PPT record
streams; reader and writer follow the public specs independently
(pdf_text / doc_legacy discipline).
"""

from __future__ import annotations

import math
import re
import struct

from geoparser_spark.operators.doc_legacy import _cfb_streams

_WS = re.compile(r"\s+")
_PPT_PARA = re.compile(r"[\r\x0b]")

# ------------------------------------------------------------- BIFF8 .xls

_REC_SST = 0x00FC
_REC_CONTINUE = 0x003C
_REC_LABELSST = 0x00FD
_REC_LABEL = 0x0204
_REC_NUMBER = 0x0203
_REC_RK = 0x027E
_REC_BOF = 0x0809
_REC_EOF = 0x000A


def _records(stream: bytes):
    """BIFF record walk: (type, payload) pairs; stops on damage or the
    zero padding a FAT-resident fixture stream carries."""
    i, n = 0, len(stream)
    while i + 4 <= n:
        rtype, rlen = struct.unpack_from("<HH", stream, i)
        if rtype == 0 and rlen == 0:
            return
        i += 4
        if i + rlen > n:
            return
        yield rtype, stream[i:i + rlen]
        i += rlen


class _FragReader:
    """Cursor over the SST record's payload fragments (SST + its
    Continue records).  Numeric fields never split across records
    ([MS-XLS] §2.1.4), but STRING CHARACTERS do — and each
    continuation restarts with a fresh fHighByte flags byte, so the
    character reader consults the fragment boundary explicitly."""

    def __init__(self, frags: list[bytes]):
        self.frags = frags
        self.fi = 0
        self.off = 0

    def _avail(self) -> int:
        return len(self.frags[self.fi]) - self.off if self.fi < len(self.frags) else 0

    def _advance_frag(self) -> bool:
        self.fi += 1
        self.off = 0
        return self.fi < len(self.frags)

    def read_raw(self, n: int) -> bytes:
        """n bytes, spanning fragments transparently (counts, runs,
        ExtRst payloads)."""
        out = bytearray()
        while n > 0:
            a = self._avail()
            if a == 0:
                if not self._advance_frag():
                    raise ValueError("SST underflow")
                continue
            take = min(a, n)
            out += self.frags[self.fi][self.off:self.off + take]
            self.off += take
            n -= take
        return bytes(out)

    def read_chars(self, cch: int, wide: bool) -> str:
        """cch characters; at each fragment boundary the continuation
        re-states the flags byte (fHighByte may flip mid-string)."""
        out: list[str] = []
        while cch > 0:
            a = self._avail()
            if a == 0:
                if not self._advance_frag():
                    raise ValueError("SST string underflow")
                flags = self.read_raw(1)[0]
                wide = bool(flags & 0x01)
                continue
            per = 2 if wide else 1
            k = min(cch, a // per)
            if k == 0:
                # a lone odd byte before the boundary cannot happen for
                # valid wide strings; treat as damage
                raise ValueError("split UTF-16 code unit")
            raw = self.read_raw(k * per)
            out.append(raw.decode("utf-16-le" if wide else "latin-1",
                                  "replace"))
            cch -= k
        return "".join(out)


def _parse_sst(frags: list[bytes]) -> list[str]:
    r = _FragReader(frags)
    _total, unique = struct.unpack("<II", r.read_raw(8))
    strings: list[str] = []
    for _ in range(min(unique, 1_000_000)):
        cch, flags = struct.unpack("<HB", r.read_raw(3))
        wide = bool(flags & 0x01)
        ext = bool(flags & 0x04)
        rich = bool(flags & 0x08)
        c_run = struct.unpack("<H", r.read_raw(2))[0] if rich else 0
        cb_ext = struct.unpack("<I", r.read_raw(4))[0] if ext else 0
        strings.append(r.read_chars(cch, wide))
        if c_run:
            r.read_raw(4 * c_run)
        if cb_ext:
            r.read_raw(cb_ext)
    return strings


def _fmt_number(v: float) -> str:
    """Deterministic cell rendering for numeric records: integers plain,
    everything else shortest-roundtrip repr (mirrors how the xlsx path
    surfaces raw <v> values)."""
    if not math.isfinite(v):  # int(v) below raises on inf/nan
        return repr(v)
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _rk_value(rk: int) -> float:
    """[MS-XLS] RkNumber: bit0 = x100 divisor, bit1 = int-or-float."""
    div = 100.0 if rk & 1 else 1.0
    if rk & 2:
        return (rk >> 2 if rk < (1 << 31) else (rk >> 2) - (1 << 30)) / div
    return struct.unpack("<d", struct.pack("<Q", (rk & ~0x3) << 32))[0] / div


def extract_xls_text_blocks(xls_bytes: bytes) -> list[str]:
    """One text block per non-empty row, (sheet, row, col) order."""
    streams = _cfb_streams(xls_bytes)
    wb = streams.get("Workbook") or streams.get("Book")
    if not wb:
        return []
    sst: list[str] = []
    cells: dict[tuple[int, int, int], str] = {}
    sheet = -1  # globals substream is BOF #0
    recs = list(_records(wb))
    for k, (rtype, payload) in enumerate(recs):
        if rtype == _REC_BOF:
            sheet += 1
        elif rtype == _REC_SST:
            frags = [payload]
            j = k + 1
            while j < len(recs) and recs[j][0] == _REC_CONTINUE:
                frags.append(recs[j][1])
                j += 1
            sst = _parse_sst(frags)
        elif rtype == _REC_LABELSST and len(payload) >= 10:
            row, col, _ixfe, isst = struct.unpack_from("<HHHI", payload)
            if 0 <= isst < len(sst):
                cells[(sheet, row, col)] = sst[isst]
        elif rtype == _REC_LABEL and len(payload) >= 9:
            row, col, _ixfe, cch, flags = struct.unpack_from(
                "<HHHHB", payload)
            wide = bool(flags & 0x01)
            raw = payload[9:9 + cch * (2 if wide else 1)]
            cells[(sheet, row, col)] = raw.decode(
                "utf-16-le" if wide else "latin-1", "replace")
        elif rtype == _REC_NUMBER and len(payload) >= 14:
            row, col, _ixfe = struct.unpack_from("<HHH", payload)
            (v,) = struct.unpack_from("<d", payload, 6)
            cells[(sheet, row, col)] = _fmt_number(v)
        elif rtype == _REC_RK and len(payload) >= 10:
            row, col, _ixfe = struct.unpack_from("<HHH", payload)
            (rk,) = struct.unpack_from("<I", payload, 6)
            cells[(sheet, row, col)] = _fmt_number(_rk_value(rk))
    blocks: list[str] = []
    cur_key: tuple[int, int] | None = None
    cur: list[str] = []
    for (sh, row, _col), text in sorted(cells.items()):
        if (sh, row) != cur_key:
            if cur:
                t = _WS.sub(" ", " ".join(cur)).strip()
                if t:
                    blocks.append(t)
            cur_key, cur = (sh, row), []
        cur.append(text)
    if cur:
        t = _WS.sub(" ", " ".join(cur)).strip()
        if t:
            blocks.append(t)
    return blocks


# --------------------------------------------------------------- .ppt

_PPT_TEXTCHARS = 0x0FA0
_PPT_TEXTBYTES = 0x0FA8


def _ppt_walk(data: bytes, depth: int, out: list[str]) -> None:
    """[MS-PPT] record tree: header = verAndInstance(u16), type(u16),
    len(u32); recVer == 0xF marks a container whose payload is child
    records.  Depth-capped (spec nesting is shallow; damage isn't)."""
    if depth > 16:
        return
    i, n = 0, len(data)
    while i + 8 <= n:
        ver_inst, rtype, rlen = struct.unpack_from("<HHI", data, i)
        if rtype == 0 and rlen == 0:
            return
        i += 8
        if rlen > n - i:
            return
        payload = data[i:i + rlen]
        i += rlen
        if (ver_inst & 0x0F) == 0x0F:
            _ppt_walk(payload, depth + 1, out)
        elif rtype == _PPT_TEXTCHARS:
            out.append(payload.decode("utf-16-le", "replace"))
        elif rtype == _PPT_TEXTBYTES:
            out.append(payload.decode("latin-1", "replace"))


def extract_ppt_text_blocks(ppt_bytes: bytes) -> list[str]:
    """One block per non-empty paragraph of each text atom, atoms in
    record-stream order (\\r / \\x0b are PPT paragraph marks)."""
    streams = _cfb_streams(ppt_bytes)
    doc = streams.get("PowerPoint Document")
    if not doc:
        return []
    atoms: list[str] = []
    _ppt_walk(doc, 0, atoms)
    blocks: list[str] = []
    for atom in atoms:
        for para in _PPT_PARA.split(atom):
            t = _WS.sub(" ", para).strip()
            if t:
                blocks.append(t)
    return blocks


# ------------------------------------------------------ fixture writers

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_ENDOFCHAIN = -2
_FATSECT = -3


def _make_cfb(streams: list[tuple[str, bytes]]) -> bytes:
    """Minimal [MS-CFB] container: every stream FAT-resident, padded to
    the 4096 mini cutoff so readers take the FAT path (doc_legacy's
    fixture covers the mini-stream path).  Single directory chain."""
    SS = 512
    padded = [(name, data + b"\x00" * max(0, 4096 - len(data)))
              for name, data in streams]
    sectors: list[bytes] = []
    fat: list[int] = []

    def add(data: bytes) -> int:
        start = len(sectors)
        k = max((len(data) + SS - 1) // SS, 1)
        for j in range(k):
            sectors.append(data[j * SS:(j + 1) * SS].ljust(SS, b"\x00"))
            fat.append(start + j + 1 if j < k - 1 else _ENDOFCHAIN)
        return start

    sectors.append(b"")  # sector 0 = the FAT itself
    fat.append(_FATSECT)
    starts = [add(data) for _, data in padded]

    from geoparser_spark.operators.doc_legacy import _dirent

    dirdata = _dirent("Root Entry", 5, _ENDOFCHAIN, 0, child=1)
    for k, ((name, _), (start)) in enumerate(zip(padded, starts), start=1):
        right = k + 1 if k < len(padded) else -1
        dirdata += _dirent(name, 2, start, len(padded[k - 1][1]),
                           right=right)
    dir_start = add(dirdata)
    assert len(fat) <= SS // 4, "fixture exceeds one FAT sector"
    sectors[0] = b"".join(
        struct.pack("<i", v) for v in fat + [-1] * (SS // 4 - len(fat)))

    hdr = bytearray(512)
    hdr[0:8] = _CFB_MAGIC
    struct.pack_into("<H", hdr, 0x18, 0x003E)
    struct.pack_into("<H", hdr, 0x1A, 0x0003)
    struct.pack_into("<H", hdr, 0x1C, 0xFFFE)
    struct.pack_into("<H", hdr, 0x1E, 9)
    struct.pack_into("<H", hdr, 0x20, 6)
    struct.pack_into("<I", hdr, 0x2C, 1)        # one FAT sector
    struct.pack_into("<i", hdr, 0x30, dir_start)
    struct.pack_into("<I", hdr, 0x38, 4096)     # mini cutoff
    struct.pack_into("<i", hdr, 0x3C, _ENDOFCHAIN)  # no miniFAT
    struct.pack_into("<I", hdr, 0x40, 0)
    struct.pack_into("<i", hdr, 0x44, _ENDOFCHAIN)  # no DIFAT chain
    struct.pack_into("<I", hdr, 0x48, 0)
    difat = [0] + [-1] * 108
    struct.pack_into("<109i", hdr, 0x4C, *difat)
    return bytes(hdr) + b"".join(sectors)


def _rec(rtype: int, payload: bytes) -> bytes:
    # real BIFF8 caps record data at 8224 bytes and overflows into
    # Continue records; this FIXTURE writer does not implement
    # continuation on the write side (the reader does), so reject
    # oversize payloads loudly instead of emitting a corrupt u16 length
    if len(payload) > 8224:
        raise ValueError(
            f"fixture record payload {len(payload)} B exceeds the BIFF8 "
            "8224-byte record cap; make_mini_xls does not write "
            "Continue records — shorten the cell text")
    return struct.pack("<HH", rtype, len(payload)) + payload


def _xl_string(s: str) -> bytes:
    """XLUnicodeRichExtendedString, uncompressed iff non-latin-1.
    cch counts UTF-16 CODE UNITS ([MS-XLS] §2.5.293) — astral-plane
    characters occupy two."""
    try:
        raw = s.encode("latin-1")
        return struct.pack("<HB", len(raw), 0) + raw
    except UnicodeEncodeError:
        raw = s.encode("utf-16-le")
        return struct.pack("<HB", len(raw) // 2, 1) + raw


def make_mini_xls(rows: list[list[str]],
                  split_sst_at: int | None = None) -> bytes:
    """Minimal valid-enough BIFF8 .xls: globals substream with the SST,
    one sheet substream of LABELSST cells.  ``split_sst_at`` (byte
    offset into the SST payload) forces a Continue-record split with a
    re-stated flags byte, exercising the continuation reader."""
    strings: list[str] = []
    index: dict[str, int] = {}
    for row in rows:
        for cell in row:
            if cell not in index:
                index[cell] = len(strings)
                strings.append(cell)
    total = sum(1 for row in rows for _ in row)
    sst_payload = struct.pack("<II", total, len(strings)) + b"".join(
        _xl_string(s) for s in strings)
    if split_sst_at is not None and 8 < split_sst_at < len(sst_payload):
        # split INSIDE the last string's character run: the Continue
        # fragment must re-state the (compressed) flags byte
        sst_recs = (_rec(_REC_SST, sst_payload[:split_sst_at])
                    + _rec(_REC_CONTINUE,
                           b"\x00" + sst_payload[split_sst_at:]))
    else:
        sst_recs = _rec(_REC_SST, sst_payload)
    globals_sub = (
        _rec(_REC_BOF, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
        + sst_recs
        + _rec(_REC_EOF, b""))
    cells = b""
    for ri, row in enumerate(rows):
        for ci, cell in enumerate(row):
            cells += _rec(_REC_LABELSST,
                          struct.pack("<HHHI", ri, ci, 0, index[cell]))
    sheet_sub = (
        _rec(_REC_BOF, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + cells + _rec(_REC_EOF, b""))
    return _make_cfb([("Workbook", globals_sub + sheet_sub)])


def _ppt_rec(ver: int, rtype: int, payload: bytes) -> bytes:
    return struct.pack("<HHI", ver, rtype, len(payload)) + payload


def make_mini_ppt(slides: list[list[str]]) -> bytes:
    """Minimal valid-enough .ppt: a Document container (0x03E8) holding
    one SlideListWithText container (0x0FF0) per slide, paragraphs as
    alternating TextBytesAtom / TextCharsAtom children (both decode
    paths exercised); non-latin-1 text always takes the chars atom."""
    slide_blobs = []
    for si, paras in enumerate(slides):
        children = b""
        for pi, p in enumerate(paras):
            use_chars = (si + pi) % 2 == 1
            try:
                raw = p.encode("latin-1")
            except UnicodeEncodeError:
                use_chars = True
                raw = b""
            if use_chars:
                children += _ppt_rec(0, _PPT_TEXTCHARS,
                                     p.encode("utf-16-le"))
            else:
                children += _ppt_rec(0, _PPT_TEXTBYTES, raw)
        slide_blobs.append(_ppt_rec(0x000F, 0x0FF0, children))
    doc = _ppt_rec(0x000F, 0x03E8, b"".join(slide_blobs))
    return _make_cfb([("PowerPoint Document", doc)])
