"""Legacy Word .doc (97-2003) byte streams → ordered text blocks.

The reference gets .doc via Tika auto-detect
(reference: geoparser_app/views.py:125); this is the stdlib
equivalent, built from the public [MS-CFB] (compound file binary) and
[MS-DOC] (FIB / Clx / piece table) specifications.  Same contract as
the other extractors: ordered text blocks; damage raises and degrades
to ``[]`` at the extract stage's one boundary (extract.extract_span).

Pipeline: CFB container → WordDocument + 0Table/1Table streams →
FIB fcClx/lcbClx → Clx piece table (PlcPcd) → text pieces (cp1252
"compressed" or UTF-16LE), paragraph-split on the \\r paragraph mark.

The fixture writer (make_mini_doc) emits a spec-shaped CFB with a
FAT-resident WordDocument stream and a mini-stream-resident 0Table, so
both sector paths of the reader get exercised; reader and writer each
follow the public spec independently (same discipline as pdf_text).
"""

from __future__ import annotations

import re
import struct

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_ENDOFCHAIN = -2
_FATSECT = -3


def _cfb_streams(data: bytes) -> dict[str, bytes]:
    """[MS-CFB] compound file → {stream name: bytes}.  Handles both
    FAT-chained streams and mini-stream (miniFAT) residents.  Returns
    {} on any structural damage."""
    if len(data) < 512 or data[:8] != _CFB_MAGIC:
        return {}
    ssz = 1 << struct.unpack_from("<H", data, 0x1E)[0]
    msz = 1 << struct.unpack_from("<H", data, 0x20)[0]
    if ssz < 128 or msz < 16 or msz > ssz:
        return {}
    n_fat = struct.unpack_from("<I", data, 0x2C)[0]
    dir_start = struct.unpack_from("<i", data, 0x30)[0]
    mini_cutoff = struct.unpack_from("<I", data, 0x38)[0]
    minifat_start = struct.unpack_from("<i", data, 0x3C)[0]
    difat_start = struct.unpack_from("<i", data, 0x44)[0]
    n_difat = struct.unpack_from("<I", data, 0x48)[0]
    difat = list(struct.unpack_from("<109i", data, 0x4C))
    s = difat_start
    for _ in range(min(n_difat, 4096)):
        if s < 0 or 512 + (s + 1) * ssz > len(data):
            break
        ents = struct.unpack_from(f"<{ssz // 4}i", data, 512 + s * ssz)
        difat.extend(ents[:-1])
        s = ents[-1]
    fat: list[int] = []
    for fs in [x for x in difat if x >= 0][: min(n_fat, 65536)]:
        if 512 + (fs + 1) * ssz > len(data):
            return {}
        fat.extend(struct.unpack_from(f"<{ssz // 4}i", data, 512 + fs * ssz))

    def chain(start: int) -> bytes:
        out = bytearray()
        s = start
        seen: set[int] = set()
        while 0 <= s < len(fat) and s not in seen:
            seen.add(s)
            out += data[512 + s * ssz : 512 + (s + 1) * ssz]
            s = fat[s]
        return bytes(out)

    dirdata = chain(dir_start)
    entries: list[tuple[str, int, int, int]] = []
    for off in range(0, len(dirdata) - 127, 128):
        name_len = struct.unpack_from("<H", dirdata, off + 0x40)[0]
        otype = dirdata[off + 0x42]
        if not (2 <= name_len <= 64) or otype not in (2, 5):
            continue
        name = dirdata[off : off + name_len - 2].decode("utf-16-le", "replace")
        start = struct.unpack_from("<i", dirdata, off + 0x74)[0]
        size = struct.unpack_from("<Q", dirdata, off + 0x78)[0]
        entries.append((name, otype, start, min(size, 1 << 31)))
    root = next((e for e in entries if e[1] == 5), None)
    mini_stream = chain(root[2])[: root[3]] if root else b""
    minifat: list[int] = []
    if minifat_start >= 0:
        mf = chain(minifat_start)
        minifat = list(struct.unpack_from(f"<{len(mf) // 4}i", mf, 0))

    def mini_chain(start: int, size: int) -> bytes:
        out = bytearray()
        s = start
        seen: set[int] = set()
        while 0 <= s < len(minifat) and s not in seen:
            seen.add(s)
            out += mini_stream[s * msz : (s + 1) * msz]
            s = minifat[s]
        return bytes(out[:size])

    streams: dict[str, bytes] = {}
    for name, otype, start, size in entries:
        if otype != 2:
            continue
        if size < mini_cutoff:
            streams[name] = mini_chain(start, size)
        else:
            streams[name] = chain(start)[:size]
    return streams


# FIB offsets per [MS-DOC] §2.5.1: base (32) + csw (2) + fibRgW (28)
# + cslw (2) + fibRgLw (88) + cbRgFcLcb (2) = 0x9A, then FibRgFcLcb97
# pair index 33 → fcClx at 0x9A + 33*8 = 0x1A2.
_FC_CLX = 0x1A2
# control chars that are layout marks, not text: field separators,
# cell/row marks handled by the paragraph split below
_CTRL_RE = re.compile(r"[\x00-\x08\x0e-\x1f]")
_PARA_SPLIT = re.compile(r"[\r\x07\x0b\x0c]")


def extract_doc_text_blocks(doc_bytes: bytes) -> list[str]:
    """One text block per non-empty paragraph (\\r paragraph marks;
    \\x07 cell marks and \\x0b/\\x0c breaks also split).  A FIB or
    piece table that is absent yields [], one that is damaged raises
    (the dispatch boundary degrades it)."""
    streams = _cfb_streams(doc_bytes)
    wd = streams.get("WordDocument", b"")
    if len(wd) < _FC_CLX + 8 or struct.unpack_from("<H", wd, 0)[0] != 0xA5EC:
        return []
    flags = struct.unpack_from("<H", wd, 0x0A)[0]
    table = streams.get("1Table" if flags & 0x0200 else "0Table")
    if table is None:
        table = streams.get("0Table") or streams.get("1Table")
    fc_clx = struct.unpack_from("<I", wd, _FC_CLX)[0]
    lcb_clx = struct.unpack_from("<I", wd, _FC_CLX + 4)[0]
    if not table or lcb_clx == 0 or fc_clx + lcb_clx > len(table):
        return []
    clx = table[fc_clx : fc_clx + lcb_clx]
    # Clx = RgPrc* then Pcdt: 0x01 <cb:int16> grpprl | 0x02 <lcb:u32> PlcPcd
    i = 0
    plc = b""
    while i < len(clx):
        t = clx[i]
        if t == 0x01:
            if i + 3 > len(clx):
                return []
            cb = struct.unpack_from("<h", clx, i + 1)[0]
            i += 3 + max(cb, 0)
        elif t == 0x02:
            if i + 5 > len(clx):
                return []
            lcb = struct.unpack_from("<I", clx, i + 1)[0]
            plc = clx[i + 5 : i + 5 + lcb]
            break
        else:
            return []
    n = (len(plc) - 4) // 12
    if n <= 0:
        return []
    cps = struct.unpack_from(f"<{n + 1}I", plc, 0)
    pieces: list[str] = []
    for k in range(n):
        fc_raw = struct.unpack_from("<I", plc, (n + 1) * 4 + k * 8 + 2)[0]
        fc = fc_raw & 0x3FFFFFFF
        ln = cps[k + 1] - cps[k]
        if ln <= 0 or ln > 1 << 28:
            continue
        if fc_raw & 0x40000000:  # fCompressed: cp1252, fc is *2
            pieces.append(wd[fc // 2 : fc // 2 + ln].decode("cp1252", "replace"))
        else:
            pieces.append(wd[fc : fc + 2 * ln].decode("utf-16-le", "replace"))
    blocks: list[str] = []
    for para in _PARA_SPLIT.split("".join(pieces)):
        p = " ".join(_CTRL_RE.sub(" ", para).split())
        if p:
            blocks.append(p)
    return blocks


# ------------------------------------------------------ fixture writer

def _dirent(name: str, otype: int, start: int, size: int,
            child: int = -1, right: int = -1) -> bytes:
    b = bytearray(128)
    nm = name.encode("utf-16-le")
    b[0 : len(nm)] = nm
    struct.pack_into("<H", b, 0x40, len(nm) + 2)
    b[0x42] = otype
    b[0x43] = 1  # black
    struct.pack_into("<i", b, 0x44, -1)      # left sibling
    struct.pack_into("<i", b, 0x48, right)   # right sibling
    struct.pack_into("<i", b, 0x4C, child)   # child
    struct.pack_into("<i", b, 0x74, start)
    struct.pack_into("<Q", b, 0x78, size)
    return bytes(b)


def make_mini_doc(paragraphs: list[str]) -> bytes:
    """Minimal valid-enough .doc for fixtures: cp1252 text at FC 0x800
    of a FAT-resident WordDocument stream (padded past the 4096 mini
    cutoff), one-piece PlcPcd in a mini-stream-resident 0Table — so a
    reader must walk FAT, directory, miniFAT and the piece table.
    Deterministic bytes for bit-identical corpus regeneration."""
    SS, MS = 512, 64
    text = "\r".join(paragraphs) + "\r"
    tbytes = text.encode("cp1252", "replace")

    # WordDocument: FIB zeros + wIdent/nFib, text at 0x800, pad ≥ 4096
    wd = bytearray(max(0x800 + len(tbytes), 4096))
    struct.pack_into("<H", wd, 0, 0xA5EC)
    struct.pack_into("<H", wd, 2, 0x00C1)        # nFib (Word 97)
    wd[0x800 : 0x800 + len(tbytes)] = tbytes     # flags@0x0A=0 → 0Table

    # 0Table: Clx = Pcdt(0x02) + lcb + PlcPcd{cp[2], pcd[1]}
    n_cp = len(text)
    plc = struct.pack("<2I", 0, n_cp) + struct.pack(
        "<HIH", 0, 0x40000000 | (0x800 * 2), 0
    )
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    struct.pack_into("<I", wd, _FC_CLX, 0)
    struct.pack_into("<I", wd, _FC_CLX + 4, len(clx))

    # ---- mini stream: 0Table only (< 4096)
    k_mini = (len(clx) + MS - 1) // MS
    mini = clx + b"\x00" * (k_mini * MS - len(clx))
    minifat = [j + 1 for j in range(k_mini - 1)] + [_ENDOFCHAIN]
    minifat_bytes = b"".join(struct.pack("<i", v) for v in minifat)

    # ---- regular sectors: [0]=FAT, then minifat, mini stream, wd, dir
    sectors: list[bytes] = []
    fat: list[int] = []

    def add(data: bytes) -> int:
        start = len(sectors)
        k = max((len(data) + SS - 1) // SS, 1)
        for j in range(k):
            sectors.append(data[j * SS : (j + 1) * SS].ljust(SS, b"\x00"))
            fat.append(start + j + 1 if j < k - 1 else _ENDOFCHAIN)
        return start

    sectors.append(b"")  # placeholder: sector 0 is the FAT itself
    fat.append(_FATSECT)
    minifat_start = add(minifat_bytes)
    mini_start = add(mini)
    wd_start = add(bytes(wd))
    dirdata = (
        _dirent("Root Entry", 5, mini_start, len(mini), child=1)
        + _dirent("WordDocument", 2, wd_start, len(wd), right=2)
        + _dirent("0Table", 2, 0, len(clx))
    )
    dir_start = add(dirdata)
    assert len(fat) <= SS // 4, "fixture exceeds one FAT sector"
    fat_bytes = b"".join(
        struct.pack("<i", v) for v in fat + [-1] * (SS // 4 - len(fat))
    )
    sectors[0] = fat_bytes

    hdr = bytearray(512)
    hdr[0:8] = _CFB_MAGIC
    struct.pack_into("<H", hdr, 0x18, 0x003E)   # minor version
    struct.pack_into("<H", hdr, 0x1A, 0x0003)   # major version 3
    struct.pack_into("<H", hdr, 0x1C, 0xFFFE)   # little-endian
    struct.pack_into("<H", hdr, 0x1E, 9)        # 512-byte sectors
    struct.pack_into("<H", hdr, 0x20, 6)        # 64-byte mini sectors
    struct.pack_into("<I", hdr, 0x2C, 1)        # one FAT sector
    struct.pack_into("<i", hdr, 0x30, dir_start)
    struct.pack_into("<I", hdr, 0x38, 4096)     # mini cutoff
    struct.pack_into("<i", hdr, 0x3C, minifat_start)
    struct.pack_into("<I", hdr, 0x40, 1)        # one miniFAT sector
    struct.pack_into("<i", hdr, 0x44, _ENDOFCHAIN)  # no DIFAT chain
    struct.pack_into("<I", hdr, 0x48, 0)
    struct.pack_into("<i", hdr, 0x4C, 0)        # DIFAT[0] → FAT sector 0
    for j in range(1, 109):
        struct.pack_into("<i", hdr, 0x4C + 4 * j, -1)
    return bytes(hdr) + b"".join(sectors)
