"""Legacy .doc extraction ([MS-CFB] + [MS-DOC], Tika breadth E1)."""

from __future__ import annotations

import base64
import struct

from geoparser_spark.operators.extract import extract_span
from geoparser_spark.operators.doc_legacy import (
    _cfb_streams,
    extract_doc_text_blocks,
    make_mini_doc,
)


def test_doc_paragraph_blocks():
    doc = make_mini_doc(["First paragraph here.", "Second one."])
    assert extract_doc_text_blocks(doc) == [
        "First paragraph here.", "Second one.",
    ]


def test_doc_cp1252_characters():
    assert extract_doc_text_blocks(make_mini_doc(["café naïve résumé"])) == [
        "café naïve résumé",
    ]


def test_doc_b64_roundtrip():
    b64 = base64.b64encode(make_mini_doc(["payload"])).decode()
    assert extract_span("doc_bytes", b64) == [("text", "payload", None)]


def test_cfb_streams_both_paths():
    # the fixture puts WordDocument in regular FAT sectors (>= 4096)
    # and 0Table in the mini stream — both container paths exercised
    streams = _cfb_streams(make_mini_doc(["x"]))
    assert set(streams) == {"WordDocument", "0Table"}
    assert len(streams["WordDocument"]) >= 4096
    assert 0 < len(streams["0Table"]) < 64


def test_doc_utf16_piece():
    # hand-flip the fixture's PCD to a non-compressed (UTF-16LE) piece
    text = "unicode ☃ piece"
    raw = text.encode("utf-16-le")
    doc = bytearray(make_mini_doc(["placeholder-lengths-must-fit!!"]))
    streams = _cfb_streams(bytes(doc))
    wd = bytearray(streams["WordDocument"])
    wd[0x800 : 0x800 + len(raw)] = raw
    # rebuild: reuse writer layout by patching the WordDocument sectors
    # in place (fixture puts wd contiguously after miniFAT+mini sectors)
    start = bytes(doc).find(streams["WordDocument"][:512])
    assert start > 0
    doc[start : start + len(wd)] = wd
    # patch the 0Table PlcPcd: cp count and a PCD without fCompressed
    tb = streams["0Table"]
    tstart = bytes(doc).find(tb[: len(tb)])
    plc = struct.pack("<2I", 0, len(text)) + struct.pack("<HIH", 0, 0x800, 0)
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    assert len(clx) == len(tb)
    doc[tstart : tstart + len(clx)] = clx
    assert extract_doc_text_blocks(bytes(doc)) == [text]


def test_doc_damage_degrades_empty():
    assert extract_doc_text_blocks(b"not ole at all") == []
    assert extract_span("doc_bytes", "!!!") == []
    # valid magic, truncated body
    assert extract_doc_text_blocks(
        b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 700
    ) == []
    # well-formed CFB but WordDocument FIB magic wrong
    doc = bytearray(make_mini_doc(["x"]))
    idx = bytes(doc).find(struct.pack("<H", 0xA5EC))
    doc[idx : idx + 2] = b"\x00\x00"
    assert extract_doc_text_blocks(bytes(doc)) == []
