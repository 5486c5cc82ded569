"""Legacy BIFF8 .xls / .ppt extraction (operators/biff_legacy):
round-trips through spec-shaped CFB fixtures, SST Continue-record
splits with re-stated flag bytes, NUMBER/RK numeric cells, and
damage totality (hypothesis)."""

from __future__ import annotations

import base64
import math
import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from geoparser_spark.operators.extract import extract_span
from geoparser_spark.operators.biff_legacy import (
    _REC_BOF,
    _REC_EOF,
    _REC_NUMBER,
    _REC_RK,
    _make_cfb,
    _rec,
    extract_ppt_text_blocks,
    extract_xls_text_blocks,
    make_mini_ppt,
    make_mini_xls,
)


def test_xls_roundtrip_rows_and_unicode():
    xls = make_mini_xls([["hello world", "42"], ["café au lait", "naïve"],
                         ["snow ☃ wide"]])
    assert extract_xls_text_blocks(xls) == [
        "hello world 42", "café au lait naïve", "snow ☃ wide"]


def test_xls_sst_continue_split_restates_flags():
    """Split the SST mid-string: the Continue fragment re-states the
    flags byte, and the reader must stitch the halves."""
    rows = [["alpha beta gamma delta epsilon zeta"]]
    whole = extract_xls_text_blocks(make_mini_xls(rows))
    for off in (12, 20, 30):
        split = extract_xls_text_blocks(make_mini_xls(rows,
                                                      split_sst_at=off))
        assert split == whole, off


def test_xls_number_and_rk_cells():
    from geoparser_spark.operators.biff_legacy import _REC_LABEL

    num = _rec(_REC_NUMBER, struct.pack("<HHHd", 0, 0, 0, 3.5))
    # RK: int 123 shifted, type bit set
    rk = _rec(_REC_RK, struct.pack("<HHHI", 0, 1, 0, (123 << 2) | 2))
    # pre-BIFF8 inline LABEL cell, compressed chars
    lbl = _rec(_REC_LABEL,
               struct.pack("<HHHHB", 1, 0, 0, 6, 0) + b"inline")
    sheet = (_rec(_REC_BOF, struct.pack("<HHHHII", 0x0600, 0x0010,
                                        0, 0, 0, 0))
             + num + rk + lbl + _rec(_REC_EOF, b""))
    glb = (_rec(_REC_BOF, struct.pack("<HHHHII", 0x0600, 0x0005,
                                      0, 0, 0, 0))
           + _rec(_REC_EOF, b""))
    xls = _make_cfb([("Workbook", glb + sheet)])
    assert extract_xls_text_blocks(xls) == ["3.5 123", "inline"]


def test_xls_nonfinite_number_cells_do_not_crash():
    """ADVICE r4: int(inf) raises OverflowError, which is outside the
    damage except-tuples — a crafted NUMBER with an IEEE inf payload
    (or the RK float path 0x7FF00004 -> inf) must render, not kill the
    Arrow task."""
    from geoparser_spark.operators.biff_legacy import _fmt_number, _rk_value

    assert _fmt_number(float("inf")) == "inf"
    assert _fmt_number(float("-inf")) == "-inf"
    assert _fmt_number(float("nan")) == "nan"
    assert _rk_value(0x7FF00000) == float("inf")
    assert math.isnan(_rk_value(0x7FF00004))  # nonzero mantissa -> nan

    inf_num = _rec(_REC_NUMBER, struct.pack("<HHHd", 0, 0, 0, float("inf")))
    inf_rk = _rec(_REC_RK, struct.pack("<HHHI", 0, 1, 0, 0x7FF00000))
    sheet = (_rec(_REC_BOF, struct.pack("<HHHHII", 0x0600, 0x0010,
                                        0, 0, 0, 0))
             + inf_num + inf_rk + _rec(_REC_EOF, b""))
    glb = (_rec(_REC_BOF, struct.pack("<HHHHII", 0x0600, 0x0005,
                                      0, 0, 0, 0))
           + _rec(_REC_EOF, b""))
    xls = _make_cfb([("Workbook", glb + sheet)])
    assert extract_xls_text_blocks(xls) == ["inf inf"]


def test_ppt_roundtrip_paragraphs_both_atoms():
    ppt = make_mini_ppt([["First para", "second para"],
                         ["unicode ☃ para"]])
    assert extract_ppt_text_blocks(ppt) == [
        "First para", "second para", "unicode ☃ para"]


def test_ppt_paragraph_marks_split():
    ppt = make_mini_ppt([["one\rtwo\x0bthree"]])
    assert extract_ppt_text_blocks(ppt) == ["one", "two", "three"]


def test_b64_paths_and_damage():
    xls = make_mini_xls([["x"]])
    assert extract_span(
        "xls_bytes", base64.b64encode(xls).decode()) == [("text", "x", None)]
    assert extract_span("xls_bytes", "!!!not-base64!!!") == []
    assert extract_span("ppt_bytes", "") == []


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=4096))
def test_xls_totality_on_garbage(raw):
    assert isinstance(extract_span("xls_bytes", raw), list)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=4096))
def test_ppt_totality_on_garbage(raw):
    assert isinstance(extract_span("ppt_bytes", raw), list)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.lists(st.text(
    alphabet=st.characters(blacklist_categories=("Cs",),
                           blacklist_characters="\r\x0b\x00"),
    min_size=1, max_size=30).map(lambda s: " ".join(s.split()) or "x"),
    min_size=1, max_size=3), min_size=1, max_size=3))
def test_xls_roundtrip_property(rows):
    got = extract_xls_text_blocks(make_mini_xls(rows))
    expect = [" ".join(" ".join(r).split()) for r in rows]
    expect = [e for e in expect if e]
    assert got == expect


@settings(max_examples=20, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_xls_truncation_totality(tail):
    xls = make_mini_xls([["alpha beta", "gamma"]])
    assert isinstance(extract_span("xls_bytes", xls[:300] + tail), list)


def test_fixture_writer_rejects_oversize_record():
    import pytest

    with pytest.raises(ValueError, match="8224"):
        make_mini_xls([["x" * 9000]])
