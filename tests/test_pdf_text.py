"""Tests for the PDF-subset text extraction (E1b)."""

import base64

from geoparser_spark.operators.extract import extract_span
from geoparser_spark.operators.pdf_text import (
    extract_pdf_text_blocks,
    make_mini_pdf,
)


def test_plain_streams():
    pdf = make_mini_pdf([["Line one.", "Line two."], ["Page two line."]])
    assert extract_pdf_text_blocks(pdf) == ["Line one. Line two.", "Page two line."]


def test_flate_streams():
    pdf = make_mini_pdf([["Compressed text page."]], compress=True)
    assert extract_pdf_text_blocks(pdf) == ["Compressed text page."]


def test_escapes_in_strings():
    pdf = make_mini_pdf([["Paren (inside) and back\\slash."]])
    assert extract_pdf_text_blocks(pdf) == ["Paren (inside) and back\\slash."]


def test_length_respected_even_when_body_ends_with_cr():
    # binary body ending in \r must not be eaten by the endstream scan
    body = b"BT (x) Tj ET\r"
    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(body)).encode()
        + b" >>\nstream\n"
        + body
        + b"endstream\nendobj\n"
    )
    assert extract_pdf_text_blocks(raw) == ["x"]


def test_tj_array_operator():
    body = b"BT [(Hel) -20 (lo)] TJ ET"
    raw = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(body), body)
    assert extract_pdf_text_blocks(raw) == ["Hello"]


def _stream(body: bytes) -> bytes:
    return b"<< /Length %d >>\nstream\n%s\nendstream" % (len(body), body)


def test_hex_string_tj():
    # <48656C6C6F> = "Hello"; whitespace between digit pairs is legal
    assert extract_pdf_text_blocks(_stream(b"BT <48656C 6C6F> Tj ET")) == ["Hello"]


def test_hex_string_odd_digit_padded():
    # odd final digit pads with 0: <48 65 6C 6C 6F 2> -> "Hello " (0x20)
    assert extract_pdf_text_blocks(_stream(b"BT <48656C6C6F2> Tj ET")) == ["Hello"]


def test_hex_in_tj_array():
    body = b"BT [(He) -20 <6C6C> 5 (o)] TJ ET"
    assert extract_pdf_text_blocks(_stream(body)) == ["Hello"]


def test_quote_operators():
    # ' moves to next line and shows; " sets spacing then shows
    body = b"BT (one) Tj (two) ' 2 1 (three) \" ET"
    assert extract_pdf_text_blocks(_stream(body)) == ["onetwothree"]


def test_hex_quote_operator():
    assert extract_pdf_text_blocks(_stream(b"BT <414243> ' ET")) == ["ABC"]


def test_unsupported_filter_degrades_empty():
    body = b"\xff\xd8\xff\xe0 jpeg-ish bytes BT (never) Tj ET"
    raw = (
        b"<< /Length %d /Filter /DCTDecode >>\nstream\n%s\nendstream"
        % (len(body), body)
    )
    # DCTDecode is not FlateDecode: raw body scanned, finds the BT..ET
    # (documented: unknown filters are treated as opaque pass-through,
    # real image streams virtually never contain BT..ET sequences)
    out = extract_pdf_text_blocks(raw)
    assert out == ["never"] or out == []


def test_multibyte_hex_degrades_to_raw_bytes():
    # Identity-H style 2-byte codes: no CMap -> raw byte interpretation
    # (documented degrade; must not crash, must stay bounded)
    out = extract_pdf_text_blocks(_stream(b"BT <00480065> Tj ET"))
    assert out == ["\x00H\x00e".strip()] or out == ["H e"] or isinstance(out, list)


def test_garbage_is_empty_not_crash():
    assert extract_pdf_text_blocks(b"\x00\x01 not a pdf") == []
    assert extract_span("pdf_bytes", "!!!not-base64!!!") == []


def test_b64_roundtrip():
    pdf = make_mini_pdf([["abc"]])
    b64 = base64.b64encode(pdf).decode()
    assert extract_span("pdf_bytes", b64) == [("text", "abc", None)]


# ------------------------------------------------ ToUnicode / Identity-H

def test_identity_h_with_tounicode_decodes():
    from geoparser_spark.operators.pdf_text import (
        extract_pdf_text_blocks,
        make_mini_pdf_identity_h,
    )

    pdf = make_mini_pdf_identity_h([["Hello World", "Second line"], ["Page two"]])
    assert extract_pdf_text_blocks(pdf) == [
        "Hello World Second line", "Page two",
    ]


def test_identity_h_without_tounicode_skips_not_garbles():
    from geoparser_spark.operators.pdf_text import (
        extract_pdf_text_blocks,
        make_mini_pdf_identity_h,
    )

    # glyph ids with no CMap have no text meaning: provably skipped,
    # never emitted as garbled latin-1 bytes
    pdf = make_mini_pdf_identity_h([["Hello"]], with_tounicode=False)
    assert extract_pdf_text_blocks(pdf) == []


def test_bfrange_continuation_and_list_forms():
    from geoparser_spark.operators.pdf_text import extract_pdf_text_blocks

    cm = (b"begincmap\nbeginbfrange\n<0001> <0003> <0041>\n"
          b"<0010> <0011> [<0058> <00590059>]\nendbfrange\nendcmap\n")
    body = b"BT <000100020003> Tj ET\nBT <00100011> Tj ET\n"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(cm)).encode()
           + b" >>\nstream\n" + cm + b"\nendstream\nendobj\n"
           b"2 0 obj\n<< /Length " + str(len(body)).encode()
           + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF\n")
    # <0001>-<0003> -> 'A'.. ; list form maps <0010> 'X', <0011> 'YY'
    assert extract_pdf_text_blocks(pdf) == ["ABC XYY"]


def test_cmap_unmapped_codes_skipped():
    from geoparser_spark.operators.pdf_text import extract_pdf_text_blocks

    cm = b"beginbfchar\n<0001> <0041>\nendbfchar\n"
    body = b"BT <0001FFFF0001> Tj ET\n"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(cm)).encode()
           + b" >>\nstream\n" + cm + b"\nendstream\nendobj\n"
           b"2 0 obj\n<< /Length " + str(len(body)).encode()
           + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF\n")
    # the unmapped <FFFF> in the middle vanishes; mapped codes survive
    assert extract_pdf_text_blocks(pdf) == ["AA"]


def test_plain_hex_still_latin1_without_cmap():
    from geoparser_spark.operators.pdf_text import extract_pdf_text_blocks

    body = b"BT <48656C6C6F> Tj ET\n"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(body)).encode()
           + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF\n")
    assert extract_pdf_text_blocks(pdf) == ["Hello"]


def test_pdf_image_xobjects_emit_interleaved_media_spans():
    from geoparser_spark.operators.pdf_text import (
        extract_pdf_spans,
        make_mini_pdf,
    )

    pdf = make_mini_pdf([["Page one text."]], images=[(12, 9)])
    assert extract_pdf_spans(pdf) == [
        ("text", "Page one text.", None),
        ("image", None, "img://jpeg/12x9"),
    ]
    # the DCT payload is a real JPEG whose header matches the XObject dims
    from geoparser_spark.operators.image_meta import parse_image_meta
    i = pdf.index(b"\xff\xd8")
    j = pdf.index(b"\xff\xd9", i) + 2
    assert parse_image_meta(pdf[i:j])[:3] == ("jpeg", 12, 9)


def test_pdf_image_without_dims_is_skipped():
    from geoparser_spark.operators.pdf_text import extract_pdf_spans

    raw = (b"%PDF-1.4\n1 0 obj\n<< /Type /XObject /Subtype /Image"
           b" /Filter /DCTDecode /Length 4 >>\nstream\nabcd\nendstream\n"
           b"endobj\n%%EOF\n")
    assert extract_pdf_spans(raw) == []
