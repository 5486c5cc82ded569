"""DOCX / RTF extraction (Tika format breadth, E1)."""

from __future__ import annotations

import base64

from geoparser_spark.operators.extract import extract_span
from geoparser_spark.operators.office_text import (
    extract_docx_text_blocks,
    extract_rtf_text_blocks,
    make_mini_docx,
)


def test_docx_paragraph_blocks():
    docx = make_mini_docx(["First paragraph.", "Second one here."])
    assert extract_docx_text_blocks(docx) == [
        "First paragraph.", "Second one here.",
    ]


def test_docx_entities_and_empty_paragraphs():
    docx = make_mini_docx(["a < b & c > d", "", "tail"])
    assert extract_docx_text_blocks(docx) == ["a < b & c > d", "tail"]


def test_docx_multiple_runs_per_paragraph():
    # hand-built xml: two <w:t> runs in one paragraph concatenate
    import io
    import zipfile

    doc = (
        '<?xml version="1.0"?><w:document xmlns:w="x"><w:body>'
        "<w:p><w:r><w:t>Hel</w:t></w:r><w:r><w:t>lo world</w:t></w:r></w:p>"
        "<w:p><w:r><w:t>Tab</w:t></w:r><w:tab/><w:r><w:t>sep</w:t></w:r></w:p>"
        "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/document.xml", doc)
    assert extract_docx_text_blocks(buf.getvalue()) == ["Hello world", "Tab sep"]


def test_docx_damage_degrades_empty():
    assert extract_span("docx_bytes", b"not a zip at all") == []
    assert extract_span("docx_bytes", "!!!") == []
    # zip without word/document.xml
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("other.xml", "<x/>")
    assert extract_span("docx_bytes", buf.getvalue()) == []


def test_docx_b64_roundtrip():
    b64 = base64.b64encode(make_mini_docx(["payload text"])).decode()
    assert extract_span("docx_bytes", b64) == [("text", "payload text", None)]


def test_rtf_basic_paragraphs():
    rtf = r"{\rtf1\ansi Hello world.\par Second paragraph here.\par}"
    assert extract_rtf_text_blocks(rtf) == [
        "Hello world.", "Second paragraph here.",
    ]


def test_rtf_destinations_skipped():
    rtf = (
        r"{\rtf1{\fonttbl{\f0 Times New Roman;}}"
        r"{\colortbl;\red0\green0\blue0;}"
        r"{\info{\title secret title}}"
        r"Visible text only.\par}"
    )
    assert extract_rtf_text_blocks(rtf) == ["Visible text only."]


def test_rtf_escapes_and_unicode():
    rtf = r"{\rtf1 caf\'e9 and \u8364 ?euro\par}"
    out = extract_rtf_text_blocks(rtf)
    assert out == ["café and €euro"]


def test_rtf_starred_group_skipped():
    rtf = r"{\rtf1{\*\generator Riched20;}kept\par}"
    assert extract_rtf_text_blocks(rtf) == ["kept"]


def test_rtf_non_rtf_degrades_empty():
    assert extract_rtf_text_blocks("plain text, no rtf header") == []


def test_office_kinds_through_spark_extract(spark):
    """docx_bytes / rtf spans flow through the Arrow extract path like
    html/pdf_bytes."""
    from geoparser_spark.operators.extract import extract
    from geoparser_spark.schemas import DOCS

    docx_b64 = base64.b64encode(
        make_mini_docx(["Docx body paragraph."])
    ).decode()
    rtf = r"{\rtf1 Rtf body text.\par}"
    docs = spark.createDataFrame(
        [
            (
                "d1",
                [
                    ("docx_bytes", docx_b64, None, 0),
                    ("rtf", rtf, None, 1),
                    ("text", "plain tail", None, 2),
                ],
            )
        ],
        DOCS,
    )
    out = extract(docs).collect()[0]
    seq = [(s["kind"], s["text"], s["order"]) for s in out["spans"]]
    assert seq == [
        ("text", "Docx body paragraph.", 0),
        ("text", "Rtf body text.", 1),
        ("text", "plain tail", 2),
    ]


def test_xml_unescape_single_pass_no_double_decode():
    # sequential replace() would turn '&amp;lt;' into '<'; the correct
    # single-pass decode yields the literal string '&lt;'
    from geoparser_spark.operators.office_text import _xml_unescape

    assert _xml_unescape(b"a &amp;lt; b") == b"a &lt; b"
    assert _xml_unescape(b"x &amp;amp; y") == b"x &amp; y"
    assert _xml_unescape(b"a &lt; b &gt; c &amp; d") == b"a < b > c & d"


def test_xml_unescape_pathological_numeric_refs_degrade():
    # codepoints beyond Unicode and surrogates must not raise (a bad
    # span would kill the whole Spark extract task) — U+FFFD instead
    from geoparser_spark.operators.office_text import _xml_unescape

    fffd = "�".encode("utf-8")
    assert _xml_unescape(b"&#4294967296;") == fffd
    assert _xml_unescape(b"&#xD800;") == fffd
    assert _xml_unescape(b"&#xDFFF;") == fffd
    assert _xml_unescape(b"&#x110000;") == fffd
    assert _xml_unescape(b"&#x10FFFF;") == "\U0010ffff".encode("utf-8")
    assert _xml_unescape(b"ok &#65; fine") == b"ok A fine"


# ---------------------------------------------------------------- PPTX

def test_pptx_slide_and_paragraph_order():
    from geoparser_spark.operators.office_text import (
        extract_pptx_text_blocks,
        make_mini_pptx,
    )

    pptx = make_mini_pptx([["One A.", "One B."], ["Two A."]])
    assert extract_pptx_text_blocks(pptx) == ["One A.", "One B.", "Two A."]


def test_pptx_slides_numeric_not_lexicographic_order():
    # slide10 must come AFTER slide2 (numeric sort, not name sort)
    import io
    import zipfile

    from geoparser_spark.operators.office_text import extract_pptx_text_blocks

    def slide(text):
        return (
            '<p:sld xmlns:p="p" xmlns:a="a"><p:cSld><p:spTree><p:sp>'
            f"<p:txBody><a:p><a:r><a:t>{text}</a:t></a:r></a:p></p:txBody>"
            "</p:sp></p:spTree></p:cSld></p:sld>"
        )

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("ppt/slides/slide10.xml", slide("ten"))
        z.writestr("ppt/slides/slide2.xml", slide("two"))
    assert extract_pptx_text_blocks(buf.getvalue()) == ["two", "ten"]


def test_pptx_runs_breaks_entities_damage():
    import io
    import zipfile

    from geoparser_spark.operators.office_text import (
        extract_pptx_text_blocks,
        make_mini_pptx,
    )

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr(
            "ppt/slides/slide1.xml",
            '<p:sld><a:p><a:r><a:t>Hel</a:t></a:r><a:br/>'
            "<a:r><a:t>lo &amp;lt; x</a:t></a:r></a:p></p:sld>",
        )
    # runs concatenate, <a:br/> becomes whitespace, no double-unescape
    assert extract_pptx_text_blocks(buf.getvalue()) == ["Hel lo &lt; x"]
    assert extract_span("pptx_bytes", b"not a zip") == []
    assert extract_span("pptx_bytes", "!!!") == []
    assert extract_pptx_text_blocks(make_mini_pptx([[]])) == []


# ---------------------------------------------------------------- XLSX

def test_xlsx_rows_and_shared_strings():
    from geoparser_spark.operators.office_text import (
        extract_xlsx_text_blocks,
        make_mini_xlsx,
    )

    xlsx = make_mini_xlsx([["Alpha", "Beta"], ["Gamma & <d>"]])
    assert extract_xlsx_text_blocks(xlsx) == ["Alpha Beta", "Gamma & <d>"]


def test_xlsx_cell_types_and_self_closing():
    import io
    import zipfile

    from geoparser_spark.operators.office_text import extract_xlsx_text_blocks

    # self-closing cell, inline string, numeric value, shared plain +
    # rich-run string — all in spec-shaped hand-built XML
    sheet = (
        '<?xml version="1.0"?><worksheet><sheetData>'
        '<row r="1"><c r="A1"/><c r="B1" t="inlineStr"><is><t>inl</t></is></c>'
        '<c r="C1"><v>42.5</v></c><c r="D1" t="s"><v>0</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>1</v></c></row>'
        "</sheetData></worksheet>"
    )
    ss = "<sst><si><t>shared</t></si><si><r><t>ri</t></r><r><t>ch</t></r></si></sst>"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("xl/sharedStrings.xml", ss)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    assert extract_xlsx_text_blocks(buf.getvalue()) == [
        "inl 42.5 shared", "rich",
    ]


def test_xlsx_damage_and_missing_parts():
    import io
    import zipfile

    from geoparser_spark.operators.office_text import (
        extract_xlsx_text_blocks,
    )

    assert extract_span("xlsx_bytes", b"nope") == []
    assert extract_span("xlsx_bytes", "!!!") == []
    # sheet referencing a shared-string index with NO sharedStrings part
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr(
            "xl/worksheets/sheet1.xml",
            '<worksheet><sheetData><row r="1">'
            '<c r="A1" t="s"><v>7</v></c></row></sheetData></worksheet>',
        )
    assert extract_xlsx_text_blocks(buf.getvalue()) == []


# ---------------------------------------------------------------- EPUB

def test_epub_spine_order_beats_name_order():
    from geoparser_spark.operators.office_text import (
        extract_epub_text_blocks,
        make_mini_epub,
    )

    # the fixture names files in REVERSE of spine order; a reader that
    # sorts by name instead of walking the OPF spine fails this
    e = make_mini_epub([["Chapter one.", "More one."], ["Chapter two."]])
    assert extract_epub_text_blocks(e) == [
        "Chapter one.", "More one.", "Chapter two.",
    ]


def test_epub_fallback_without_container():
    import io
    import zipfile

    from geoparser_spark.operators.office_text import extract_epub_text_blocks

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("b.xhtml", "<html><body><p>second</p></body></html>")
        z.writestr("a.xhtml", "<html><body><p>first</p></body></html>")
    assert extract_epub_text_blocks(buf.getvalue()) == ["first", "second"]


def test_epub_damage_degrades_empty():
    assert extract_span("epub_bytes", b"not a zip") == []
    assert extract_span("epub_bytes", "!!!") == []


# -------------------------------------------------------------------- ODT


def test_odt_paragraphs_and_headings():
    from geoparser_spark.operators.office_text import (
        extract_odt_text_blocks, make_mini_odt)

    b = make_mini_odt(["First para", "Second & <escaped>"])
    assert extract_odt_text_blocks(b) == ["First para", "Second & <escaped>"]


def test_odt_whitespace_elements_and_nested_spans():
    import io
    import zipfile

    from geoparser_spark.operators.office_text import extract_odt_text_blocks

    content = (b'<office:document-content><office:body><office:text>'
               b'<text:p>a<text:tab/>b<text:span text:style-name="T1">c'
               b'</text:span><text:s text:c="3"/>d</text:p>'
               b'<text:h text:outline-level="1">Heading</text:h>'
               b'<text:p/><text:p>  </text:p>'
               b'</office:text></office:body></office:document-content>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("content.xml", content)
    # tab/space ELEMENTS become spaces, spans flatten, empties drop
    assert extract_odt_text_blocks(buf.getvalue()) == ["a bc d", "Heading"]


def test_odt_damage_degrades_empty():
    import io
    import zipfile

    assert extract_span("odt_bytes", b"not a zip") == []
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("other.xml", b"<x/>")   # content.xml missing
    assert extract_span("odt_bytes", buf.getvalue()) == []
    assert extract_span("odt_bytes", "!!!not-base64!!!") == []
