"""Office-format byte streams → ordered text blocks (Tika breadth).

The reference routes EVERY uploaded byte stream through a Tika server
(reference: geoparser_app/views.py:125, Docker/Dockerfile:33-36), which
gives it DOCX/RTF/etc. for free.  This module covers the two most
common office formats with stdlib-only parsers, same contract as
pdf_text: ordered text blocks.  Damaged zips and missing parts raise;
the extract stage's one degrade boundary (extract.extract_span) turns
that into the span's ``[]``.

* DOCX — a zip containing ``word/document.xml``; text lives in
  ``<w:t>`` runs grouped into ``<w:p>`` paragraphs (ECMA-376 / ISO
  29500, public spec).  One block per paragraph.
* RTF — control-word stream ({\\rtf1 ...}; public Microsoft spec).
  Group-aware scrub: destination groups (fonttbl, colortbl, info,
  pict, \\*-prefixed) are skipped entirely; \\par//\\line break
  paragraphs; \\'hh hex escapes and \\u<n> unicode escapes decode.

Both parsers are NOT derived from the fixture writers below; parser
and writer each follow the public spec independently (same discipline
as pdf_text.make_mini_pdf).
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.sax.saxutils import escape as _xml_escape

# ------------------------------------------------------------------- DOCX

_WP_SPLIT = re.compile(rb"<w:p[ >]")
_WT_RE = re.compile(rb"<w:t(?:\s[^>]*)?>(.*?)</w:t>", re.DOTALL)
_TAB_BR = re.compile(rb"<w:(?:tab|br)\s*/?>")
_ENTITIES = {b"amp": b"&", b"lt": b"<", b"gt": b">",
             b"quot": b'"', b"apos": b"'"}
# single-pass (like html.unescape): sequential .replace() passes
# double-unescape — b'a &amp;lt; b' must decode to 'a &lt; b', not 'a < b'
_ENT_REF = re.compile(rb"&(amp|lt|gt|quot|apos);|&#x([0-9a-fA-F]+);|&#([0-9]+);")


def _decode_ref(m: re.Match) -> bytes:
    if m.group(1):
        return _ENTITIES[m.group(1)]
    cp = int(m.group(2), 16) if m.group(2) else int(m.group(3))
    # invalid numeric refs (beyond Unicode, or surrogates) must not
    # raise — a single bad span would kill the whole extract task,
    # violating the degrade contract; substitute U+FFFD instead
    if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
        return "�".encode("utf-8")
    return chr(cp).encode("utf-8")


def _xml_unescape(raw: bytes) -> bytes:
    return _ENT_REF.sub(_decode_ref, raw)


def extract_docx_text_blocks(docx_bytes: bytes) -> list[str]:
    """One text block per non-empty paragraph of word/document.xml.
    Damaged zips / missing parts raise (see module docstring)."""
    with zipfile.ZipFile(io.BytesIO(docx_bytes)) as z:
        xml = z.read("word/document.xml")
    blocks: list[str] = []
    for para in _WP_SPLIT.split(xml)[1:]:
        # tabs/breaks sit BETWEEN <w:t> runs; rewrite them as synthetic
        # whitespace runs so they survive the run join
        para = _TAB_BR.sub(b"<w:t> </w:t>", para)
        runs = [_xml_unescape(m.group(1)) for m in _WT_RE.finditer(para)]
        text = " ".join(b"".join(runs).decode("utf-8", "replace").split())
        if text:
            blocks.append(text)
    return blocks


def make_mini_docx(paragraphs: list[str]) -> bytes:
    """Minimal valid-enough DOCX for fixtures: zip with content types +
    a document.xml holding one <w:p><w:r><w:t> per paragraph."""
    body = "".join(
        f"<w:p><w:r><w:t>{_xml_escape(p)}</w:t></w:r></w:p>" for p in paragraphs
    )
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        f"<w:body>{body}</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        # fixed zip timestamps: zipfile stamps entries with NOW by
        # default, which would make two generations of the same fixture
        # byte-different (the corpus generator promises bit-identical
        # re-generation)
        for name, payload in (
            (
                "[Content_Types].xml",
                '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
                '<Default Extension="xml" ContentType="application/xml"/></Types>',
            ),
            ("word/document.xml", doc),
        ):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(zi, payload)
    return buf.getvalue()


# ------------------------------------------------------------------- PPTX

_SLIDE_NAME = re.compile(r"^ppt/slides/slide(\d+)\.xml$")
_AP_SPLIT = re.compile(rb"<a:p[ >]")
_AT_RE = re.compile(rb"<a:t(?:\s[^>]*)?>(.*?)</a:t>", re.DOTALL)
_ABR_RE = re.compile(rb"<a:br\s*/?>")


def extract_pptx_text_blocks(pptx_bytes: bytes) -> list[str]:
    """One text block per non-empty DrawingML paragraph, slides in
    numeric order (ppt/slides/slide<N>.xml; ECMA-376 PresentationML —
    text lives in ``<a:t>`` runs grouped into ``<a:p>`` paragraphs).
    Damaged zips / missing parts raise (see module docstring).

    The reference gets PPTX via Tika auto-detect
    (geoparser_app/views.py:125); this is the stdlib equivalent."""
    with zipfile.ZipFile(io.BytesIO(pptx_bytes)) as z:
        slides = sorted(
            (int(m.group(1)), n)
            for n in z.namelist()
            if (m := _SLIDE_NAME.match(n))
        )
        xmls = [z.read(n) for _, n in slides]
    blocks: list[str] = []
    for xml in xmls:
        for para in _AP_SPLIT.split(xml)[1:]:
            para = _ABR_RE.sub(b"<a:t> </a:t>", para)
            runs = [_xml_unescape(m.group(1)) for m in _AT_RE.finditer(para)]
            text = " ".join(b"".join(runs).decode("utf-8", "replace").split())
            if text:
                blocks.append(text)
    return blocks


def make_mini_pptx(slides: list[list[str]]) -> bytes:
    """Minimal valid-enough PPTX for fixtures: one slide<N>.xml per
    slide, one <a:p><a:r><a:t> per paragraph.  Fixed zip timestamps
    (bit-identical regeneration, same reason as make_mini_docx)."""
    entries: list[tuple[str, str]] = [
        (
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        )
    ]
    for si, paras in enumerate(slides, start=1):
        body = "".join(
            f"<a:p><a:r><a:t>{_xml_escape(p)}</a:t></a:r></a:p>" for p in paras
        )
        entries.append(
            (
                f"ppt/slides/slide{si}.xml",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
                ' xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main">'
                f"<p:cSld><p:spTree><p:sp><p:txBody>{body}</p:txBody></p:sp>"
                "</p:spTree></p:cSld></p:sld>",
            )
        )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, payload in entries:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(zi, payload)
    return buf.getvalue()


# ------------------------------------------------------------------- XLSX

_SHEET_NAME = re.compile(r"^xl/worksheets/sheet(\d+)\.xml$")
_SI_RE = re.compile(rb"<si(?:\s[^>]*)?>(.*?)</si>", re.DOTALL)
_T_RE = re.compile(rb"<t(?:\s[^>]*)?>(.*?)</t>", re.DOTALL)
_ROW_RE = re.compile(rb"<row(?:\s[^>]*)?>(.*?)</row>", re.DOTALL)
# attrs group is LAZY so a self-closing <c r="A1"/> matches the />
# branch instead of a greedy attrs eating the '/' and the > branch
# then spanning to a LATER cell's </c>
_CELL_RE = re.compile(rb"<c\b([^>]*?)(?:/>|>(.*?)</c>)", re.DOTALL)
_CTYPE_RE = re.compile(rb'\st="([^"]+)"')
_V_RE = re.compile(rb"<v(?:\s[^>]*)?>(.*?)</v>", re.DOTALL)


def _cell_text(attrs: bytes, inner: bytes, shared: list[str]) -> str:
    """SpreadsheetML cell → text (ECMA-376 §18.3.1.4): t="s" indexes the
    shared-string table, t="inlineStr" holds <is><t> runs, t="str"
    (formula result) and numeric/default cells carry raw <v> text."""
    ctype = b"n"
    if attrs:
        m = _CTYPE_RE.search(attrs)
        if m:
            ctype = m.group(1)
    if not inner:
        return ""
    if ctype == b"s":
        m = _V_RE.search(inner)
        if m:
            try:
                idx = int(m.group(1))
            except ValueError:
                return ""
            if 0 <= idx < len(shared):
                return shared[idx]
        return ""
    if ctype == b"inlineStr":
        runs = [_xml_unescape(t.group(1)) for t in _T_RE.finditer(inner)]
        return b"".join(runs).decode("utf-8", "replace")
    m = _V_RE.search(inner)
    if m:
        return _xml_unescape(m.group(1)).decode("utf-8", "replace")
    return ""


def extract_xlsx_text_blocks(xlsx_bytes: bytes) -> list[str]:
    """One text block per non-empty row (cells joined by a space),
    sheets in numeric order.  Shared strings resolved from
    xl/sharedStrings.xml (plain <t> and rich <r><t> runs both
    concatenate, per spec).  Damaged input raises."""
    with zipfile.ZipFile(io.BytesIO(xlsx_bytes)) as z:
        names = z.namelist()
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            ss = z.read("xl/sharedStrings.xml")
            for si in _SI_RE.finditer(ss):
                runs = [_xml_unescape(t.group(1))
                        for t in _T_RE.finditer(si.group(1))]
                shared.append(
                    b"".join(runs).decode("utf-8", "replace"))
        sheets = sorted(
            (int(m.group(1)), n)
            for n in names
            if (m := _SHEET_NAME.match(n))
        )
        xmls = [z.read(n) for _, n in sheets]
    blocks: list[str] = []
    for xml in xmls:
        for row in _ROW_RE.finditer(xml):
            cells = [
                _cell_text(c.group(1) or b"", c.group(2) or b"", shared)
                for c in _CELL_RE.finditer(row.group(1))
            ]
            text = " ".join(" ".join(cells).split())
            if text:
                blocks.append(text)
    return blocks


def make_mini_xlsx(rows: list[list[str]]) -> bytes:
    """Minimal valid-enough XLSX for fixtures: one sheet, every cell a
    shared-string reference (the common writer layout).  Fixed zip
    timestamps for bit-identical regeneration."""
    strings: list[str] = []
    index: dict[str, int] = {}
    for row in rows:
        for cell in row:
            if cell not in index:
                index[cell] = len(strings)
                strings.append(cell)
    ss = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(f"<si><t>{_xml_escape(s)}</t></si>" for s in strings)
        + "</sst>"
    )
    body = []
    for ri, row in enumerate(rows, start=1):
        cells = "".join(
            f'<c r="{chr(64 + ci)}{ri}" t="s"><v>{index[cell]}</v></c>'
            for ci, cell in enumerate(row, start=1)
        )
        body.append(f'<row r="{ri}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(body)}</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, payload in (
            (
                "[Content_Types].xml",
                '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
                '<Default Extension="xml" ContentType="application/xml"/></Types>',
            ),
            ("xl/sharedStrings.xml", ss),
            ("xl/worksheets/sheet1.xml", sheet),
        ):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(zi, payload)
    return buf.getvalue()


# ------------------------------------------------------------------- EPUB

_EPUB_FULLPATH = re.compile(rb'full-path="([^"]+)"')
_OPF_ITEM_RE = re.compile(rb"<item\b[^>]*/?>")
_OPF_ID_RE = re.compile(rb'\bid="([^"]+)"')
_OPF_HREF_RE = re.compile(rb'\bhref="([^"]+)"')
_OPF_IDREF_RE = re.compile(rb'<itemref\b[^>]*\bidref="([^"]+)"')
_HTML_EXTS = (".xhtml", ".html", ".htm")


def extract_epub_text_blocks(epub_bytes: bytes) -> list[str]:
    """EPUB (OCF zip) → text blocks: chapters resolved through
    META-INF/container.xml → OPF manifest/spine READING ORDER, each
    XHTML chapter routed through the html main-content extractor; if
    the container/OPF is missing or broken, falls back to name-sorted
    XHTML entries.  A damaged zip raises."""
    import posixpath

    from geoparser_spark.operators.html_main import extract_html_blocks

    with zipfile.ZipFile(io.BytesIO(epub_bytes)) as z:
        names = set(z.namelist())
        ordered: list[str] = []
        opf_path = None
        if "META-INF/container.xml" in names:
            m = _EPUB_FULLPATH.search(z.read("META-INF/container.xml"))
            if m:
                opf_path = m.group(1).decode("utf-8", "replace")
        if opf_path and opf_path in names:
            opf = z.read(opf_path)
            base = posixpath.dirname(opf_path)
            items: dict[bytes, str] = {}
            for im in _OPF_ITEM_RE.finditer(opf):
                tag = im.group(0)
                idm = _OPF_ID_RE.search(tag)
                hrm = _OPF_HREF_RE.search(tag)
                if idm and hrm:
                    items[idm.group(1)] = hrm.group(1).decode("utf-8", "replace")
            for sm in _OPF_IDREF_RE.finditer(opf):
                href = items.get(sm.group(1))
                if href:
                    p = posixpath.join(base, href) if base else href
                    if p in names:
                        ordered.append(p)
        if not ordered:
            ordered = sorted(
                n for n in names if n.lower().endswith(_HTML_EXTS)
            )
        chapters = [z.read(n) for n in ordered]
    blocks: list[str] = []
    for raw in chapters:
        html = raw.decode("utf-8", "replace")
        blocks.extend(
            t for k, t, _m in extract_html_blocks(html) if k == "text" and t
        )
    return blocks


def make_mini_epub(chapters: list[list[str]]) -> bytes:
    """Minimal valid-enough EPUB for fixtures: container.xml → OPF with
    manifest + spine listing chapters in REVERSE-of-name order (so a
    reader that ignores the spine and sorts by name is caught), one
    XHTML file per chapter.  Fixed zip timestamps."""
    n = len(chapters)
    entries: list[tuple[str, str]] = [
        (
            "META-INF/container.xml",
            '<?xml version="1.0"?><container version="1.0">'
            '<rootfiles><rootfile full-path="OEBPS/content.opf"'
            ' media-type="application/oebps-package+xml"/></rootfiles></container>',
        )
    ]
    # file names count DOWN while spine order counts UP: name order
    # would reverse the chapters
    fnames = [f"ch{n - i:03d}.xhtml" for i in range(n)]
    manifest = "".join(
        f'<item id="c{i}" href="{fnames[i]}" media-type="application/xhtml+xml"/>'
        for i in range(n)
    )
    spine = "".join(f'<itemref idref="c{i}"/>' for i in range(n))
    entries.append(
        (
            "OEBPS/content.opf",
            '<?xml version="1.0"?><package xmlns="http://www.idpf.org/2007/opf"'
            f' version="3.0"><manifest>{manifest}</manifest>'
            f"<spine>{spine}</spine></package>",
        )
    )
    for i, paras in enumerate(chapters):
        body = "".join(f"<p>{_xml_escape(p)}</p>" for p in paras)
        entries.append(
            (
                f"OEBPS/{fnames[i]}",
                "<html><head><title>t</title></head>"
                f"<body>{body}</body></html>",
            )
        )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, payload in entries:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(zi, payload)
    return buf.getvalue()


# -------------------------------------------------------------------- RTF

_DESTINATIONS = frozenset(
    "fonttbl colortbl stylesheet info pict object header footer "
    "footnote generator operator themedata colorschememapping "
    "latentstyles datastore".split()
)
_CW_RE = re.compile(r"\\([a-zA-Z]+)(-?\d+)? ?|\\'([0-9a-fA-F]{2})|\\([^a-zA-Z])")


def extract_rtf_text_blocks(rtf: str) -> list[str]:
    """Group-aware RTF → paragraphs.  Non-RTF input degrades to []."""
    if not rtf.startswith("{\\rtf"):
        return []
    out: list[str] = []
    para: list[str] = []
    skip_depth = 0      # >0 while inside a destination group
    depth = 0
    uc_skip = 1         # chars to skip after \u<n> (default 1)
    pending_skip = 0
    i, n = 0, len(rtf)

    def end_para() -> None:
        text = " ".join("".join(para).split())
        if text:
            out.append(text)
        para.clear()

    while i < n:
        c = rtf[i]
        if pending_skip and skip_depth == 0 and c not in "{}\\":
            pending_skip -= 1
            i += 1
            continue
        if c == "{":
            depth += 1
            if skip_depth:
                skip_depth += 1
            i += 1
            # \* marks an unknown destination: skip the whole group
            if rtf.startswith("\\*", i) and not skip_depth:
                skip_depth = 1
            continue
        if c == "}":
            depth -= 1
            if skip_depth:
                skip_depth -= 1
            i += 1
            continue
        if c == "\\":
            m = _CW_RE.match(rtf, i)
            if not m:
                i += 1
                continue
            i = m.end()
            word, arg, hexc, sym = m.group(1), m.group(2), m.group(3), m.group(4)
            if skip_depth:
                continue
            if hexc is not None:
                para.append(chr(int(hexc, 16)))
            elif sym is not None:
                if sym in "\\{}":
                    para.append(sym)
                elif sym == "~":
                    para.append(" ")
            elif word in ("par", "line"):
                end_para()
            elif word == "tab":
                para.append(" ")
            elif word == "uc" and arg is not None:
                uc_skip = int(arg)
            elif word == "u" and arg is not None:
                cp = int(arg)
                para.append(chr(cp + 65536 if cp < 0 else cp))
                pending_skip = uc_skip
            elif word in _DESTINATIONS:
                skip_depth = 1
            continue
        if not skip_depth and c not in "\r\n":
            para.append(c)
        i += 1
    end_para()
    return out


# -------------------------------------------------------------------- ODT

# OASIS OpenDocument Text (public ODF 1.2 spec, part 3 §2.2): the zip
# container's content.xml holds paragraphs as <text:p>/<text:h> mixed
# content; whitespace is ELEMENTS — <text:tab/>, <text:line-break/>,
# <text:s text:c="n"/> — not characters.
_ODT_PARA = re.compile(
    rb"<text:(?:p|h)(?:\s[^>]*)?>(.*?)</text:(?:p|h)>", re.DOTALL)
_ODT_WS = re.compile(rb"<text:(?:tab|line-break|s)(?:\s[^>]*)?/?>")
_ODT_TAG = re.compile(rb"<[^>]*>")


def extract_odt_text_blocks(odt_bytes: bytes) -> list[str]:
    """One text block per non-empty <text:p>/<text:h> of content.xml,
    document order; whitespace elements become spaces, nested spans
    flatten (tag strip AFTER whitespace rewrite, entity unescape
    last).  Damaged zips / missing parts raise."""
    with zipfile.ZipFile(io.BytesIO(odt_bytes)) as z:
        xml = z.read("content.xml")
    blocks: list[str] = []
    for m in _ODT_PARA.finditer(xml):
        inner = _ODT_WS.sub(b" ", m.group(1))
        inner = _ODT_TAG.sub(b"", inner)
        text = " ".join(
            _xml_unescape(inner).decode("utf-8", "replace").split())
        if text:
            blocks.append(text)
    return blocks


def make_mini_odt(paragraphs: list[str]) -> bytes:
    """Minimal valid-enough ODT for fixtures: mimetype STORED first
    (ODF 1.2 part 3 §3.3) + content.xml with one <text:p> per
    paragraph; fixed zip timestamps for bit-identical regeneration."""
    body = "".join(
        f"<text:p>{_xml_escape(p)}</text:p>" for p in paragraphs)
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content'
        ' xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'
        ' xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        f"<office:body><office:text>{body}</office:text></office:body>"
        "</office:document-content>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        zi = zipfile.ZipInfo("mimetype", date_time=(1980, 1, 1, 0, 0, 0))
        zi.compress_type = zipfile.ZIP_STORED
        z.writestr(zi, "application/vnd.oasis.opendocument.text")
        zi = zipfile.ZipInfo("content.xml", date_time=(1980, 1, 1, 0, 0, 0))
        zi.compress_type = zipfile.ZIP_DEFLATED
        z.writestr(zi, content)
    return buf.getvalue()
