"""XML text extraction: XML byte/char stream → ordered text blocks.

Reference parity: GeoParser routes any uploaded stream through Tika
auto-detect (/root/reference/geoparser_app/views.py:125); Tika's XML
parser emits the document's character content in document order.  This
module reproduces that contract with the stdlib parser, no Tika server.

Block contract (deterministic, fixture-pinned):
  * root with no child elements  -> one block: all character content.
  * otherwise -> root.text (if non-blank), then per direct child of the
    root one block of the child's full character content (descendants
    and internal tails included), then the child's tail (if non-blank),
    in document order.
  * every block is whitespace-normalized; blank blocks are dropped.

Degrade contract: a DTD internal subset that declares entities
(billion-laughs guard — modern expat caps amplification, but an input
this shape is never worth parsing for text) yields [].  Malformed XML
and undefined entities raise ``ParseError``, which the extract stage's
one degrade boundary (extract.extract_span) turns into ``[]``.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

_ENTITY_DECL = re.compile(r"<!DOCTYPE[^>]*\[", re.S)
_COMMENT = re.compile(r"<!--.*?-->", re.S)
_ROOT_START = re.compile(r"<(?=[A-Za-z_:])")


def _norm(s: str) -> str:
    return " ".join(s.split())


def _prolog_declares_entities(s: str) -> bool:
    """True if the document PROLOG (everything before the root element
    start) contains a DOCTYPE with an internal subset.  Scoping the
    scan to the prolog — not a fixed head window — means a DOCTYPE
    pushed past 4 KB by a long comment is still caught, while body
    text/CDATA that merely CONTAINS the literal '<!DOCTYPE ... ['
    (after the root) is not a false positive.  Comments are stripped
    first so commented-out declarations don't trip it either."""
    m = _ROOT_START.search(s)
    prolog = s[:m.start()] if m else s
    return bool(_ENTITY_DECL.search(_COMMENT.sub("", prolog)))


def extract_xml_text_blocks(s: str) -> list[str]:
    """XML string → ordered, whitespace-normalized text blocks."""
    if not s:
        return []
    head = s.lstrip("﻿ \t\r\n")
    if not head.startswith("<"):
        return []
    if _prolog_declares_entities(s):
        return []  # internal DTD subset: entity-expansion guard
    root = ET.fromstring(s)
    children = list(root)
    if not children:
        b = _norm("".join(root.itertext()))
        return [b] if b else []
    out: list[str] = []
    if root.text:
        b = _norm(root.text)
        if b:
            out.append(b)
    for child in children:
        b = _norm("".join(child.itertext()))
        if b:
            out.append(b)
        if child.tail:
            t = _norm(child.tail)
            if t:
                out.append(t)
    return out


def make_mini_xml(blocks: list[str], root: str = "doc",
                  child: str = "item") -> str:
    """Fixture writer: blocks → an XML document whose extraction yields
    exactly ``blocks`` (normalized).  Kept independent of the parser:
    escaping here is hand-rolled; the parser goes through expat."""
    def esc(t: str) -> str:
        return (t.replace("&", "&amp;").replace("<", "&lt;")
                 .replace(">", "&gt;"))

    body = "\n  ".join(f"<{child}>{esc(b)}</{child}>" for b in blocks)
    return f'<?xml version="1.0" encoding="UTF-8"?>\n<{root}>\n  {body}\n</{root}>\n'
