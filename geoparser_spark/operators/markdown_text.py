"""Markdown main-content extraction: ordered text + image-media spans.

Training corpora are full of Markdown (READMEs, forum exports, docs
sites); the reference would route it through Tika auto-detect
(`geoparser_app/views.py:125`).  This is a deterministic CommonMark-
subset block extractor under the same contract as every other format
here (html_main, office_text, ...): ordered blocks, degrade-to-partial;
a pathological doc degrades to [] at the dispatch boundary
(extract.extract_span).

Block rules (documented subset):
- fenced code blocks (``` or ~~~) become ONE text block of their
  content (whitespace-collapsed like all spans); an unclosed fence
  swallows the rest of the document as code (degrade, not error)
- remaining content splits into blocks on blank lines
- ATX heading markers (#{1,6}), blockquote '>' prefixes, list bullets
  ([-*+] / 1. / 1)) and setext/thematic-break lines (===, ---, ***)
  are structure, not content: stripped/dropped
- inline: images ![alt](url) emit an ('image', None, url) media span
  AFTER the enclosing block's text span, in order of appearance, with
  the alt text folded into the block text; links [text](url) keep the
  text; `code`, **strong** and *em* markers are stripped ('_' is NOT
  stripped — snake_case is content)
"""

from __future__ import annotations

import re

_FENCE = re.compile(r"^(```|~~~)")
_ATX = re.compile(r"^#{1,6}\s+")
_QUOTE = re.compile(r"^\s{0,3}>\s?")
_BULLET = re.compile(r"^\s{0,3}(?:[-*+]|\d{1,9}[.)])\s+")
_SETEXT_OR_BREAK = re.compile(r"^\s{0,3}(?:=+|-+|\*{3,}|_{3,})\s*$")
_IMG = re.compile(r"!\[([^\]]*)\]\(([^)\s]*)(?:\s+\"[^\"]*\")?\)")
_LINK = re.compile(r"\[([^\]]*)\]\(([^)\s]*)(?:\s+\"[^\"]*\")?\)")
_EMPH = re.compile(r"[*`]+")


def _norm(s: str) -> str:
    return " ".join(s.split())


def extract_markdown_spans(md: str) -> list[tuple]:
    """markdown string -> ordered [(kind, text, media_ref)] spans."""
    lines = md.replace("\r\n", "\n").replace("\r", "\n").split("\n")
    blocks: list[tuple[str, str]] = []  # (type, raw)
    buf: list[str] = []
    in_fence = False
    fence_buf: list[str] = []
    for ln in lines:
        if _FENCE.match(ln.lstrip()):
            if in_fence:
                blocks.append(("code", "\n".join(fence_buf)))
                fence_buf = []
                in_fence = False
            else:
                if buf:
                    blocks.append(("para", "\n".join(buf)))
                    buf = []
                in_fence = True
            continue
        if in_fence:
            fence_buf.append(ln)
        elif ln.strip() == "":
            if buf:
                blocks.append(("para", "\n".join(buf)))
                buf = []
        else:
            buf.append(ln)
    if fence_buf:
        blocks.append(("code", "\n".join(fence_buf)))  # unclosed fence
    if buf:
        blocks.append(("para", "\n".join(buf)))

    out: list[tuple] = []
    for btype, raw in blocks:
        if btype == "code":
            t = _norm(raw)
            if t:
                out.append(("text", t, None))
            continue
        kept_lines = []
        for ln in raw.split("\n"):
            if _SETEXT_OR_BREAK.match(ln):
                continue
            ln = _QUOTE.sub("", ln)
            ln = _ATX.sub("", ln)
            ln = _BULLET.sub("", ln)
            kept_lines.append(ln)
        text = "\n".join(kept_lines)
        images = [(m.group(1), m.group(2)) for m in _IMG.finditer(text)]
        text = _IMG.sub(lambda m: m.group(1), text)   # alt folds into text
        text = _LINK.sub(lambda m: m.group(1), text)  # link text kept
        text = _EMPH.sub("", text)
        t = _norm(text)
        if t:
            out.append(("text", t, None))
        for _alt, url in images:
            if url:
                out.append(("image", None, url))
    return out


def make_mini_md(heading: str, paragraphs: list[str],
                 image_urls: list[str] | None = None) -> str:
    """Fixture writer: heading + paragraphs (+ trailing image links),
    shaped to round-trip through extract_markdown_spans."""
    parts = [f"# {heading}"]
    parts += list(paragraphs)
    for u in image_urls or []:
        parts.append(f"![]({u})")
    return "\n\n".join(parts) + "\n"
