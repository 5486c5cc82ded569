"""Test-side reference for ``operators/html_main``: the stdlib
``html.parser`` tree builder and the recursive document-order emitter
that the shipped one-pass scanner is compared against.

It applies the same rules as the scanner (drop tags and class tokens,
block tags, implied closes, the depth cap, link density, media spans),
but on an element tree that ``html.parser.HTMLParser`` builds.  Two
divergences are by design and pinned by literal tests in
``test_html_main.py``: a tag token left without a closing ``>`` (at end
of input, or with an unbalanced quote), and ``<![`` junk on which
``HTMLParser`` raises.
"""

from __future__ import annotations

from html.parser import HTMLParser

from geoparser_spark.operators.html_main import (
    BLOCK_TAGS,
    IMPLIED_CLOSE,
    INLINE_TAGS,
    MAX_TREE_DEPTH,
    MEDIA_TAGS,
    VOID_TAGS,
    _is_dropped,
    _norm,
)


class _Node:
    __slots__ = ("tag", "attrs", "children", "dropped")

    def __init__(self, tag: str, attrs: dict[str, str]):
        self.tag = tag
        self.attrs = attrs
        self.children: list[object] = []  # _Node | str
        self.dropped = _is_dropped(tag, attrs)


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", {})
        self.stack = [self.root]

    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        ad = {k: (v or "") for k, v in attrs}
        closers = IMPLIED_CLOSE.get(tag)
        if closers:
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t in closers:
                    del self.stack[i:]
                    break
                if t not in INLINE_TAGS:
                    break
        node = _Node(tag, ad)
        self.stack[-1].children.append(node)
        if tag not in VOID_TAGS and len(self.stack) < MAX_TREE_DEPTH:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        node = _Node(tag.lower(), {k: (v or "") for k, v in attrs})
        self.stack[-1].children.append(node)

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignore

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].children.append(data)


class _Emitter:
    """Document-order walk producing (kind, text, media_ref) blocks."""

    def __init__(self) -> None:
        self.out: list[tuple[str, str | None, str | None]] = []
        self._run: list[str] = []       # inline text chunks of current block
        self._run_link_len = 0          # chars contributed under <a>

    def _flush(self) -> None:
        text = _norm("".join(self._run))
        if text:
            total = sum(len(_norm(c)) for c in self._run)
            # link density on normalized lengths
            if self._run_link_len / total <= 0.5:
                self.out.append(("text", text, None))
        self._run = []
        self._run_link_len = 0

    def walk(self, node: _Node, in_link: bool = False) -> None:
        for child in node.children:
            if isinstance(child, str):
                self._run.append(child)
                if in_link:
                    self._run_link_len += len(_norm(child))
                continue
            if child.dropped:
                continue
            if child.tag in MEDIA_TAGS:
                self._flush()
                ref = child.attrs.get("src") or child.attrs.get("data-src") or ""
                self.out.append((MEDIA_TAGS[child.tag], None, ref or None))
                continue
            if child.tag in BLOCK_TAGS:
                self._flush()
                self.walk(child, in_link=in_link)
                self._flush()
            else:
                # inline element: accumulate into the current run
                self.walk(child, in_link=in_link or child.tag == "a")

    def finish(self) -> list[tuple[str, str | None, str | None]]:
        self._flush()
        return self.out


def _tree(html: str) -> _Node:
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


def reference_blocks(html: str) -> list[tuple[str, str | None, str | None]]:
    """``extract_html_blocks`` by way of an HTMLParser element tree.
    Raises where HTMLParser raises."""
    if not html:
        return []
    emitter = _Emitter()
    emitter.walk(_tree(html))
    return emitter.finish()


def reference_links(html: str) -> list[str]:
    """``extract_links`` by way of a pre-order walk of the same tree."""
    if not html:
        return []
    out: list[str] = []
    stack = [_tree(html)]
    while stack:
        node = stack.pop()
        if node.tag == "a":
            href = (node.attrs.get("href") or "").strip()
            if href and not href.startswith("#") \
                    and not href.lower().startswith(("javascript:", "mailto:")):
                out.append(href)
        stack.extend(c for c in reversed(node.children)
                     if not isinstance(c, str))
    return out
