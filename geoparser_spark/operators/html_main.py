"""HTML main-content extraction: DOM text-density boilerplate strip.

Replaces the reference's Tika-server text extraction hop
(reference: geoparser_app/views.py:125 → Tika HTTP :8001,
Docker/Dockerfile:33-36) with an in-process, deterministic scan.
Runs inside Arrow-batched ``mapInArrow`` stages — per-batch Python,
never a per-row UDF (SURVEY.md §2.2 E1).

Algorithm (deterministic, fixture-pinned):
  1. Scan the markup once, left to right, with one regex tokenizer and
     a stack of open elements; no element tree is built.  Tolerant of
     unclosed <p>/<li>, void elements and stray end tags; comments,
     declarations and <script>/<style> bodies are skipped.  A ``<``
     that starts no tag (``1<2``, ``a <- b``) is a one-character text
     chunk, as in stdlib ``html.parser``; ``</`` plus a non-letter up to
     ``>`` is dropped; a tag whose quoted attribute value never closes
     puts its ``<`` out as text; a tag or comment left unterminated at
     end of input is markup.
  2. Hard-drop boilerplate containers by tag (<nav>, <footer>, <script>,
     ...) and by class/id token (``nav``, ``menu``, ``sidebar``, ...):
     everything inside them is skipped.
  3. Accumulate inline text runs in document order; the run is a
     candidate block, flushed whenever a block-level element opens or
     closes (end tag, implied close, end of input).
  4. Keep a block iff its normalized text is non-empty AND its link
     density (chars inside <a> / total chars) is <= 0.5.  Link farms
     ("related links", menus that survived step 2) fail this.
  5. <img>/<video>/<audio> elements in kept containers emit media spans
     (kind, media_ref) at their document-order position.

Output: ordered list of (kind, text, media_ref) tuples; ``kind`` is
'text' for content blocks or the media kind.  ``extract_links`` reads
the <a href> start tags off the same scan.
"""

from __future__ import annotations

import re
from html import unescape

DROP_TAGS = frozenset(
    "script style noscript nav header footer aside form button iframe "
    "svg select option template head title meta link".split()
)
BAD_CLASS_TOKENS = frozenset(
    "nav navbar navigation menu footer header sidebar banner ad ads advert advertisement "
    "promo related share social comment comments breadcrumb breadcrumbs "
    "cookie popup widget masthead".split()
)
BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li pre blockquote div article section main body "
    "html ul ol table tr td th figure figcaption dl dt dd".split()
)
VOID_TAGS = frozenset("img br hr input meta link source track wbr area base col embed".split())
MEDIA_TAGS = {"img": "image", "video": "video", "audio": "audio"}
# Tags whose open implies closing a same-tag ancestor (HTML5 omission rules,
# the subset that matters for content docs).  The search walks down
# through inline elements only.
IMPLIED_CLOSE = {"p": {"p"}, "li": {"li"}, "tr": {"tr", "td", "th"}, "td": {"td", "th"}, "th": {"td", "th"}}
INLINE_TAGS = frozenset(("a", "span", "b", "i", "em", "strong", "small", "u", "code"))

_TOKEN_SPLIT = re.compile(r"[\s_\-]+")


def _is_dropped(tag: str, attrs: dict[str, str]) -> bool:
    if tag in DROP_TAGS:
        return True
    if not attrs:  # the common case: no attr scan, no regex split
        return False
    blob = f"{attrs.get('class', '')} {attrs.get('id', '')} {attrs.get('role', '')}".lower()
    return any(tok in BAD_CLASS_TOKENS for tok in _TOKEN_SPLIT.split(blob) if tok)


def _norm(s: str) -> str:
    return " ".join(s.split())


# Maximum depth of the open-element stack.  Real pages stay under ~60;
# a crawl page with 1000+ unclosed tags would otherwise make every end
# tag and implied close search a stack that long.  Past the cap a start
# tag keeps its open effect (flush, media span) but is not pushed: its
# content belongs to the capped ancestor (flattened, document order
# kept).
MAX_TREE_DEPTH = 400

# One match per '<'; text between tags is sliced with str.find, and a
# '<' that matches nothing here is a stray text character.
_TOKEN = re.compile(
    r"<!--.*?(?:-->|$)"          # comments (unterminated: to EOF)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<![^>]*>"                 # doctype / declarations
    r"|<\?[^>]*>"                # processing instructions
    # tags, quote-aware: a '>' inside a quoted attribute value does NOT
    # end the tag (matches HTMLParser).  A tag with an unbalanced quote
    # matches without the trailing '>'; the scan loop then puts its '<'
    # out as text.  Groups: '/' of an end tag, name, rest of the tag.
    r"|<(/?)([a-zA-Z][a-zA-Z0-9-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*>?)"
    r"|</[^>]*>",                # '</' + non-letter: bogus comment
    re.S,
)
_ATTR = re.compile(
    r"""([a-zA-Z][a-zA-Z0-9_-]*)\s*=\s*("[^"]*"|'[^']*'|[^\s>]+)"""
)
_RAWTEXT_END = {
    "script": re.compile(r"</script", re.I),
    "style": re.compile(r"</style", re.I),
}
# attrs matter for dropping (class/id/role), media refs (src) AND
# link extraction (href: extract_links reads it off the same scan;
# removing href here would silently drop every plain <a href>)
_ATTR_HINT = re.compile(r"class|id|role|src|href", re.I)


def _scan(html: str) -> tuple[list[tuple[str, str | None, str | None]], list[str]]:
    """The one pass over ``html``: main-content blocks, plus the raw
    href ('' when absent) of every <a> start tag in source order."""
    out: list[tuple[str, str | None, str | None]] = []
    hrefs: list[str] = []
    run: list[str] = []  # text chunks of the current block
    link_len = 0         # normalized chars of those chunks inside <a>
    # open elements: (tag, skip, in_link, flushes).  ``skip``: content
    # ignored (dropped or media element, or inside one); ``flushes``: a
    # kept block element, whose close ends the current block.
    stack = [("#root", False, False, False)]
    skip = in_link = False  # of stack[-1]

    def flush() -> None:
        nonlocal link_len
        text = _norm("".join(run))
        # link density on normalized lengths, summed per chunk
        if text and link_len / sum(len(_norm(c)) for c in run) <= 0.5:
            out.append(("text", text, None))
        run.clear()
        link_len = 0

    def pop(i: int) -> None:  # close stack[i:]
        nonlocal skip, in_link
        if any(f[3] for f in stack[i:]):
            flush()
        del stack[i:]
        _, skip, in_link, _ = stack[-1]

    pos, n = 0, len(html)
    while pos < n:
        lt = html.find("<", pos)
        if lt != pos:
            end = n if lt == -1 else lt
            if not skip:
                tok = html[pos:end]
                if "&" in tok:
                    tok = unescape(tok)
                run.append(tok)
                if in_link:
                    link_len += len(_norm(tok))
            if lt == -1:
                break
            pos = lt
        m = _TOKEN.match(html, pos)
        if m is None or (m[2] and not m[3].endswith(">") and m.end() < n):
            # a '<' that starts no construct, or a tag whose quoted
            # value never closes: the '<' is a one-char text chunk
            if not skip:
                run.append("<")
                if in_link:
                    link_len += 1
            pos += 1
            continue
        close, name, body = m.groups()
        pos = m.end()
        if name is None:  # comment, declaration, PI, '</' junk
            continue
        tag = name.lower()
        if close:
            for i in range(len(stack) - 1, 0, -1):
                if stack[i][0] == tag:
                    pop(i)
                    break
            continue  # stray end tag: ignore
        attrs: dict[str, str] = {}
        # shortest interesting body is ' id=x>' — skip the regex scan
        # for the bare-tag majority
        if len(body) > 5 and _ATTR_HINT.search(body):
            for k, v in _ATTR.findall(body):
                if v[:1] in "\"'":
                    v = v[1:-1]
                attrs[k.lower()] = v
        if tag == "a":
            hrefs.append(attrs.get("href", ""))
        closers = IMPLIED_CLOSE.get(tag)
        if closers:
            for i in range(len(stack) - 1, 0, -1):
                t = stack[i][0]
                if t in closers:
                    pop(i)
                    break
                if t not in INLINE_TAGS:
                    break
        self_closing = body.endswith("/>")
        if tag in _RAWTEXT_END:
            # a drop tag (no open effect) whose body is skipped unparsed;
            # never pushed, so its end tag is a stray one
            if not self_closing:
                end = _RAWTEXT_END[tag].search(html, pos)
                pos = end.start() if end else n
            continue
        dropped = skip or _is_dropped(tag, attrs)
        if not dropped:
            if tag in MEDIA_TAGS:
                flush()
                ref = attrs.get("src") or attrs.get("data-src") or None
                out.append((MEDIA_TAGS[tag], None, ref))
            elif tag in BLOCK_TAGS:
                flush()
        if tag not in VOID_TAGS and not self_closing \
                and len(stack) < MAX_TREE_DEPTH:
            # a media element's fallback content is never text
            skip = dropped or tag in MEDIA_TAGS
            in_link = in_link or tag == "a"
            stack.append((tag, skip, in_link, not skip and tag in BLOCK_TAGS))
    flush()
    return out, hrefs


def extract_html_blocks(html: str) -> list[tuple[str, str | None, str | None]]:
    """Scan HTML and return ordered main-content blocks.

    Returns [(kind, text, media_ref), ...] where kind is 'text' or a
    media kind ('image'|'video'|'audio').
    """
    return _scan(html)[0] if html else []


def extract_links(html: str) -> list[str]:
    """Outbound link extraction: every <a href> in document order —
    the crawl-graph edge source (WARC pages → links → canonical URLs
    (operators/urls.py) → host edges → pagerank closes the curation
    loop the reference's Sparkler-fed corpus implies).  Skips
    fragment-only, javascript:, mailto: and empty hrefs; keeps
    relative URLs (resolution against the page URL is the caller's
    join).  Any markup, however damaged, scans without an exception."""
    out: list[str] = []
    for href in _scan(html)[1] if html else ():
        href = href.strip()
        if href and not href.startswith("#") \
                and not href.lower().startswith(("javascript:", "mailto:")):
            out.append(href)
    return out
