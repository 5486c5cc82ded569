"""Golden tests for the DOM text-density boilerplate strip (E1a).

Fixtures are handcrafted — expected outputs written by hand from the
documented algorithm, not generated by the code under test.
"""

from html_reference import reference_blocks, reference_links

from geoparser_spark.operators.html_main import extract_html_blocks


def test_basic_article():
    html = (
        "<html><head><title>t</title><script>var x=1;</script></head><body>"
        "<nav><a href='/'>Home</a><a href='/a'>About</a></nav>"
        "<div class='content'><h1>Big Title</h1>"
        "<p>Para one text here.</p>"
        "<img src='img://x/1'/>"
        "<p>Para two.</p></div>"
        "<footer>Copyright 2020</footer></body></html>"
    )
    assert extract_html_blocks(html) == [
        ("text", "Big Title", None),
        ("text", "Para one text here.", None),
        ("image", None, "img://x/1"),
        ("text", "Para two.", None),
    ]


def test_bad_class_tokens_dropped():
    html = (
        "<body><div class='sidebar'><p>ad text</p></div>"
        "<div id='main-menu'><p>menu text</p></div>"
        "<div role='navigation'><p>nav text</p></div>"
        "<p>real content paragraph.</p></body>"
    )
    assert extract_html_blocks(html) == [("text", "real content paragraph.", None)]


def test_link_density_kills_link_farms():
    html = (
        "<body><div><a href='/1'>one</a> <a href='/2'>two</a> <a href='/3'>three</a></div>"
        "<p>This paragraph has a single <a href='/x'>inline link</a> inside much longer text.</p>"
        "</body>"
    )
    out = extract_html_blocks(html)
    assert out == [
        ("text", "This paragraph has a single inline link inside much longer text.", None)
    ]


def test_unclosed_p_and_entities():
    html = "<body><p>first &amp; second<p>third block</body>"
    assert extract_html_blocks(html) == [
        ("text", "first & second", None),
        ("text", "third block", None),
    ]


def test_whitespace_normalized():
    html = "<body><p>  a\n\n  b\t c  </p></body>"
    assert extract_html_blocks(html) == [("text", "a b c", None)]


def test_media_order_interleaved():
    html = (
        "<body><p>a</p><video src='v://1'></video><p>b</p>"
        "<audio src='a://2'></audio></body>"
    )
    assert extract_html_blocks(html) == [
        ("text", "a", None),
        ("video", None, "v://1"),
        ("text", "b", None),
        ("audio", None, "a://2"),
    ]


def test_media_inside_dropped_container_is_dropped():
    html = "<body><nav><img src='i://x'/></nav><p>keep</p></body>"
    assert extract_html_blocks(html) == [("text", "keep", None)]


def test_hopeless_markup_falls_back():
    # no markup at all: the whole input is one text block
    out = extract_html_blocks("just plain text, no tags")
    assert out == [("text", "just plain text, no tags", None)]


def test_empty_input():
    assert extract_html_blocks("") == []
    assert extract_html_blocks("<body><nav><a>x</a></nav></body>") == []


def test_nested_blocks_attributed_separately():
    html = "<body><div>outer head<p>inner para</p>outer tail</div></body>"
    assert extract_html_blocks(html) == [
        ("text", "outer head", None),
        ("text", "inner para", None),
        ("text", "outer tail", None),
    ]


def test_list_items():
    html = "<body><ul><li>alpha item</li><li><a href='/'>pure link</a></li></ul></body>"
    # second li is 100% link text → dropped by link density
    assert extract_html_blocks(html) == [("text", "alpha item", None)]


def test_fast_tokenizer_matches_htmlparser_path():
    """The one-pass scanner and the stdlib-HTMLParser reference
    (tests/html_reference.py) must produce identical blocks and links
    on realistic and adversarial markup."""
    import pandas as pd
    from geoparser_spark.operators.html_main import extract_links
    from geoparser_spark.testing.corpus import _gen_batches

    cases = [
        "<p>a &amp; b</p>",
        "<div class='sidebar'>x</div><p>keep</p>",
        "<ul><li>one<li>two</ul>",
        "<script>var x = '<p>not content</p>';</script><p>real</p>",
        "<style>p{color:red}</style><p>styled</p>",
        "<!-- comment --><p>after</p>",
        "<p>unclosed <b>bold",
        "<img src='a.png'><p>txt</p><video src=v.mp4></video>",
        "<P CLASS=MENU>shout</P><p>ok</p>",
        "<table><tr><td>c1<td>c2<tr><td>c3</table>",
        "<a href='/'>l1</a><a href='/b'>l2</a>",
        "text only, no tags & an entity",
        "<p>self-closed <br/> here</p>",
        "<div id=\"cookie-banner\">gdpr</div><article>body</article>",
        # '>' inside quoted attribute values must not end the tag
        "<p title=\"a>b\">x</p>",
        "<a href='/x' title='y>z'>deep link</a><p>body text</p>",
        "<div class=\"x>nav\">content stays</div>",
        "<img src=\"pic>1.png\"><p>after media</p>",
    ]
    # plus every generated corpus html span
    gen = _gen_batches("docs", 7, 0, 1)
    batch = next(gen(iter([pd.DataFrame({"id": range(60)})])))
    for spans in batch["spans"]:
        for s in spans:
            if s["kind"] == "html" and s["text"]:
                cases.append(s["text"])

    for html in cases:
        assert extract_html_blocks(html) == reference_blocks(html), html[:120]
        assert extract_links(html) == reference_links(html), html[:120]


def test_quoted_gt_in_attribute_value():
    """A '>' inside a quoted attribute value is part of the value, not
    the tag end (regression: the fast tokenizer used to truncate there,
    emitting attribute junk as content)."""
    assert extract_html_blocks('<p title="a>b">x</p>') == [("text", "x", None)]
    # class-based dropping still sees the full attr after a quoted '>'
    assert extract_html_blocks(
        '<div title="x>y" class="sidebar">junk</div><p>keep</p>'
    ) == [("text", "keep", None)]


def test_quote_imbalanced_tag_falls_back_to_htmlparser():
    """A tag whose quoted attribute value never closes is not a tag:
    its '<' is text, and the output equals the HTMLParser reference."""
    for html in (
        '<p data-x="unclosed>text</p>',
        "<a href='half>link text</a><p>tail</p>",
    ):
        assert extract_html_blocks(html) == reference_blocks(html), html


def test_extract_links_order_and_filters():
    from geoparser_spark.operators.html_main import extract_links

    h = ('<html><body><a href="http://a.com/1">1</a>'
         '<p>text <a href="/rel">r</a></p>'
         '<a href="#frag">f</a><a href="mailto:x@y">m</a>'
         '<a href="JavaScript:void(0)">j</a><a>bare</a>'
         '<div><a href="https://b.com/2?q=1">2</a></div>'
         '</body></html>')
    assert extract_links(h) == ["http://a.com/1", "/rel",
                                "https://b.com/2?q=1"]
    assert extract_links("") == []
    assert extract_links("<<<hopeless") == []


def test_stray_lt_elsewhere_does_not_change_output():
    """A stray '<' (``1<2``, ``x < y``) is a one-char text chunk and
    changes nothing else: the rest of the page gives the same blocks
    with or without it."""
    # an unterminated tag at end of input is markup, stray '<' or not
    for html in ("<p>a</p><p>tail <b", "<p>a 1<2</p><p>tail <b"):
        assert extract_html_blocks(html)[-1] == ("text", "tail", None), html
    assert extract_html_blocks("<p>x</p><span") == [("text", "x", None)]
    assert extract_html_blocks("<p>x < y</p><span") == [
        ("text", "x < y", None)]
    # an unterminated comment runs to end of input, stray '<' or not
    assert extract_html_blocks("<p>a</p><!-- open <p>b</p>") == [
        ("text", "a", None)]
    assert extract_html_blocks("<p>a 1<2</p><!-- open <p>b</p>") == [
        ("text", "a 1<2", None)]
    # html.parser raises on this '<![' junk: '<=' stays text and
    # '<![b=>' is skipped as a declaration
    assert extract_html_blocks('"bx<=D\'CDx<![b=>;bDD') == [
        ("text", '"bx<=D\'CDx;bDD', None)]


def test_deep_nesting_degrades_not_crashes():
    """1500 unclosed tags: the depth cap flattens the tree instead of
    letting the recursive emitter (or the link walk) blow the Python
    recursion limit — one pathological crawl page must never kill an
    extract task."""
    from geoparser_spark.operators.html_main import (
        extract_html_blocks, extract_links)

    deep = ("<div>" * 1500
            + '<a href="http://x.com/">link text</a><p>real body</p>'
            + "</div>" * 1500)
    assert extract_links(deep) == ["http://x.com/"]
    blocks = extract_html_blocks(deep)
    assert ("text", "real body", None) in blocks
