"""Span-extraction goldens: ordered (kind, text, media_ref) sequences.

The judged invariant (BASELINE.json input_hint): span-sequence equality
on (kind, text, media_ref) in offset order.
"""

from __future__ import annotations

from zhtml_spark.extract import (
    ExtractConfig,
    extract_html,
    is_media_href,
)

FULL_PAGE = """<!DOCTYPE html>
<html><head><title>Page</title><style>x{}</style></head>
<body>
<header><h1>Big Story</h1></header>
<nav><ul><li><a href="/">Home</a></li><li><a href="/b">Blog</a></li></ul></nav>
<article>
<p>First paragraph with <b>bold</b> and <a href="/x">a link</a> inside.</p>
<img src="hero.jpg" alt="Hero image">
<p>Second paragraph.</p>
<ul><li>Item one</li><li>Item two</li></ul>
<pre>  raw
  code  </pre>
<table><tr><td>Cell A</td><td>Cell B</td></tr></table>
<p><a href="photo.png">See the photo</a></p>
</article>
<aside>Related: <a href="/y">other</a></aside>
<footer>Copyright 2026 <a href="/about">About</a></footer>
</body></html>"""


def test_full_page_stripped():
    spans, errors = extract_html(FULL_PAGE)
    assert errors == []
    assert spans == [
        ("heading", "Big Story", None),
        ("text", "First paragraph with bold and a link inside.", None),
        ("media", "Hero image", "hero.jpg"),
        ("text", "Second paragraph.", None),
        ("list", "Item one", None),
        ("list", "Item two", None),
        ("code", "  raw\n  code  ", None),
        ("table", "Cell A", None),
        ("table", "Cell B", None),
        ("media", "See the photo", "photo.png"),
    ]


def test_link_density_threshold():
    # one real sentence + one nav-ish block: only nav-ish dropped
    html = (
        "<div>This sentence has plenty of plain words in it "
        "<a href='/l'>tiny link</a></div>"
        "<div><a href='/1'>One</a> <a href='/2'>Two</a></div>"
    )
    spans, _ = extract_html(html)
    assert [s[1] for s in spans] == [
        "This sentence has plenty of plain words in it tiny link"
    ]


def test_script_style_never_content():
    spans, _ = extract_html(
        "<body><script>var x=1;</script><style>a{}</style><p>real</p>"
    )
    assert spans == [("text", "real", None)]


def test_media_kinds_and_refs():
    html = (
        "<body><p>before</p>"
        "<video src='v.mp4'></video>"
        "<audio src='a.mp3'></audio>"
        "<embed src='e.swf'>"
        "<iframe src='f.html'></iframe>"
        "<p>after</p>"
    )
    spans, _ = extract_html(html)
    assert spans == [
        ("text", "before", None),
        ("media", "", "v.mp4"),
        ("media", "", "a.mp3"),
        ("media", "", "e.swf"),
        ("media", "", "f.html"),
        ("text", "after", None),
    ]


def test_video_with_source_children():
    spans, _ = extract_html(
        "<video><source src='v.webm'><source src='v.mp4'></video>"
    )
    assert spans == [
        ("media", "", "v.webm"),
        ("media", "", "v.mp4"),
    ]


def test_media_href_detection():
    assert is_media_href("x/photo.PNG")
    assert is_media_href("a.mp4?t=1")
    assert is_media_href("a.jpeg#frag")
    assert not is_media_href("/about")
    assert not is_media_href("page.html")


def test_media_anchor_inside_paragraph():
    spans, _ = extract_html("<p>see <a href='x.pdf'>the doc</a> now</p>")
    assert spans == [
        ("text", "see", None),
        ("media", "the doc", "x.pdf"),
        ("text", "now", None),
    ]


def test_whitespace_normalization_outside_pre():
    spans, _ = extract_html("<p>  a\n\n  b\tc  </p>")
    assert spans == [("text", "a b c", None)]


def test_empty_body():
    spans, _ = extract_html("")
    assert spans == []


def test_offsets_are_positional():
    spans, _ = extract_html("<h1>t</h1><p>a</p><p>b</p>")
    withoff = [(i, *s) for i, s in enumerate(spans)]
    assert [w[0] for w in withoff] == [0, 1, 2]


def test_entities_decoded_in_output():
    spans, _ = extract_html("<p>&ldquo;Hi&rdquo; &amp; bye</p>")
    assert spans == [("text", "“Hi” & bye", None)]


def test_deeply_nested_no_recursion_error():
    html = "<div>" * 5000 + "deep" + "</div>" * 5000
    spans, _ = extract_html(html)
    assert spans == [("text", "deep", None)]


def test_inline_code_is_own_span():
    spans, _ = extract_html("<p>see <code>inline()</code> here</p>")
    assert spans == [
        ("text", "see", None),
        ("code", "inline()", None),
        ("text", "here", None),
    ]


def test_code_kind_survives_paragraph_break():
    spans, _ = extract_html("<p><code>x</p><p>y</p>")
    assert spans == [("code", "x", None), ("code", "y", None)]


def test_template_content_never_extracted():
    """Template contents are hidden per spec (browsers never render
    them) — the InTemplate mode keeps them inside the template node and
    the walk prunes the subtree (VERDICT r2 "what's wrong" #1)."""
    from zhtml_spark.extract import extract_html

    spans, _ = extract_html(
        "<body><p>real</p><template><p>hidden</p>"
        "<img src=x.png></template>"
    )
    assert spans == [("text", "real", None)]
    # table-scoped template (the ADVICE r2 M_TEXT leak)
    spans, _ = extract_html(
        "<table><template><tr><td>hid</td></tr></template>"
        "<tr><td>live</td></tr></table>"
    )
    assert spans == [("table", "live", None)]


def test_noscript_skipped_by_default_flag_restores():
    from zhtml_spark.extract import ExtractConfig, extract_html

    page = "<body>x<noscript><p>js off</p></noscript>y"
    spans, _ = extract_html(page)
    # browser parity: the hidden element sits between two inline text
    # nodes, so the rendered text is the contiguous "xy"
    assert spans == [("text", "xy", None)]
    spans_on, _ = extract_html(page, ExtractConfig(include_noscript=True))
    assert spans_on == [
        ("text", "x", None),
        ("text", "js off", None),
        ("text", "y", None),
    ]


def test_cdata_svg_not_in_spans_but_foreignobject_is():
    """CDATA text now survives tokenization in foreign content; svg
    graphics text stays suppressed in spans, while CDATA under an HTML
    integration point (foreignObject) extracts like any flow text."""
    from zhtml_spark.extract import extract_html

    spans, _ = extract_html("<svg><text><![CDATA[label]]></text></svg>")
    assert spans == []
    spans, _ = extract_html(
        "<svg><foreignObject><p><![CDATA[fo]]></p></foreignObject></svg>"
    )
    assert spans == [("text", "fo", None)]


def test_emit_links_spans():
    from zhtml_spark.extract import ExtractConfig, extract_html

    page = (
        '<body><p>See <a href="/rel">the rel link</a> and '
        '<a href="https://ext.example/e">ext <b>bold</b></a>.</p>'
        '<nav><a href="/nav">navlink</a></nav>'
        "<p><a>no href</a> plain anchor text stays</p></body>"
    )
    spans, _ = extract_html(page, ExtractConfig(emit_links=True))
    links = [s for s in spans if s[0] == "link"]
    assert links == [
        ("link", "the rel link", "/rel"),
        ("link", "ext bold", "https://ext.example/e"),
        # nav anchor emits even though its text block is boilerplate
        ("link", "navlink", "/nav"),
    ]
    # href-less anchor contributes no link span but keeps its text
    assert ("text", "no href plain anchor text stays", None) in spans
    # default config: no link spans at all (span-parity contract)
    spans_off, _ = extract_html(page)
    assert not any(s[0] == "link" for s in spans_off)


def test_emit_links_media_anchor_stays_media():
    from zhtml_spark.extract import ExtractConfig, extract_html

    page = '<body><p><a href="x.png">pic</a> tail words</p></body>'
    spans, _ = extract_html(page, ExtractConfig(emit_links=True))
    assert ("media", "pic", "x.png") in spans
    assert not any(s[0] == "link" for s in spans)


def test_emit_head_meta_spans():
    from zhtml_spark.extract import ExtractConfig, extract_html

    page = (
        "<head><title> My  Page </title>"
        '<meta name="Description" content="a fine page">'
        '<meta property="og:image" content="https://cdn.x/i.png">'
        '<meta name="viewport" content="width=1">'
        '<link rel="canonical" href="https://ex.com/c">'
        '<base href="https://ex.com/dir/">'
        '<template><meta name="description" content="ghost"></template>'
        "</head><body><p>body text</p></body>"
    )
    spans, _ = extract_html(page, ExtractConfig(emit_head_meta=True))
    assert spans == [
        ("meta", "My Page", "title"),
        ("meta", "a fine page", "description"),
        ("meta", "https://cdn.x/i.png", "og:image"),
        ("meta", "https://ex.com/c", "canonical"),
        ("meta", "https://ex.com/dir/", "base"),
        ("text", "body text", None),
    ]
    # default config: no meta spans
    assert extract_html(page)[0] == [("text", "body text", None)]


def test_emit_links_block_boundaries_separate_words():
    from zhtml_spark.extract import ExtractConfig, extract_html

    page = ('<body><a href="/x"><div>Read</div><div>More</div></a>'
            "<p>tail words</p></body>")
    spans, _ = extract_html(page, ExtractConfig(emit_links=True))
    links = [s for s in spans if s[0] == "link"]
    assert links == [("link", "Read More", "/x")]


def test_emit_head_meta_on_frameset_page():
    from zhtml_spark.extract import ExtractConfig, extract_html

    page = ('<head><title>T</title>'
            '<link rel="canonical" href="https://e/c"></head>'
            "<frameset><frame></frameset>")
    spans, _ = extract_html(page, ExtractConfig(emit_head_meta=True))
    assert spans == [
        ("meta", "T", "title"),
        ("meta", "https://e/c", "canonical"),
    ]


def test_media_anchor_block_boundaries_separate_words():
    # body-level anchor: the divs nest INSIDE the a (no p-closing /
    # AFE reconstruction splits it), so one media span results
    spans, _ = extract_html(
        "<body><a href='x.png'><div>See</div><div>chart</div></a>"
    )
    assert spans == [("media", "See chart", "x.png")]


def test_density_classifier_rules():
    """WSDM'10 NumWordsRules decision-tree edges (r4): a moderately
    link-dense share bar (0.333 < ld < the 0.66 hard cap) and a short
    low-context footer drop; the short headline before a long
    paragraph and the paragraph itself stay."""
    from zhtml_spark.extract import ExtractConfig, extract_html

    para = "word " * 30  # 30 words, safely content
    page = (
        "<body><h1>Doc Seven</h1>"
        f"<p>{para}</p>"
        '<p><a href="/s">Share on</a> social now</p>'
        "<p>Legal footer text</p></body>"
    )
    spans, _ = extract_html(page, ExtractConfig(density_classifier=True))
    assert [(k, t.split()[0]) for k, t, _ in spans] == [
        ("heading", "Doc"), ("text", "word"),
    ]
    # default OFF keeps all four blocks (span-parity contract): the
    # share bar's 0.44 density is under the 0.66 hard rule
    spans_off, _ = extract_html(page)
    assert len(spans_off) == 4


def test_density_classifier_prev_dense_branch():
    """pld > 0.555 branch: after a nav-dense block, a medium block
    (≤40 words) needs a substantial next block (>17 words) to stay."""
    from zhtml_spark.extract import ExtractConfig, extract_html

    mid = "just ten words of mildly interesting mid block content here"
    long_next = "tail " * 20
    nav = '<p><a href="/a">Home</a> <a href="/b">News x</a> y</p>'
    kept, _ = extract_html(
        f"<body>{nav}<p>{mid}</p><p>{long_next}</p></body>",
        ExtractConfig(density_classifier=True),
    )
    assert [t.split()[0] for _, t, _ in kept] == ["just", "tail"]
    # with a short tail the mid block loses its nw>17 rescue and
    # drops; the tail itself, following mid's 10 substantive words
    # (pw>4 on ORIGINAL features), legitimately stays
    dropped, _ = extract_html(
        f"<body>{nav}<p>{mid}</p><p>short tail</p></body>",
        ExtractConfig(density_classifier=True),
    )
    assert [t for _, t, _ in dropped] == ["short tail"]
    # the nav ghost (dropped by the 0.66 hard rule) still feeds the
    # pld > 0.555 branch — without it mid would be judged on pld=0


def test_density_classifier_media_pass_through():
    """Media spans are not blocks: they survive and do not count as
    neighbours in the block sequence."""
    from zhtml_spark.extract import ExtractConfig, extract_html

    para = "content " * 25
    page = (
        f"<body><p>{para}</p><img src=\"i.png\" alt=\"fig\">"
        f"<p>{para}</p></body>"
    )
    spans, _ = extract_html(page, ExtractConfig(density_classifier=True))
    assert [k for k, _, _ in spans] == ["text", "media", "text"]


def test_svg_media_harvest_flag():
    """r4: svg <image> href / legacy xlink:href emit media spans when
    svg_media is on; default stays span-parity (no svg media)."""
    from zhtml_spark.extract import ExtractConfig, extract_html

    page = ('<body><p>before <svg><image xlink:href="a.png"></image>'
            '<image href="b.png"/><image></image><text>label</text>'
            "</svg> after</p></body>")
    spans, _ = extract_html(page, ExtractConfig(svg_media=True))
    assert [(k, r) for k, _, r in spans if k == "media"] == [
        ("media", "a.png"), ("media", "b.png"),
    ]
    # svg text stays suppressed; the paragraph splits at the media
    # emission like every other media span does
    assert spans == [
        ("text", "before", None),
        ("media", "", "a.png"),
        ("media", "", "b.png"),
        ("text", "after", None),
    ]
    spans_off, _ = extract_html(page)
    assert all(k != "media" for k, _, _ in spans_off)


def test_source_offsets_end_to_end():
    """r4 provenance: with_source_offsets=True emits 4-tuple spans
    whose src anchors point exactly where each span's content
    originates in the raw document — text blocks at their first
    char's origin, media/link/meta elements at their '<'."""
    from zhtml_spark.extract import ExtractConfig, extract_html

    src = ('<head><title>T</title></head><body><h1>Big Story</h1>'
           '<p>First paragraph here.</p><img src="hero.jpg" alt="H">'
           '<p>see <a href="photo.png">the photo</a> now</p></body>')
    spans, _ = extract_html(
        src,
        ExtractConfig(with_source_offsets=True, emit_head_meta=True),
    )
    by_kindtext = {(k, t): p for k, t, _, p in spans}
    assert src[by_kindtext[("meta", "T")]:].startswith("<title>")
    assert src[by_kindtext[("heading", "Big Story")]:].startswith("Big Story")
    assert src[by_kindtext[("text", "First paragraph here.")]:].startswith(
        "First paragraph"
    )
    assert src[by_kindtext[("media", "H")]:].startswith("<img")
    assert src[by_kindtext[("media", "the photo")]:].startswith(
        '<a href="photo.png"'
    )
    # offsets are monotone in span order
    offs = [p for *_, p in spans]
    assert offs == sorted(offs) and all(o >= 0 for o in offs)
    # default stays 3-tuples (span-parity contract)
    spans3, _ = extract_html(src)
    assert all(len(s) == 3 for s in spans3)
    # entity-bearing text still anchors at its run start
    ent = "<body><p>&amp;start of text</p></body>"
    sp, _ = extract_html(ent, ExtractConfig(with_source_offsets=True))
    assert sp == [("text", "&start of text", None, 9)]
    assert ent[9:].startswith("&amp;")


def test_source_offsets_whitespace_and_cdata_anchors():
    """Code-review r4c: anchors must point at CONTENT — leading
    whitespace-only nodes and CDATA delimiters are skipped, so
    doc[src:] always starts with the span's first characters."""
    from zhtml_spark.extract import ExtractConfig, extract_html

    cfg = ExtractConfig(with_source_offsets=True)
    # leading whitespace node + in-node leading whitespace
    for page in ("<body><p> <b>Hi there</b></p></body>",
                 "<body><p>   Hi there</p></body>"):
        spans, _ = extract_html(page, cfg)
        (k, t, _r, p) = spans[0]
        assert (k, t) == ("text", "Hi there")
        assert page[p:].startswith("Hi there"), (page, p)
    # CDATA content (foreign IP) anchors past the delimiter
    page = ("<body><svg><foreignObject><p>"
            "<![CDATA[hello world block]]></p>"
            "</foreignObject></svg></body>")
    spans, _ = extract_html(page, cfg)
    text_spans = [s for s in spans if s[0] == "text"]
    assert text_spans[0][1] == "hello world block"
    assert page[text_spans[0][3]:].startswith("hello world block")
    # a run already in progress keeps its own first char's anchor
    page2 = ("<body><svg><foreignObject><p>"
             "pre <![CDATA[mid]]> post</p></foreignObject></svg></body>")
    spans2, _ = extract_html(page2, cfg)
    t2 = [s for s in spans2 if s[0] == "text"][0]
    assert t2[1] == "pre mid post"
    assert page2[t2[3]:].startswith("pre ")


def test_fused_stage_rejects_source_offsets():
    """Code-review r4c: the fused stage's schema has no src column —
    asking for with_source_offsets must fail at CONSTRUCTION time on
    the driver, never as an executor unpack error past the per-doc
    poison-pill guard."""
    import pytest

    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.udfs import make_extract_arrow_udf

    with pytest.raises(ValueError, match="src column"):
        make_extract_arrow_udf(ExtractConfig(with_source_offsets=True))


# ---------------------------------------- schema.org JSON-LD (r5)

def test_jsonld_head_and_body_document_order():
    html = (
        '<head><title>T</title>'
        '<script type="application/ld+json">{"@type":"Article"}</script>'
        '<script type="text/javascript">var x=1;</script></head>'
        '<body><p>Body.</p>'
        '<script TYPE="Application/LD+JSON; charset=utf-8">'
        '{"@type":"WebPage"}</script></body>'
    )
    spans, _ = extract_html(html, ExtractConfig(emit_jsonld=True))
    assert spans == [
        ("jsonld", '{"@type":"Article"}', None),
        ("jsonld", '{"@type":"WebPage"}', None),
        ("text", "Body.", None),
    ]
    # span-parity: flag off emits no jsonld spans
    off, _ = extract_html(html)
    assert [s[0] for s in off] == ["text"]


def test_jsonld_rawtext_keeps_entities_and_skips_template():
    html = (
        '<body><script type="application/ld+json">'
        '{"headline":"A &amp; B <em>"}</script>'
        '<template><script type="application/ld+json">{"ghost":1}'
        "</script></template>"
        '<script type="application/ld+json">   </script>'
        "<p>t</p></body>"
    )
    spans, _ = extract_html(html, ExtractConfig(emit_jsonld=True))
    # script is RAWTEXT: &amp; and <em> stay literal; template and
    # whitespace-only blocks never surface
    assert spans == [
        ("jsonld", '{"headline":"A &amp; B <em>"}', None),
        ("text", "t", None),
    ]


def test_jsonld_headless_body_and_meta_ordering():
    html = (
        '<head><title>T</title><script type="application/ld+json">'
        '{"a":1}</script></head>'
    )
    spans, _ = extract_html(
        html, ExtractConfig(emit_jsonld=True, emit_head_meta=True)
    )
    # body-less early return still carries meta THEN jsonld
    assert spans == [
        ("meta", "T", "title"),
        ("jsonld", '{"a":1}', None),
    ]


def test_jsonld_fragment_root():
    from zhtml_spark.extract import extract_spans
    from zhtml_spark.tree import parse_fragment

    tree, frag, _ = parse_fragment(
        '<script type="application/ld+json">{"f":2}</script><p>x</p>',
        "div",
    )
    spans = extract_spans(
        tree, ExtractConfig(emit_jsonld=True), root=frag
    )
    assert spans == [
        ("jsonld", '{"f":2}', None),
        ("text", "x", None),
    ]


# ------------------------------------------- HTML Microdata (r5)

def test_microdata_item_props_and_value_table():
    html = (
        '<body><div itemscope itemtype="https://s/Person https://s/Thing">'
        '<span itemprop="name">Jane Doe</span>'
        '<img itemprop="image" src="/jane.png">'
        '<a itemprop="url" href="https://jane.example/">home</a>'
        '<meta itemprop="height" content="170">'
        '<time itemprop="birthDate" datetime="1980-01-02">Jan 2</time>'
        '<data itemprop="uid" value="42">forty-two</data>'
        "</div></body>"
    )
    spans, _ = extract_html(html, ExtractConfig(emit_microdata=True))
    md = [s for s in spans if s[0] == "microdata"]
    assert md == [
        ("microdata", "https://s/Person", "0:@type"),  # first type wins
        ("microdata", "Jane Doe", "0:name"),
        ("microdata", "/jane.png", "0:image"),
        ("microdata", "https://jane.example/", "0:url"),
        ("microdata", "170", "0:height"),
        ("microdata", "1980-01-02", "0:birthDate"),
        ("microdata", "42", "0:uid"),
    ]
    # span-parity: flag off emits none
    off, _ = extract_html(html)
    assert not [s for s in off if s[0] == "microdata"]


def test_microdata_nesting_orphans_and_template():
    html = (
        '<body><div itemscope itemtype="https://s/Article">'
        '<h1 itemprop="headline">Title <span itemprop="alt">Alt</span></h1>'
        '<div itemprop="author" itemscope itemtype="https://s/Person">'
        '<span itemprop="name">Ann</span></div>'
        '<span itemprop="tag keywords">k1</span>'
        "</div>"
        '<p itemprop="orphan">no scope</p>'
        '<template><div itemscope><span itemprop="g">x</span></div>'
        "</template>"
        '<section itemscope><span itemprop="untyped">u</span></section>'
        "</body>"
    )
    spans, _ = extract_html(html, ExtractConfig(emit_microdata=True))
    md = [s for s in spans if s[0] == "microdata"]
    assert md == [
        ("microdata", "https://s/Article", "0:@type"),
        # prop-in-prop: outer text INCLUDES the inner (spec), both emit
        ("microdata", "Title Alt", "0:headline"),
        ("microdata", "Alt", "0:alt"),
        ("microdata", "https://s/Person", "0:author.@type"),
        ("microdata", "Ann", "0:author.name"),
        ("microdata", "k1", "0:tag"),
        ("microdata", "k1", "0:keywords"),
        # item 1: untyped itemscope still roots an item (no @type row)
        ("microdata", "u", "1:untyped"),
    ]


def test_microdata_itemref_properties_and_claim():
    """§5.2.3: itemref'd elements contribute properties (their OWN
    itemprop included); a referenced prop+itemscope element becomes a
    NESTED item of the referrer and its provisional top-level
    recovery retracts; bare itemscope met during the crawl is skipped
    (someone else's top-level item); unknown ids are ignored."""
    html = (
        '<body>'
        '<div itemscope itemtype="https://s/Product"'
        ' itemref="extra nosuch">'
        '<span itemprop="name">Widget</span></div>'
        '<div id="extra"><meta itemprop="sku" content="S1">'
        '<span itemprop="maker" itemscope>'
        '<b itemprop="brand">Acme</b></span>'
        '<div itemscope itemtype="https://s/Other">'
        '<span itemprop="x">skipme</span></div>'
        '</div>'
        '</body>'
    )
    spans, _ = extract_html(html, ExtractConfig(emit_microdata=True))
    md = [s[:3] for s in spans if s[0] == "microdata"]
    assert md == [
        ("microdata", "https://s/Product", "0:@type"),
        ("microdata", "Widget", "0:name"),
        # the Other div stays its own top-level item (number 2: the
        # retracted provisional claim of span.maker keeps a gap at 1)
        ("microdata", "https://s/Other", "2:@type"),
        ("microdata", "skipme", "2:x"),
        # itemref contributions append after in-subtree properties
        ("microdata", "S1", "0:sku"),
        ("microdata", "Acme", "0:maker.brand"),
    ]


def test_microdata_itemref_own_prop_and_unreferenced_orphan():
    html = (
        '<body>'
        '<div itemscope itemref="lead" itemtype="https://s/A"></div>'
        '<p id="lead" itemprop="note">own prop counts</p>'
        '<span itemprop="solo" itemscope itemtype="https://s/T">'
        '<b itemprop="z">v</b></span>'
        '</body>'
    )
    spans, _ = extract_html(html, ExtractConfig(emit_microdata=True))
    md = [s[:3] for s in spans if s[0] == "microdata"]
    assert md == [
        ("microdata", "https://s/A", "0:@type"),
        # never-referenced orphan prop+itemscope keeps the lenient
        # top-level recovery
        ("microdata", "https://s/T", "1:@type"),
        ("microdata", "v", "1:z"),
        ("microdata", "own prop counts", "0:note"),
    ]


def test_microdata_itemref_loop_terminates():
    html = (
        '<body><div itemscope itemref="a" itemtype="https://s/L">'
        '</div><div id="a"><span itemprop="p" itemscope itemref="a">'
        '<i itemprop="q">x</i></span></div></body>'
    )
    spans, _ = extract_html(html, ExtractConfig(emit_microdata=True))
    md = [s[:3] for s in spans if s[0] == "microdata"]
    # bounded output (depth cap), never a hang; the direct form stays
    assert ("microdata", "x", "0:p.q") in md
    assert len(md) < 40


def test_microdata_sibling_items_do_not_nest():
    # itemscope WITHOUT itemprop inside another item = NEW top-level
    # item per spec, even though DOM-nested
    html = (
        '<body><div itemscope itemtype="https://s/A">'
        '<span itemprop="x">1</span>'
        '<div itemscope itemtype="https://s/B">'
        '<span itemprop="y">2</span></div>'
        "</div></body>"
    )
    spans, _ = extract_html(html, ExtractConfig(emit_microdata=True))
    md = [s for s in spans if s[0] == "microdata"]
    assert md == [
        ("microdata", "https://s/A", "0:@type"),
        ("microdata", "1", "0:x"),
        ("microdata", "https://s/B", "1:@type"),
        ("microdata", "2", "1:y"),
    ]


def test_head_meta_feed_discovery_and_hreflang():
    html = (
        '<head><title>T</title>'
        '<link rel="alternate" type="application/rss+xml"'
        ' href="/feed.xml">'
        '<link rel="alternate" type="application/atom+xml; charset=utf-8"'
        ' href="/atom.xml">'
        '<link rel="ALTERNATE" hreflang="FR" href="https://fr.x/p">'
        '<link rel="alternate" hreflang="de-AT" href="https://de.x/p">'
        '<link rel="alternate stylesheet" href="/alt.css">'
        '<link rel="alternate" href="/no-signal">'
        "</head><body><p>b</p></body>"
    )
    spans, _ = extract_html(html, ExtractConfig(emit_head_meta=True))
    assert spans == [
        ("meta", "T", "title"),
        ("meta", "/feed.xml", "feed"),
        ("meta", "/atom.xml", "feed"),
        ("meta", "https://fr.x/p", "alternate:fr"),
        ("meta", "https://de.x/p", "alternate:de-at"),
        ("text", "b", None),
    ]


# ---------------------------------------------- RDFa Lite (r5)

def test_rdfa_items_vocab_and_value_resolution():
    html = (
        '<body vocab="https://schema.org/"><div typeof="Person">'
        '<span property="name">Alice</span>'
        '<a property="url" href="https://a.x/">me</a>'
        '<meta property="height" content="165">'
        '<link property="knows" resource="https://b.x/#me">'
        '<img property="image" src="/a.png">'
        '<div property="address" typeof="PostalAddress">'
        '<span property="addressLocality">Berlin</span></div>'
        "</div></body>"
    )
    spans, _ = extract_html(html, ExtractConfig(emit_rdfa=True))
    rd = [s for s in spans if s[0] == "rdfa"]
    assert rd == [
        ("rdfa", "Person", "0:@type"),
        ("rdfa", "https://schema.org/", "0:@vocab"),
        ("rdfa", "Alice", "0:name"),
        ("rdfa", "https://a.x/", "0:url"),
        ("rdfa", "165", "0:height"),
        ("rdfa", "https://b.x/#me", "0:knows"),
        ("rdfa", "/a.png", "0:image"),
        ("rdfa", "PostalAddress", "0:address.@type"),
        ("rdfa", "https://schema.org/", "0:address.@vocab"),
        ("rdfa", "Berlin", "0:address.addressLocality"),
    ]
    assert not [s for s in extract_html(html)[0] if s[0] == "rdfa"]


def test_rdfa_vocab_scoping_and_orphans():
    html = (
        '<body vocab="https://schema.org/">'
        '<article vocab="http://purl.org/dc/terms/" typeof="Article">'
        '<h1 property="title">T <em property="alternative">A</em></h1>'
        "</article>"
        '<div typeof="Thing"><span property="name">back</span></div>'
        '<span property="og:site_name">doc-subject: not walked</span>'
        '<template><div typeof="G"><span property="g">x</span></div>'
        "</template></body>"
    )
    spans, _ = extract_html(html, ExtractConfig(emit_rdfa=True))
    rd = [s for s in spans if s[0] == "rdfa"]
    assert rd == [
        ("rdfa", "Article", "0:@type"),
        # the article's OWN vocab overrides the body's, and pops back
        ("rdfa", "http://purl.org/dc/terms/", "0:@vocab"),
        ("rdfa", "T A", "0:title"),
        ("rdfa", "A", "0:alternative"),
        ("rdfa", "Thing", "1:@type"),
        ("rdfa", "https://schema.org/", "1:@vocab"),
        ("rdfa", "back", "1:name"),
    ]


def test_head_meta_pagination_author_and_article_keys():
    html = (
        '<head><link rel="next" href="/p?page=3">'
        '<link rel="PREV" href="/p?page=1">'
        '<link rel="previous" href="/q?page=0">'
        '<meta name="author" content="A. Writer">'
        '<meta property="article:published_time"'
        ' content="2024-05-02T00:00:00Z">'
        '<meta property="article:noise" content="x">'
        "</head><body><p>b</p></body>"
    )
    spans, _ = extract_html(html, ExtractConfig(emit_head_meta=True))
    assert spans == [
        ("meta", "/p?page=3", "next"),
        ("meta", "/p?page=1", "prev"),
        ("meta", "/q?page=0", "prev"),
        ("meta", "A. Writer", "author"),
        ("meta", "2024-05-02T00:00:00Z", "article:published_time"),
        ("text", "b", None),
    ]


def test_srcset_candidates_emit_media_spans():
    html = (
        "<body><p>t</p>"
        '<img src="hero.jpg" alt="Hero"'
        ' srcset="hero-2x.jpg 2x, hero-640.jpg 640w,">'
        '<picture><source srcset="a.webp 1200w" type="image/webp">'
        '<img src="a.jpg" alt="A"></picture>'
        '<img srcset="bare.png"></body>'
    )
    spans, _ = extract_html(html, ExtractConfig(srcset_media=True))
    assert [s for s in spans if s[0] == "media"] == [
        ("media", "Hero", "hero.jpg"),
        ("media", "2x", "hero-2x.jpg"),
        ("media", "640w", "hero-640.jpg"),
        ("media", "1200w", "a.webp"),
        ("media", "A", "a.jpg"),
        ("media", "", "bare.png"),
    ]
    # span-parity: flag off keeps only the src spans
    off, _ = extract_html(html)
    assert [s for s in off if s[0] == "media"] == [
        ("media", "Hero", "hero.jpg"),
        ("media", "A", "a.jpg"),
    ]


def test_lazy_media_fallbacks_and_precedence():
    html = (
        "<body>"
        '<img data-src="/real.jpg" alt="Lazy"'
        ' src="data:image/gif;base64,R0lGOD">'
        '<img data-original="/orig.png">'
        '<img data-lazy-src="/wp.jpg" data-src="">'
        '<img src="/eager.jpg" data-src="/decoy.jpg" alt="E">'
        '<img srcset="" data-srcset="/a.jpg 1x, /b.jpg 2x">'
        "</body>"
    )
    on, _ = extract_html(
        html, ExtractConfig(lazy_media=True, srcset_media=True)
    )
    assert [s for s in on if s[0] == "media"] == [
        ("media", "Lazy", "/real.jpg"),   # data: placeholder replaced
        ("media", "", "/orig.png"),
        ("media", "", "/wp.jpg"),          # empty data-src skipped
        ("media", "E", "/eager.jpg"),      # real src beats data-src
        ("media", "1x", "/a.jpg"),
        ("media", "2x", "/b.jpg"),
    ]
    # span-parity: flags off keep the placeholder and eager src only
    off, _ = extract_html(html)
    assert [s[2] for s in off if s[0] == "media"] == [
        "data:image/gif;base64,R0lGOD", "/eager.jpg",
    ]


def test_style_media_background_urls():
    html = (
        "<body>"
        '<div style="background-image:url(/hero.jpg);color:red">'
        "<p>over</p></div>"
        "<section style=\"background: URL( 'a.png' ) no-repeat, "
        "url(&quot;b.webp&quot;), "
        'url(data:image/gif;base64,R0lGOD)"><p>txt</p></section>'
        '<div style="color:blue"><p>plain</p></div>'
        "</body>"
    )
    on, _ = extract_html(html, ExtractConfig(style_media=True))
    assert on == [
        ("media", "", "/hero.jpg"),
        ("text", "over", None),
        ("media", "", "a.png"),   # case-insensitive URL(, quotes
        ("media", "", "b.webp"),  # &quot; entity-decoded by parser
        ("text", "txt", None),    # data: gradient placeholder skipped
        ("text", "plain", None),
    ]
    assert not [s for s in extract_html(html)[0] if s[0] == "media"]


def test_meta_refresh_redirect_channel():
    html = (
        '<head><meta http-equiv="REFRESH"'
        ' content="0; url=https://moved.x/p">'
        '<meta http-equiv="refresh" content="30">'  # reload: no span
        "</head><body><p>b</p></body>"
    )
    spans, _ = extract_html(html, ExtractConfig(emit_head_meta=True))
    assert spans == [
        ("meta", "https://moved.x/p", "refresh"),
        ("text", "b", None),
    ]
    from zhtml_spark.extract import _parse_meta_refresh

    assert _parse_meta_refresh("5; url='x.html'") == "x.html"
    assert _parse_meta_refresh('0;URL="/a b"') == "/a b"
    assert _parse_meta_refresh("0, url=/comma") == "/comma"
    assert _parse_meta_refresh("30") == ""
    assert _parse_meta_refresh("garbage") == ""


def test_html_lang_harvest():
    """<html lang> emits a lowercased 'lang' meta span FIRST; absent
    attribute emits nothing; flag-off parity holds."""
    html = '<html lang="EN-us"><head><title>T</title></head>' \
           '<body><p>x</p></body></html>'
    spans, _ = extract_html(html, ExtractConfig(emit_head_meta=True))
    md = [s[:3] for s in spans if s[0] == "meta"]
    assert md[0] == ("meta", "en-us", "lang")
    assert ("meta", "T", "title") in md
    no_lang, _ = extract_html(
        "<head><title>T</title></head><body><p>x</p></body>",
        ExtractConfig(emit_head_meta=True),
    )
    assert not [s for s in no_lang
                if s[0] == "meta" and s[2] == "lang"]
    off, _ = extract_html(html)
    assert not [s for s in off if s[0] == "meta"]
