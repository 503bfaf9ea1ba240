"""Feed extraction (RSS 2.0 / Atom / RSS 1.0) — the XML branch of the
interleaved dispatch.  Pure-walker semantics first, then the Spark
path end-to-end (dispatch routing + XML-prolog charset)."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from zhtml_spark.feedops import (
    FEED_ROOT_RE,
    _tokens,
    decode_feed_spans,
    extract_feed_spans,
)
from zhtml_spark.sources import read_warc, warc_interleaved_spans


def test_rss_full_shape():
    """CDATA title/body, body-preference (content:encoded over
    description), escaped entities, enclosure + MRSS media, span
    order: channel heading, then per item heading/body/media."""
    spans = extract_feed_spans(
        '<?xml version="1.0"?>\n<rss version="2.0">'
        "<channel><title>My &amp; Blog</title>"
        "<description>channel boilerplate skipped</description>"
        "<item><title><![CDATA[Post <1>]]></title>"
        "<description><![CDATA[<p>Hello <b>world</b></p><p>two</p>]]>"
        "</description>"
        '<enclosure url="https://ex.com/a.mp3" type="audio/mpeg"/>'
        "</item>"
        "<item><title>Post 2 &lt;esc&gt;</title>"
        "<content:encoded>&lt;p&gt;rich &amp;amp; full&lt;/p&gt;"
        "</content:encoded>"
        "<description>fallback NOT used</description>"
        '<media:content url="https://ex.com/v.mp4" />'
        '<media:thumbnail url="https://ex.com/t.jpg"/>'
        "</item></channel></rss>"
    )
    assert spans == [
        ("heading", "My & Blog", None, 0),
        ("heading", "Post <1>", None, 1),
        ("text", "Hello world", None, 2),
        ("text", "two", None, 3),
        ("media", "", "https://ex.com/a.mp3", 4),
        ("heading", "Post 2 <esc>", None, 5),
        ("text", "rich & full", None, 6),
        ("media", "", "https://ex.com/v.mp4", 7),
        ("media", "", "https://ex.com/t.jpg", 8),
    ]


def test_atom_type_attribute_governs_titles_and_bodies():
    """RFC 4287 §3.1: type="html" titles decode THEN strip markup,
    type="xhtml" strips inline markup, default stays literal text;
    content beats summary; only rel="enclosure" links are media."""
    spans = extract_feed_spans(
        '<feed xmlns="http://www.w3.org/2005/Atom">'
        "<title>Atom Feed</title>"
        '<entry><title type="html">E &lt;b&gt;one&lt;/b&gt;</title>'
        "<summary>NOT used</summary>"
        '<content type="xhtml"><div><p>In <em>line</em> body</p></div>'
        "</content>"
        '<link rel="enclosure" href="https://ex.com/p.ogg"/>'
        '<link rel="alternate" href="https://ex.com/page"/>'
        "</entry>"
        '<entry><title type="xhtml"><div>X<b>html</b> t</div></title>'
        '<summary type="html">&lt;p&gt;escaped body&lt;/p&gt;</summary>'
        "</entry>"
        "<entry><title>Literal &lt;kept&gt;</title><summary>s</summary>"
        "</entry></feed>"
    )
    assert spans == [
        ("heading", "Atom Feed", None, 0),
        ("heading", "E one", None, 1),
        ("text", "In line body", None, 2),
        ("media", "", "https://ex.com/p.ogg", 3),
        ("heading", "Xhtml t", None, 4),
        ("text", "escaped body", None, 5),
        ("heading", "Literal <kept>", None, 6),
        ("text", "s", None, 7),
    ]


def test_rdf_rss10_items_outside_channel():
    """RSS 1.0 puts <item> elements at rdf:RDF level, not inside
    <channel> — the walker must still find both title and items."""
    spans = extract_feed_spans(
        '<?xml version="1.0"?>'
        '<rdf:RDF xmlns="http://purl.org/rss/1.0/">'
        "<channel><title>Old School</title></channel>"
        "<item><title>I1</title><description>d1</description></item>"
        "</rdf:RDF>"
    )
    assert spans == [
        ("heading", "Old School", None, 0),
        ("heading", "I1", None, 1),
        ("text", "d1", None, 2),
    ]


def test_cdata_end_tag_cannot_close_element():
    """A literal </description> INSIDE CDATA is payload, not
    structure — the scan treats CDATA atomically."""
    spans = extract_feed_spans(
        "<rss><channel><title>T</title><item><title>i</title>"
        "<description><![CDATA[before </description> after]]>"
        "</description></item></channel></rss>"
    )
    assert spans[-1] == ("text", "before after", None, 2)


def test_truncated_and_non_feed_inputs():
    assert extract_feed_spans("<html><body>nope</body></html>") == []
    assert extract_feed_spans("") == []
    # truncated mid-item: channel title + partial item survive
    assert extract_feed_spans(
        "<rss><channel><title>T</title><item><title>cut"
    ) == [("heading", "T", None, 0)]
    # truncated mid-item with a CLOSED title: item emits
    assert extract_feed_spans(
        "<rss><channel><title>T</title><item><title>done</title>"
    ) == [("heading", "T", None, 0), ("heading", "done", None, 1)]


def test_reference_decoding_rules():
    """Numeric + named;-form refs decode, unknown names stay
    literal, surrogate code points become the replacement char."""
    spans = extract_feed_spans(
        "<rss><channel><title>&#65;&#x42; &bogus; &amp; &#xD800;"
        "</title></channel></rss>"
    )
    assert spans == [("heading", "AB &bogus; & �", None, 0)]


def test_nested_same_name_in_captured_body():
    """Inline-XHTML content containing a nested element with the
    SAME name as the captured one must not close the capture early
    (depth tracking)."""
    spans = extract_feed_spans(
        '<feed><title>F</title><entry><title>e</title>'
        '<content type="xhtml"><div><content>inner</content> tail'
        "</div></content></entry></feed>"
    )
    assert ("text", "inner tail", None, 2) in spans


def _feed_archive(tmp_path):
    rss = (
        '<?xml version="1.0" encoding="windows-1252"?>\n'
        "<rss><channel><title>Caf\x82 Feed</title>"
        "<item><title>P1</title>"
        "<description><![CDATA[<p>body \x809 one</p>]]></description>"
        '<enclosure url="https://ex.com/a.mp3"/></item>'
        "</channel></rss>"
    ).encode("latin-1")
    xml_not_feed = (
        b'<?xml version="1.0"?><note><body>generic xml</body></note>'
    )
    html = b"<body><h1>H</h1><p>html body</p></body>"

    def rec(url, ctype, body):
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n\r\n"
            + body
        )
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + url + b"\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode()
            + b"\r\n\r\n" + http + b"\r\n\r\n"
        )

    p = tmp_path / "archives"
    p.mkdir()
    (p / "feeds.warc").write_bytes(
        rec(b"https://ex.com/feed.rss", b"application/rss+xml", rss)
        + rec(b"https://ex.com/note.xml", b"text/xml", xml_not_feed)
        + rec(b"https://ex.com/page", b"text/html", html)
    )
    return str(p)


def test_feed_dispatch_and_xml_prolog_charset(spark, tmp_path):
    """End-to-end disk path: an RSS record routes to the feed walker
    (XML-prolog windows-1252 decode — 0x82 → ‚, 0x80 → €), a
    non-feed XML record stays on the HTML branch, the HTML control
    is untouched."""
    spans = warc_interleaved_spans(
        read_warc(spark, _feed_archive(tmp_path), charset="ISO-8859-1")
    )
    by_doc: dict[str, list[tuple]] = {}
    for r in spans.orderBy("doc_id", "offset").collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["offset"], r["kind"], r["text"], r["media_ref"])
        )
    assert by_doc["https://ex.com/feed.rss"] == [
        (0, "heading", "Caf‚ Feed", None),
        (1, "heading", "P1", None),
        (2, "text", "body €9 one", None),
        (3, "media", "", "https://ex.com/a.mp3"),
    ]
    assert by_doc["https://ex.com/note.xml"] == [
        (0, "text", "generic xml", None)
    ]
    assert by_doc["https://ex.com/page"] == [
        (0, "heading", "H", None),
        (1, "text", "html body", None),
    ]


def test_decode_feed_spans_error_isolation(spark):
    """A row that makes the walker raise yields one error span, not
    a dead job (feed the stage a non-string via a null)."""
    df = spark.createDataFrame(
        [("d1", "<rss><channel><title>ok</title></channel></rss>")],
        "doc_id string, xml string",
    )
    out = decode_feed_spans(df).collect()
    assert [(r["kind"], r["text"]) for r in out] == [("heading", "ok")]


def test_feed_root_re_shared_semantics():
    """The dispatch regex (JVM side) and the walker's own root match
    agree: prolog/comment/doctype prefixes tolerated, case-sensitive
    names, substring mentions do NOT match."""
    import re

    yes = [
        "<rss><channel/></rss>",
        '<?xml version="1.0"?>\n<!-- c -->\n<feed>',
        "<!DOCTYPE x><rdf:RDF>",
        "  <rss>",
    ]
    no = ["<html><p>rss</p>", "<RSS>", "<feeds>", "x<rss>"]
    for s in yes:
        assert re.match(FEED_ROOT_RE, s), s
    for s in no:
        assert not re.match(FEED_ROOT_RE, s), s


def test_blank_prefixed_non_feed_is_linear():
    """A blank run before a non-feed root must not backtrack the root
    sniff exponentially (each two more blanks once cost 4x: 26 took
    ~6 s, ~40 would stall a task for hours)."""
    import time

    for n in (26, 10_000):
        t0 = time.perf_counter()
        assert extract_feed_spans(" " * n + "<html>") == []
        assert time.perf_counter() - t0 < 0.5, n
    assert extract_feed_spans(
        " \n\t <rss><channel><item><title>T</title></item></channel></rss>"
    ) == [("heading", "T", None, 0)]


@pytest.mark.parametrize("unit", ["<a", "<"])
def test_unclosed_tag_run_is_linear(unit):
    """A truncated feed ending in an unclosed run of tags must not
    rescan the run from each '<' (``"<a" * 400`` once took ~3 s and
    each doubling cost 8x)."""
    import time

    head = '<rss version="2.0"><channel><item><title>x'
    t0 = time.perf_counter()
    assert extract_feed_spans(head + unit * (400_000 // len(unit))) == []
    assert time.perf_counter() - t0 < 0.5


@pytest.mark.parametrize(
    "unit, suffix",
    [
        ("<a ", ""),
        ("</a", ""),
        ("<!DOCTYPE", ""),
        ("</a", " x>"),
        ("<a ", "'>"),
        ("<a ", "'\">"),
    ],
    ids=[
        "start_tag",
        "end_tag",
        "doctype",
        "end_tag_broken_name",
        "start_tag_unclosed_quote",
        "start_tag_unclosed_quotes",
    ],
)
def test_unclosed_tag_pump_grows_linearly(unit, suffix):
    """Doubling a pump must about double the scan time.  A '>'-free
    tail once cost x4 per doubling, every '<' rescanning it to the end
    (``"<a " * 6400`` took 2.7 s), and so did a run of end tags whose
    name a space breaks before the '>', and a run of start tags whose
    soup stops at an unclosed quote before the '>' (0.71 s at
    ``"<a " * 3200``)."""
    import time

    head = '<rss version="2.0"><channel><item><title>x'

    def best(n):
        text = head + unit * n + suffix
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            extract_feed_spans(text)
            times.append(time.perf_counter() - t0)
        return min(times)

    small, large = best(2000), best(4000)
    assert large < 3 * small + 0.01, (small, large)


# the tag scan before it skipped unclosed runs: plain backtracking
_BACKTRACKING_TOK = re.compile(
    r"<!\[CDATA\[(.*?)(?:\]\]>|\Z)|<!--.*?(?:-->|\Z)|<\?.*?(?:\?>|\Z)"
    r"|<!DOCTYPE[^>]*>|</\s*([^\s>]*)\s*>|<([^!?/\s>][^\s/>]*)"
    r"((?:\"[^\"]*\"|'[^']*'|[^>\"'])*?)(/?)>",
    re.S,
)


@pytest.mark.parametrize(
    "text",
    [
        '<a"b c=">',  # the name gives a quote back to the soup
        '<a"b>',  # ... or keeps it
        "<\"a\"b c='>'>",
        "<a url=a/b/>",
        "<title/>rest<b x='1'/>",
        "x=<<!--<?",  # the skipped run stops before a comment
        "<a<</b>",
        ']]>!/><</"x=a<a]]>]<!DOCTYPE<!--<![CDATA[<?b!>?>',
        "<a<a<a <b>",
        "<a x='1' <b> y\"",
    ],
)
def test_tag_scan_matches_backtracking_form(text):
    assert list(_tokens(text)) == [
        (*m.span(), *m.group(1, 2, 3, 4, 5))
        for m in _BACKTRACKING_TOK.finditer(text)
    ]


def test_self_closed_elements_do_not_open_captures():
    """ADVICE r5 (high): the greedy attribute-soup group used to
    swallow the self-closing slash, so `<title/>` opened a capture
    that silently ate every remaining item, and a pre-title
    self-closing `<atom:link/>` polluted stack depth and dropped the
    channel heading.  Both shapes must now parse cleanly."""
    # <title/> inside an item: the item's body and ALL later items
    # must survive.
    rss = (
        '<rss version="2.0"><channel><title>Chan</title>'
        "<item><title/><description>first body</description></item>"
        "<item><title>Second</title><description>second body"
        "</description></item></channel></rss>"
    )
    assert extract_feed_spans(rss) == [
        ("heading", "Chan", None, 0),
        ("text", "first body", None, 1),
        ("heading", "Second", None, 2),
        ("text", "second body", None, 3),
    ]
    # self-closing <atom:link/> BEFORE the channel <title> (ubiquitous
    # in real RSS/Atom): stack depth must not shift, so the channel
    # heading is still recognized.
    atom = (
        '<feed xmlns="http://www.w3.org/2005/Atom">'
        '<atom:link href="http://ex.com/self" rel="self"/>'
        "<title>FeedT</title>"
        "<entry><title>E1</title><summary>s1</summary></entry></feed>"
    )
    assert extract_feed_spans(atom) == [
        ("heading", "FeedT", None, 0),
        ("heading", "E1", None, 1),
        ("text", "s1", None, 2),
    ]
    rss2 = (
        '<rss version="2.0"><channel>'
        '<atom:link href="http://ex.com/self" rel="self" />'
        "<title>Chan2</title>"
        "<item><title>P</title><description>b</description></item>"
        "</channel></rss>"
    )
    assert extract_feed_spans(rss2)[0] == ("heading", "Chan2", None, 0)


def test_unquoted_attr_slash_is_not_self_close():
    """A '/' inside an unquoted attribute value stays in the soup —
    the lazy group must only surrender the slash directly before
    '>'."""
    rss = (
        '<rss version="2.0"><channel><title>C</title>'
        "<item><title>T</title>"
        "<enclosure url=http://ex.com/a.mp3></enclosure>"
        "</item></channel></rss>"
    )
    spans = extract_feed_spans(rss)
    assert ("media", "", "http://ex.com/a.mp3", 2) in spans
