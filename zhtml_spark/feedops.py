"""RSS / Atom / RDF feed extraction — the XML branch of the
interleaved multi-format dispatch.

Web crawls are full of syndication feeds (``application/rss+xml``,
``application/atom+xml``, ``text/xml``), and feeding them to the HTML
tokenizer is wrong twice over: XML allows ``<![CDATA[...]]>`` sections
anywhere (HTML only inside foreign content), and feed bodies carry
their PAYLOAD as escaped-or-CDATA-wrapped HTML that must be decoded
FIRST and then parsed as HTML — a two-level parse no single tokenizer
pass can express.

This module implements the feed level with a small dedicated XML pull
scanner (CDATA / comments / PIs / DOCTYPE handled atomically, so a
``</description>`` inside CDATA can never close the element), walks
the RSS 2.0 / Atom / RSS 1.0 (RDF) item structure, and hands every
entry body to the SAME HTML extraction path the html branch uses
(``tree.parse_document`` → ``extract.extract_spans``), so interleaved
corpora keep one downstream span schema:

* channel / feed ``<title>``      → one ``heading`` span (offset 0)
* per item / entry, in document order:
    - ``<title>``                 → ``heading`` span
    - body (RSS ``content:encoded`` > ``description``;
      Atom ``content`` > ``summary``) — decoded (entities / CDATA /
      inline XHTML) then HTML-extracted → its ``text``/``media`` spans
    - ``<enclosure>`` / ``media:content`` / ``media:thumbnail`` /
      Atom ``<link rel="enclosure">`` → ``media`` spans
      (``media_ref`` = the url, empty text)

The reference (watzon/zhtml) has no feed layer at all — this is
brief-driven (interleaved payload axes), not parity-driven.  Entity
decoding accepts numeric references and NAMED references in their
``;``-terminated form via the shared WHATWG table
(``entities.ENTITIES``) — a superset of XML's five predefined names,
matching what real-world feeds actually emit.
"""

from __future__ import annotations

import re
from bisect import bisect_left

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .entities import ENTITIES
from .udfs import map_rows

# One scan, every construct atomic.  CDATA / comments / PIs tolerate
# a missing terminator at EOF (truncated responses must not deadlock
# the scan or leak their tail into element structure).  Read it
# through _tokens, which reads the start tags and drops the ``skip``
# runs.
_TOK_RE = re.compile(
    r"<!\[CDATA\[(.*?)(?:\]\]>|\Z)"  # 1: CDATA payload
    r"|<!--.*?(?:-->|\Z)"  # comment
    r"|<\?.*?(?:\?>|\Z)"  # PI / XML prolog
    r"|<!DOCTYPE[^>]*>"  # doctype
    r"|</\s*([^\s>]*)\s*>"  # 2: end-tag name
    r"|(?P<tag><)(?=[^!?/\s>])"  # a start tag
    # A failed end tag: every later '</' inside its name run ends its
    # name at the same place, unless the name would start only after
    # that place, so the run is skipped whole.
    r"|(?P<skip></\s*(?:[^\s><]|<(?=/[^\s>]))*+)",
    re.S,
)
_OPENER_RE = re.compile(r"<!\[CDATA\[|<!--|<\?")
_NAME_RE = re.compile(r"[^\s/>]*")  # a start tag's name run
# where an attribute soup can stop outside quotes: a tag end or a quote
_STOP_RE = re.compile(r"[>\"']|/(?=>)")


def _soup_ends(text: str) -> tuple[list, list]:
    """The soup stops of ``text`` and, for each, where a soup that
    reaches it unquoted ends: ``(at, slash)`` with ``at`` its closing
    '>' or the '/' of its '/>', or None at a quote nothing closes.  A soup is ``"…"``, ``'…'`` and other
    single characters up to the first unquoted ``>`` or ``/>`` (a '/'
    joins it when no '>' follows, for unquoted values like url=a/b,
    so a self-closed `<title/>` never reads as an open tag that eats
    the feed).  From an unquoted position the soup depends only on the
    next stop, so one pass reads every soup of the text: a soup that
    fails at an unclosed quote is not walked again from every '<'
    before it (``"<a " * n + "'>"`` was quadratic)."""
    stops = [m.start() for m in _STOP_RE.finditer(text)]
    ends: list = [None] * (len(stops) + 1)
    after: dict = {}  # a quote -> the stop after its next occurrence
    for i in range(len(stops) - 1, -1, -1):
        c = text[stops[i]]
        if c in ">/":
            ends[i] = (stops[i], "/" if c == "/" else "")
        else:
            ends[i] = ends[after[c]] if c in after else None
            after[c] = i + 1
    return stops, ends


def _tokens(text: str):
    """``(start, end, cdata, end_name, name, soup, slash)`` for each
    ``_TOK_RE`` match and start tag in ``text``, skipped runs left out
    (the fields a token does not have are None).

    A start tag's name is the longest prefix of its name run after
    which the soup closes.  It gives characters back only at a quote,
    so the run's end and then each quote in it, last first, are tried.
    A start tag that fails fails from every later '<' of its name run
    too (those try a subset of its soup starts), so those are not
    tried again (``"<a" * n`` was cubic).  Every tag ends at a '>', so
    past the last '>' only CDATA, a comment or a PI can match, and the
    first of them reads to the end of input.  The scan stops at that
    '>' and finds the opener with one search: a tag-by-tag scan of a
    '>'-free tail retries every later '<' to the end of input
    (``"</a" * n`` and ``"<!DOCTYPE" * n`` were quadratic).  A
    construct that the cut ends early is matched again over the whole
    text, so the matches are the uncut scan's."""
    tail = end = text.rfind(">") + 1
    stops = None
    pos = failed = 0
    while (t := _TOK_RE.search(text, pos, tail)) is not None:
        p, pos = t.span()
        if t.group("tag") is not None:
            if p < failed:
                continue
            name_end = _NAME_RE.match(text, pos).end()
            if stops is None:
                stops, ends = _soup_ends(text)
            hi = bisect_left(stops, name_end)
            for i in range(hi, bisect_left(stops, p + 2) - 1, -1):
                if ends[i] is not None:
                    at, slash = ends[i]
                    e = name_end if i == hi else stops[i]
                    pos = at + len(slash) + 1
                    name, soup = text[p + 1 : e], text[e:at]
                    yield p, pos, None, None, name, soup, slash
                    break
            else:
                failed = name_end
            continue
        if pos == tail:
            t = _TOK_RE.match(text, p)
            pos = end = t.end()
        if t.group("skip") is None:
            yield *t.span(), *t.group(1, 2), None, None, None
    opener = _OPENER_RE.search(text, end)
    if opener:
        t = _TOK_RE.match(text, opener.start())
        yield *t.span(), *t.group(1, 2), None, None, None


_ATTR_RE = re.compile(
    r"([^\s=/>]+)\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))"
)
_REF_RE = re.compile(r"&(#[0-9]+;|#[xX][0-9A-Fa-f]+;|[A-Za-z][A-Za-z0-9]*;)")

# Root-element sniff for the dispatch (shared with sources): optional
# prolog / comments / doctype, then the feed root.  XML names are
# case-sensitive — `rss`, `feed`, `rdf:RDF` are the wire spellings.
# One whitespace char per repetition, never `\s+` inside the `*`: the
# nested quantifier splits an n-blank run 2^n ways, and a non-feed
# document with a long blank prefix backtracked for minutes.
FEED_ROOT_RE = (
    r"(?s)^(?:\s|<\?.*?\?>|<!--.*?-->|<!DOCTYPE[^>]*>)*"
    r"<(rss|feed|rdf:RDF)[\s>]"
)

_RSS_BODY_PREF = ("content:encoded", "description")
_ATOM_BODY_PREF = ("content", "summary")
_MEDIA_TAGS = {"enclosure", "media:content", "media:thumbnail"}


def _decode_refs(text: str) -> str:
    """Numeric + ``;``-terminated named character references."""

    def sub(m: re.Match) -> str:
        ref = m.group(1)
        if ref[0] == "#":
            try:
                cp = (
                    int(ref[2:-1], 16)
                    if ref[1] in "xX"
                    else int(ref[1:-1])
                )
            except ValueError:
                return m.group(0)
            if 0 < cp <= 0x10FFFF and not 0xD800 <= cp <= 0xDFFF:
                return chr(cp)
            return "�"
        return ENTITIES.get(ref, m.group(0))

    return _REF_RE.sub(sub, text)


def _content_str(raw: str) -> str:
    """Inner source of a feed element → the string to HTML-parse.

    Inline-XHTML content (real child elements, Atom ``type="xhtml"``)
    passes through verbatim — it IS markup.  Otherwise text runs are
    reference-decoded and CDATA payloads taken literally, yielding the
    escaped-HTML / plain-text cases; the caller parses the result as
    HTML either way (plain text comes back as one text span)."""
    for _, _, _, end_name, name, _, _ in _tokens(raw):
        if end_name is not None or name is not None:
            return raw
    return _text_content(raw)


def _attrs(soup: str) -> dict[str, str]:
    return {
        m.group(1).lower(): _decode_refs(
            next(g for g in m.groups()[1:] if g is not None)
        )
        for m in _ATTR_RE.finditer(soup)
    }


def _html_spans(content: str) -> list[tuple[str, str, str | None]]:
    """Second-level parse: feed body → HTML extraction spans."""
    from .extract import extract_spans
    from .tree import parse_document

    tree, _ = parse_document(content, collect_errors=False)
    return extract_spans(tree)


def _text_content(raw: str) -> str:
    """Text-level reading of an element's inner source: decoded text
    runs + literal CDATA payloads, markup tokens dropped."""
    out: list[str] = []
    pos = 0
    for start, end, cdata, *_ in _tokens(raw):
        out.append(_decode_refs(raw[pos:start]))
        if cdata is not None:
            out.append(cdata)
        pos = end
    out.append(_decode_refs(raw[pos:]))
    return "".join(out)


def _title_text(raw: str, ttype: str) -> str:
    """One whitespace-collapsed heading line.  Atom ``type`` governs
    the second-level parse (RFC 4287 §3.1): ``html`` = escaped HTML
    (decode, then strip markup via the HTML path), ``xhtml`` = inline
    markup (strip directly); default/``text`` — and every RSS title —
    reads at text level only, so an author's escaped ``&lt;`` stays
    literal text instead of becoming a phantom tag."""
    if ttype == "html":
        parts = [t for _, t, _ in _html_spans(_content_str(raw)) if t]
    elif ttype == "xhtml":
        parts = [t for _, t, _ in _html_spans(raw) if t]
    else:
        parts = [_text_content(raw)]
    return " ".join(" ".join(parts).split())


def extract_feed_spans(
    xml: str,
) -> list[tuple[str, str, str | None, int]]:
    """Parse one feed document → ordered ``(kind, text, media_ref,
    offset)`` spans (the HTML extraction span shape).  Returns ``[]``
    when the root element is not a feed."""
    root_m = re.match(FEED_ROOT_RE, xml)
    if not root_m:
        return []
    atom = root_m.group(1) == "feed"
    item_tag = "entry" if atom else "item"
    body_pref = _ATOM_BODY_PREF if atom else _RSS_BODY_PREF

    spans: list[tuple[str, str, str | None]] = []
    stack: list[str] = []
    # capture state: slice out the RAW inner source of an element of
    # interest (title / body), tracking same-name nesting so inline
    # XHTML can not close it early; CDATA is atomic in the scan, so a
    # literal "</description>" inside CDATA can not either.
    cap_name: str | None = None
    cap_depth = 0
    cap_start = 0
    cap_sink: dict | None = None
    cap_key = ""

    chan: dict = {}
    in_item = False
    cur: dict | None = None

    def close_item() -> None:
        nonlocal cur, in_item
        if cur is None:
            return
        if cur.get("title") is not None:
            spans.append(
                ("heading", _title_text(cur["title"], cur["ttype"]), None)
            )
        for tag in body_pref:
            if cur["bodies"].get(tag) is not None:
                spans.extend(_html_spans(_content_str(cur["bodies"][tag])))
                break
        for url in cur["media"]:
            spans.append(("media", "", url))
        cur = None
        in_item = False

    def capture(sink: dict, key: str, end: int) -> None:
        nonlocal cap_name, cap_depth, cap_start, cap_sink, cap_key
        cap_name = key
        cap_depth = 1
        cap_start = end
        cap_sink = sink
        cap_key = key

    for start, end, _, end_name, start_name, soup, slash in _tokens(xml):
        if cap_name is not None:
            # inside a captured element: only track its nesting
            if start_name is not None and slash != "/":
                if start_name.lower() == cap_name:
                    cap_depth += 1
            elif end_name is not None and end_name.lower() == cap_name:
                cap_depth -= 1
                if cap_depth == 0:
                    assert cap_sink is not None
                    if cap_sink.get(cap_key) is None:
                        cap_sink[cap_key] = xml[cap_start:start]
                    cap_name = None
                    cap_sink = None
            continue
        if start_name is not None:
            name = start_name.lower()
            self_close = slash == "/"
            if name == item_tag and len(stack) >= 1:
                close_item()
                in_item = True
                cur = {"title": None, "ttype": "", "bodies": {}, "media": []}
                if not self_close:
                    stack.append(name)
                continue
            if in_item and cur is not None:
                if name in _MEDIA_TAGS:
                    a = _attrs(soup)
                    url = a.get("url") or a.get("href")
                    if url:
                        cur["media"].append(url)
                elif name == "link" and atom:
                    a = _attrs(soup)
                    if a.get("rel") == "enclosure" and a.get("href"):
                        cur["media"].append(a["href"])
                if not self_close and name == "title":
                    if cur["title"] is None:
                        cur["ttype"] = _attrs(soup).get("type", "")
                    capture(cur, "title", end)
                    continue
                if not self_close and name in body_pref:
                    capture(cur["bodies"], name, end)
                    continue
            elif (
                not in_item
                and name == "title"
                and "title" not in chan
                and not self_close
                and (
                    (atom and len(stack) == 1)
                    or (not atom and len(stack) == 2)
                )
            ):
                chan["ttype"] = _attrs(soup).get("type", "")
                capture(chan, "title", end)
                continue
            if not self_close:
                stack.append(name)
        elif end_name is not None:
            name = end_name.lower()
            if name == item_tag and in_item:
                close_item()
            # pop to the matching open (tolerates unbalanced input)
            if name in stack:
                while stack and stack[-1] != name:
                    stack.pop()
                if stack:
                    stack.pop()

    # a truncated feed may end mid-item
    close_item()

    out: list[tuple[str, str, str | None, int]] = []
    if chan.get("title") is not None:
        out.append(
            ("heading", _title_text(chan["title"], chan["ttype"]), None, 0)
        )
    for kind, text, ref in spans:
        out.append((kind, text, ref, len(out)))
    return out


FEED_SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("offset", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("text", StringType(), False),
        StructField("media_ref", StringType(), True),
    ]
)


def _feed_span_rows(doc_id, xml) -> list[tuple]:
    """One document → its ``FEED_SPANS_SCHEMA`` rows; a parser
    exception becomes a single ``error`` span (malformed input ≠ dead
    job)."""
    try:
        spans = extract_feed_spans(str(xml))
    except Exception as e:
        spans = [("error", type(e).__name__, None, 0)]
    return [(doc_id, off, kind, text, ref) for kind, text, ref, off in spans]


def decode_feed_spans(df: DataFrame) -> DataFrame:
    """Feed extraction over decoded XML strings — ONE Arrow-batched
    ``udfs.map_rows`` stage (the :func:`zhtml_spark.pdfops.
    decode_pdf_spans` contract: a pure map, embarrassingly parallel,
    no shuffle, no driver state).  Input columns: ``doc_id`` +
    ``xml``.  Output: one row per span, offsets dense per document.
    Non-feed XML produces ZERO rows; a document that makes the parser
    RAISE emits one ``error`` span carrying the exception class name
    — surprises become metric rows, never a dead 10^12-doc job."""
    return map_rows(
        df, ["doc_id", "xml"], _feed_span_rows, FEED_SPANS_SCHEMA
    )
