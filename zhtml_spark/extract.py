"""Main-content span extraction over the flat node-array DOM.

This is the tier the reference stops short of (zhtml returns the
`Document` in memory and goes no further — /root/reference/src/parser.zig,
README.md:17-40); the span shape and judged invariant come from
BASELINE.json.input_hint: ordered ``(kind, text, media_ref, offset)``
per document, span-sequence equality on ``(kind, text, media_ref)`` in
offset order.

Pipeline per document (pure Python over DocTree arrays; iterative DFS,
no recursion, no per-node objects):

1. walk the body subtree, skipping non-content containers;
2. segment text into blocks at block-element boundaries;
3. classify each block's kind from its innermost semantic ancestor
   (heading / list / code / table / text);
4. emit media spans for media elements (``img/video/audio/embed/
   iframe/source`` src + media-like ``a href`` targets);
5. boilerplate strip: drop blocks with high link density and blocks
   under nav/footer/aside containers (text-density/link-density block
   scoring per the north star).
"""

from __future__ import annotations

from dataclasses import dataclass

from .tree import DocTree, N_ELEMENT, N_TEXT

BLOCK_TAGS = frozenset(
    """address article aside blockquote body caption dd details dialog
    div dl dt fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6
    header hgroup hr li main menu nav ol p pre section summary table
    tbody td tfoot th thead tr ul br""".split()
)

KIND_BY_TAG = {
    "h1": "heading", "h2": "heading", "h3": "heading", "h4": "heading",
    "h5": "heading", "h6": "heading",
    "li": "list", "dt": "list", "dd": "list",
    "pre": "code", "code": "code",
    "td": "table", "th": "table", "caption": "table",
}

# whitespace preserved inside these
PRE_TAGS = frozenset(["pre", "code", "textarea", "plaintext", "xmp"])

# subtrees that are never content
SKIP_TAGS = frozenset(
    """script style template noframes noembed select option optgroup
    button datalist input textarea head""".split()
)

# boilerplate strip: blocks under these containers are dropped, and so
# are blocks whose anchor text exceeds MAX_LINK_DENSITY of their chars
SEMANTIC_SKIP_TAGS = frozenset(["nav", "footer", "aside"])
MAX_LINK_DENSITY = 0.66

MEDIA_SRC_TAGS = frozenset(
    ["img", "video", "audio", "embed", "iframe", "source", "track"]
)

MEDIA_EXTENSIONS = (
    ".jpg", ".jpeg", ".png", ".gif", ".webp", ".svg", ".avif", ".bmp",
    ".ico", ".mp4", ".webm", ".mkv", ".avi", ".mov", ".mp3", ".wav",
    ".ogg", ".oga", ".flac", ".m4a", ".pdf",
)


# lazy-loader attribute conventions, most common first (lazysizes,
# jQuery-lazyload, WP plugins)
_LAZY_SRC_ATTRS = ("data-src", "data-original", "data-lazy-src")

_META_REFRESH_RE = None  # lazy regex (head-meta only)


def _parse_meta_refresh(content: str) -> str:
    """The URL from a meta-refresh content value ("5; url=/next",
    "0;URL='x.html'", …) — "" when there is no url= part (a plain
    reload is not a redirect)."""
    global _META_REFRESH_RE
    if _META_REFRESH_RE is None:
        import re

        _META_REFRESH_RE = re.compile(
            r"^\s*[\d.]*\s*[;,]\s*url\s*=\s*(['\"]?)(.*?)\1\s*$",
            re.IGNORECASE,
        )
    m = _META_REFRESH_RE.match(content)
    return m.group(2).strip() if m else ""


_CSS_URL_RE = None  # lazy regex (style_media only)


def _css_urls(style: str) -> list[str]:
    """url(...) tokens from an inline style value, quotes stripped,
    data: URIs excluded."""
    global _CSS_URL_RE
    if _CSS_URL_RE is None:
        import re

        _CSS_URL_RE = re.compile(
            r"url\(\s*(['\"]?)([^'\")]+)\1\s*\)", re.IGNORECASE
        )
    return [
        m.group(2).strip()
        for m in _CSS_URL_RE.finditer(style)
        if m.group(2).strip()
        and not m.group(2).strip().lower().startswith("data:")
    ]


def _parse_srcset(s: str) -> list[tuple[str, str]]:
    """WHATWG srcset candidate list → [(url, descriptor)], order
    preserved.  Simplified split: candidates on commas, URL = first
    whitespace-run-delimited token, descriptor = the rest.
    Documented approximation: a data: URI containing an unescaped
    comma splits wrongly (the spec's full algorithm special-cases
    it); real-world srcset URLs are plain paths."""
    out: list[tuple[str, str]] = []
    for part in s.split(","):
        part = part.strip()
        if not part:
            continue
        bits = part.split(None, 1)
        url = bits[0]
        desc = bits[1].strip() if len(bits) > 1 else ""
        if url:
            out.append((url, desc))
    return out


def is_media_href(href: str) -> bool:
    base = href.split("?", 1)[0].split("#", 1)[0].lower()
    return base.endswith(MEDIA_EXTENSIONS)


@dataclass
class ExtractConfig:
    # noscript policy: a scripting-enabled browser never renders
    # <noscript> content, and at crawl scale it is tracking pixels and
    # "enable JS" banners — skipped by default.  Flip on to harvest the
    # no-JS fallback markup instead (VERDICT r2 next-round #7).
    include_noscript: bool = False
    # link-graph harvesting (r3): every HTML <a href> ADDITIONALLY
    # emits a ('link', anchor_text, href) span at its close position —
    # the anchor text still flows into the surrounding text block; the
    # link span is metadata on top.  Anchors whose href is a media URL
    # keep emitting 'media' spans (disjoint).  Nav/footer anchors emit
    # too (a link graph wants them even when their text block is
    # boilerplate-stripped).  Off by default (span-parity contract).
    emit_links: bool = False
    # source provenance (r4): emit spans as 4-tuples
    # (kind, text, media_ref, src) where src = the source-char offset
    # the span's content originates at (a text block's first char, a
    # media/link element's '<', a head-meta element's '<') — requires
    # a tree parsed with parse_document(src_positions=True);
    # extract_html wires the two flags together.  Spans from trees
    # WITHOUT positions report -1.  Off by default (span-parity
    # contract: the judged shape is 3-tuples).
    with_source_offsets: bool = False
    # svg media harvesting (r4): svg <image> elements reference real
    # raster assets via href (SVG2) or the legacy xlink:href — with
    # this on they emit ('media', '', ref) spans even though svg
    # subtrees stay text-suppressed.  The xlink: prefix survives as
    # the flat attr name per the spec's adjust-foreign-attributes
    # table (tree.py stores prefixed names; the namespace split is a
    # lookup on the 11 fixed entries, not storage).  Off by default
    # (span-parity contract).
    svg_media: bool = False
    # densitometric block classification (r4): Boilerpipe-style
    # shallow-text-features pass (Kohlschütter/Fankhauser/Nejdl,
    # "Boilerplate Detection using Shallow Text Features", WSDM 2010)
    # over the block SEQUENCE — each text block is judged by its own
    # word count + link density AND its neighbours', via the paper's
    # published NumWordsRules decision tree (transcribed from the
    # published rules, not from any implementation).  Catches what the
    # per-block rules cannot: short "related articles" lists between
    # long paragraphs, nav crumbs outside <nav>, share-bar stubs.
    # Runs AFTER the per-block rules above; off by default
    # (span-parity contract).
    density_classifier: bool = False
    # head metadata (r3): emit ('meta', value, key) spans BEFORE the
    # body content for <title>, <meta name=description/robots/keywords
    # content=…>, <meta property=og:… content=…>, <link rel=canonical
    # href=…> and <base href=…> — DIRECT children of <head> only
    # (template/noscript-wrapped metadata deliberately excluded).
    emit_head_meta: bool = False
    # schema.org structured data (r5): every <script
    # type="application/ld+json"> ANYWHERE in the document (head AND
    # body — publishers put them in both) emits a ('jsonld', raw_json,
    # None) span, document order, after head-meta and before content.
    # The MIME essence matches case-insensitively with parameters
    # stripped; text is end-trimmed only (internal whitespace is JSON
    # content); template subtrees are excluded (never rendered, same
    # policy as head-meta).  Downstream parsing stays JVM-side
    # (get_json_object / from_json).  Off by default (span-parity
    # contract).
    emit_jsonld: bool = False
    # RDFa Lite 1.1 (r5): vocab/typeof/property items emit ('rdfa',
    # value, path) spans with the same "idx:dotted.path" scheme as
    # microdata — typeof roots an item (its @type at "<idx>:@type",
    # the nearest ancestor vocab at "<idx>:@vocab"), property+typeof
    # nests, property alone is a leaf.  Value resolution per Lite:
    # content attr > resource attr > href > src > normalized subtree
    # text.  Approximations (documented): CURIEs/terms are kept
    # as-written (no prefix/IRI expansion), and document-subject
    # properties OUTSIDE any typeof (og:* meta tags) are not walked —
    # emit_head_meta already harvests those.  Off by default
    # (span-parity contract).
    emit_rdfa: bool = False
    # inline-style media (r5): hero images routinely arrive as
    # style="background-image:url(…)" on a div — with this on, every
    # url(...) token in an element's style attribute emits a
    # ('media', '', url) span at the element's position (data: URIs
    # skipped: gradients/placeholders, not fetchable assets).  CSS
    # escape sequences inside the url are kept as-written
    # (documented approximation).  Off by default (span-parity
    # contract).
    style_media: bool = False
    # lazy-loaded media (r5): JS lazy-loaders park the real asset in
    # data-src / data-original / data-lazy-src (and data-srcset) and
    # leave src empty or a 1px data: placeholder.  With this on, a
    # media element whose src is MISSING or a data: URI takes its ref
    # from the first populated lazy attribute instead (the alt text
    # still rides along), and data-srcset participates in the
    # srcset_media harvest.  A real http(s) src always wins — the
    # lazy attrs are fallbacks, not overrides.  Off by default
    # (span-parity contract).
    lazy_media: bool = False
    # responsive images (r5): img/source srcset attributes carry the
    # candidate list ("url 2x, url 640w, …"); with this on, each
    # candidate ADDITIONALLY emits a ('media', descriptor, url) span
    # after the element's src span, in srcset order — a media
    # pipeline wants every resolution, and the descriptor ("2x",
    # "640w", "" for the bare default) rides in the text slot.
    # Off by default (span-parity contract).
    srcset_media: bool = False
    # HTML Microdata (r5, WHATWG §5): itemscope/itemprop items emit
    # ('microdata', value, path) spans, document order — path =
    # "<item_idx>:<dotted.prop.path>" with the item's itemtype at
    # "<idx>:@type", so nested items flatten losslessly into the span
    # schema.  Value per the spec's property-value table: content
    # (meta), src (img/audio/video/...), href (a/area/link), data
    # (object), value (data), datetime-else-text (time), normalized
    # subtree text otherwise.  itemref (§5.2.3) resolves through a
    # first-wins id map with a 64-visit loop cap (see
    # _microdata_spans).  Off by default (span-parity contract).
    emit_microdata: bool = False


_WS_NORM = None  # lazy regex


def _normalize(s: str) -> str:
    global _WS_NORM
    if _WS_NORM is None:
        import re

        _WS_NORM = re.compile(r"\s+")
    return _WS_NORM.sub(" ", s).strip()


def extract_spans(
    tree: DocTree,
    config: ExtractConfig | None = None,
    root: int | None = None,
) -> list[tuple[str, str, str | None]]:
    """Extract ordered content spans: list of (kind, text, media_ref).

    Offsets are positional (the caller enumerates); media spans carry
    the resolved-later ``media_ref`` and their alt/anchor text.
    ``root`` overrides the body lookup — fragment extraction passes the
    fragment root from ``tree.parse_fragment``.
    """
    cfg = config or ExtractConfig()

    head_meta: list[tuple[str, str, str | None]] = []
    head_meta_srcs: list[int] = []
    if root is not None:
        body = root
        if cfg.emit_jsonld:
            head_meta, head_meta_srcs = _jsonld_spans(tree, root)
        if cfg.emit_microdata:
            md, md_srcs = _microdata_spans(tree, root)
            head_meta = head_meta + md
            head_meta_srcs = head_meta_srcs + md_srcs
        if cfg.emit_rdfa:
            rd, rd_srcs = _rdfa_spans(tree, root)
            head_meta = head_meta + rd
            head_meta_srcs = head_meta_srcs + rd_srcs
    else:
        # locate body: html is a child of doc 0, body a child of html
        body = -1
        html_nid = -1
        for c in tree.children(0):
            if tree.ntype[c] == N_ELEMENT and tree.name[c] == "html":
                html_nid = c
                for cc in tree.children(c):
                    if tree.ntype[cc] == N_ELEMENT and tree.name[cc] == "body":
                        body = cc
                        break
                break
        if cfg.emit_head_meta and html_nid != -1:
            # the root element's declared language FIRST — <html lang>
            # is the page-level language signal lang-id pipelines
            # trust over content heuristics when present; BCP-47 tags
            # are case-insensitive, lowercased like hreflang keys
            h_lang = ((tree.attrs[html_nid] or {}).get("lang") or "").strip()
            if h_lang:
                head_meta = [("meta", h_lang.lower(), "lang")]
                head_meta_srcs = [tree.src[html_nid]]
            for c in tree.children(html_nid):
                if (
                    tree.ntype[c] == N_ELEMENT
                    and tree.name[c] == "head"
                    and tree.ns[c] is None
                ):
                    hm, hs = _head_meta_spans(tree, c)
                    head_meta = head_meta + hm
                    head_meta_srcs = head_meta_srcs + hs
                    break
        if cfg.emit_jsonld:
            ld, ld_srcs = _jsonld_spans(tree, 0)
            head_meta = head_meta + ld
            head_meta_srcs = head_meta_srcs + ld_srcs
        if cfg.emit_microdata:
            md, md_srcs = _microdata_spans(tree, 0)
            head_meta = head_meta + md
            head_meta_srcs = head_meta_srcs + md_srcs
        if cfg.emit_rdfa:
            rd, rd_srcs = _rdfa_spans(tree, 0)
            head_meta = head_meta + rd
            head_meta_srcs = head_meta_srcs + rd_srcs
        if body == -1:
            # body-less documents (frameset pages) still carry head
            # metadata — title/canonical harvest must not depend on a
            # body existing (code-review r3b)
            if cfg.with_source_offsets:
                return [
                    s + (p,) for s, p in zip(head_meta, head_meta_srcs)
                ]
            return head_meta

    spans: list[tuple[str, str, str | None]] = list(head_meta)
    # parallel source anchors, one per span (kept aligned through the
    # density filter); -1 where the tree carries no position
    span_srcs: list[int] = list(head_meta_srcs)
    block_src = -1  # src of the current block's first text node

    # current block accumulator
    parts: list[str] = []
    anchor_chars = 0
    total_chars = 0

    kind_stack: list[str] = []       # innermost semantic kind
    pre_depth = 0
    anchor_depth = 0
    semantic_skip_depth = 0
    # foreign-content suppression: count of non-integration-point
    # foreign (SVG/MathML) ancestors above the nearest HTML integration
    # point.  Text/media are collected only when 0 — svg <title>/<desc>
    # and graphics labels stay out of content spans, while
    # foreignObject / annotation-xml[text/html] subtrees (real HTML
    # flow content) re-enable collection (VERDICT r1 missing #2).
    foreign_suppress = 0
    _ip_saved: list[int] = []  # suppress counts saved at IP entry
    media_anchor: list[str] | None = None  # text collector inside media <a>
    media_anchor_href = ""
    media_anchor_src = -1
    media_anchor_nest = 0  # nested <a> depth inside the media anchor
    link_parts: list[str] | None = None  # emit_links anchor-text collector
    link_href = ""
    link_src = -1
    link_nest = 0

    # block sequence for the density post-pass: (span_index | None,
    # words, link_density).  Blocks the per-block rules already
    # dropped stay in the sequence as FEATURE-ONLY ghosts (None) — in
    # the WSDM'10 setup every block contributes its neighbours'
    # context even when it is boilerplate itself (a nav bar's high
    # link density is exactly what condemns the stub after it).
    blocks: list[tuple[int | None, int, float]] = []

    def flush() -> None:
        nonlocal parts, anchor_chars, total_chars, block_src
        if not parts:
            return
        raw = "".join(parts)
        text = raw if pre_depth > 0 else _normalize(raw)
        had_text = bool(text)
        keep = (
            had_text
            and semantic_skip_depth == 0
            and not (
                total_chars > 0
                and anchor_chars / total_chars > MAX_LINK_DENSITY
            )
        )
        if keep:
            spans.append((kind_stack[-1] if kind_stack else "text", text, None))
            span_srcs.append(block_src)
        if cfg.density_classifier and had_text:
            blocks.append((
                len(spans) - 1 if keep else None,
                len(text.split()),
                anchor_chars / total_chars if total_chars else 0.0,
            ))
        parts = []
        anchor_chars = 0
        total_chars = 0
        block_src = -1

    # iterative DFS with enter/exit events over the flat arrays
    stack: list[tuple[int, bool]] = [(body, False)]
    while stack:
        nid, is_exit = stack.pop()
        ntype = tree.ntype[nid]

        if ntype == N_TEXT:
            if foreign_suppress > 0:
                continue
            data = tree.node_text(nid)
            if media_anchor is not None:
                media_anchor.append(data)
            elif data:
                if link_parts is not None:
                    link_parts.append(data)
                if block_src == -1 and tree.src[nid] >= 0:
                    # anchor at the first NON-whitespace char: the
                    # normalized span text strips leading whitespace,
                    # so doc[src:] must start at real content
                    # (code-review r4c).  Pre blocks keep raw starts
                    # (their leading whitespace IS content).  Leading
                    # whitespace is assumed literal in source —
                    # entity-encoded leading spaces shift the anchor
                    # (documented approximation).
                    if pre_depth > 0:
                        block_src = tree.src[nid]
                    else:
                        lead = len(data) - len(data.lstrip())
                        if lead < len(data):
                            block_src = tree.src[nid] + lead
                parts.append(data)
                stripped = len(data.strip())
                total_chars += stripped
                if anchor_depth > 0:
                    anchor_chars += stripped
            continue
        if ntype != N_ELEMENT:
            continue

        name = tree.name[nid]

        if not is_exit:
            if name in SKIP_TAGS and nid != body and tree.ns[nid] is None:
                continue  # prune subtree
            if (
                name == "noscript"
                and not cfg.include_noscript
                and nid != body
                and tree.ns[nid] is None
            ):
                continue  # scripting-on parity: noscript never renders
            if tree.ns[nid] is not None:
                if (
                    cfg.svg_media
                    and tree.ns[nid] == "svg"
                    and name == "image"
                ):
                    ref = (tree.attrs[nid] or {}).get("href") or (
                        tree.attrs[nid] or {}
                    ).get("xlink:href") or ""
                    if ref:
                        flush()
                        spans.append(("media", "", ref))
                        span_srcs.append(tree.src[nid])
                if _is_extract_ip(tree, nid, name):
                    # HTML integration point: children are HTML flow
                    # content — re-enable collection underneath
                    _ip_saved.append(foreign_suppress)
                    foreign_suppress = 0
                else:
                    foreign_suppress += 1
                stack.append((nid, True))
                for cid in _reversed_children(tree, nid):
                    stack.append((cid, False))
                continue
            if foreign_suppress > 0 and name in MEDIA_SRC_TAGS:
                # media refs inside suppressed foreign content: skip
                stack.append((nid, True))
                continue

            if cfg.style_media:
                st = (tree.attrs[nid] or {}).get("style") or ""
                if "url(" in st or "URL(" in st:
                    for u in _css_urls(st):
                        flush()
                        spans.append(("media", "", u))
                        span_srcs.append(tree.src[nid])

            if name in MEDIA_SRC_TAGS:
                attrs_m = tree.attrs[nid] or {}
                src = attrs_m.get("src") or ""
                if cfg.lazy_media and (
                    not src or src.startswith("data:")
                ):
                    for lazy_key in _LAZY_SRC_ATTRS:
                        lazy = attrs_m.get(lazy_key) or ""
                        if lazy:
                            src = lazy
                            break
                if src:
                    flush()
                    alt = attrs_m.get("alt") or ""
                    spans.append(("media", _normalize(alt), src))
                    span_srcs.append(tree.src[nid])
                if cfg.srcset_media:
                    ss = attrs_m.get("srcset") or ""
                    if cfg.lazy_media and not ss:
                        ss = attrs_m.get("data-srcset") or ""
                    for u, desc in _parse_srcset(ss):
                        flush()
                        spans.append(("media", desc, u))
                        span_srcs.append(tree.src[nid])
                if name == "iframe":
                    # iframe body is RAWTEXT (raw markup source) —
                    # never content; prune after emitting the media span
                    continue
                # still walk children (video > source etc.)

            if name == "a" and media_anchor is not None:
                # nested <a> inside a media anchor: keep collecting its
                # text, balance via the nest counter only (no
                # anchor_depth/kind side effects)
                media_anchor_nest += 1
                stack.append((nid, True))
                for cid in _reversed_children(tree, nid):
                    stack.append((cid, False))
                continue
            if name == "a" and media_anchor is None:
                href = (tree.attrs[nid] or {}).get("href") or ""
                if href and is_media_href(href):
                    flush()
                    media_anchor = []
                    media_anchor_href = href
                    media_anchor_src = tree.src[nid]
                    stack.append((nid, True))
                    for cids in _reversed_children(tree, nid):
                        stack.append((cids, False))
                    continue

            # kind-setting tags are flush boundaries too: inline <code>
            # must not leak its text into the enclosing block's kind.
            # PRE_TAGS likewise (plaintext/xmp are not block/kind tags):
            # their raw content must not merge into the surrounding
            # normalized block, and flushing before pre_depth changes
            # keeps each side under its own whitespace rule.
            if name in BLOCK_TAGS or name in KIND_BY_TAG or name in PRE_TAGS:
                flush()
                if link_parts is not None:
                    # card-style <a><div>Read</div><div>More</div></a>:
                    # block boundaries inside an open anchor separate
                    # words ("Read More", not "ReadMore") — normalize
                    # collapses any doubles (code-review r3b)
                    link_parts.append(" ")
                if media_anchor is not None:
                    media_anchor.append(" ")  # same rule for media <a>
            if name in SEMANTIC_SKIP_TAGS:
                semantic_skip_depth += 1
            if name in KIND_BY_TAG:
                kind_stack.append(KIND_BY_TAG[name])
            if name in PRE_TAGS:
                pre_depth += 1
            if name == "a":
                anchor_depth += 1
                if cfg.emit_links and foreign_suppress == 0:
                    if link_parts is not None:
                        link_nest += 1  # nested <a>: balance exits only
                    else:
                        href = (tree.attrs[nid] or {}).get("href") or ""
                        if href:
                            link_parts = []
                            link_href = href
                            link_src = tree.src[nid]

            stack.append((nid, True))
            for cid in _reversed_children(tree, nid):
                stack.append((cid, False))
        else:
            if tree.ns[nid] is not None:
                if _is_extract_ip(tree, nid, name):
                    foreign_suppress = _ip_saved.pop()
                else:
                    foreign_suppress -= 1
                continue
            if name == "a" and media_anchor is not None:
                if media_anchor_nest > 0:
                    media_anchor_nest -= 1  # inner <a>: keep collecting
                    continue
                text = _normalize("".join(media_anchor))
                spans.append(("media", text, media_anchor_href))
                span_srcs.append(media_anchor_src)
                media_anchor = None
                media_anchor_href = ""
                continue
            if name in BLOCK_TAGS or name in KIND_BY_TAG or name in PRE_TAGS:
                flush()
                if link_parts is not None:
                    link_parts.append(" ")
                if media_anchor is not None:
                    media_anchor.append(" ")
            if name in SEMANTIC_SKIP_TAGS:
                semantic_skip_depth -= 1
            if name in KIND_BY_TAG:
                kind_stack.pop()
            if name in PRE_TAGS:
                pre_depth -= 1
            if name == "a":
                anchor_depth -= 1
                if link_parts is not None:
                    if link_nest > 0:
                        link_nest -= 1
                    else:
                        spans.append(
                            ("link", _normalize("".join(link_parts)),
                             link_href)
                        )
                        span_srcs.append(link_src)
                        link_parts = None
                        link_href = ""

    flush()
    if cfg.density_classifier and blocks:
        spans, span_srcs = _density_filter(spans, blocks, span_srcs)
    if cfg.with_source_offsets:
        return [s + (p,) for s, p in zip(spans, span_srcs)]
    return spans


def _density_content(
    pw: int, pld: float, cw: int, cld: float, nw: int
) -> bool:
    """The WSDM'10 NumWordsRules decision tree (paper Fig. 4 /
    published rule listing; thresholds are the paper's): classify the
    CURRENT block from (prev, curr, next) word counts and curr/prev
    link densities.  Transcribed from the published rules."""
    if cld > 0.333333:
        return False
    if pld <= 0.555556:
        if cw <= 16:
            if nw <= 15:
                return pw > 4
            return True
        return True
    if cw <= 40:
        return nw > 17
    return True


def _density_filter(
    spans: list[tuple[str, str, str | None]],
    blocks: list[tuple[int | None, int, float]],
    span_srcs: list[int],
) -> tuple[list[tuple[str, str, str | None]], list[int]]:
    """Apply the densitometric classifier over the text-block SEQUENCE
    (media/link/meta spans are not blocks: they pass through untouched
    and do not count as neighbours; ghost entries — blocks the
    per-block rules dropped — contribute features but emit nothing).
    Every verdict uses the ORIGINAL neighbour features, never
    post-removal ones.  Edge blocks see an empty neighbour (0 words,
    0 density), per the paper's setup.  The parallel source-anchor
    list filters with the same drop set so spans and anchors stay
    aligned."""
    drop: set[int] = set()
    for pos, (span_idx, cw, cld) in enumerate(blocks):
        if span_idx is None:
            continue
        _, pw, pld = blocks[pos - 1] if pos > 0 else (None, 0, 0.0)
        nw = blocks[pos + 1][1] if pos + 1 < len(blocks) else 0
        if not _density_content(pw, pld, cw, cld, nw):
            drop.add(span_idx)
    return (
        [s for i, s in enumerate(spans) if i not in drop],
        [p for i, p in enumerate(span_srcs) if i not in drop],
    )


# <meta name=…> keys worth harvesting at crawl scale (og:* accepted
# via the property attribute as well; article:* is the Facebook
# authorship vocabulary carried in the property attribute too)
_META_NAME_KEYS = frozenset(
    [
        "description",
        "robots",
        "keywords",
        "author",
        "article:published_time",
        "article:modified_time",
        "article:author",
    ]
)


def _head_meta_spans(
    tree: DocTree, head: int
) -> tuple[list[tuple[str, str, str | None]], list[int]]:
    """('meta', value, key) spans from the DIRECT children of <head>
    plus their parallel source anchors: title text,
    meta[name|property]+content for the allowlisted keys,
    link[rel~=canonical] href, base href, feed auto-discovery links
    (``rel=alternate`` + rss/atom type → key ``feed``), and language
    alternates (``rel=alternate hreflang=…`` → key
    ``alternate:<lang>``).  Metadata nested under template/noscript
    is deliberately not scanned (never rendered / scripting-off
    fallback)."""
    out: list[tuple[str, str, str | None]] = []
    srcs: list[int] = []
    for c in tree.children(head):
        if tree.ntype[c] != N_ELEMENT or tree.ns[c] is not None:
            continue
        name = tree.name[c]
        attrs = tree.attrs[c] or {}
        if name == "title":
            txt = _normalize(
                "".join(
                    tree.node_text(cc)
                    for cc in tree.children(c)
                    if tree.ntype[cc] == N_TEXT
                )
            )
            if txt:
                out.append(("meta", txt, "title"))
                srcs.append(tree.src[c])
        elif name == "meta":
            key = (attrs.get("name") or attrs.get("property") or "").lower()
            content = attrs.get("content") or ""
            if content and (
                key in _META_NAME_KEYS or key.startswith("og:")
            ):
                out.append(("meta", _normalize(content), key))
                srcs.append(tree.src[c])
            elif (
                content
                and (attrs.get("http-equiv") or "").strip().lower()
                == "refresh"
            ):
                # the third redirect channel (after HTTP 3xx and
                # rel=canonical): "N; url=TARGET" per WHATWG
                # §7.4.6.2 — quotes optional, key case-insensitive,
                # a bare "N" (reload, no target) stays out
                url = _parse_meta_refresh(content)
                if url:
                    out.append(("meta", url, "refresh"))
                    srcs.append(tree.src[c])
        elif name == "link":
            rels = (attrs.get("rel") or "").lower().split()
            href = attrs.get("href") or ""
            if href and "canonical" in rels:
                out.append(("meta", href, "canonical"))
                srcs.append(tree.src[c])
            elif href and ("next" in rels or "prev" in rels):
                # pagination sequence edges (rel=prev is the legacy
                # spelling; "previous" the WHATWG one)
                key = "next" if "next" in rels else "prev"
                out.append(("meta", href, key))
                srcs.append(tree.src[c])
            elif href and "previous" in rels:
                out.append(("meta", href, "prev"))
                srcs.append(tree.src[c])
            elif href and "alternate" in rels:
                # feed auto-discovery (rel=alternate + rss/atom type)
                # beats hreflang when both appear — a feed link with
                # an hreflang is still a feed
                typ = (
                    (attrs.get("type") or "")
                    .split(";", 1)[0]
                    .strip()
                    .lower()
                )
                hl = (attrs.get("hreflang") or "").strip().lower()
                if typ in (
                    "application/rss+xml",
                    "application/atom+xml",
                ):
                    out.append(("meta", href, "feed"))
                    srcs.append(tree.src[c])
                elif hl:
                    out.append(("meta", href, "alternate:" + hl))
                    srcs.append(tree.src[c])
                # bare rel=alternate (e.g. "alternate stylesheet")
                # stays out — neither a feed nor a language variant
        elif name == "base":
            href = attrs.get("href") or ""
            if href:
                out.append(("meta", href, "base"))
                srcs.append(tree.src[c])
    return out, srcs


def _jsonld_spans(
    tree: DocTree, start: int
) -> tuple[list[tuple[str, str, str | None]], list[int]]:
    """('jsonld', raw_json, None) spans for every ``<script
    type="application/ld+json">`` under ``start``, document order,
    plus parallel source anchors.  Template subtrees are pruned
    (never rendered — the head-meta policy); the type attribute
    matches on its MIME essence (parameters stripped, any case)."""
    out: list[tuple[str, str, str | None]] = []
    srcs: list[int] = []
    walk = [start]
    while walk:
        nid = walk.pop()
        if tree.ntype[nid] == N_ELEMENT and tree.ns[nid] is None:
            name = tree.name[nid]
            if name == "template":
                continue
            if name == "script":
                t = ((tree.attrs[nid] or {}).get("type") or "")
                if t.split(";", 1)[0].strip().lower() == \
                        "application/ld+json":
                    txt = "".join(
                        tree.node_text(c)
                        for c in tree.children(nid)
                        if tree.ntype[c] == N_TEXT
                    ).strip()
                    if txt:
                        out.append(("jsonld", txt, None))
                        srcs.append(tree.src[nid])
                continue  # script children are raw text only
        for c in _reversed_children(tree, nid):
            walk.append(c)
    return out, srcs


_MD_SRC_TAGS = frozenset(
    ["audio", "embed", "iframe", "img", "source", "track", "video"]
)
_MD_HREF_TAGS = frozenset(["a", "area", "link"])


def _microdata_subtree_text(tree: DocTree, nid: int) -> str:
    """Normalized text content of a property element's subtree —
    script/style/template excluded (the DOM textContent would include
    script source; no consumer wants that as a property value)."""
    parts: list[str] = []
    walk = [nid]
    while walk:
        n = walk.pop()
        if tree.ntype[n] == N_TEXT:
            parts.append(tree.node_text(n))
            continue
        if tree.ntype[n] != N_ELEMENT:
            continue
        if n != nid and tree.ns[n] is None and tree.name[n] in (
            "script", "style", "template"
        ):
            continue
        for c in _reversed_children(tree, n):
            walk.append(c)
    return _normalize("".join(parts))


def _microdata_spans(
    tree: DocTree, start: int
) -> tuple[list[tuple[str, str, str | None]], list[int]]:
    """('microdata', value, path) spans for every WHATWG §5 item
    under ``start``, document order, plus parallel source anchors.

    Scope rules: ``itemscope`` WITHOUT ``itemprop`` starts a new
    top-level item wherever it sits (DOM nesting does not imply item
    nesting — only ``itemprop itemscope`` does); ``itemprop`` outside
    any scope is an orphan and ignored; a space-separated ``itemprop``
    emits one span per name.  Template subtrees are pruned.

    ``itemref`` (§5.2.3) is supported via a post-pass: scopes record
    their itemref ids during the main walk (which also builds the
    first-wins id map, getElementById semantics), then each
    referenced element is property-crawled with the referring item's
    path prefix — the element's OWN itemprop counts, nested
    prop+itemscope elements become nested items (their itemrefs
    chain), and a bare ``itemscope`` met during the crawl is skipped
    whole (it is someone else's top-level item, already emitted by
    the main walk).  Documented deviations: itemref contributions
    append after the item's in-subtree properties instead of global
    tree-order interleaving (values/paths are spec-exact; the span
    schema carries no per-item property order), and crawling is
    capped (256 ref visits per document, nesting depth 16) — an
    itemref LOOP is a microdata error per spec, and the caps fail
    safe instead of spinning."""
    out: list[tuple[str, str, str | None]] = []
    srcs: list[int] = []
    # owner = the top-level item number each row belongs to; lets the
    # post-pass retract a PROVISIONAL orphan item (itemprop+itemscope
    # met outside any scope — kept as a lenient top-level recovery
    # for sloppy real-world markup) once an itemref claims the same
    # element as a nested item: the claimed form is the spec one, the
    # provisional rows drop wholesale (its number stays skipped)
    owners: list[str] = []
    n_items = 0
    # DFS with explicit exit records popping the scope-path stack;
    # each scope entry is the full path prefix string ("3" top-level,
    # "3:author" nested, "3:author.affiliation" deeper)
    scopes: list[str] = []
    walk: list[tuple[int, bool]] = [(start, False)]
    id_map: dict[str, int] = {}
    pending_refs: list[tuple[str, str]] = []
    orphan_top: dict[int, str] = {}
    consumed: set[int] = set()

    def emit(val: str, path: str, nid: int, owner: str) -> None:
        out.append(("microdata", val, path))
        srcs.append(tree.src[nid])
        owners.append(owner)

    def _join(top: str, prop: str) -> str:
        return top + (":" if ":" not in top else ".") + prop

    def path_for(prop: str) -> str:
        return _join(scopes[-1], prop)

    def leaf_value(name: str, attrs: dict, nid: int) -> str:
        if name == "meta":
            return attrs.get("content") or ""
        if name in _MD_SRC_TAGS:
            return attrs.get("src") or ""
        if name in _MD_HREF_TAGS:
            return attrs.get("href") or ""
        if name == "object":
            return attrs.get("data") or ""
        if name == "data":
            return attrs.get("value") or ""
        if name == "time":
            return attrs.get("datetime") or _microdata_subtree_text(
                tree, nid
            )
        return _microdata_subtree_text(tree, nid)

    while walk:
        nid, is_exit = walk.pop()
        if is_exit:
            scopes.pop()
            continue
        if tree.ntype[nid] != N_ELEMENT or tree.ns[nid] is not None:
            # non-elements (document root, fragments) and foreign
            # elements are transparent containers: microdata is an
            # HTML-namespace feature, but HTML can resume underneath
            # (svg foreignObject)
            if tree.ntype[nid] != N_TEXT:
                for c in _reversed_children(tree, nid):
                    walk.append((c, False))
            continue
        name = tree.name[nid]
        if name == "template":
            continue
        attrs = tree.attrs[nid] or {}
        eid = attrs.get("id")
        if eid and eid not in id_map:
            id_map[eid] = nid
        has_scope = "itemscope" in attrs
        props = (attrs.get("itemprop") or "").split()
        opened = False
        if has_scope and (not props or not scopes):
            # new top-level item (itemprop without an open scope is
            # an orphan: its itemscope still roots a fresh item —
            # PROVISIONALLY, retracted if an itemref later claims it)
            prefix = str(n_items)
            n_items += 1
            if props:
                orphan_top[nid] = prefix
            scopes.append(prefix)
            opened = True
            itype = (attrs.get("itemtype") or "").split()
            if itype:
                emit(itype[0], prefix + ":@type", nid, prefix)
            for r in (attrs.get("itemref") or "").split():
                pending_refs.append((prefix, r))
        elif has_scope and props and scopes:
            # nested item: one scope under the FIRST prop name (the
            # multi-name nested case is ambiguous; first name wins,
            # matching reading order)
            prefix = path_for(props[0])
            scopes.append(prefix)
            opened = True
            itype = (attrs.get("itemtype") or "").split()
            if itype:
                emit(itype[0], prefix + ".@type", nid,
                     prefix.split(":")[0])
            for r in (attrs.get("itemref") or "").split():
                pending_refs.append((prefix, r))
        elif props and scopes:
            # leaf property: value per the spec's table
            val = leaf_value(name, attrs, nid)
            if val:
                for p in props:
                    emit(val, path_for(p), nid,
                         scopes[-1].split(":")[0])
            # NO subtree prune: per spec, itemprop elements inside a
            # property element still belong to the same item (their
            # text also stays part of this value — both true at once)
        if opened:
            walk.append((nid, True))
        for c in _reversed_children(tree, nid):
            walk.append((c, False))

    # ---- itemref post-pass: property-crawl each referenced element
    # with the referring item's prefix (§5.2.3)
    seen_refs: set[tuple[str, str]] = set()
    # budget 256 covers legit wide fan-out (the spec's own example —
    # a table whose row items reference shared cells — needs one ref
    # per row); the depth cap kills ref LOOPS (a microdata error per
    # spec) after a few junk levels instead of burning the budget
    budget = 256
    qi = 0
    while qi < len(pending_refs) and budget > 0:
        item_prefix, rid = pending_refs[qi]
        qi += 1
        if (item_prefix, rid) in seen_refs:
            continue
        seen_refs.add((item_prefix, rid))
        if item_prefix.count(".") > 16:
            continue
        ref_nid = id_map.get(rid)
        if ref_nid is None:
            continue
        budget -= 1
        cscopes = [item_prefix]
        cwalk: list[tuple[int, bool]] = [(ref_nid, False)]
        while cwalk:
            nid, is_exit = cwalk.pop()
            if is_exit:
                cscopes.pop()
                continue
            if tree.ntype[nid] != N_ELEMENT or tree.ns[nid] is not None:
                if tree.ntype[nid] != N_TEXT:
                    for c in _reversed_children(tree, nid):
                        cwalk.append((c, False))
                continue
            name = tree.name[nid]
            if name == "template":
                continue
            attrs = tree.attrs[nid] or {}
            has_scope = "itemscope" in attrs
            props = (attrs.get("itemprop") or "").split()
            opened = False
            if has_scope and not props:
                # someone else's TOP-LEVEL item (already emitted by
                # the main walk): not our property content — skip the
                # whole subtree, exactly the spec's "if current has
                # an itemscope attribute, do not crawl its children"
                continue
            if has_scope and props:
                # the itemref claim: this element is a NESTED item of
                # the referrer — retract any provisional top-level
                # recovery of the same node
                consumed.add(nid)
                prefix = _join(cscopes[-1], props[0])
                cscopes.append(prefix)
                opened = True
                itype = (attrs.get("itemtype") or "").split()
                if itype:
                    emit(itype[0], prefix + ".@type", nid,
                         prefix.split(":")[0])
                for r in (attrs.get("itemref") or "").split():
                    pending_refs.append((prefix, r))
            elif props:
                val = leaf_value(name, attrs, nid)
                if val:
                    for p in props:
                        emit(val, _join(cscopes[-1], p), nid,
                             cscopes[-1].split(":")[0])
            if opened:
                cwalk.append((nid, True))
            for c in _reversed_children(tree, nid):
                cwalk.append((c, False))
    drop = {orphan_top[n] for n in consumed if n in orphan_top}
    if drop:
        keep = [i for i, o in enumerate(owners) if o not in drop]
        out = [out[i] for i in keep]
        srcs = [srcs[i] for i in keep]
    return out, srcs


def _rdfa_spans(
    tree: DocTree, start: int
) -> tuple[list[tuple[str, str, str | None]], list[int]]:
    """('rdfa', value, path) spans for every RDFa Lite item under
    ``start``, document order, plus parallel source anchors.  Scope
    rules mirror :func:`_microdata_spans`: ``typeof`` WITHOUT
    ``property`` roots a new top-level item wherever it sits,
    ``property typeof`` nests, ``property`` alone is a leaf of the
    open scope (outside any scope it addresses the document subject
    — deliberately not walked here, see ExtractConfig.emit_rdfa).
    ``vocab`` inherits down and is emitted per item at
    ``<prefix>:@vocab``; template subtrees are pruned."""
    out: list[tuple[str, str, str | None]] = []
    srcs: list[int] = []
    n_items = 0
    scopes: list[str] = []
    vocabs: list[str] = [""]
    walk: list[tuple[int, int]] = [(start, 0)]  # (nid, op)
    OP_ENTER, OP_EXIT_SCOPE, OP_EXIT_VOCAB = 0, 1, 2

    def path_for(prop: str) -> str:
        top = scopes[-1]
        return top + (":" if ":" not in top else ".") + prop

    def emit_item_head(prefix: str, attrs: dict, src: int) -> None:
        tof = (attrs.get("typeof") or "").split()
        sep = ":" if ":" not in prefix else "."
        if tof:
            out.append(("rdfa", tof[0], prefix + sep + "@type"))
            srcs.append(src)
        if vocabs[-1]:
            out.append(("rdfa", vocabs[-1], prefix + sep + "@vocab"))
            srcs.append(src)

    while walk:
        nid, op = walk.pop()
        if op == OP_EXIT_SCOPE:
            scopes.pop()
            continue
        if op == OP_EXIT_VOCAB:
            vocabs.pop()
            continue
        if tree.ntype[nid] != N_ELEMENT or tree.ns[nid] is not None:
            if tree.ntype[nid] != N_TEXT:
                for c in _reversed_children(tree, nid):
                    walk.append((c, OP_ENTER))
            continue
        name = tree.name[nid]
        if name == "template":
            continue
        attrs = tree.attrs[nid] or {}
        if "vocab" in attrs:
            vocabs.append((attrs.get("vocab") or "").strip())
            walk.append((nid, OP_EXIT_VOCAB))
        has_type = "typeof" in attrs
        props = (attrs.get("property") or "").split()
        opened = False
        if has_type and (not props or not scopes):
            prefix = str(n_items)
            n_items += 1
            emit_item_head(prefix, attrs, tree.src[nid])
            scopes.append(prefix)
            opened = True
        elif has_type and props and scopes:
            prefix = path_for(props[0])
            emit_item_head(prefix, attrs, tree.src[nid])
            scopes.append(prefix)
            opened = True
        elif props and scopes:
            # leaf: RDFa Lite value resolution
            if attrs.get("content"):
                val = attrs["content"]
            elif attrs.get("resource"):
                val = attrs["resource"]
            elif attrs.get("href"):
                val = attrs["href"]
            elif attrs.get("src"):
                val = attrs["src"]
            else:
                val = _microdata_subtree_text(tree, nid)
            if val:
                for p in props:
                    out.append(("rdfa", val, path_for(p)))
                    srcs.append(tree.src[nid])
            # no prune: nested properties still belong to the item
        if opened:
            walk.append((nid, OP_EXIT_SCOPE))
        for c in _reversed_children(tree, nid):
            walk.append((c, OP_ENTER))
    return out, srcs


def _is_extract_ip(tree: DocTree, nid: int, name: str) -> bool:
    """Foreign elements whose children count as extractable content:
    svg foreignObject, MathML text integration points (formula text IS
    text), annotation-xml[text/html].  svg <title>/<desc> are spec HTML
    integration points but METADATA — deliberately excluded so tooltip
    strings never leak into content spans."""
    ns = tree.ns[nid]
    if ns == "svg":
        return name == "foreignObject"
    if ns == "math":
        if name in ("mi", "mo", "mn", "ms", "mtext"):
            return True
        if name == "annotation-xml":
            enc = ((tree.attrs[nid] or {}).get("encoding", "") or "").lower()
            return enc in ("text/html", "application/xhtml+xml")
    return False


def _reversed_children(tree: DocTree, nid: int) -> list[int]:
    kids = list(tree.children(nid))
    kids.reverse()
    return kids


def extract_html(
    html: str, config: ExtractConfig | None = None
) -> tuple[list[tuple[str, str, str | None]], list[str]]:
    """Convenience: parse + extract one HTML string → (spans, errors).

    ``include_noscript=True`` parses with the spec scripting flag OFF
    (noscript content is markup, InHeadNoscript applies) — the two
    flags describe the same browser configuration.
    ``with_source_offsets=True`` parses with token positions on and
    returns 4-tuple spans carrying source anchors."""
    from .tree import parse_document

    cfg = config or ExtractConfig()
    tree, errors = parse_document(
        html,
        scripting=not cfg.include_noscript,
        src_positions=cfg.with_source_offsets,
    )
    return extract_spans(tree, cfg), errors
