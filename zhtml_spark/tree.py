"""WHATWG §13.2.6 tree construction over flat node arrays.

Parity target: the reference's parser stage
(/root/reference/src/parser.zig).  The reference implements the full
spec dispatcher guard (:93-122) and two insertion modes — Initial with
its quirks-mode classification table (:146-254) and BeforeHtml
(:256-280); every other mode breaks the loop (:130-133).  We reproduce
those two modes' semantics 1:1 (same quirks prefix table — it is the
spec's own table) and continue with the spec-standard mode chain
sufficient to build real-page DOMs (SURVEY §7.0):
BeforeHead→InHead→AfterHead→InBody→Text→AfterBody plus the SEVEN
dedicated table modes (InTable/InTableText/InCaption/InColumnGroup/
InTableBody/InRow/InCell) with spec foster parenting, and the
foreign-content dispatcher (MathML/SVG namespace insertion, breakout
tags, text/HTML integration points, self-closing foreign tags — the
guard the reference declares at src/parser.zig:93-122).

Implemented in full: active formatting elements (list + reconstruction
+ Noah's Ark) AND the adoption agency algorithm (§13.2.6.4.7) —
canonical html5lib misnesting goldens reproduce exactly
(tests/test_tree.py), plus InSelect/InSelectInTable (r2), fragment
parsing (r2), InTemplate with the template-modes stack (r3), and
InFrameset/AfterFrameset/AfterAfterFrameset with the frameset-ok
flag plus InHeadNoscript behind ``scripting=False`` (r3) — all 23
spec modes.  With the default ``scripting=True``, noscript is a
generic-rawtext element exactly like a browser with JS on (its
content is one text node, never element children).  Remaining
simplification, extraction-safe (text placement is what the span
invariant judges): template contents stay as CHILDREN of the
template node (the flat-tree analog of the spec's detached contents
fragment — the extraction walk prunes them, matching browsers'
never-rendered semantics).

Node storage is the north-star-mandated flat arrays — parallel Python
lists ``parent / first_child / last_child / next_sibling`` plus
name/attrs/type/text — not per-node objects, so the structure converts
to Arrow/numpy without boxing.  The reference instead heap-allocates an
``ArrayList(Node)`` tree (src/node.zig:36).
"""

from __future__ import annotations

from .tokenizer import tokenize

# node types
N_DOCUMENT = 0
N_ELEMENT = 1
N_TEXT = 2
N_COMMENT = 3
N_DOCTYPE = 4

# insertion modes — all 23 the spec declares (the reference declares
# the same 23 as an enum, src/parser.zig:18-42, but implements only
# Initial/BeforeHtml).  InHeadNoscript is reachable only with
# scripting=False (with scripting on, noscript is a rawtext element
# and never parses children — spec in-head noscript rule).
(
    M_INITIAL,
    M_BEFORE_HTML,
    M_BEFORE_HEAD,
    M_IN_HEAD,
    M_AFTER_HEAD,
    M_IN_BODY,
    M_TEXT,
    M_AFTER_BODY,
    M_AFTER_AFTER_BODY,
    M_IN_TABLE,
    M_IN_TABLE_TEXT,
    M_IN_CAPTION,
    M_IN_COLUMN_GROUP,
    M_IN_TABLE_BODY,
    M_IN_ROW,
    M_IN_CELL,
    M_IN_SELECT,
    M_IN_SELECT_IN_TABLE,
    M_IN_TEMPLATE,
    M_IN_HEAD_NOSCRIPT,
    M_IN_FRAMESET,
    M_AFTER_FRAMESET,
    M_AFTER_AFTER_FRAMESET,
) = range(23)

_WS = "\t\n\f "

VOID_ELEMENTS = frozenset(
    "area base basefont bgsound br col embed hr img input keygen link meta "
    "param source track wbr".split()
)

# WHATWG "special" category (used by the any-other-end-tag walk).
SPECIAL = frozenset(
    """address applet area article aside base basefont bgsound blockquote
    body br button caption center col colgroup dd details dir div dl dt
    embed fieldset figcaption figure footer form frame frameset h1 h2 h3
    h4 h5 h6 head header hgroup hr html iframe img input keygen li link
    listing main marquee menu meta nav noembed noframes noscript object
    ol p param plaintext pre script section select source style summary
    table tbody td template textarea tfoot th thead title tr track ul
    wbr xmp""".split()
)

# Start tags that close an open <p> in button scope (spec InBody).
# <table> is NOT here: its p-close is conditional on quirks mode and
# handled in its own InBody branch (spec "A start tag whose tag name is
# 'table'").
CLOSES_P = frozenset(
    """address article aside blockquote center details dialog dir div dl
    fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header
    hgroup hr listing main menu nav ol p plaintext pre section summary
    ul xmp""".split()
)

HEADINGS = frozenset(["h1", "h2", "h3", "h4", "h5", "h6"])

# Content tags with NO special InBody start-tag rule: inserted directly.
# Checked first in the hot path — the overwhelmingly common case on
# real pages (formatting + phrasing elements).  svg/math are NOT here:
# they enter foreign content (namespace insertion + the dispatcher).
PLAIN_INBODY = frozenset(
    """a abbr b bdi bdo big cite code data del dfn em font i ins kbd
    label mark nobr output q rp rt ruby s samp small span
    strike strong sub sup time tt u var article section span
    picture figure main details summary dialog blockquote address
    center""".split()
) - CLOSES_P  # anything with a close-p rule keeps its special path
# (noscript left out: rawtext when scripting=True, plain otherwise)

# End tags with the explicit pop-until rule in InBody (spec list, plus
# applet/marquee/object/form whose spec rules reduce to the same
# pop-until under our simplification).  </table> is handled by InTable.
END_TAG_POP = frozenset(
    """address article aside blockquote button center details dialog dir
    div dl fieldset figcaption figure footer form header hgroup listing
    main menu nav ol pre section summary ul applet marquee
    object""".split()
)

# current-node names under which foster parenting redirects insertion
_TABLE_FOSTER_CONTEXT = frozenset(["table", "tbody", "tfoot", "thead", "tr"])

# ---------------------------------------------------- foreign content
# Start tags that break out of foreign content back to HTML (WHATWG
# §13.2.6.5 "any other start tag" font clause handled separately; the
# reference declares the same dispatcher guard, src/parser.zig:93-122).
_FOREIGN_BREAKOUT = frozenset(
    """b big blockquote body br center code dd div dl dt em embed h1 h2
    h3 h4 h5 h6 head hr i img li listing menu meta nobr ol p pre ruby s
    small span strong strike sub sup table tt u ul var""".split()
)
# SVG tag-name case corrections (spec table, lowercased input → proper)
_SVG_TAG_FIXES = {
    "altglyph": "altGlyph", "altglyphdef": "altGlyphDef",
    "altglyphitem": "altGlyphItem", "animatecolor": "animateColor",
    "animatemotion": "animateMotion", "animatetransform": "animateTransform",
    "clippath": "clipPath", "feblend": "feBlend",
    "fecolormatrix": "feColorMatrix", "fecomponenttransfer":
    "feComponentTransfer", "fecomposite": "feComposite",
    "feconvolvematrix": "feConvolveMatrix", "fediffuselighting":
    "feDiffuseLighting", "fedisplacementmap": "feDisplacementMap",
    "fedistantlight": "feDistantLight", "fedropshadow": "feDropShadow",
    "feflood": "feFlood", "fefunca": "feFuncA", "fefuncb": "feFuncB",
    "fefuncg": "feFuncG", "fefuncr": "feFuncR", "fegaussianblur":
    "feGaussianBlur", "feimage": "feImage", "femerge": "feMerge",
    "femergenode": "feMergeNode", "femorphology": "feMorphology",
    "feoffset": "feOffset", "fepointlight": "fePointLight",
    "fespecularlighting": "feSpecularLighting", "fespotlight":
    "feSpotLight", "fetile": "feTile", "feturbulence": "feTurbulence",
    "foreignobject": "foreignObject", "glyphref": "glyphRef",
    "lineargradient": "linearGradient", "radialgradient":
    "radialGradient", "textpath": "textPath",
}
# MathML text integration points (children parse as HTML text)
_MATHML_TEXT_IP = frozenset(["mi", "mo", "mn", "ms", "mtext"])

# foreign elements in the spec "special" category / scope-boundary
# lists (svg foreignObject/desc/title; MathML text IPs + annotation-xml)
_SVG_SPECIAL = frozenset(["foreignObject", "desc", "title"])
_MATH_SPECIAL = _MATHML_TEXT_IP | {"annotation-xml"}


def _is_foreign_scope_boundary(ns: str, name: str) -> bool:
    if ns == "svg":
        return name in _SVG_SPECIAL
    return name in _MATH_SPECIAL

# SVG attribute case corrections (spec "adjust SVG attributes" table)
_SVG_ATTR_FIXES = {
    "attributename": "attributeName", "attributetype": "attributeType",
    "basefrequency": "baseFrequency", "baseprofile": "baseProfile",
    "calcmode": "calcMode", "clippathunits": "clipPathUnits",
    "diffuseconstant": "diffuseConstant", "edgemode": "edgeMode",
    "filterunits": "filterUnits", "glyphref": "glyphRef",
    "gradienttransform": "gradientTransform", "gradientunits":
    "gradientUnits", "kernelmatrix": "kernelMatrix", "kernelunitlength":
    "kernelUnitLength", "keypoints": "keyPoints", "keysplines":
    "keySplines", "keytimes": "keyTimes", "lengthadjust": "lengthAdjust",
    "limitingconeangle": "limitingConeAngle", "markerheight":
    "markerHeight", "markerunits": "markerUnits", "markerwidth":
    "markerWidth", "maskcontentunits": "maskContentUnits", "maskunits":
    "maskUnits", "numoctaves": "numOctaves", "pathlength": "pathLength",
    "patterncontentunits": "patternContentUnits", "patterntransform":
    "patternTransform", "patternunits": "patternUnits", "pointsatx":
    "pointsAtX", "pointsaty": "pointsAtY", "pointsatz": "pointsAtZ",
    "preservealpha": "preserveAlpha", "preserveaspectratio":
    "preserveAspectRatio", "primitiveunits": "primitiveUnits", "refx":
    "refX", "refy": "refY", "repeatcount": "repeatCount", "repeatdur":
    "repeatDur", "requiredextensions": "requiredExtensions",
    "requiredfeatures": "requiredFeatures", "specularconstant":
    "specularConstant", "specularexponent": "specularExponent",
    "spreadmethod": "spreadMethod", "startoffset": "startOffset",
    "stddeviation": "stdDeviation", "stitchtiles": "stitchTiles",
    "surfacescale": "surfaceScale", "systemlanguage": "systemLanguage",
    "tablevalues": "tableValues", "targetx": "targetX", "targety":
    "targetY", "textlength": "textLength", "viewbox": "viewBox",
    "viewtarget": "viewTarget", "xchannelselector": "xChannelSelector",
    "ychannelselector": "yChannelSelector", "zoomandpan": "zoomAndPan",
}


def _adjust_foreign_attrs(attrs: dict | None, ns: str) -> dict | None:
    """Spec "adjust SVG attributes" + the one-entry "adjust MathML
    attributes" table (case restoration; the adjust-foreign-attributes
    xlink/xml/xmlns namespace split is out of scope — attrs are stored
    flat by prefixed name)."""
    if not attrs:
        return attrs
    if ns == "math":
        if "definitionurl" in attrs:
            return {
                ("definitionURL" if k == "definitionurl" else k): v
                for k, v in attrs.items()
            }
        return attrs
    if ns != "svg" or not any(k in _SVG_ATTR_FIXES for k in attrs):
        return attrs
    return {_SVG_ATTR_FIXES.get(k, k): v for k, v in attrs.items()}

IN_HEAD_TAGS = frozenset(
    "base basefont bgsound link meta noframes script style template "
    "title".split()
)

# InBody start tags whose spec anchors set the frameset-ok flag to
# "not ok" (§13.2.6.4.7; <input> is conditional on type != hidden,
# checked at the use site).  Non-whitespace character tokens and the
# </br> end tag set it too.
_FRAMESET_NOT_OK_STARTS = frozenset(
    "pre listing li dd dt plaintext button applet marquee object xmp "
    "table area br embed img keygen wbr hr textarea iframe select".split()
)

# scope boundary sets (spec "has an element in ... scope")
_SCOPE_DEFAULT = frozenset(
    "applet caption html table td th marquee object template".split()
)
_SCOPE_BUTTON = _SCOPE_DEFAULT | {"button"}
_SCOPE_LIST_ITEM = _SCOPE_DEFAULT | {"ol", "ul"}
# spec "table scope": html, table, template
_SCOPE_TABLE = frozenset(["html", "table", "template"])

_IMPLIED_END = frozenset("dd dt li option optgroup p rp rt".split())
# spec "generate all implied end tags thoroughly" (</template> path)
_IMPLIED_END_THOROUGH = _IMPLIED_END | frozenset(
    "caption colgroup rb rtc tbody td tfoot th thead tr".split()
)

# formatting elements tracked by the active-formatting list (spec
# §13.2.4.3): list + reconstruction + Noah's Ark + the full adoption
# agency algorithm (see adoption_agency in parse_document).
FORMATTING = frozenset(
    "a b big code em font i nobr s small strike strong tt u".split()
)
# marker-scoped containers (td/th/caption/applet/marquee/object)
_AFE_MARKER_TAGS = frozenset(
    "td th caption applet marquee object template".split()
)

# ------------------------------------------------------------------
# Quirks-mode classification (WHATWG §13.2.6.4.1 "the initial insertion
# mode"; the reference reproduces the same table at
# /root/reference/src/parser.zig:175-245).
QUIRKS_PUBLIC_EXACT = frozenset(
    [
        "-//w3o//dtd w3 html strict 3.0//en//",
        "-/w3c/dtd html 4.0 transitional/en",
        "html",
    ]
)
QUIRKS_SYSTEM_EXACT = frozenset(
    ["http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd"]
)
QUIRKS_PUBLIC_PREFIXES = tuple(
    s.lower()
    for s in (
        "+//Silmaril//dtd html Pro v0r11 19970101//",
        "-//AS//DTD HTML 3.0 asWedit + extensions//",
        "-//AdvaSoft Ltd//DTD HTML 3.0 asWedit + extensions//",
        "-//IETF//DTD HTML 2.0 Level 1//",
        "-//IETF//DTD HTML 2.0 Level 2//",
        "-//IETF//DTD HTML 2.0 Strict Level 1//",
        "-//IETF//DTD HTML 2.0 Strict Level 2//",
        "-//IETF//DTD HTML 2.0 Strict//",
        "-//IETF//DTD HTML 2.0//",
        "-//IETF//DTD HTML 2.1E//",
        "-//IETF//DTD HTML 3.0//",
        "-//IETF//DTD HTML 3.2 Final//",
        "-//IETF//DTD HTML 3.2//",
        "-//IETF//DTD HTML 3//",
        "-//IETF//DTD HTML Level 0//",
        "-//IETF//DTD HTML Level 1//",
        "-//IETF//DTD HTML Level 2//",
        "-//IETF//DTD HTML Level 3//",
        "-//IETF//DTD HTML Strict Level 0//",
        "-//IETF//DTD HTML Strict Level 1//",
        "-//IETF//DTD HTML Strict Level 2//",
        "-//IETF//DTD HTML Strict Level 3//",
        "-//IETF//DTD HTML Strict//",
        "-//IETF//DTD HTML//",
        "-//Metrius//DTD Metrius Presentational//",
        "-//Microsoft//DTD Internet Explorer 2.0 HTML Strict//",
        "-//Microsoft//DTD Internet Explorer 2.0 HTML//",
        "-//Microsoft//DTD Internet Explorer 2.0 Tables//",
        "-//Microsoft//DTD Internet Explorer 3.0 HTML Strict//",
        "-//Microsoft//DTD Internet Explorer 3.0 HTML//",
        "-//Microsoft//DTD Internet Explorer 3.0 Tables//",
        "-//Netscape Comm. Corp.//DTD HTML//",
        "-//Netscape Comm. Corp.//DTD Strict HTML//",
        "-//O'Reilly and Associates//DTD HTML 2.0//",
        "-//O'Reilly and Associates//DTD HTML Extended 1.0//",
        "-//O'Reilly and Associates//DTD HTML Extended Relaxed 1.0//",
        "-//SQ//DTD HTML 2.0 HoTMetaL + extensions//",
        "-//SoftQuad Software//DTD HoTMetaL PRO 6.0::19990601::"
        "extensions to HTML 4.0//",
        "-//SoftQuad//DTD HoTMetaL PRO 4.0::19971010::"
        "extensions to HTML 4.0//",
        "-//Spyglass//DTD HTML 2.0 Extended//",
        "-//Sun Microsystems Corp.//DTD HotJava HTML//",
        "-//Sun Microsystems Corp.//DTD HotJava Strict HTML//",
        "-//W3C//DTD HTML 3 1995-03-24//",
        "-//W3C//DTD HTML 3.2 Draft//",
        "-//W3C//DTD HTML 3.2 Final//",
        "-//W3C//DTD HTML 3.2//",
        "-//W3C//DTD HTML 3.2S Draft//",
        "-//W3C//DTD HTML 4.0 Frameset//",
        "-//W3C//DTD HTML 4.0 Transitional//",
        "-//W3C//DTD HTML Experimental 19960712//",
        "-//W3C//DTD HTML Experimental 970421//",
        "-//W3C//DTD W3 HTML//",
        "-//W3O//DTD W3 HTML 3.0//",
        "-//WebTechs//DTD Mozilla HTML 2.0//",
        "-//WebTechs//DTD Mozilla HTML//",
    )
)
_QUIRKS_NO_SYSTEM_PREFIXES = (
    "-//w3c//dtd html 4.01 frameset//",
    "-//w3c//dtd html 4.01 transitional//",
)
_LIMITED_QUIRKS_PREFIXES = (
    "-//w3c//dtd xhtml 1.0 frameset//",
    "-//w3c//dtd xhtml 1.0 transitional//",
)


def classify_quirks(
    name: str | None,
    public_id: str | None,
    system_id: str | None,
    force_quirks: bool,
) -> str:
    """Return 'quirks' | 'limited-quirks' | 'no-quirks'."""
    pub = (public_id or "").lower()
    sys = (system_id or "").lower()
    if force_quirks or name != "html":
        return "quirks"
    if public_id is not None:
        if pub in QUIRKS_PUBLIC_EXACT or pub.startswith(QUIRKS_PUBLIC_PREFIXES):
            return "quirks"
    if system_id is not None and sys in QUIRKS_SYSTEM_EXACT:
        return "quirks"
    if system_id is None and pub.startswith(_QUIRKS_NO_SYSTEM_PREFIXES):
        return "quirks"
    if pub.startswith(_LIMITED_QUIRKS_PREFIXES):
        return "limited-quirks"
    if system_id is not None and pub.startswith(_QUIRKS_NO_SYSTEM_PREFIXES):
        return "limited-quirks"
    return "no-quirks"


class DocTree:
    """Flat node-array DOM: parallel lists, index links, no node objects.

    Node 0 is the document.  Text nodes accumulate parts in ``text``
    (joined lazily by ``node_text``); adjacent text inserts merge.
    """

    __slots__ = (
        "parent",
        "first_child",
        "last_child",
        "next_sibling",
        "ntype",
        "name",
        "attrs",
        "text",
        "ns",
        "quirks_mode",
        "doctype",
        "src",
        "cur_src",
    )

    def __init__(self) -> None:
        self.parent: list[int] = [-1]
        self.first_child: list[int] = [-1]
        self.last_child: list[int] = [-1]
        self.next_sibling: list[int] = [-1]
        self.ntype: list[int] = [N_DOCUMENT]
        self.name: list[str | None] = [None]
        self.attrs: list[dict | None] = [None]
        self.text: list[list[str] | None] = [None]
        # namespace per node: None = HTML, "svg" | "math" = foreign
        self.ns: list[str | None] = [None]
        self.quirks_mode = "no-quirks"
        self.doctype: tuple | None = None
        # source anchors (parse_document(src_positions=True)): the
        # start offset of the token that created each node; -1 when
        # positions are off.  cur_src is the stamp the driver loop
        # sets per token — new_node reads it so every creation site
        # (driver, AFE clones, text merges) inherits it for free.
        self.src: list[int] = [-1]
        self.cur_src: int = -1

    def new_node(
        self,
        ntype: int,
        name: str | None,
        attrs: dict | None,
        ns: str | None = None,
    ) -> int:
        nid = len(self.parent)
        self.parent.append(-1)
        self.first_child.append(-1)
        self.last_child.append(-1)
        self.next_sibling.append(-1)
        self.ntype.append(ntype)
        self.name.append(name)
        self.attrs.append(attrs)
        self.text.append(None)
        self.ns.append(ns)
        self.src.append(self.cur_src)
        return nid

    def insert_node_before(self, parent: int, before: int, child: int) -> None:
        """Foster-parenting helper: link ``child`` just before
        ``before`` among ``parent``'s children."""
        prev = -1
        c = self.first_child[parent]
        while c != -1 and c != before:
            prev = c
            c = self.next_sibling[c]
        if c == -1:  # before not found: plain append
            self.append_child(parent, child)
            return
        self.parent[child] = parent
        self.next_sibling[child] = before
        if prev == -1:
            self.first_child[parent] = child
        else:
            self.next_sibling[prev] = child

    def append_child(self, parent: int, child: int) -> None:
        self.parent[child] = parent
        self.next_sibling[child] = -1  # child may be a reparented subtree
        last = self.last_child[parent]
        if last == -1:
            self.first_child[parent] = child
        else:
            self.next_sibling[last] = child
        self.last_child[parent] = child

    def detach(self, nid: int) -> None:
        """Unlink ``nid`` from its parent's child chain (adoption
        agency reparenting)."""
        parent = self.parent[nid]
        if parent == -1:
            return
        prev = -1
        c = self.first_child[parent]
        while c != -1 and c != nid:
            prev = c
            c = self.next_sibling[c]
        if c == -1:
            return
        nxt = self.next_sibling[nid]
        if prev == -1:
            self.first_child[parent] = nxt
        else:
            self.next_sibling[prev] = nxt
        if self.last_child[parent] == nid:
            self.last_child[parent] = prev
        self.parent[nid] = -1
        self.next_sibling[nid] = -1

    def move_children(self, src: int, dst: int) -> None:
        """Reparent all of ``src``'s children onto ``dst`` (adoption
        agency step: furthest block's children move into the clone)."""
        c = self.first_child[src]
        self.first_child[src] = -1
        self.last_child[src] = -1
        while c != -1:
            nxt = self.next_sibling[c]
            self.append_child(dst, c)
            c = nxt

    def append_text(self, parent: int, data: str) -> None:
        last = self.last_child[parent]
        if last != -1 and self.ntype[last] == N_TEXT:
            self.text[last].append(data)
            return
        nid = self.new_node(N_TEXT, None, None)
        self.text[nid] = [data]
        self.append_child(parent, nid)

    def insert_text_before(self, parent: int, before: int, data: str) -> None:
        """Foster-parenting helper: text inserted just before ``before``
        among ``parent``'s children (merging with an adjacent text
        node)."""
        prev = -1
        c = self.first_child[parent]
        while c != -1 and c != before:
            prev = c
            c = self.next_sibling[c]
        if prev != -1 and self.ntype[prev] == N_TEXT:
            self.text[prev].append(data)
            return
        nid = self.new_node(N_TEXT, None, None)
        self.text[nid] = [data]
        self.parent[nid] = parent
        self.next_sibling[nid] = before
        if prev == -1:
            self.first_child[parent] = nid
        else:
            self.next_sibling[prev] = nid

    def node_text(self, nid: int) -> str:
        parts = self.text[nid]
        return "".join(parts) if parts else ""

    def children(self, nid: int):
        c = self.first_child[nid]
        while c != -1:
            yield c
            c = self.next_sibling[c]

    def __len__(self) -> int:
        return len(self.parent)


# fragment contexts whose content tokenizes in a non-Data state (spec
# §13.2.2.2 "parsing HTML fragments" step 4)
_FRAGMENT_TOKENIZER_STATE = {
    "title": "RCDATA", "textarea": "RCDATA",
    "style": "RAWTEXT", "xmp": "RAWTEXT", "iframe": "RAWTEXT",
    "noembed": "RAWTEXT", "noframes": "RAWTEXT",
    "script": "ScriptData",
    "plaintext": "PLAINTEXT",
}


def _fragment_initial_mode(context: str) -> int:
    """Spec "reset the insertion mode appropriately" evaluated for a
    fragment: node = context element with ``last = true`` — so td/th
    fall through to InBody (browser parity: ``td.innerHTML = '<td>x'``
    yields bare text), while tr/tbody/table/caption/colgroup map
    unconditionally."""
    if context == "tr":
        return M_IN_ROW
    if context in ("tbody", "thead", "tfoot"):
        return M_IN_TABLE_BODY
    if context == "caption":
        return M_IN_CAPTION
    if context == "colgroup":
        return M_IN_COLUMN_GROUP
    if context == "table":
        return M_IN_TABLE
    if context == "head":
        return M_IN_HEAD
    if context == "frameset":
        # spec: frameset context parses frames (code-review r3b — the
        # InFrameset fragment-root guard was unreachable without this)
        return M_IN_FRAMESET
    return M_IN_BODY


def parse_fragment(html: str, context: str = "div"):
    """Parse an ``innerHTML``-shaped fragment in ``context`` →
    ``(DocTree, root_id, errors)`` where ``root_id`` is the synthetic
    root whose children are the fragment's nodes (spec §13.2.2.2;
    VERDICT r1 missing #4 — the reference's adjustedCurrentNode is a
    fragment-only stub, src/parser.zig:62-75).

    Context drives (a) the tokenizer start state + seeded
    last-start-tag (title/textarea → RCDATA, script → ScriptData, …),
    (b) the initial insertion mode via the spec reset algorithm with
    ``last = true``.  Foreign contexts (r5, closing the r4 gap) are
    written ``"svg <name>"`` / ``"math <name>"`` (bare ``"svg"`` /
    ``"math"`` = the container element): the context element acts as
    the spec's adjusted current node while only the synthetic root is
    open, so children parse with the foreign-content rules — svg/math
    namespaces, breakout tags, HTML/MathML-text integration points
    (name-based for the context itself, which carries no attributes)
    — and the tokenizer's foreign depth is seeded (CDATA sections
    work; rawtext switching stays off; a stray close tag cannot
    un-foreign the context).
    """
    return parse_document(html, fragment_context=context)


def parse_document(
    html: str,
    collect_errors: bool = True,
    fragment_context: str | None = None,
    scripting: bool = True,
    src_positions: bool = False,
):
    """Parse a full HTML document → ``(DocTree, errors)``; with
    ``fragment_context`` set, parse a fragment instead and return
    ``(DocTree, root_id, errors)``.

    ``src_positions=True`` (r4) records each node's SOURCE anchor in
    ``tree.src``: the start offset (post-preprocess char offset into
    ``html``) of the token that created the node — an element's
    opening ``<``, a text node's first character's origin, a
    comment's ``<!``.  Nodes the parser implies (html/head/body with
    no tag of their own, AFE clones) anchor at the token being
    processed when they were created.  Off by default: zero per-node
    cost beyond one ``-1`` append.

    ``scripting`` is the spec's scripting flag: True (default —
    browser-with-JS parity) makes noscript a generic-rawtext element;
    False parses noscript content as markup via InHeadNoscript.

    Single fused pass: tree-aware tokenize, then the insertion-mode
    loop (the analog of Parser.parse, src/parser.zig:77-142 — but over
    the full mode chain instead of two modes).
    """
    # foreign fragment contexts (r5, closes the r4 gap): "svg <name>"
    # / "math <name>" (or bare "svg"/"math" = the container element
    # itself).  The context element is the spec's ADJUSTED current
    # node while only the synthetic root is open — §13.2.2.2 step 11
    # note + the §13.2.6 dispatcher; the reference cannot parse
    # fragments at all (src/parser.zig:55 stub).
    frag_ctx_ns: str | None = None
    frag_ctx_name = fragment_context
    if fragment_context is not None:
        parts = fragment_context.split(" ", 1)
        if len(parts) == 2 and parts[0] in ("svg", "math"):
            frag_ctx_ns, frag_ctx_name = parts[0], parts[1]
        elif fragment_context in ("svg", "math"):
            frag_ctx_ns = frag_ctx_name = fragment_context
    if fragment_context is not None:
        if frag_ctx_ns is not None:
            # spec step 4 applies to HTML-namespace contexts only:
            # foreign content always tokenizes from Data, with the
            # tokenizer's foreign depth seeded so rawtext switching
            # stays off and CDATA sections work (floor at the seed —
            # the context element is never on the stack to pop)
            frag_state = "Data"
        else:
            frag_state = _FRAGMENT_TOKENIZER_STATE.get(
                fragment_context, "Data"
            )
            if fragment_context == "noscript" and scripting:
                frag_state = "RAWTEXT"  # spec §13.2.2.2 step 4
        tokens, errors = tokenize(
            html,
            tree_aware=True,
            initial_state=frag_state,
            last_start_tag=frag_ctx_name,
            scripting=scripting,
            with_token_positions=src_positions,
            foreign_seed=1 if frag_ctx_ns is not None else 0,
        )
    else:
        tokens, errors = tokenize(
            html,
            tree_aware=True,
            scripting=scripting,
            with_token_positions=src_positions,
        )
    tree = DocTree()

    mode = M_INITIAL
    original_mode = M_IN_BODY
    # stack of open elements: parallel (node_id, name) lists
    stack_ids: list[int] = []
    stack_names: list[str] = []
    head_id = -1
    body_id = -1
    html_id = -1
    form_id = -1            # spec "form element pointer" (InTable form)
    skip_newline = False
    done = False
    afe: list = []          # active formatting entries [name, attrs, nid]
    _MARKER = ()            # marker sentinel (unique object)
    open_set: set[int] = set()  # node ids currently on the open stack
    foster_parenting = False    # one-token flag (table "anything else")
    has_foreign = False     # fast-path filter: no svg/math ever pushed
    #                         → skip the per-token dispatcher call
    use_rules = -1          # process current token with another mode's
    #                         rules without leaving the current mode
    pending_table_text: list[str] = []
    orig_table_mode = M_IN_TABLE
    # spec "stack of template insertion modes" — one entry per open
    # <template>; reset_insertion_mode returns its top for template
    template_modes: list[int] = []
    # spec frameset-ok flag: a late <frameset> may replace the body
    # only while nothing body-committing has been parsed yet
    frameset_ok = True
    saw_frameset = False    # suppresses the post-loop implied <body>

    def current() -> int:
        return stack_ids[-1] if stack_ids else 0

    # per-name count of open elements: O(1) "name is nowhere on the
    # stack" answers for scope checks.  Crawl-scale guard: a page with
    # thousands of unclosed <div>s makes every full-stack scope walk
    # O(depth), turning parse quadratic — the count short-circuits the
    # (dominant) negative case.  Maintained by push_open/pop and the
    # adoption-agency direct stack edits.
    from collections import defaultdict

    open_counts: dict[str, int] = defaultdict(int)

    def push_open(nid: int, name: str) -> None:
        # the ONE path onto the open-elements stack: open_set mirrors
        # stack_ids by construction (reconstruct_afe/adoption_agency
        # depend on that invariant — ADVICE r1 #4)
        stack_ids.append(nid)
        stack_names.append(name)
        open_set.add(nid)
        open_counts[name] += 1

    def _foster_slot() -> tuple[int, int]:
        """(parent, before) just before the last open table — the spec
        foster-parenting slot, shared by _insert_location and the
        adoption agency's common-ancestor insert (code-review r3)."""
        for idx in range(len(stack_ids) - 1, -1, -1):
            if (
                stack_names[idx] == "table"
                and tree.ns[stack_ids[idx]] is None
            ):
                t_nid = stack_ids[idx]
                if tree.parent[t_nid] != -1:
                    return tree.parent[t_nid], t_nid
                return stack_ids[idx - 1] if idx > 0 else 0, -1
        return stack_ids[0] if stack_ids else 0, -1  # no table: first el

    def _insert_location() -> tuple[int, int]:
        """Spec "appropriate place for inserting a node": (parent,
        before).  ``before == -1`` means plain append; foster parenting
        redirects to just-before the last open table."""
        if foster_parenting and stack_names and (
            stack_names[-1] in _TABLE_FOSTER_CONTEXT
        ):
            return _foster_slot()
        return current(), -1

    def insert_element(
        name: str, attrs: dict | None, ns: str | None = None
    ) -> int:
        nonlocal has_foreign
        if ns is not None:
            has_foreign = True
        nid = tree.new_node(N_ELEMENT, name, attrs or {}, ns)
        # hot path: plain append under the current node (foster
        # parenting is rare — one flag test keeps the common case free
        # of the location-tuple call)
        if not foster_parenting:
            tree.append_child(
                stack_ids[-1] if stack_ids else 0, nid
            )
        else:
            parent, before = _insert_location()
            if before == -1:
                tree.append_child(parent, nid)
            else:
                tree.insert_node_before(parent, before, nid)
        push_open(nid, name)
        return nid

    def insert_void(
        name: str, attrs: dict | None, ns: str | None = None
    ) -> int:
        nid = tree.new_node(N_ELEMENT, name, attrs or {}, ns)
        if not foster_parenting:
            tree.append_child(stack_ids[-1] if stack_ids else 0, nid)
            return nid
        parent, before = _insert_location()
        if before == -1:
            tree.append_child(parent, nid)
        else:
            tree.insert_node_before(parent, before, nid)
        return nid

    def insert_text(data: str) -> None:
        if not foster_parenting:
            tree.append_text(stack_ids[-1] if stack_ids else 0, data)
            return
        parent, before = _insert_location()
        if before == -1:
            tree.append_text(parent, data)
        else:
            tree.insert_text_before(parent, before, data)

    def pop() -> None:
        open_set.discard(stack_ids.pop())
        open_counts[stack_names.pop()] -= 1

    def _unstack(idx: int) -> None:
        """Remove a non-top stack entry (adoption agency / re-pushed
        head), keeping open_set and open_counts consistent."""
        open_set.discard(stack_ids[idx])
        open_counts[stack_names[idx]] -= 1
        del stack_ids[idx]
        del stack_names[idx]

    def has_in_scope(name: str, boundaries: frozenset) -> bool:
        if not open_counts.get(name):
            # O(1) negative: name is nowhere on the stack — the common
            # case (e.g. close-p with no open p) would otherwise walk
            # the WHOLE stack, quadratic on deeply-unclosed pages
            return False
        if not has_foreign:
            for nm in reversed(stack_names):
                if nm == name:
                    return True
                if nm in boundaries:
                    return False
            return False
        # ns-aware walk: only HTML elements match; foreign INTEGRATION
        # POINTS are scope boundaries per the spec's "specific scope"
        # lists (svg foreignObject/desc/title, MathML text IPs +
        # annotation-xml) — EXCEPT table scope, whose spec list is just
        # html/table/template (caught by the differential tree corpus)
        foreign_bounds = boundaries is not _SCOPE_TABLE
        for idx in range(len(stack_names) - 1, -1, -1):
            nm = stack_names[idx]
            ns = tree.ns[stack_ids[idx]]
            if ns is None:
                if nm == name:
                    return True
                if nm in boundaries:
                    return False
            elif foreign_bounds and _is_foreign_scope_boundary(ns, nm):
                return False
        return False

    def node_in_scope(node: int, boundaries: frozenset) -> bool:
        """Spec "has NODE in scope" — identity, not name (the </form>
        no-template branch checks the form POINTER's node, which may
        not be the nearest form by name)."""
        foreign_bounds = boundaries is not _SCOPE_TABLE
        for idx in range(len(stack_ids) - 1, -1, -1):
            if stack_ids[idx] == node:
                return True
            nm = stack_names[idx]
            ns = tree.ns[stack_ids[idx]]
            if ns is None:
                if nm in boundaries:
                    return False
            elif foreign_bounds and _is_foreign_scope_boundary(ns, nm):
                return False
        return False

    def has_in_select_scope(name: str) -> bool:
        # spec "select scope": boundary is every element EXCEPT
        # optgroup/option (the inverted set)
        for nm in reversed(stack_names):
            if nm == name:
                return True
            if nm not in ("optgroup", "option"):
                return False
        return False

    def generate_implied_end_tags(except_name: str | None = None) -> None:
        while (
            stack_names
            and stack_names[-1] in _IMPLIED_END
            and stack_names[-1] != except_name
        ):
            pop()

    def start_template(attrs: dict | None) -> None:
        """Spec InHead `<template>`: insert, AFE marker, push "in
        template" onto the template-modes stack, switch mode.  Contents
        stay as CHILDREN of the template node (our flat-tree analog of
        the spec's detached template-contents fragment); the extraction
        walk prunes `template` subtrees, so contents never become spans
        — browser parity (template contents are never rendered)."""
        nonlocal mode
        insert_element("template", attrs or {})
        afe.append(_MARKER)
        template_modes.append(M_IN_TEMPLATE)
        mode = M_IN_TEMPLATE

    def end_template() -> None:
        """Spec InHead `</template>`: implied end tags THOROUGHLY, pop
        through template, clear AFE to marker, pop the template-modes
        stack, reset the insertion mode.

        The open-template check is ns-aware: a foreign ``svg:template``
        shares the name but never the rule (start_template never ran
        for it — popping through it would also underflow the AFE list
        past a nonexistent marker; code-review r3).  ``open_counts``
        gives the O(1) negative for stray ``</template>`` floods."""
        nonlocal mode
        if not open_counts.get("template"):
            return  # parse error, ignore (O(1) — no template at all)
        for idx in range(len(stack_ids) - 1, -1, -1):
            if (
                stack_names[idx] == "template"
                and tree.ns[stack_ids[idx]] is None
            ):
                break
        else:
            return  # only foreign-namespace templates open: ignore
        while stack_names and stack_names[-1] in _IMPLIED_END_THOROUGH:
            pop()
        while stack_ids:
            nid = stack_ids[-1]
            nm = stack_names[-1]
            pop()
            if nm == "template" and tree.ns[nid] is None:
                break
        clear_afe_to_marker()
        if template_modes:
            template_modes.pop()
        mode = reset_insertion_mode()

    def pop_until(name: str) -> None:
        while stack_names:
            nm = stack_names[-1]
            pop()
            if nm == name:
                return

    def close_p_if_open() -> None:
        if has_in_scope("p", _SCOPE_BUTTON):
            generate_implied_end_tags("p")
            pop_until("p")

    def ensure_html() -> None:
        nonlocal html_id
        if html_id == -1:
            html_id = tree.new_node(N_ELEMENT, "html", {})
            tree.append_child(0, html_id)
            push_open(html_id, "html")

    def ensure_head() -> None:
        nonlocal head_id
        ensure_html()
        if head_id == -1:
            head_id = insert_element("head", {})

    def close_head() -> None:
        # noscript/template may still be open inside head (we nest them
        # rather than run InHeadNoscript/InTemplate modes): pop THROUGH
        # head or <body> would be created inside it — silent loss of
        # the whole document's content downstream
        if "head" in stack_names:
            while stack_names:
                nm = stack_names[-1]
                pop()
                if nm == "head":
                    break

    def ensure_body() -> None:
        nonlocal body_id
        ensure_html()
        if body_id == -1:
            body_id = insert_element("body", {})

    def reconstruct_afe() -> None:
        # spec "reconstruct the active formatting elements"
        if not afe:
            return
        last = afe[-1]
        if last is _MARKER or last[2] in open_set:
            return
        i = len(afe) - 1
        while i > 0:
            e = afe[i - 1]
            if e is _MARKER or e[2] in open_set:
                break
            i -= 1
        for e in afe[i:]:
            e[2] = insert_element(e[0], dict(e[1]))

    def push_formatting(name: str, attrs: dict, nid: int) -> None:
        # Noah's Ark clause: max 3 identical entries since last marker
        matches = []
        for e in afe:
            if e is _MARKER:
                matches.clear()
            elif e[0] == name and e[1] == attrs:
                matches.append(e)
        if len(matches) >= 3:
            afe.remove(matches[0])
        afe.append([name, attrs, nid])

    def remove_formatting(name: str) -> None:
        for idx in range(len(afe) - 1, -1, -1):
            e = afe[idx]
            if e is _MARKER:
                return
            if e[0] == name:
                del afe[idx]
                return

    def clear_afe_to_marker() -> None:
        while afe:
            if afe.pop() is _MARKER:
                return

    # spec "clear the stack back to a table (body/row) context"
    def clear_to_table_context() -> None:
        while stack_names and stack_names[-1] not in (
            "table", "template", "html",
        ):
            pop()

    def clear_to_table_body_context() -> None:
        while stack_names and stack_names[-1] not in (
            "tbody", "tfoot", "thead", "template", "html",
        ):
            pop()

    def clear_to_table_row_context() -> None:
        while stack_names and stack_names[-1] not in (
            "tr", "template", "html",
        ):
            pop()

    def reset_insertion_mode() -> int:
        """Spec "reset the insertion mode appropriately" — the
        algorithm's element names mean HTML elements, so foreign
        namesakes (svg:template, svg:select) are skipped."""
        for idx in range(len(stack_names) - 1, -1, -1):
            nm = stack_names[idx]
            if has_foreign and tree.ns[stack_ids[idx]] is not None:
                continue
            if nm == "select":
                # spec: InSelectInTable when an HTML table encloses the
                # select, UNLESS a template sits between them (the spec
                # ancestor loop stops at a template → InSelect); foreign
                # namesakes are skipped like the outer loop's
                for j in range(idx - 1, -1, -1):
                    if has_foreign and tree.ns[stack_ids[j]] is not None:
                        continue
                    if stack_names[j] == "template":
                        break
                    if stack_names[j] == "table":
                        return M_IN_SELECT_IN_TABLE
                return M_IN_SELECT
            if nm in ("td", "th"):
                return M_IN_CELL
            if nm == "tr":
                return M_IN_ROW
            if nm in ("tbody", "thead", "tfoot"):
                return M_IN_TABLE_BODY
            if nm == "caption":
                return M_IN_CAPTION
            if nm == "colgroup":
                return M_IN_COLUMN_GROUP
            if nm == "table":
                return M_IN_TABLE
            if nm == "template":
                # spec: current template insertion mode (top of the
                # template-modes stack)
                return template_modes[-1] if template_modes else M_IN_BODY
            if nm == "head":
                return M_IN_HEAD
            if nm == "body":
                return M_IN_BODY
            if nm == "frameset":
                return M_IN_FRAMESET
            if nm == "html":
                if fragment_context is not None:
                    # spec: with last=true substitute the CONTEXT
                    # element — never BeforeHead, which would grow a
                    # phantom head/body skeleton inside the fragment
                    return _fragment_initial_mode(fragment_context)
                return M_BEFORE_HEAD if head_id == -1 else M_AFTER_HEAD
        return M_IN_BODY

    def close_cell() -> int:
        """Spec "close the cell": pop the open td/th, clear formatting
        to the marker, return InRow."""
        for cell in ("td", "th"):
            if has_in_scope(cell, _SCOPE_TABLE):
                generate_implied_end_tags()
                pop_until(cell)
                clear_afe_to_marker()
                break
        return M_IN_ROW

    def any_other_end_tag(name: str) -> None:
        # spec InBody "any other end tag" loop: only HTML elements
        # match; foreign integration points are in the spec special
        # category, so the walk stops there (an end tag for an element
        # OUTSIDE the current foreignObject/desc/title or MathML text
        # IP is ignored, never popped — differential corpus finding)
        for idx in range(len(stack_names) - 1, -1, -1):
            nm = stack_names[idx]
            ns = tree.ns[stack_ids[idx]] if has_foreign else None
            if ns is None:
                if nm == name:
                    generate_implied_end_tags(name)
                    while len(stack_names) > idx:
                        pop()
                    return
                if nm in SPECIAL:
                    return  # ignore token
            elif _is_foreign_scope_boundary(ns, nm):
                return  # ignore token

    def _afe_index_of(nid: int) -> int:
        for i, e in enumerate(afe):
            if e is not _MARKER and e[2] == nid:
                return i
        return -1

    def adoption_agency(subject: str) -> None:
        """WHATWG §13.2.6.4.7 "adoption agency algorithm" — full spec
        (8-iteration outer loop, 3-step inner-loop afe pruning, clone
        reparenting with bookmark).  The reference never reaches tree
        construction this deep (src/parser.zig implements two modes)."""
        # step 1-2: current node matches and isn't an afe entry → pop
        if (
            stack_names
            and stack_names[-1] == subject
            and _afe_index_of(stack_ids[-1]) == -1
        ):
            pop()
            return
        for _outer in range(8):
            # locate the formatting entry (last matching since marker)
            fmt_entry = None
            for e in reversed(afe):
                if e is _MARKER:
                    break
                if e[0] == subject:
                    fmt_entry = e
                    break
            if fmt_entry is None:
                any_other_end_tag(subject)
                return
            fmt_nid = fmt_entry[2]
            if fmt_nid not in open_set:
                afe.remove(fmt_entry)
                return
            # in scope? (by node identity; foreign IPs bound scope)
            in_scope = False
            for idx in range(len(stack_ids) - 1, -1, -1):
                if stack_ids[idx] == fmt_nid:
                    in_scope = True
                    break
                ns_idx = tree.ns[stack_ids[idx]] if has_foreign else None
                if ns_idx is None:
                    if stack_names[idx] in _SCOPE_DEFAULT:
                        break
                elif _is_foreign_scope_boundary(ns_idx, stack_names[idx]):
                    break
            if not in_scope:
                return
            # reverse find: formatting elements live near the TOP of
            # the stack; a bottom-up .index is O(depth) per end tag on
            # deeply-unclosed pages (quadratic at crawl scale)
            fmt_idx = len(stack_ids) - 1
            while stack_ids[fmt_idx] != fmt_nid:
                fmt_idx -= 1
            # furthest block: earliest SPECIAL element more recent than
            # the formatting element
            fb_idx = -1
            for idx in range(fmt_idx + 1, len(stack_ids)):
                if stack_names[idx] in SPECIAL:
                    fb_idx = idx
                    break
            if fb_idx == -1:
                # no furthest block: pop through fmt, drop entry
                while len(stack_ids) > fmt_idx:
                    pop()
                afe.remove(fmt_entry)
                return
            furthest_nid = stack_ids[fb_idx]
            common_ancestor = stack_ids[fmt_idx - 1]
            bookmark = afe.index(fmt_entry)
            # inner loop
            node_idx = fb_idx
            last_node = furthest_nid
            inner = 0
            while True:
                inner += 1
                node_idx -= 1
                node_nid = stack_ids[node_idx]
                if node_nid == fmt_nid:
                    break
                ai = _afe_index_of(node_nid)
                if inner > 3 and ai != -1:
                    del afe[ai]
                    if ai < bookmark:
                        bookmark -= 1
                    ai = -1
                if ai == -1:
                    _unstack(node_idx)
                    continue
                # clone node; swap into afe and the stack
                entry = afe[ai]
                clone = tree.new_node(N_ELEMENT, entry[0], dict(entry[1]))
                entry[2] = clone
                open_set.discard(stack_ids[node_idx])
                stack_ids[node_idx] = clone
                open_set.add(clone)
                if last_node == furthest_nid:
                    bookmark = ai + 1
                tree.detach(last_node)
                tree.append_child(clone, last_node)
                last_node = clone
            # spec step: insert last_node at the APPROPRIATE PLACE with
            # common ancestor as the override target — when that target
            # is a table-context element, foster parenting applies
            # (plain append used to nest a <div> INSIDE <table>;
            # differential-corpus finding)
            tree.detach(last_node)
            if (
                tree.ns[common_ancestor] is None
                and tree.name[common_ancestor] in _TABLE_FOSTER_CONTEXT
            ):
                parent, before = _foster_slot()
                if before == -1:
                    tree.append_child(parent, last_node)
                else:
                    tree.insert_node_before(parent, before, last_node)
            else:
                tree.append_child(common_ancestor, last_node)
            # clone the formatting element; move furthest block's
            # children into it; hang it off the furthest block
            clone2 = tree.new_node(
                N_ELEMENT, fmt_entry[0], dict(fmt_entry[1])
            )
            tree.move_children(furthest_nid, clone2)
            tree.append_child(furthest_nid, clone2)
            # afe: replace fmt entry at the bookmark
            fmt_pos = afe.index(fmt_entry)
            afe.remove(fmt_entry)
            if fmt_pos < bookmark:
                bookmark -= 1
            afe.insert(bookmark, [fmt_entry[0], fmt_entry[1], clone2])
            # stack: remove fmt element, insert clone just above fb
            rm = len(stack_ids) - 1
            while stack_ids[rm] != fmt_nid:
                rm -= 1
            _unstack(rm)
            fb_pos = len(stack_ids) - 1
            while stack_ids[fb_pos] != furthest_nid:
                fb_pos -= 1
            stack_ids.insert(fb_pos + 1, clone2)
            stack_names.insert(fb_pos + 1, fmt_entry[0])
            open_set.add(clone2)
            open_counts[fmt_entry[0]] += 1

    # ---------------------------------------------- foreign content
    def _is_html_ip(nid: int) -> bool:
        """HTML integration point (spec §13.2.6.5; reference guard
        src/parser.zig:93-122): children parse as HTML."""
        ns = tree.ns[nid]
        name = tree.name[nid]
        if ns == "math" and name == "annotation-xml":
            enc = (tree.attrs[nid] or {}).get("encoding", "") or ""
            return enc.lower() in ("text/html", "application/xhtml+xml")
        return ns == "svg" and name in ("foreignObject", "desc", "title")

    def _adjusted_current() -> tuple[str | None, str, int]:
        """(ns, name, nid) of the spec's ADJUSTED current node: the
        fragment context element while only the synthetic root is
        open (nid -1 — the context is never in the tree), else the
        stack top."""
        if frag_ctx_ns is not None and len(stack_ids) == 1:
            return (frag_ctx_ns, frag_ctx_name or "", -1)
        nid = stack_ids[-1]
        return (tree.ns[nid], stack_names[-1] or "", nid)

    def _use_foreign(kind: str, tok: tuple) -> bool:
        """Tree-construction dispatcher: process this token with the
        foreign-content rules instead of the insertion mode?"""
        if not stack_ids:
            return False
        ns, name, nid = _adjusted_current()
        if ns is None:
            return False
        if ns == "math" and name in _MATHML_TEXT_IP:
            if kind == "Character":
                return False
            if kind == "StartTag" and tok[1] not in ("mglyph", "malignmark"):
                return False
        if (
            ns == "math"
            and name == "annotation-xml"
            and kind == "StartTag"
            and tok[1] == "svg"
        ):
            return False
        # HTML integration point: name-based for the context element
        # (nid -1 carries no attrs, so the annotation-xml encoding
        # check — attribute-driven — cannot apply there, matching the
        # attribute-less way the context is specified)
        is_ip = (
            ns == "svg" and name in ("foreignObject", "desc", "title")
            if nid == -1
            else _is_html_ip(nid)
        )
        if is_ip and kind in ("StartTag", "Character"):
            return False
        return True

    def _foreign_breakout_pop() -> None:
        """Pop foreign elements until an HTML element or an
        integration point is the current node."""
        while stack_ids and tree.ns[stack_ids[-1]] is not None:
            nid = stack_ids[-1]
            if tree.ns[nid] == "math" and stack_names[-1] in _MATHML_TEXT_IP:
                return
            if _is_html_ip(nid):
                return
            pop()

    fragment_root = -1
    if fragment_context is not None:
        # spec fragment setup: synthetic <html> root on the stack; the
        # context element itself is NOT in the tree (innerHTML model)
        fragment_root = tree.new_node(N_ELEMENT, "html", {})
        tree.append_child(0, fragment_root)
        push_open(fragment_root, "html")
        html_id = fragment_root
        mode = _fragment_initial_mode(fragment_context)
        if frag_ctx_ns is not None:
            # the adjusted current node is foreign from token one —
            # arm the dispatcher (reset algorithm yields InBody for a
            # foreign context, its fall-through case)
            has_foreign = True

    ti = 0
    ntok = len(tokens)
    while ti < ntok and not done:
        tok = tokens[ti]
        ti += 1
        kind = tok[0]
        if src_positions:
            # every node created while this token processes (driver
            # inserts, AFE clones, merged text) anchors here
            tree.cur_src = tok[-1]
        reprocess = True
        skip_foreign = False
        while reprocess:
            reprocess = False

            if use_rules != -1:
                m = use_rules
                use_rules = -1
            elif has_foreign and not skip_foreign and _use_foreign(kind, tok):
                # ------------------------------- foreign content rules
                if kind == "Character":
                    data = tok[1].replace("\x00", "�")
                    if data:
                        insert_text(data)
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(current(), nid)
                elif kind == "StartTag":
                    name = tok[1]
                    if name in _FOREIGN_BREAKOUT or (
                        name == "font"
                        and any(
                            k in tok[2] for k in ("color", "face", "size")
                        )
                    ):
                        _foreign_breakout_pop()
                        skip_foreign = True  # HTML rules next (spec)
                        reprocess = True
                    else:
                        # namespace of the ADJUSTED current node — the
                        # fragment context's while only the root is
                        # open (spec: "the adjusted current node's
                        # namespace")
                        cur_ns = _adjusted_current()[0]
                        if cur_ns == "svg":
                            name = _SVG_TAG_FIXES.get(name, name)
                        insert_element(
                            name,
                            _adjust_foreign_attrs(tok[2], cur_ns),
                            ns=cur_ns,
                        )
                        if len(tok) > 3 and tok[3]:
                            pop()  # self-closing honored in foreign
                elif kind == "EndTag":
                    name = tok[1]
                    if name in ("br", "p"):
                        _foreign_breakout_pop()
                        # spec: reprocess per the INSERTION MODE, never
                        # the foreign rules — without skip_foreign an
                        # integration-point current node (which the
                        # breakout pop correctly refuses to pop) would
                        # re-enter this branch forever
                        skip_foreign = True
                        reprocess = True
                    else:
                        # spec loop: case-insensitive match down the
                        # stack; an HTML ancestor hands the token to
                        # the insertion mode instead
                        for idx in range(len(stack_ids) - 1, -1, -1):
                            if tree.ns[stack_ids[idx]] is None:
                                skip_foreign = True
                                reprocess = True
                                break
                            if (
                                tree.name[stack_ids[idx]] or ""
                            ).lower() == name:
                                while len(stack_ids) > idx:
                                    pop()
                                break
                # DOCTYPE: parse error, ignored
                continue
            else:
                m = mode

            # ---------------------------------------------- Initial
            if m == M_INITIAL:
                if kind == "Character":
                    data = tok[1].lstrip(_WS)
                    if not data:
                        break
                    tok = ("Character", data)
                    tree.quirks_mode = "quirks"
                    mode = M_BEFORE_HTML
                    reprocess = True
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(0, nid)
                elif kind == "DOCTYPE":
                    # slice, not exact unpack: positioned tokens carry
                    # a trailing source offset
                    _, name, pub, sys, fq = tok[:5]
                    nid = tree.new_node(N_DOCTYPE, name, None)
                    tree.append_child(0, nid)
                    tree.doctype = (name, pub, sys)
                    tree.quirks_mode = classify_quirks(name, pub, sys, fq)
                    mode = M_BEFORE_HTML
                else:
                    tree.quirks_mode = "quirks"
                    mode = M_BEFORE_HTML
                    reprocess = True

            # ------------------------------------------- BeforeHtml
            elif m == M_BEFORE_HTML:
                if kind == "DOCTYPE":
                    break
                if kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(0, nid)
                elif kind == "Character":
                    data = tok[1].lstrip(_WS)
                    if not data:
                        break
                    tok = ("Character", data)
                    ensure_html()
                    mode = M_BEFORE_HEAD
                    reprocess = True
                elif kind == "StartTag" and tok[1] == "html":
                    html_id = tree.new_node(N_ELEMENT, "html", tok[2])
                    tree.append_child(0, html_id)
                    push_open(html_id, "html")
                    mode = M_BEFORE_HEAD
                elif kind == "EndTag" and tok[1] not in (
                    "head", "body", "html", "br",
                ):
                    break  # ignore
                else:
                    ensure_html()
                    mode = M_BEFORE_HEAD
                    reprocess = True

            # ------------------------------------------- BeforeHead
            elif m == M_BEFORE_HEAD:
                if kind == "Character":
                    data = tok[1].lstrip(_WS)
                    if not data:
                        break
                    tok = ("Character", data)
                    ensure_head()
                    mode = M_IN_HEAD
                    reprocess = True
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(current(), nid)
                elif kind == "DOCTYPE":
                    break
                elif kind == "StartTag" and tok[1] == "head":
                    head_id = insert_element("head", tok[2])
                    mode = M_IN_HEAD
                elif kind == "EndTag" and tok[1] not in (
                    "head", "body", "html", "br",
                ):
                    break
                else:
                    ensure_head()
                    mode = M_IN_HEAD
                    reprocess = True

            # ---------------------------------------------- InHead
            elif m == M_IN_HEAD:
                if kind == "Character":
                    ws_prefix_len = len(tok[1]) - len(tok[1].lstrip(_WS))
                    if ws_prefix_len:
                        tree.append_text(current(), tok[1][:ws_prefix_len])
                    rest = tok[1][ws_prefix_len:]
                    if rest:
                        tok = ("Character", rest)
                        close_head()
                        mode = M_AFTER_HEAD
                        reprocess = True
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(current(), nid)
                elif kind == "DOCTYPE":
                    break
                elif kind == "StartTag":
                    name = tok[1]
                    if name == "html":
                        break
                    if name in (
                        "base", "basefont", "bgsound", "link", "meta",
                    ):
                        insert_void(name, tok[2])
                    elif name in ("title", "style", "script", "noframes"):
                        insert_element(name, tok[2])
                        original_mode = mode
                        mode = M_TEXT
                    elif name == "noscript":
                        insert_element(name, tok[2])
                        if scripting:
                            # generic rawtext (tokenizer already
                            # switched states)
                            original_mode = mode
                            mode = M_TEXT
                        else:
                            mode = M_IN_HEAD_NOSCRIPT
                    elif name == "template":
                        start_template(tok[2])
                    elif name == "head":
                        break
                    else:
                        close_head()
                        mode = M_AFTER_HEAD
                        reprocess = True
                elif kind == "EndTag":
                    name = tok[1]
                    if name == "head":
                        close_head()
                        mode = M_AFTER_HEAD
                    elif name == "noscript":
                        if has_in_scope(name, _SCOPE_DEFAULT):
                            pop_until(name)
                    elif name == "template":
                        end_template()
                    elif name in ("body", "html", "br"):
                        close_head()
                        mode = M_AFTER_HEAD
                        reprocess = True
                    # else ignore

            # -------------------------------------------- AfterHead
            elif m == M_AFTER_HEAD:
                if kind == "Character":
                    ws_prefix_len = len(tok[1]) - len(tok[1].lstrip(_WS))
                    if ws_prefix_len:
                        tree.append_text(current(), tok[1][:ws_prefix_len])
                    rest = tok[1][ws_prefix_len:]
                    if rest:
                        tok = ("Character", rest)
                        ensure_body()
                        mode = M_IN_BODY
                        reprocess = True
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(current(), nid)
                elif kind == "DOCTYPE":
                    break
                elif kind == "StartTag":
                    name = tok[1]
                    if name == "html":
                        break
                    if name == "body":
                        body_id = insert_element("body", tok[2])
                        frameset_ok = False  # spec: explicit <body>
                        mode = M_IN_BODY
                    elif name == "frameset":
                        insert_element(name, tok[2])
                        saw_frameset = True
                        mode = M_IN_FRAMESET
                    elif name in IN_HEAD_TAGS:
                        # spec: re-push head; simplified — insert into head
                        if name in ("title", "style", "script", "noframes"):
                            nid = tree.new_node(N_ELEMENT, name, tok[2])
                            tree.append_child(
                                head_id if head_id != -1 else current(), nid
                            )
                            push_open(nid, name)
                            original_mode = M_AFTER_HEAD  # explicit re-push path
                            mode = M_TEXT
                        elif name == "template":
                            # spec: push head back, in-head rules, then
                            # remove head from the stack (not the tree)
                            # — the template node parents under head and
                            # stays open on the stack
                            if head_id != -1:
                                push_open(head_id, "head")
                            start_template(tok[2])
                            if head_id != -1:
                                idx = len(stack_ids) - 2
                                if idx >= 0 and stack_ids[idx] == head_id:
                                    _unstack(idx)
                        else:
                            nid = tree.new_node(N_ELEMENT, name, tok[2])
                            tree.append_child(
                                head_id if head_id != -1 else current(), nid
                            )
                    else:
                        ensure_body()
                        mode = M_IN_BODY
                        reprocess = True
                elif kind == "EndTag":
                    if tok[1] == "template":
                        end_template()
                    elif tok[1] in ("body", "html", "br"):
                        ensure_body()
                        mode = M_IN_BODY
                        reprocess = True
                    # else ignore

            # ---------------------------------------------- InBody
            elif m == M_IN_BODY:
                # frameset-ok bookkeeping (spec sets the flag inside
                # each anchor; the per-token net effect is identical)
                if frameset_ok:
                    if kind == "Character":
                        if tok[1].strip(_WS).replace("\x00", ""):
                            frameset_ok = False
                    elif kind == "StartTag":
                        nm_ = tok[1]
                        if nm_ in _FRAMESET_NOT_OK_STARTS or (
                            nm_ == "input"
                            and tok[2].get("type", "").lower() != "hidden"
                        ):
                            frameset_ok = False
                    elif kind == "EndTag" and tok[1] == "br":
                        frameset_ok = False
                if kind == "Character":
                    data = tok[1]
                    if skip_newline:
                        skip_newline = False
                        if data.startswith("\n"):
                            data = data[1:]
                    if "\x00" in data:
                        data = data.replace("\x00", "")
                    if data:
                        if afe:
                            reconstruct_afe()
                        # insert_text honors foster parenting when the
                        # token was redirected from a table mode
                        insert_text(data)
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(current(), nid)
                elif kind == "DOCTYPE":
                    break
                elif kind == "StartTag":
                    name = tok[1]
                    attrs = tok[2]
                    if name in PLAIN_INBODY:  # hot path: plain insert
                        if name in FORMATTING:
                            if afe and name == "a":
                                # spec: an open <a> since the last
                                # marker implies a missing </a> — run
                                # the adoption agency, then drop any
                                # leftover entry/stack node
                                stale = None
                                for e in reversed(afe):
                                    if e is _MARKER:
                                        break
                                    if e[0] == "a":
                                        stale = e
                                        break
                                if stale is not None:
                                    adoption_agency("a")
                                    if stale in afe:
                                        afe.remove(stale)
                                    if stale[2] in open_set:
                                        sidx = len(stack_ids) - 1
                                        while stack_ids[sidx] != stale[2]:
                                            sidx -= 1
                                        _unstack(sidx)
                            if afe:
                                reconstruct_afe()
                            nid = insert_element(name, attrs)
                            if afe:
                                push_formatting(name, attrs, nid)
                            else:
                                afe.append([name, attrs, nid])
                        else:
                            if afe:
                                reconstruct_afe()
                            insert_element(name, attrs)
                        break
                    if name == "html" or name == "body":
                        break  # ignore (attr-merge skipped)
                    if name == "frameset":
                        # spec: honored only while the body is still
                        # replaceable (frameset-ok, second stack
                        # element is the body)
                        if (
                            frameset_ok
                            and body_id != -1
                            and len(stack_ids) > 1
                            and stack_ids[1] == body_id
                        ):
                            tree.detach(body_id)
                            while len(stack_ids) > 1:
                                pop()
                            body_id = -1
                            insert_element(name, attrs)
                            saw_frameset = True
                            mode = M_IN_FRAMESET
                        break
                    if name in IN_HEAD_TAGS:
                        if name in ("title", "style", "script", "noframes"):
                            insert_element(name, attrs)
                            original_mode = mode
                            mode = M_TEXT
                        elif name == "template":
                            start_template(attrs)  # in-head rules
                        else:
                            insert_void(name, attrs)
                        break
                    if name == "form":
                        # §13.2.6.4.7: a second <form> is IGNORED
                        # while the pointer is set UNLESS a template is
                        # open (the pointer is template-transparent);
                        # forms inserted inside templates never bind
                        # the pointer (r4, differential family 7 —
                        # /root/reference has no form pointer at all:
                        # src/parser.zig is a 2-mode skeleton).
                        # template_modes, NOT open_counts["template"]:
                        # the counter is name-keyed and would count a
                        # foreign svg:template (code-review r4)
                        if form_id != -1 and not template_modes:
                            break
                        close_p_if_open()
                        nid = insert_element(name, attrs)
                        if not template_modes:
                            form_id = nid
                        break
                    if name in CLOSES_P:
                        close_p_if_open()
                        if name in HEADINGS:
                            if stack_names and stack_names[-1] in HEADINGS:
                                pop()
                            insert_element(name, attrs)
                        elif name == "hr":
                            insert_void(name, attrs)
                        elif name in ("pre", "listing"):
                            insert_element(name, attrs)
                            skip_newline = True
                        elif name in ("plaintext", "xmp"):
                            insert_element(name, attrs)
                            if name == "xmp":
                                original_mode = mode
                                mode = M_TEXT
                        else:
                            # form never reaches here (dedicated
                            # branch above owns the pointer rules)
                            insert_element(name, attrs)
                        break
                    if name == "table":
                        # spec: the p-close is conditional on quirks
                        # mode (ADVICE r1 #2)
                        if tree.quirks_mode != "quirks":
                            close_p_if_open()
                        insert_element(name, attrs)
                        mode = M_IN_TABLE
                        break
                    if name in ("svg", "math"):
                        # enter foreign content (namespace insertion;
                        # dispatcher routes descendants)
                        if afe:
                            reconstruct_afe()
                        insert_element(
                            name, _adjust_foreign_attrs(attrs, name), ns=name
                        )
                        if len(tok) > 3 and tok[3]:
                            pop()  # self-closing foreign root
                        break
                    if name == "li":
                        if has_in_scope("li", _SCOPE_LIST_ITEM):
                            generate_implied_end_tags("li")
                            pop_until("li")
                        close_p_if_open()
                        insert_element(name, attrs)
                        break
                    if name in ("dd", "dt"):
                        for other in ("dd", "dt"):
                            if has_in_scope(other, _SCOPE_DEFAULT):
                                generate_implied_end_tags(other)
                                pop_until(other)
                                break
                        close_p_if_open()
                        insert_element(name, attrs)
                        break
                    if name == "button":
                        if has_in_scope("button", _SCOPE_DEFAULT):
                            generate_implied_end_tags()
                            pop_until("button")
                        insert_element(name, attrs)
                        break
                    if name in (
                        "td", "th", "tr", "tbody", "thead", "tfoot",
                        "caption", "colgroup", "col", "frame", "head",
                    ):
                        break  # spec InBody: parse error, ignore
                    if name in VOID_ELEMENTS:
                        if afe and name in ("br", "img", "embed", "wbr",
                                            "input", "area"):
                            reconstruct_afe()
                        insert_void(name, attrs)
                        break
                    if name == "image":
                        insert_void("img", attrs)  # spec renames
                        break
                    if name == "textarea":
                        insert_element(name, attrs)
                        skip_newline = True
                        original_mode = mode
                        mode = M_TEXT
                        break
                    if name in ("iframe", "noembed") or (
                        name == "noscript" and scripting
                    ):
                        insert_element(name, attrs)
                        original_mode = mode
                        mode = M_TEXT
                        break
                    if name == "noscript":
                        # scripting=False: any-other-start-tag
                        if afe:
                            reconstruct_afe()
                        insert_element(name, attrs)
                        break
                    if name == "select":
                        if afe:
                            reconstruct_afe()
                        insert_element(name, attrs)
                        # spec: select opened from a table mode parses
                        # in InSelectInTable (m is the redirected-from
                        # mode when a table mode sent us here)
                        if mode in (
                            M_IN_TABLE, M_IN_CAPTION, M_IN_TABLE_BODY,
                            M_IN_ROW, M_IN_CELL,
                        ):
                            mode = M_IN_SELECT_IN_TABLE
                        else:
                            mode = M_IN_SELECT
                        break
                    if name in ("option", "optgroup"):
                        if stack_names and stack_names[-1] == "option":
                            pop()
                        # spec: reconstruct the active formatting
                        # elements before inserting (code-review r3)
                        if afe:
                            reconstruct_afe()
                        insert_element(name, attrs)
                        break
                    insert_element(name, attrs)
                    if name in _AFE_MARKER_TAGS:
                        afe.append(_MARKER)
                elif kind == "EndTag":
                    name = tok[1]
                    if name == "body":
                        if body_id != -1:
                            mode = M_AFTER_BODY
                        break
                    if name == "html":
                        if body_id != -1:
                            mode = M_AFTER_BODY
                            reprocess = True
                        break
                    if name == "p":
                        if not has_in_scope("p", _SCOPE_BUTTON):
                            # spec: parse error — insert an EMPTY p,
                            # then close it (browsers render <p></p>;
                            # caught by the differential tree corpus)
                            insert_element("p", {})
                        generate_implied_end_tags("p")
                        pop_until("p")
                        break
                    if name == "li":
                        if has_in_scope("li", _SCOPE_LIST_ITEM):
                            generate_implied_end_tags("li")
                            pop_until("li")
                        break
                    if name in ("dd", "dt"):
                        if has_in_scope(name, _SCOPE_DEFAULT):
                            generate_implied_end_tags(name)
                            pop_until(name)
                        break
                    if name in HEADINGS:
                        if any(h in stack_names for h in HEADINGS):
                            generate_implied_end_tags()
                            while stack_names:
                                nm = stack_names[-1]
                                pop()
                                if nm in HEADINGS:
                                    break
                        break
                    if name == "br":
                        insert_void("br", {})  # spec: </br> acts as <br>
                        break
                    if name == "template":
                        end_template()  # in-head rules
                        break
                    if name in FORMATTING:
                        adoption_agency(name)
                        break
                    if name == "form":
                        # §13.2.6.4.7 </form> (r4, family 7): outside
                        # templates the POINTER's node closes — by
                        # identity, REMOVED in place so misnested
                        # content above a deep form survives; inside
                        # templates it is a plain scoped pop-until.
                        # template_modes = HTML templates only
                        # (code-review r4: open_counts would count
                        # foreign svg:template)
                        if template_modes:
                            if has_in_scope("form", _SCOPE_DEFAULT):
                                generate_implied_end_tags()
                                pop_until("form")
                            break
                        node, form_id = form_id, -1
                        if node == -1 or node not in open_set:
                            break
                        if not node_in_scope(node, _SCOPE_DEFAULT):
                            break
                        generate_implied_end_tags()
                        sidx = len(stack_ids) - 1
                        while stack_ids[sidx] != node:
                            sidx -= 1
                        _unstack(sidx)
                        break
                    if name in END_TAG_POP:
                        if has_in_scope(name, _SCOPE_DEFAULT):
                            generate_implied_end_tags()
                            pop_until(name)
                            if name in _AFE_MARKER_TAGS:
                                clear_afe_to_marker()
                        break
                    # stray table-structure end tags fall through to
                    # any_other_end_tag, whose SPECIAL guard ignores
                    # them (table content is handled by the table modes)
                    any_other_end_tag(name)

            # ------------------------------------------------ Text
            elif m == M_TEXT:
                if kind == "Character":
                    data = tok[1]
                    if skip_newline:
                        skip_newline = False
                        if data.startswith("\n"):
                            data = data[1:]
                    if data:
                        tree.append_text(current(), data)
                elif kind == "EndTag":
                    if stack_names:
                        pop()
                    mode = original_mode
                else:
                    # EOF mid-rawtext is handled by loop end; stray
                    # non-char tokens can't occur in rawtext states
                    if stack_names:
                        pop()
                    mode = original_mode
                    reprocess = True

            # ---------------------------------------------- InTable
            elif m == M_IN_TABLE:
                if kind == "Character":
                    if stack_names and (
                        stack_names[-1] in _TABLE_FOSTER_CONTEXT
                    ):
                        pending_table_text = []
                        orig_table_mode = mode
                        mode = M_IN_TABLE_TEXT
                    else:
                        # anything else: InBody with foster parenting
                        foster_parenting = True
                        use_rules = M_IN_BODY
                    reprocess = True
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(current(), nid)
                elif kind == "DOCTYPE":
                    break
                elif kind == "StartTag":
                    name = tok[1]
                    if name == "caption":
                        clear_to_table_context()
                        afe.append(_MARKER)
                        insert_element(name, tok[2])
                        mode = M_IN_CAPTION
                    elif name == "colgroup":
                        clear_to_table_context()
                        insert_element(name, tok[2])
                        mode = M_IN_COLUMN_GROUP
                    elif name == "col":
                        clear_to_table_context()
                        insert_element("colgroup", {})
                        mode = M_IN_COLUMN_GROUP
                        reprocess = True
                    elif name in ("tbody", "tfoot", "thead"):
                        clear_to_table_context()
                        insert_element(name, tok[2])
                        mode = M_IN_TABLE_BODY
                    elif name in ("td", "th", "tr"):
                        clear_to_table_context()
                        insert_element("tbody", {})
                        mode = M_IN_TABLE_BODY
                        reprocess = True
                    elif name == "table":
                        # parse error; implies </table> then reprocess
                        if has_in_scope("table", _SCOPE_TABLE):
                            pop_until("table")
                            mode = reset_insertion_mode()
                            reprocess = True
                    elif name in ("style", "script"):
                        insert_element(name, tok[2])
                        original_mode = mode
                        mode = M_TEXT
                    elif name == "template":
                        # in-head rules — NOT M_TEXT: template children
                        # are markup, and routing them through the text
                        # mode popped the template early and leaked its
                        # (hidden-per-spec) contents as live table rows
                        start_template(tok[2])
                    elif name == "input" and (
                        (tok[2].get("type") or "").lower() == "hidden"
                    ):
                        insert_void(name, tok[2])  # NOT foster-parented
                    elif name == "form":
                        # parse error; insert only if no form pointer
                        # AND no open HTML template (spec — the
                        # template guard is r4, family 7; ns-aware via
                        # template_modes), pop immediately
                        if form_id == -1 and not template_modes:
                            form_id = insert_element(name, tok[2])
                            pop()
                    else:
                        # "anything else": InBody rules with foster
                        # parenting enabled for this token
                        foster_parenting = True
                        use_rules = M_IN_BODY
                        reprocess = True
                elif kind == "EndTag":
                    name = tok[1]
                    if name == "table":
                        if has_in_scope("table", _SCOPE_TABLE):
                            pop_until("table")
                            mode = reset_insertion_mode()
                    elif name in (
                        "body", "caption", "col", "colgroup", "html",
                        "tbody", "td", "tfoot", "th", "thead", "tr",
                    ):
                        break  # parse error, ignore
                    elif name == "template":
                        end_template()
                    else:
                        foster_parenting = True
                        use_rules = M_IN_BODY
                        reprocess = True

            # ------------------------------------------ InTableText
            elif m == M_IN_TABLE_TEXT:
                if kind == "Character":
                    pending_table_text.append(tok[1].replace("\x00", ""))
                else:
                    joined = "".join(pending_table_text)
                    if joined:
                        if joined.strip(_WS):
                            # non-ws: foster-parent via InBody char rule
                            foster_parenting = True
                            if afe:
                                reconstruct_afe()
                            insert_text(joined)
                            foster_parenting = False
                        else:
                            tree.append_text(current(), joined)
                    pending_table_text = []
                    mode = orig_table_mode
                    reprocess = True

            # -------------------------------------------- InCaption
            elif m == M_IN_CAPTION:
                if kind == "EndTag" and tok[1] == "caption":
                    if has_in_scope("caption", _SCOPE_TABLE):
                        generate_implied_end_tags()
                        pop_until("caption")
                        clear_afe_to_marker()
                        mode = M_IN_TABLE
                elif (
                    kind == "StartTag"
                    and tok[1] in (
                        "caption", "col", "colgroup", "tbody", "td",
                        "tfoot", "th", "thead", "tr",
                    )
                ) or (kind == "EndTag" and tok[1] == "table"):
                    if has_in_scope("caption", _SCOPE_TABLE):
                        generate_implied_end_tags()
                        pop_until("caption")
                        clear_afe_to_marker()
                        mode = M_IN_TABLE
                        reprocess = True
                    # else: parse error, ignore
                elif kind == "EndTag" and tok[1] in (
                    "body", "col", "colgroup", "html", "tbody", "td",
                    "tfoot", "th", "tr",
                ):
                    break  # parse error, ignore
                else:
                    use_rules = M_IN_BODY
                    reprocess = True

            # ---------------------------------------- InColumnGroup
            elif m == M_IN_COLUMN_GROUP:
                handled = False
                if kind == "Character":
                    ws_prefix_len = len(tok[1]) - len(tok[1].lstrip(_WS))
                    if ws_prefix_len:
                        tree.append_text(current(), tok[1][:ws_prefix_len])
                    rest = tok[1][ws_prefix_len:]
                    if not rest:
                        handled = True
                    else:
                        tok = ("Character", rest)
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(current(), nid)
                    handled = True
                elif kind == "DOCTYPE":
                    handled = True
                elif kind == "StartTag" and tok[1] == "col":
                    insert_void("col", tok[2])
                    handled = True
                elif kind == "StartTag" and tok[1] == "template":
                    start_template(tok[2])  # in-head rules (spec)
                    handled = True
                elif kind == "EndTag" and tok[1] == "template":
                    end_template()
                    handled = True
                elif kind == "EndTag" and tok[1] == "colgroup":
                    if stack_names and stack_names[-1] == "colgroup":
                        pop()
                        mode = M_IN_TABLE
                    handled = True
                elif kind == "EndTag" and tok[1] == "col":
                    handled = True  # parse error, ignore
                if not handled:
                    # anything else: pop colgroup (if current) → InTable
                    if stack_names and stack_names[-1] == "colgroup":
                        pop()
                        mode = M_IN_TABLE
                        reprocess = True
                    # else: parse error, ignore

            # ------------------------------------------ InTableBody
            elif m == M_IN_TABLE_BODY:
                if kind == "StartTag" and tok[1] == "tr":
                    clear_to_table_body_context()
                    insert_element("tr", tok[2])
                    mode = M_IN_ROW
                elif kind == "StartTag" and tok[1] in ("th", "td"):
                    # parse error: implied <tr>
                    clear_to_table_body_context()
                    insert_element("tr", {})
                    mode = M_IN_ROW
                    reprocess = True
                elif kind == "EndTag" and tok[1] in (
                    "tbody", "tfoot", "thead",
                ):
                    if has_in_scope(tok[1], _SCOPE_TABLE):
                        clear_to_table_body_context()
                        pop()
                        mode = M_IN_TABLE
                elif (
                    kind == "StartTag"
                    and tok[1] in (
                        "caption", "col", "colgroup", "tbody", "tfoot",
                        "thead",
                    )
                ) or (kind == "EndTag" and tok[1] == "table"):
                    if (
                        has_in_scope("tbody", _SCOPE_TABLE)
                        or has_in_scope("thead", _SCOPE_TABLE)
                        or has_in_scope("tfoot", _SCOPE_TABLE)
                    ):
                        clear_to_table_body_context()
                        pop()
                        mode = M_IN_TABLE
                        reprocess = True
                    # else: parse error, ignore
                elif kind == "EndTag" and tok[1] in (
                    "body", "caption", "col", "colgroup", "html", "td",
                    "th", "tr",
                ):
                    break  # parse error, ignore
                else:
                    use_rules = M_IN_TABLE
                    reprocess = True

            # ------------------------------------------------ InRow
            elif m == M_IN_ROW:
                if kind == "StartTag" and tok[1] in ("th", "td"):
                    clear_to_table_row_context()
                    insert_element(tok[1], tok[2])
                    mode = M_IN_CELL
                    afe.append(_MARKER)
                elif kind == "EndTag" and tok[1] == "tr":
                    if has_in_scope("tr", _SCOPE_TABLE):
                        clear_to_table_row_context()
                        pop()
                        mode = M_IN_TABLE_BODY
                elif (
                    kind == "StartTag"
                    and tok[1] in (
                        "caption", "col", "colgroup", "tbody", "tfoot",
                        "thead", "tr",
                    )
                ) or (kind == "EndTag" and tok[1] == "table"):
                    if has_in_scope("tr", _SCOPE_TABLE):
                        clear_to_table_row_context()
                        pop()
                        mode = M_IN_TABLE_BODY
                        reprocess = True
                    # else: parse error, ignore
                elif kind == "EndTag" and tok[1] in (
                    "tbody", "tfoot", "thead",
                ):
                    if has_in_scope(tok[1], _SCOPE_TABLE):
                        if has_in_scope("tr", _SCOPE_TABLE):
                            clear_to_table_row_context()
                            pop()
                            mode = M_IN_TABLE_BODY
                            reprocess = True
                    # else: parse error, ignore
                elif kind == "EndTag" and tok[1] in (
                    "body", "caption", "col", "colgroup", "html", "td",
                    "th",
                ):
                    break  # parse error, ignore
                else:
                    use_rules = M_IN_TABLE
                    reprocess = True

            # ----------------------------------------------- InCell
            elif m == M_IN_CELL:
                if kind == "EndTag" and tok[1] in ("td", "th"):
                    if has_in_scope(tok[1], _SCOPE_TABLE):
                        generate_implied_end_tags()
                        pop_until(tok[1])
                        clear_afe_to_marker()
                        mode = M_IN_ROW
                    # else: parse error, ignore
                elif kind == "StartTag" and tok[1] in (
                    "caption", "col", "colgroup", "tbody", "td", "tfoot",
                    "th", "thead", "tr",
                ):
                    if has_in_scope("td", _SCOPE_TABLE) or has_in_scope(
                        "th", _SCOPE_TABLE
                    ):
                        mode = close_cell()
                        reprocess = True
                    # else: parse error, ignore
                elif kind == "EndTag" and tok[1] in (
                    "body", "caption", "col", "colgroup", "html",
                ):
                    break  # parse error, ignore
                elif kind == "EndTag" and tok[1] in (
                    "table", "tbody", "tfoot", "thead", "tr",
                ):
                    if has_in_scope(tok[1], _SCOPE_TABLE):
                        mode = close_cell()
                        reprocess = True
                    # else: parse error, ignore
                else:
                    use_rules = M_IN_BODY
                    reprocess = True

            # --------------------------------------------- InSelect
            elif m == M_IN_SELECT or m == M_IN_SELECT_IN_TABLE:
                _table_tags = (
                    "caption", "table", "tbody", "tfoot", "thead",
                    "tr", "td", "th",
                )
                if (
                    m == M_IN_SELECT_IN_TABLE
                    and kind == "StartTag"
                    and tok[1] in _table_tags
                ):
                    # table-structure tokens imply </select> first
                    pop_until("select")
                    mode = reset_insertion_mode()
                    reprocess = True
                elif (
                    m == M_IN_SELECT_IN_TABLE
                    and kind == "EndTag"
                    and tok[1] in _table_tags
                ):
                    if has_in_scope(tok[1], _SCOPE_TABLE):
                        pop_until("select")
                        mode = reset_insertion_mode()
                        reprocess = True
                elif kind == "Character":
                    data = tok[1].replace("\x00", "")
                    if data:
                        tree.append_text(current(), data)
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(current(), nid)
                elif kind == "DOCTYPE":
                    pass
                elif kind == "StartTag":
                    name = tok[1]
                    if name == "option":
                        if stack_names and stack_names[-1] == "option":
                            pop()
                        insert_element(name, tok[2])
                    elif name == "optgroup":
                        if stack_names and stack_names[-1] == "option":
                            pop()
                        if stack_names and stack_names[-1] == "optgroup":
                            pop()
                        insert_element(name, tok[2])
                    elif name == "hr":
                        if stack_names and stack_names[-1] == "option":
                            pop()
                        if stack_names and stack_names[-1] == "optgroup":
                            pop()
                        insert_void(name, tok[2])
                    elif name == "select":
                        # parse error: acts as </select>
                        if has_in_select_scope("select"):
                            pop_until("select")
                            mode = reset_insertion_mode()
                    elif name in ("input", "keygen", "textarea"):
                        # parse error: implies </select> then reprocess
                        if has_in_select_scope("select"):
                            pop_until("select")
                            mode = reset_insertion_mode()
                            reprocess = True
                    elif name == "script":
                        insert_element(name, tok[2])
                        original_mode = mode
                        mode = M_TEXT
                    elif name == "template":
                        start_template(tok[2])  # in-head rules (spec)
                    # anything else: parse error, ignore
                elif kind == "EndTag":
                    name = tok[1]
                    if name == "optgroup":
                        if (
                            stack_names
                            and stack_names[-1] == "option"
                            and len(stack_names) > 1
                            and stack_names[-2] == "optgroup"
                        ):
                            pop()
                        if stack_names and stack_names[-1] == "optgroup":
                            pop()
                    elif name == "option":
                        if stack_names and stack_names[-1] == "option":
                            pop()
                    elif name == "select":
                        if has_in_select_scope("select"):
                            pop_until("select")
                            mode = reset_insertion_mode()
                    elif name == "template":
                        end_template()
                    # anything else: parse error, ignore

            # ------------------------------------------ InTemplate
            elif m == M_IN_TEMPLATE:
                if kind in ("Character", "Comment", "DOCTYPE"):
                    use_rules = M_IN_BODY
                    reprocess = True
                elif kind == "StartTag":
                    name = tok[1]
                    if name in (
                        "base", "basefont", "bgsound", "link", "meta",
                    ):
                        insert_void(name, tok[2])  # in-head rules
                    elif name in ("title", "style", "script", "noframes"):
                        insert_element(name, tok[2])
                        original_mode = mode
                        mode = M_TEXT
                    elif name == "template":
                        start_template(tok[2])
                    elif name in (
                        "caption", "colgroup", "tbody", "tfoot", "thead",
                    ):
                        # spec: replace the current template insertion
                        # mode and reprocess under the table mode
                        template_modes[-1] = M_IN_TABLE
                        mode = M_IN_TABLE
                        reprocess = True
                    elif name == "col":
                        template_modes[-1] = M_IN_COLUMN_GROUP
                        mode = M_IN_COLUMN_GROUP
                        reprocess = True
                    elif name == "tr":
                        template_modes[-1] = M_IN_TABLE_BODY
                        mode = M_IN_TABLE_BODY
                        reprocess = True
                    elif name in ("td", "th"):
                        template_modes[-1] = M_IN_ROW
                        mode = M_IN_ROW
                        reprocess = True
                    else:
                        template_modes[-1] = M_IN_BODY
                        mode = M_IN_BODY
                        reprocess = True
                elif kind == "EndTag":
                    if tok[1] == "template":
                        end_template()
                    # any other end tag: parse error, ignore

            # ------------------------------------------- AfterBody
            elif m == M_AFTER_BODY:
                if kind == "Character" and not tok[1].strip(_WS):
                    tree.append_text(current(), tok[1])
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(
                        html_id if html_id != -1 else 0, nid
                    )
                elif kind == "DOCTYPE":
                    break
                elif kind == "EndTag" and tok[1] == "html":
                    mode = M_AFTER_AFTER_BODY
                else:
                    mode = M_IN_BODY
                    reprocess = True

            # -------------------------------------- AfterAfterBody
            elif m == M_AFTER_AFTER_BODY:
                if kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(0, nid)
                elif kind == "Character" and not tok[1].strip(_WS):
                    break
                elif kind == "DOCTYPE":
                    break
                elif kind == "StartTag" and tok[1] == "html":
                    break
                else:
                    mode = M_IN_BODY
                    reprocess = True

            # -------------------------------------- InHeadNoscript
            # reachable only with scripting=False (spec §13.2.6.4.5;
            # with scripting on, noscript is generic rawtext and never
            # parses children)
            elif m == M_IN_HEAD_NOSCRIPT:
                if kind == "Character":
                    ws_prefix_len = len(tok[1]) - len(tok[1].lstrip(_WS))
                    if ws_prefix_len:  # in-head rules: ws inserts
                        tree.append_text(current(), tok[1][:ws_prefix_len])
                    rest = tok[1][ws_prefix_len:]
                    if rest:
                        # anything else: pop noscript, back to InHead
                        tok = ("Character", rest)
                        pop()
                        mode = M_IN_HEAD
                        reprocess = True
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(current(), nid)
                elif kind == "DOCTYPE":
                    break
                elif kind == "StartTag":
                    name = tok[1]
                    if name == "html":
                        break  # in-body rule (attr-merge skipped)
                    if name in ("basefont", "bgsound", "link", "meta"):
                        insert_void(name, tok[2])  # in-head rules
                    elif name in ("style", "noframes"):
                        insert_element(name, tok[2])
                        original_mode = mode
                        mode = M_TEXT
                    elif name in ("head", "noscript"):
                        break  # parse error, ignore
                    else:
                        pop()
                        mode = M_IN_HEAD
                        reprocess = True
                elif kind == "EndTag":
                    name = tok[1]
                    if name == "noscript":
                        pop()
                        mode = M_IN_HEAD
                    elif name == "br":
                        # acts as "anything else": pop + reprocess
                        pop()
                        mode = M_IN_HEAD
                        reprocess = True
                    # else ignore

            # ------------------------------------------ InFrameset
            elif m == M_IN_FRAMESET:
                if kind == "Character":
                    # spec: keep only the whitespace characters
                    ws = "".join(c for c in tok[1] if c in _WS)
                    if ws:
                        tree.append_text(current(), ws)
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(current(), nid)
                elif kind == "DOCTYPE":
                    break
                elif kind == "StartTag":
                    name = tok[1]
                    if name == "html":
                        break  # in-body rule (attr-merge skipped)
                    if name == "frameset":
                        insert_element(name, tok[2])
                    elif name == "frame":
                        insert_void(name, tok[2])
                    elif name == "noframes":
                        # in-head rules: generic rawtext
                        insert_element(name, tok[2])
                        original_mode = mode
                        mode = M_TEXT
                    # else: parse error, ignore
                elif kind == "EndTag":
                    if tok[1] == "frameset":
                        if stack_names and stack_names[-1] == "html":
                            break  # fragment root — ignore
                        pop()
                        if (
                            fragment_context is None
                            and stack_names
                            and stack_names[-1] != "frameset"
                        ):
                            mode = M_AFTER_FRAMESET
                    # else: parse error, ignore

            # --------------------------------------- AfterFrameset
            elif m == M_AFTER_FRAMESET:
                if kind == "Character":
                    ws = "".join(c for c in tok[1] if c in _WS)
                    if ws:
                        tree.append_text(current(), ws)
                elif kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(current(), nid)
                elif kind == "DOCTYPE":
                    break
                elif kind == "StartTag":
                    if tok[1] == "noframes":
                        insert_element("noframes", tok[2])
                        original_mode = mode
                        mode = M_TEXT
                    # html: attr-merge skipped; else ignore
                elif kind == "EndTag":
                    if tok[1] == "html":
                        mode = M_AFTER_AFTER_FRAMESET
                    # else: parse error, ignore

            # --------------------------------- AfterAfterFrameset
            elif m == M_AFTER_AFTER_FRAMESET:
                if kind == "Comment":
                    nid = tree.new_node(N_COMMENT, None, None)
                    tree.text[nid] = [tok[1]]
                    tree.append_child(0, nid)
                elif kind == "StartTag" and tok[1] == "noframes":
                    insert_element("noframes", tok[2])
                    original_mode = mode
                    mode = M_TEXT
                # ws/doctype/html start: ignored (in-body ws placement
                # skipped — extraction-immaterial, mirrors the engine's
                # AfterAfterBody); anything else: parse error, ignore

        # foster parenting is scoped to the token that a table mode
        # redirected into InBody
        foster_parenting = False

    # EOF: flush any pending table text (EOF can strike mid-cell-text)
    if mode == M_IN_TABLE_TEXT and pending_table_text:
        joined = "".join(pending_table_text)
        if joined.strip(_WS):
            foster_parenting = True
            if afe:
                reconstruct_afe()
            insert_text(joined)
            foster_parenting = False
        elif joined:
            tree.append_text(current(), joined)

    if fragment_context is not None:
        # fragment result: no implicit head/body skeleton
        return tree, fragment_root, errors

    # EOF: make sure the skeleton exists even for empty/fragmentary
    # input (attach under html directly — EOF may strike mid-head)
    if html_id == -1:
        html_id = tree.new_node(N_ELEMENT, "html", {})
        tree.append_child(0, html_id)
    if head_id == -1:
        head_id = tree.new_node(N_ELEMENT, "head", {})
        tree.append_child(html_id, head_id)
    if body_id == -1 and not saw_frameset:
        # frameset documents have no body (the frameset replaces it)
        body_id = tree.new_node(N_ELEMENT, "body", {})
        tree.append_child(html_id, body_id)
    return tree, errors
