"""WHATWG §13.2.5 HTML tokenizer — all 80 states, batch-friendly.

Semantic parity target: the reference tokenizer
(/root/reference/src/tokenizer.zig:171-2221, state enum :18-99), which
implements the same spec.  Where the reference deviates from spec
(RCDATA end-tag-open transition :395, CDATA bracket switch :1956,
greedy/reversed entity handling :2022-2084 + :2275-2299) we implement
the SPEC behavior — every affected case sits in the reference's own
html5lib ignore list (/root/reference/test/tokenizer-html5lib.zig:15-61),
so spec behavior == reference behavior on the judged set (SURVEY §7.0).

Design for Spark: this module is pure Python/regex over decoded
strings, called per document from inside the Arrow-batched
``mapInArrow`` stage (zhtml_spark.udfs).  The dominant states (Data,
RCDATA, RAWTEXT, ScriptData, PLAINTEXT, attribute values, comments,
CDATA) use compiled-regex run-skipping — the analog of memchr — so the
per-codepoint interpreter only runs inside tag machinery (a few % of
real web bytes).  The reference instead interprets byte-at-a-time
(src/tokenizer.zig:2302-2323).

Token shapes (plain tuples, no per-token objects beyond these):
    ("Character", data)                      coalesced text run
    ("StartTag", name, attrs, self_closing)  attrs: insertion-ordered dict
    ("EndTag", name)
    ("Comment", data)
    ("DOCTYPE", name, public_id, system_id, force_quirks)
Nullability matters: DOCTYPE name/public/system ids distinguish missing
(None) from empty ("") exactly like the reference's *Missing flags
(src/tokenizer.zig:2372-2375).
"""

from __future__ import annotations

import re
import string

from .entities import match_entity

# ---------------------------------------------------------------- states
# One constant per WHATWG §13.2.5 state (same 80 as the reference enum,
# /root/reference/src/tokenizer.zig:18-99).
(
    S_DATA,
    S_RCDATA,
    S_RAWTEXT,
    S_SCRIPT_DATA,
    S_PLAINTEXT,
    S_TAG_OPEN,
    S_END_TAG_OPEN,
    S_TAG_NAME,
    S_RCDATA_LT,
    S_RCDATA_END_TAG_OPEN,
    S_RCDATA_END_TAG_NAME,
    S_RAWTEXT_LT,
    S_RAWTEXT_END_TAG_OPEN,
    S_RAWTEXT_END_TAG_NAME,
    S_SD_LT,
    S_SD_END_TAG_OPEN,
    S_SD_END_TAG_NAME,
    S_SD_ESCAPE_START,
    S_SD_ESCAPE_START_DASH,
    S_SD_ESCAPED,
    S_SD_ESCAPED_DASH,
    S_SD_ESCAPED_DASH_DASH,
    S_SD_ESCAPED_LT,
    S_SD_ESCAPED_END_TAG_OPEN,
    S_SD_ESCAPED_END_TAG_NAME,
    S_SD_DOUBLE_ESCAPE_START,
    S_SD_DOUBLE_ESCAPED,
    S_SD_DOUBLE_ESCAPED_DASH,
    S_SD_DOUBLE_ESCAPED_DASH_DASH,
    S_SD_DOUBLE_ESCAPED_LT,
    S_SD_DOUBLE_ESCAPE_END,
    S_BEFORE_ATTR_NAME,
    S_ATTR_NAME,
    S_AFTER_ATTR_NAME,
    S_BEFORE_ATTR_VALUE,
    S_ATTR_VALUE_DQ,
    S_ATTR_VALUE_SQ,
    S_ATTR_VALUE_UNQ,
    S_AFTER_ATTR_VALUE_Q,
    S_SELF_CLOSING,
    S_BOGUS_COMMENT,
    S_MARKUP_DECL_OPEN,
    S_COMMENT_START,
    S_COMMENT_START_DASH,
    S_COMMENT,
    S_COMMENT_LT,
    S_COMMENT_LT_BANG,
    S_COMMENT_LT_BANG_DASH,
    S_COMMENT_LT_BANG_DASH_DASH,
    S_COMMENT_END_DASH,
    S_COMMENT_END,
    S_COMMENT_END_BANG,
    S_DOCTYPE,
    S_BEFORE_DOCTYPE_NAME,
    S_DOCTYPE_NAME,
    S_AFTER_DOCTYPE_NAME,
    S_AFTER_DOCTYPE_PUBLIC_KW,
    S_BEFORE_DOCTYPE_PUBLIC_ID,
    S_DOCTYPE_PUBLIC_ID_DQ,
    S_DOCTYPE_PUBLIC_ID_SQ,
    S_AFTER_DOCTYPE_PUBLIC_ID,
    S_BETWEEN_DOCTYPE_PUB_SYS,
    S_AFTER_DOCTYPE_SYSTEM_KW,
    S_BEFORE_DOCTYPE_SYSTEM_ID,
    S_DOCTYPE_SYSTEM_ID_DQ,
    S_DOCTYPE_SYSTEM_ID_SQ,
    S_AFTER_DOCTYPE_SYSTEM_ID,
    S_BOGUS_DOCTYPE,
    S_CDATA,
    S_CDATA_BRACKET,
    S_CDATA_END,
    S_CHAR_REF,
    S_NAMED_CHAR_REF,
    S_AMBIGUOUS_AMP,
    S_NUMERIC_CHAR_REF,
    S_HEX_CHAR_REF_START,
    S_DEC_CHAR_REF_START,
    S_HEX_CHAR_REF,
    S_DEC_CHAR_REF,
    S_NUMERIC_CHAR_REF_END,
) = range(80)

INITIAL_STATES = {
    "Data": S_DATA,
    "Data state": S_DATA,
    "PLAINTEXT": S_PLAINTEXT,
    "PLAINTEXT state": S_PLAINTEXT,
    "RCDATA": S_RCDATA,
    "RCDATA state": S_RCDATA,
    "RAWTEXT": S_RAWTEXT,
    "RAWTEXT state": S_RAWTEXT,
    "ScriptData": S_SCRIPT_DATA,
    "Script data": S_SCRIPT_DATA,
    "Script data state": S_SCRIPT_DATA,
    "CDATA section state": S_CDATA,
    "CDATASection": S_CDATA,
}

# ------------------------------------------------------------ fast paths
# Run-skipping regexes: jump the cursor to the next byte that can change
# state (SURVEY §2.2 "vector-skip" notes; memchr analog).
_RE_DATA = re.compile(r"[&<\x00]")
_RE_RCDATA = re.compile(r"[&<\x00]")
_RE_RAWTEXT = re.compile(r"[<\x00]")
_RE_PLAINTEXT = re.compile(r"\x00")
_RE_TAG_NAME_END = re.compile(r"[\t\n\f />\x00A-Z]")
_RE_ATTR_NAME_END = re.compile(r"[\t\n\f /=>\x00A-Z\"'<]")
_RE_ATTR_DQ = re.compile(r"[\"&\x00]")
_RE_ATTR_SQ = re.compile(r"['&\x00]")
_RE_ATTR_UNQ = re.compile(r"[\t\n\f &>\x00\"'<=`]")
_RE_COMMENT = re.compile(r"[<\-\x00]")
_RE_SD_ESCAPED = re.compile(r"[<\-\x00]")
_RE_CDATA = re.compile(r"\]")
_RE_BOGUS_COMMENT = re.compile(r"[>\x00]")
_RE_DOCTYPE_ID_DQ = re.compile(r"[\">\x00]")
_RE_DOCTYPE_ID_SQ = re.compile(r"['>\x00]")

_WS = "\t\n\f "
_ASCII_LOWER = str.maketrans(string.ascii_uppercase, string.ascii_lowercase)
_ASCII_ALPHA = frozenset(string.ascii_letters)
_ASCII_ALNUM = frozenset(string.ascii_letters + string.digits)
_ASCII_DIGITS = frozenset(string.digits)
_ASCII_HEX = frozenset(string.hexdigits)

# Numeric-character-reference C1-control remapping (WHATWG §13.2.5.80;
# the reference implements the same table at src/tokenizer.zig:2183-2218).
_C1_REMAP = {
    0x80: 0x20AC, 0x82: 0x201A, 0x83: 0x0192, 0x84: 0x201E, 0x85: 0x2026,
    0x86: 0x2020, 0x87: 0x2021, 0x88: 0x02C6, 0x89: 0x2030, 0x8A: 0x0160,
    0x8B: 0x2039, 0x8C: 0x0152, 0x8E: 0x017D, 0x91: 0x2018, 0x92: 0x2019,
    0x93: 0x201C, 0x94: 0x201D, 0x95: 0x2022, 0x96: 0x2013, 0x97: 0x2014,
    0x98: 0x02DC, 0x99: 0x2122, 0x9A: 0x0161, 0x9B: 0x203A, 0x9C: 0x0153,
    0x9E: 0x017E, 0x9F: 0x0178,
}

# Tree-construction tokenizer feedback (WHATWG §13.2.6: "generic raw
# text / RCDATA element parsing algorithm"): after these start tags the
# tokenizer must leave the Data state.  The reference never reaches
# this (its parser implements only Initial/BeforeHtml,
# /root/reference/src/parser.zig:123-134); full-page parsing needs it.
# noscript is rawtext ONLY when the scripting flag is on (spec in-head
# noscript rule): scripting=True (the default — browser parity) uses
# _RAWTEXT_SWITCH_SCRIPTING, scripting=False parses noscript content
# as real markup (the extraction walk skips it by default —
# ExtractConfig.include_noscript flips the policy and parses with
# scripting=False).
_RAWTEXT_SWITCH = {
    "title": S_RCDATA,
    "textarea": S_RCDATA,
    "style": S_RAWTEXT,
    "xmp": S_RAWTEXT,
    "iframe": S_RAWTEXT,
    "noembed": S_RAWTEXT,
    "noframes": S_RAWTEXT,
    "script": S_SCRIPT_DATA,
    "plaintext": S_PLAINTEXT,
}
_RAWTEXT_SWITCH_SCRIPTING = {**_RAWTEXT_SWITCH, "noscript": S_RAWTEXT}

# End-tag-name states: (fallback data state, on-success behavior shared).
_END_TAG_NAME_BASE = {
    S_RCDATA_END_TAG_NAME: S_RCDATA,
    S_RAWTEXT_END_TAG_NAME: S_RAWTEXT,
    S_SD_END_TAG_NAME: S_SCRIPT_DATA,
    S_SD_ESCAPED_END_TAG_NAME: S_SD_ESCAPED,
}
_END_TAG_OPEN_BASE = {
    S_RCDATA_END_TAG_OPEN: (S_RCDATA, S_RCDATA_END_TAG_NAME),
    S_RAWTEXT_END_TAG_OPEN: (S_RAWTEXT, S_RAWTEXT_END_TAG_NAME),
    S_SD_END_TAG_OPEN: (S_SCRIPT_DATA, S_SD_END_TAG_NAME),
    S_SD_ESCAPED_END_TAG_OPEN: (S_SD_ESCAPED, S_SD_ESCAPED_END_TAG_NAME),
}
_LT_SIGN_BASE = {
    S_RCDATA_LT: (S_RCDATA, S_RCDATA_END_TAG_OPEN),
    S_RAWTEXT_LT: (S_RAWTEXT, S_RAWTEXT_END_TAG_OPEN),
}


# Fast path for common well-formed tags met in the Data state.  The
# match language is a strict SUBSET of inputs on which the general
# state machine emits exactly one tag token with no parse errors other
# than duplicate-attribute (which the fast path reproduces), so taking
# it never changes observable output (equivalence fuzz-checked in
# tests/test_fuzz.py).  Exclusions that force the slow path: NUL,
# character references in values (&), error-triggering chars in
# names/values, exotic attr names.  Note the unquoted-value class
# contains '/' on purpose: spec keeps '/' inside unquoted values
# (<a b=c/> has value "c/" and NO self-closing flag) and regex greed
# reproduces that.
_UNQ = r"[a-zA-Z0-9_.\-/:;,#+~%!?@$*()\[\]]"
_FAST_ATTR_NC = (
    r"[\t\n\f ]+[a-zA-Z_:][a-zA-Z0-9_:.\-]*"
    r"(?:[\t\n\f ]*=[\t\n\f ]*"
    r"(?:\"[^\"&\x00<]*\"|'[^'&\x00<]*'|" + _UNQ + r"+))?"
)
_FAST_START_TAG = re.compile(
    r"<([a-zA-Z][a-zA-Z0-9\-]*)"
    r"((?:" + _FAST_ATTR_NC + r")*)"
    r"[\t\n\f ]*(/?)>"
)
_FAST_ATTR_ITER = re.compile(
    r"[\t\n\f ]+([a-zA-Z_:][a-zA-Z0-9_:.\-]*)"
    r"(?:[\t\n\f ]*=[\t\n\f ]*"
    r"(\"[^\"&\x00<]*\"|'[^'&\x00<]*'|" + _UNQ + r"+))?"
)
_FAST_END_TAG = re.compile(r"</([a-zA-Z][a-zA-Z0-9\-]*)[\t\n\f ]*>")


def preprocess(text: str) -> str:
    """WHATWG §13.2.3.5 input-stream normalization: CRLF/CR → LF.

    The reference skips this (TODO at
    /root/reference/test/tokenizer-html5lib.zig:8, CR cases ignored
    :55-60); we implement it — goldens assume it.
    """
    if "\r" in text:
        text = text.replace("\r\n", "\n").replace("\r", "\n")
    return text


def tokenize(
    text: str,
    initial_state: str = "Data",
    last_start_tag: str | None = None,
    tree_aware: bool = False,
    enable_fast_tags: bool = True,
    scripting: bool = True,
    with_token_positions: bool = False,
    foreign_seed: int = 0,
):
    """Tokenize one document.  Returns ``(tokens, errors)``.

    ``tokens`` is a list of tuples (module docstring), adjacent
    character tokens pre-coalesced (html5lib comparison does the same,
    /root/reference/test/tokenizer-html5lib.zig:224-233).  ``errors`` is
    a list of spec-id strings, order-insensitive vs goldens
    (:151-153 compares codes only).

    ``with_token_positions=True`` (r4) appends each token's SOURCE
    START offset (0-based char offset into the post-``preprocess``
    text) as the tuple's last element: tag/comment/doctype tokens
    record their opening ``<``; a Character run records the end of
    the token before it (token extents partition the source, so that
    IS where its first char came from — entity expansions keep the
    run's start, as they must).  Exact on both the state machine and
    the regex fast path (the equivalence fuzz compares the extended
    tuples too).  Off by default: the only always-on cost is one
    integer store per ``<`` seen in a text state.
    """
    text = preprocess(text)

    # tree-aware rawtext feedback table; scripting=True adds noscript
    # (spec: in-head noscript is generic-rawtext iff scripting is on)
    rawtext_switch = (
        _RAWTEXT_SWITCH_SCRIPTING if scripting else _RAWTEXT_SWITCH
    )

    n = len(text)
    i = 0
    state = INITIAL_STATES[initial_state]
    out: list[tuple] = []
    errors: list[str] = []
    err = errors.append

    # --- character-run accumulator (coalesces adjacent char tokens)
    chars: list[str] = []
    # svg/math nesting depth (tree-aware rawtext-switch suppression).
    # ``foreign_seed`` > 0 models a FOREIGN fragment context (spec:
    # the context element is the adjusted current node but never on
    # the stack, so the depth floors at the seed — a stray </svg>
    # cannot tokenize the rest of an svg-context fragment as HTML)
    foreign_depth = foreign_seed
    # token source offsets (with_token_positions): tok_start = the
    # most recent '<' consumed from a TEXT state (every tag/comment/
    # doctype build begins there — '<' inside attr values, comments,
    # or bogus-comment data is consumed by non-text states and never
    # touches it); prev_end = scan cursor right after the last
    # non-character token, i.e. where the next character run begins
    tok_start = 0
    prev_end = 0

    if with_token_positions:
        def flush_chars() -> None:
            if chars:
                out.append(("Character", "".join(chars), prev_end))
                chars.clear()
    else:
        def flush_chars() -> None:
            if chars:
                out.append(("Character", "".join(chars)))
                chars.clear()

    # --- in-flight tag / comment / doctype builders (the analog of the
    # reference's IncompleteToken, src/tokenizer.zig:2365-2492)
    tag_name = ""
    tag_is_end = False
    tag_self_closing = False
    attrs: dict[str, str] = {}
    cur_attr_name = ""
    cur_attr_dup = False
    cur_val: list[str] = []
    has_cur_attr = False

    comment: list[str] = []

    dt_name: str | None = None
    dt_public: str | None = None
    dt_system: str | None = None
    dt_force_quirks = False

    temp_buf = ""
    return_state = S_DATA
    char_ref_code = 0

    last_start = last_start_tag  # appropriate-end-tag check seed

    def finish_attr_name() -> None:
        # duplicate-attribute: first wins, later dropped with an error
        # (spec; reference: src/tokenizer.zig:2418-2427).
        nonlocal cur_attr_dup
        if cur_attr_name in attrs:
            err("duplicate-attribute")
            cur_attr_dup = True

    def flush_attr() -> None:
        nonlocal has_cur_attr, cur_attr_name, cur_attr_dup
        if has_cur_attr and not cur_attr_dup:
            attrs[cur_attr_name] = "".join(cur_val)
        has_cur_attr = False
        cur_attr_name = ""
        cur_attr_dup = False
        cur_val.clear()

    def start_attr(first: str) -> None:
        nonlocal has_cur_attr, cur_attr_name
        flush_attr()
        has_cur_attr = True
        cur_attr_name = first

    def emit_tag() -> int:
        """Emit the built tag; return the tokenizer state to resume in
        (Data, or a raw-text state under tree-aware feedback)."""
        nonlocal last_start, attrs, tag_self_closing, foreign_depth
        nonlocal prev_end
        flush_attr()
        flush_chars()
        next_state = S_DATA
        if tag_is_end:
            if attrs:
                err("end-tag-with-attributes")
            if tag_self_closing:
                err("end-tag-with-trailing-solidus")
            if with_token_positions:
                out.append(("EndTag", tag_name, tok_start))
                prev_end = i
            else:
                out.append(("EndTag", tag_name))
            if foreign_depth and tag_name in ("svg", "math"):
                foreign_depth = max(foreign_seed, foreign_depth - 1)
        else:
            if with_token_positions:
                out.append(
                    ("StartTag", tag_name, attrs, tag_self_closing,
                     tok_start)
                )
                prev_end = i
            else:
                out.append(("StartTag", tag_name, attrs, tag_self_closing))
            last_start = tag_name
            if tag_name in ("svg", "math") and not tag_self_closing:
                foreign_depth += 1
            # inside foreign content there is NO generic-rawtext
            # switching: an svg <title>/<style> is a foreign element
            # with markup children, not RCDATA/RAWTEXT (tree feedback
            # approximated by the svg/math depth counter; breakout
            # tags that implicitly close foreign content are the known
            # approximation gap — rare, and fails toward treating
            # content as markup, never toward swallowing it)
            if tree_aware and foreign_depth == 0:
                next_state = rawtext_switch.get(tag_name, S_DATA)
        attrs = {}
        tag_self_closing = False
        return next_state

    def new_tag(end: bool) -> None:
        nonlocal tag_name, tag_is_end, tag_self_closing, attrs
        tag_name = ""
        tag_is_end = end
        tag_self_closing = False
        attrs = {}

    def emit_comment() -> None:
        nonlocal prev_end
        flush_chars()
        if with_token_positions:
            out.append(("Comment", "".join(comment), tok_start))
            prev_end = i
        else:
            out.append(("Comment", "".join(comment)))
        comment.clear()

    def new_doctype() -> None:
        nonlocal dt_name, dt_public, dt_system, dt_force_quirks
        dt_name = None
        dt_public = None
        dt_system = None
        dt_force_quirks = False

    def emit_doctype() -> None:
        nonlocal prev_end
        flush_chars()
        if with_token_positions:
            out.append(
                ("DOCTYPE", dt_name, dt_public, dt_system,
                 dt_force_quirks, tok_start)
            )
            prev_end = i
        else:
            out.append(
                ("DOCTYPE", dt_name, dt_public, dt_system, dt_force_quirks)
            )

    def flush_code_points(s: str) -> None:
        # "flush code points consumed as a character reference"
        if return_state in (S_ATTR_VALUE_DQ, S_ATTR_VALUE_SQ, S_ATTR_VALUE_UNQ):
            cur_val.append(s)
        else:
            chars.append(s)

    while True:
        # ============================================== text-run states
        if state == S_DATA:
            m = _RE_DATA.search(text, i)
            if m is None:
                if i < n:
                    chars.append(text[i:])
                break
            j = m.start()
            if j > i:
                chars.append(text[i:j])
            c = text[j]
            i = j + 1
            if c == "<":
                tok_start = j
                if enable_fast_tags:
                    fm = _FAST_START_TAG.match(text, j)
                    if fm is not None:
                        name = fm.group(1).translate(_ASCII_LOWER)
                        fattrs: dict[str, str] = {}
                        blob = fm.group(2)
                        if blob:
                            for am in _FAST_ATTR_ITER.finditer(blob):
                                an = am.group(1).translate(_ASCII_LOWER)
                                av = am.group(2)
                                if av is None:
                                    av = ""
                                elif av[0] in "\"'":
                                    av = av[1:-1]
                                if an in fattrs:
                                    err("duplicate-attribute")
                                else:
                                    fattrs[an] = av
                        flush_chars()
                        self_closing = fm.group(3) == "/"
                        i = fm.end()
                        if with_token_positions:
                            out.append(
                                ("StartTag", name, fattrs, self_closing, j)
                            )
                            prev_end = i
                        else:
                            out.append(
                                ("StartTag", name, fattrs, self_closing)
                            )
                        last_start = name
                        if name in ("svg", "math") and not self_closing:
                            foreign_depth += 1
                        if tree_aware and foreign_depth == 0:
                            state = rawtext_switch.get(name, S_DATA)
                        continue
                    fm = _FAST_END_TAG.match(text, j)
                    if fm is not None:
                        flush_chars()
                        end_name = fm.group(1).translate(_ASCII_LOWER)
                        i = fm.end()
                        if with_token_positions:
                            out.append(("EndTag", end_name, j))
                            prev_end = i
                        else:
                            out.append(("EndTag", end_name))
                        if foreign_depth and end_name in ("svg", "math"):
                            foreign_depth = max(
                                foreign_seed, foreign_depth - 1
                            )
                        continue
                state = S_TAG_OPEN
            elif c == "&":
                return_state = S_DATA
                temp_buf = "&"
                state = S_CHAR_REF
            else:  # NUL: emitted as-is in Data (spec)
                err("unexpected-null-character")
                chars.append("\x00")

        elif state == S_RCDATA:
            m = _RE_RCDATA.search(text, i)
            if m is None:
                if i < n:
                    chars.append(text[i:])
                break
            j = m.start()
            if j > i:
                chars.append(text[i:j])
            c = text[j]
            i = j + 1
            if c == "<":
                tok_start = j
                state = S_RCDATA_LT
            elif c == "&":
                return_state = S_RCDATA
                temp_buf = "&"
                state = S_CHAR_REF
            else:
                err("unexpected-null-character")
                chars.append("�")

        elif state in (S_RAWTEXT, S_SCRIPT_DATA):
            m = _RE_RAWTEXT.search(text, i)
            if m is None:
                if i < n:
                    chars.append(text[i:])
                break
            j = m.start()
            if j > i:
                chars.append(text[i:j])
            c = text[j]
            i = j + 1
            if c == "<":
                tok_start = j
                state = S_RAWTEXT_LT if state == S_RAWTEXT else S_SD_LT
            else:
                err("unexpected-null-character")
                chars.append("�")

        elif state == S_PLAINTEXT:
            m = _RE_PLAINTEXT.search(text, i)
            if m is None:
                if i < n:
                    chars.append(text[i:])
                break
            j = m.start()
            if j > i:
                chars.append(text[i:j])
            i = j + 1
            err("unexpected-null-character")
            chars.append("�")

        # ================================================== tag machinery
        elif state == S_TAG_OPEN:
            if i >= n:
                err("eof-before-tag-name")
                chars.append("<")
                break
            c = text[i]
            if c == "!":
                i += 1
                state = S_MARKUP_DECL_OPEN
            elif c == "/":
                i += 1
                state = S_END_TAG_OPEN
            elif c in _ASCII_ALPHA:
                new_tag(end=False)
                state = S_TAG_NAME
            elif c == "?":
                err("unexpected-question-mark-instead-of-tag-name")
                comment.clear()
                state = S_BOGUS_COMMENT
            else:
                err("invalid-first-character-of-tag-name")
                chars.append("<")
                state = S_DATA

        elif state == S_END_TAG_OPEN:
            if i >= n:
                err("eof-before-tag-name")
                chars.append("</")
                break
            c = text[i]
            if c in _ASCII_ALPHA:
                new_tag(end=True)
                state = S_TAG_NAME
            elif c == ">":
                err("missing-end-tag-name")
                i += 1
                state = S_DATA
            else:
                err("invalid-first-character-of-tag-name")
                comment.clear()
                state = S_BOGUS_COMMENT

        elif state == S_TAG_NAME:
            m = _RE_TAG_NAME_END.search(text, i)
            if m is None:
                tag_name += text[i:]
                err("eof-in-tag")
                break
            j = m.start()
            if j > i:
                tag_name += text[i:j]
            c = text[j]
            i = j + 1
            if c in _WS:
                state = S_BEFORE_ATTR_NAME
            elif c == "/":
                state = S_SELF_CLOSING
            elif c == ">":
                state = emit_tag()
            elif c == "\x00":
                err("unexpected-null-character")
                tag_name += "�"
            else:  # A-Z
                tag_name += c.translate(_ASCII_LOWER)

        # ------------------------------- RCDATA / RAWTEXT less-than sign
        elif state in (S_RCDATA_LT, S_RAWTEXT_LT):
            base, open_state = _LT_SIGN_BASE[state]
            if i < n and text[i] == "/":
                i += 1
                temp_buf = ""
                state = open_state
            else:
                chars.append("<")
                state = base

        elif state in _END_TAG_OPEN_BASE:
            base, name_state = _END_TAG_OPEN_BASE[state]
            if i < n and text[i] in _ASCII_ALPHA:
                new_tag(end=True)
                state = name_state
            else:
                chars.append("</")
                state = base

        elif state in _END_TAG_NAME_BASE:
            base = _END_TAG_NAME_BASE[state]
            matched = False
            if i < n:
                c = text[i]
                if c in _ASCII_ALPHA:
                    temp_buf += c
                    tag_name += c.translate(_ASCII_LOWER)
                    i += 1
                    continue
                if tag_name == last_start:
                    if c in _WS:
                        i += 1
                        state = S_BEFORE_ATTR_NAME
                        matched = True
                    elif c == "/":
                        i += 1
                        state = S_SELF_CLOSING
                        matched = True
                    elif c == ">":
                        i += 1
                        state = emit_tag()
                        matched = True
            if not matched and state not in (
                S_BEFORE_ATTR_NAME,
                S_SELF_CLOSING,
                S_DATA,
            ):
                chars.append("</" + temp_buf)
                state = base

        # -------------------------------------------- script data states
        elif state == S_SD_LT:
            if i < n and text[i] == "/":
                i += 1
                temp_buf = ""
                state = S_SD_END_TAG_OPEN
            elif i < n and text[i] == "!":
                i += 1
                chars.append("<!")
                state = S_SD_ESCAPE_START
            else:
                chars.append("<")
                state = S_SCRIPT_DATA

        elif state == S_SD_ESCAPE_START:
            if i < n and text[i] == "-":
                i += 1
                chars.append("-")
                state = S_SD_ESCAPE_START_DASH
            else:
                state = S_SCRIPT_DATA

        elif state == S_SD_ESCAPE_START_DASH:
            if i < n and text[i] == "-":
                i += 1
                chars.append("-")
                state = S_SD_ESCAPED_DASH_DASH
            else:
                state = S_SCRIPT_DATA

        elif state == S_SD_ESCAPED:
            m = _RE_SD_ESCAPED.search(text, i)
            if m is None:
                if i < n:
                    chars.append(text[i:])
                err("eof-in-script-html-comment-like-text")
                break
            j = m.start()
            if j > i:
                chars.append(text[i:j])
            c = text[j]
            i = j + 1
            if c == "-":
                chars.append("-")
                state = S_SD_ESCAPED_DASH
            elif c == "<":
                tok_start = j
                state = S_SD_ESCAPED_LT
            else:
                err("unexpected-null-character")
                chars.append("�")

        elif state == S_SD_ESCAPED_DASH:
            if i >= n:
                err("eof-in-script-html-comment-like-text")
                break
            c = text[i]
            i += 1
            if c == "-":
                chars.append("-")
                state = S_SD_ESCAPED_DASH_DASH
            elif c == "<":
                tok_start = i - 1
                state = S_SD_ESCAPED_LT
            elif c == "\x00":
                err("unexpected-null-character")
                chars.append("�")
                state = S_SD_ESCAPED
            else:
                chars.append(c)
                state = S_SD_ESCAPED

        elif state == S_SD_ESCAPED_DASH_DASH:
            if i >= n:
                err("eof-in-script-html-comment-like-text")
                break
            c = text[i]
            i += 1
            if c == "-":
                chars.append("-")
            elif c == "<":
                tok_start = i - 1
                state = S_SD_ESCAPED_LT
            elif c == ">":
                chars.append(">")
                state = S_SCRIPT_DATA
            elif c == "\x00":
                err("unexpected-null-character")
                chars.append("�")
                state = S_SD_ESCAPED
            else:
                chars.append(c)
                state = S_SD_ESCAPED

        elif state == S_SD_ESCAPED_LT:
            if i < n and text[i] == "/":
                i += 1
                temp_buf = ""
                state = S_SD_ESCAPED_END_TAG_OPEN
            elif i < n and text[i] in _ASCII_ALPHA:
                temp_buf = ""
                chars.append("<")
                state = S_SD_DOUBLE_ESCAPE_START
            else:
                chars.append("<")
                state = S_SD_ESCAPED

        elif state == S_SD_DOUBLE_ESCAPE_START:
            if i < n:
                c = text[i]
                if c in _ASCII_ALPHA:
                    temp_buf += c.translate(_ASCII_LOWER)
                    chars.append(c)
                    i += 1
                    continue
                if c in _WS or c == "/" or c == ">":
                    i += 1
                    chars.append(c)
                    state = (
                        S_SD_DOUBLE_ESCAPED
                        if temp_buf == "script"
                        else S_SD_ESCAPED
                    )
                    continue
            state = S_SD_ESCAPED

        elif state == S_SD_DOUBLE_ESCAPED:
            m = _RE_SD_ESCAPED.search(text, i)
            if m is None:
                if i < n:
                    chars.append(text[i:])
                err("eof-in-script-html-comment-like-text")
                break
            j = m.start()
            if j > i:
                chars.append(text[i:j])
            c = text[j]
            i = j + 1
            if c == "-":
                chars.append("-")
                state = S_SD_DOUBLE_ESCAPED_DASH
            elif c == "<":
                chars.append("<")
                state = S_SD_DOUBLE_ESCAPED_LT
            else:
                err("unexpected-null-character")
                chars.append("�")

        elif state == S_SD_DOUBLE_ESCAPED_DASH:
            if i >= n:
                err("eof-in-script-html-comment-like-text")
                break
            c = text[i]
            i += 1
            if c == "-":
                chars.append("-")
                state = S_SD_DOUBLE_ESCAPED_DASH_DASH
            elif c == "<":
                chars.append("<")
                state = S_SD_DOUBLE_ESCAPED_LT
            elif c == "\x00":
                err("unexpected-null-character")
                chars.append("�")
                state = S_SD_DOUBLE_ESCAPED
            else:
                chars.append(c)
                state = S_SD_DOUBLE_ESCAPED

        elif state == S_SD_DOUBLE_ESCAPED_DASH_DASH:
            if i >= n:
                err("eof-in-script-html-comment-like-text")
                break
            c = text[i]
            i += 1
            if c == "-":
                chars.append("-")
            elif c == "<":
                chars.append("<")
                state = S_SD_DOUBLE_ESCAPED_LT
            elif c == ">":
                chars.append(">")
                state = S_SCRIPT_DATA
            elif c == "\x00":
                err("unexpected-null-character")
                chars.append("�")
                state = S_SD_DOUBLE_ESCAPED
            else:
                chars.append(c)
                state = S_SD_DOUBLE_ESCAPED

        elif state == S_SD_DOUBLE_ESCAPED_LT:
            if i < n and text[i] == "/":
                i += 1
                temp_buf = ""
                chars.append("/")
                state = S_SD_DOUBLE_ESCAPE_END
            else:
                state = S_SD_DOUBLE_ESCAPED

        elif state == S_SD_DOUBLE_ESCAPE_END:
            if i < n:
                c = text[i]
                if c in _ASCII_ALPHA:
                    temp_buf += c.translate(_ASCII_LOWER)
                    chars.append(c)
                    i += 1
                    continue
                if c in _WS or c == "/" or c == ">":
                    i += 1
                    chars.append(c)
                    state = (
                        S_SD_ESCAPED
                        if temp_buf == "script"
                        else S_SD_DOUBLE_ESCAPED
                    )
                    continue
            state = S_SD_DOUBLE_ESCAPED

        # ------------------------------------------------ attribute states
        elif state == S_BEFORE_ATTR_NAME:
            if i >= n:
                state = S_AFTER_ATTR_NAME
                continue
            c = text[i]
            if c in _WS:
                i += 1
            elif c == "/" or c == ">":
                state = S_AFTER_ATTR_NAME
            elif c == "=":
                err("unexpected-equals-sign-before-attribute-name")
                start_attr("=")
                i += 1
                state = S_ATTR_NAME
            else:
                start_attr("")
                state = S_ATTR_NAME

        elif state == S_ATTR_NAME:
            m = _RE_ATTR_NAME_END.search(text, i)
            if m is None:
                cur_attr_name += text[i:]
                i = n
                finish_attr_name()
                state = S_AFTER_ATTR_NAME
                continue
            j = m.start()
            if j > i:
                cur_attr_name += text[i:j]
            c = text[j]
            if c in _WS or c == "/" or c == ">":
                i = j
                finish_attr_name()
                state = S_AFTER_ATTR_NAME
            elif c == "=":
                i = j + 1
                finish_attr_name()
                state = S_BEFORE_ATTR_VALUE
            elif c == "\x00":
                i = j + 1
                err("unexpected-null-character")
                cur_attr_name += "�"
            elif c in "\"'<":
                i = j + 1
                err("unexpected-character-in-attribute-name")
                cur_attr_name += c
            else:  # A-Z
                i = j + 1
                cur_attr_name += c.translate(_ASCII_LOWER)

        elif state == S_AFTER_ATTR_NAME:
            if i >= n:
                err("eof-in-tag")
                break
            c = text[i]
            if c in _WS:
                i += 1
            elif c == "/":
                i += 1
                state = S_SELF_CLOSING
            elif c == "=":
                i += 1
                state = S_BEFORE_ATTR_VALUE
            elif c == ">":
                i += 1
                state = emit_tag()
            else:
                start_attr("")
                state = S_ATTR_NAME

        elif state == S_BEFORE_ATTR_VALUE:
            if i >= n:
                state = S_ATTR_VALUE_UNQ
                continue
            c = text[i]
            if c in _WS:
                i += 1
            elif c == '"':
                i += 1
                state = S_ATTR_VALUE_DQ
            elif c == "'":
                i += 1
                state = S_ATTR_VALUE_SQ
            elif c == ">":
                err("missing-attribute-value")
                i += 1
                state = emit_tag()
            else:
                state = S_ATTR_VALUE_UNQ

        elif state in (S_ATTR_VALUE_DQ, S_ATTR_VALUE_SQ):
            rex = _RE_ATTR_DQ if state == S_ATTR_VALUE_DQ else _RE_ATTR_SQ
            m = rex.search(text, i)
            if m is None:
                cur_val.append(text[i:])
                err("eof-in-tag")
                break
            j = m.start()
            if j > i:
                cur_val.append(text[i:j])
            c = text[j]
            i = j + 1
            if c == "&":
                return_state = state
                temp_buf = "&"
                state = S_CHAR_REF
            elif c == "\x00":
                err("unexpected-null-character")
                cur_val.append("�")
            else:  # closing quote
                state = S_AFTER_ATTR_VALUE_Q

        elif state == S_ATTR_VALUE_UNQ:
            m = _RE_ATTR_UNQ.search(text, i)
            if m is None:
                cur_val.append(text[i:])
                err("eof-in-tag")
                break
            j = m.start()
            if j > i:
                cur_val.append(text[i:j])
            c = text[j]
            i = j + 1
            if c in _WS:
                state = S_BEFORE_ATTR_NAME
            elif c == "&":
                return_state = state
                temp_buf = "&"
                state = S_CHAR_REF
            elif c == ">":
                state = emit_tag()
            elif c == "\x00":
                err("unexpected-null-character")
                cur_val.append("�")
            else:  # " ' < = `
                err("unexpected-character-in-unquoted-attribute-value")
                cur_val.append(c)

        elif state == S_AFTER_ATTR_VALUE_Q:
            if i >= n:
                err("eof-in-tag")
                break
            c = text[i]
            if c in _WS:
                i += 1
                state = S_BEFORE_ATTR_NAME
            elif c == "/":
                i += 1
                state = S_SELF_CLOSING
            elif c == ">":
                i += 1
                state = emit_tag()
            else:
                err("missing-whitespace-between-attributes")
                state = S_BEFORE_ATTR_NAME

        elif state == S_SELF_CLOSING:
            if i >= n:
                err("eof-in-tag")
                break
            c = text[i]
            if c == ">":
                i += 1
                tag_self_closing = True
                state = emit_tag()
            else:
                err("unexpected-solidus-in-tag")
                state = S_BEFORE_ATTR_NAME

        # --------------------------------------------------- comments
        elif state == S_BOGUS_COMMENT:
            m = _RE_BOGUS_COMMENT.search(text, i)
            if m is None:
                comment.append(text[i:])
                emit_comment()
                break
            j = m.start()
            if j > i:
                comment.append(text[i:j])
            c = text[j]
            i = j + 1
            if c == ">":
                emit_comment()
                state = S_DATA
            else:
                err("unexpected-null-character")
                comment.append("�")

        elif state == S_MARKUP_DECL_OPEN:
            if text.startswith("--", i):
                i += 2
                comment.clear()
                state = S_COMMENT_START
            elif text[i : i + 7].lower() == "doctype":
                i += 7
                state = S_DOCTYPE
            elif text.startswith("[CDATA[", i):
                i += 7
                if tree_aware and foreign_depth > 0:
                    # Spec: with the adjusted current node in a
                    # non-HTML namespace, route to the CDATA section
                    # state — `<svg><text><![CDATA[x]]></text></svg>`
                    # must yield `x` as character data.  The svg/math
                    # depth counter is the same tree-feedback
                    # approximation the rawtext switch uses: HTML
                    # integration-point subtrees (foreignObject etc.)
                    # still count as foreign here, failing toward
                    # emitting the bracketed text as characters rather
                    # than swallowing it as a bogus comment.
                    if not chars:
                        # a character run STARTING with CDATA content
                        # anchors at the first content char, not at
                        # the '<![CDATA[' delimiter (which belongs to
                        # no token); a run already in progress keeps
                        # its own first char's anchor (code-review
                        # r4c)
                        prev_end = i
                    state = S_CDATA
                else:
                    # HTML content: bogus comment, like the reference
                    # (src/tokenizer.zig:1240-1248).
                    err("cdata-in-html-content")
                    comment.clear()
                    comment.append("[CDATA[")
                    state = S_BOGUS_COMMENT
            else:
                err("incorrectly-opened-comment")
                comment.clear()
                state = S_BOGUS_COMMENT

        elif state == S_COMMENT_START:
            if i < n and text[i] == "-":
                i += 1
                state = S_COMMENT_START_DASH
            elif i < n and text[i] == ">":
                err("abrupt-closing-of-empty-comment")
                i += 1
                emit_comment()
                state = S_DATA
            else:
                state = S_COMMENT

        elif state == S_COMMENT_START_DASH:
            if i >= n:
                err("eof-in-comment")
                emit_comment()
                break
            c = text[i]
            if c == "-":
                i += 1
                state = S_COMMENT_END
            elif c == ">":
                err("abrupt-closing-of-empty-comment")
                i += 1
                emit_comment()
                state = S_DATA
            else:
                comment.append("-")
                state = S_COMMENT

        elif state == S_COMMENT:
            m = _RE_COMMENT.search(text, i)
            if m is None:
                comment.append(text[i:])
                err("eof-in-comment")
                emit_comment()
                break
            j = m.start()
            if j > i:
                comment.append(text[i:j])
            c = text[j]
            i = j + 1
            if c == "<":
                comment.append("<")
                state = S_COMMENT_LT
            elif c == "-":
                state = S_COMMENT_END_DASH
            else:
                err("unexpected-null-character")
                comment.append("�")

        elif state == S_COMMENT_LT:
            if i < n and text[i] == "!":
                i += 1
                comment.append("!")
                state = S_COMMENT_LT_BANG
            elif i < n and text[i] == "<":
                i += 1
                comment.append("<")
            else:
                state = S_COMMENT

        elif state == S_COMMENT_LT_BANG:
            if i < n and text[i] == "-":
                i += 1
                state = S_COMMENT_LT_BANG_DASH
            else:
                state = S_COMMENT

        elif state == S_COMMENT_LT_BANG_DASH:
            if i < n and text[i] == "-":
                i += 1
                state = S_COMMENT_LT_BANG_DASH_DASH
            else:
                state = S_COMMENT_END_DASH

        elif state == S_COMMENT_LT_BANG_DASH_DASH:
            if i >= n or text[i] == ">":
                state = S_COMMENT_END
            else:
                err("nested-comment")
                state = S_COMMENT_END

        elif state == S_COMMENT_END_DASH:
            if i >= n:
                err("eof-in-comment")
                emit_comment()
                break
            if text[i] == "-":
                i += 1
                state = S_COMMENT_END
            else:
                comment.append("-")
                state = S_COMMENT

        elif state == S_COMMENT_END:
            if i >= n:
                err("eof-in-comment")
                emit_comment()
                break
            c = text[i]
            if c == ">":
                i += 1
                emit_comment()
                state = S_DATA
            elif c == "!":
                i += 1
                state = S_COMMENT_END_BANG
            elif c == "-":
                i += 1
                comment.append("-")
            else:
                comment.append("--")
                state = S_COMMENT

        elif state == S_COMMENT_END_BANG:
            if i >= n:
                err("eof-in-comment")
                emit_comment()
                break
            c = text[i]
            if c == "-":
                i += 1
                comment.append("--!")
                state = S_COMMENT_END_DASH
            elif c == ">":
                err("incorrectly-closed-comment")
                i += 1
                emit_comment()
                state = S_DATA
            else:
                comment.append("--!")
                state = S_COMMENT

        # ---------------------------------------------------- DOCTYPE
        elif state == S_DOCTYPE:
            if i >= n:
                err("eof-in-doctype")
                new_doctype()
                dt_force_quirks = True
                emit_doctype()
                break
            c = text[i]
            if c in _WS:
                i += 1
                state = S_BEFORE_DOCTYPE_NAME
            elif c == ">":
                state = S_BEFORE_DOCTYPE_NAME
            else:
                err("missing-whitespace-before-doctype-name")
                state = S_BEFORE_DOCTYPE_NAME

        elif state == S_BEFORE_DOCTYPE_NAME:
            if i >= n:
                err("eof-in-doctype")
                new_doctype()
                dt_force_quirks = True
                emit_doctype()
                break
            c = text[i]
            if c in _WS:
                i += 1
            elif c == ">":
                err("missing-doctype-name")
                i += 1
                new_doctype()
                dt_force_quirks = True
                emit_doctype()
                state = S_DATA
            elif c == "\x00":
                err("unexpected-null-character")
                i += 1
                new_doctype()
                dt_name = "�"
                state = S_DOCTYPE_NAME
            else:
                i += 1
                new_doctype()
                dt_name = c.translate(_ASCII_LOWER)
                state = S_DOCTYPE_NAME

        elif state == S_DOCTYPE_NAME:
            if i >= n:
                err("eof-in-doctype")
                dt_force_quirks = True
                emit_doctype()
                break
            c = text[i]
            i += 1
            if c in _WS:
                state = S_AFTER_DOCTYPE_NAME
            elif c == ">":
                emit_doctype()
                state = S_DATA
            elif c == "\x00":
                err("unexpected-null-character")
                dt_name += "�"
            else:
                dt_name += c.translate(_ASCII_LOWER)

        elif state == S_AFTER_DOCTYPE_NAME:
            if i >= n:
                err("eof-in-doctype")
                dt_force_quirks = True
                emit_doctype()
                break
            c = text[i]
            if c in _WS:
                i += 1
            elif c == ">":
                i += 1
                emit_doctype()
                state = S_DATA
            elif text[i : i + 6].lower() == "public":
                i += 6
                state = S_AFTER_DOCTYPE_PUBLIC_KW
            elif text[i : i + 6].lower() == "system":
                i += 6
                state = S_AFTER_DOCTYPE_SYSTEM_KW
            else:
                err("invalid-character-sequence-after-doctype-name")
                dt_force_quirks = True
                state = S_BOGUS_DOCTYPE

        elif state == S_AFTER_DOCTYPE_PUBLIC_KW:
            if i >= n:
                err("eof-in-doctype")
                dt_force_quirks = True
                emit_doctype()
                break
            c = text[i]
            if c in _WS:
                i += 1
                state = S_BEFORE_DOCTYPE_PUBLIC_ID
            elif c == '"' or c == "'":
                err("missing-whitespace-after-doctype-public-keyword")
                i += 1
                dt_public = ""
                state = (
                    S_DOCTYPE_PUBLIC_ID_DQ if c == '"' else S_DOCTYPE_PUBLIC_ID_SQ
                )
            elif c == ">":
                err("missing-doctype-public-identifier")
                i += 1
                dt_force_quirks = True
                emit_doctype()
                state = S_DATA
            else:
                err("missing-quote-before-doctype-public-identifier")
                dt_force_quirks = True
                state = S_BOGUS_DOCTYPE

        elif state == S_BEFORE_DOCTYPE_PUBLIC_ID:
            if i >= n:
                err("eof-in-doctype")
                dt_force_quirks = True
                emit_doctype()
                break
            c = text[i]
            if c in _WS:
                i += 1
            elif c == '"' or c == "'":
                i += 1
                dt_public = ""
                state = (
                    S_DOCTYPE_PUBLIC_ID_DQ if c == '"' else S_DOCTYPE_PUBLIC_ID_SQ
                )
            elif c == ">":
                err("missing-doctype-public-identifier")
                i += 1
                dt_force_quirks = True
                emit_doctype()
                state = S_DATA
            else:
                err("missing-quote-before-doctype-public-identifier")
                dt_force_quirks = True
                state = S_BOGUS_DOCTYPE

        elif state in (S_DOCTYPE_PUBLIC_ID_DQ, S_DOCTYPE_PUBLIC_ID_SQ):
            rex = (
                _RE_DOCTYPE_ID_DQ
                if state == S_DOCTYPE_PUBLIC_ID_DQ
                else _RE_DOCTYPE_ID_SQ
            )
            m = rex.search(text, i)
            if m is None:
                dt_public += text[i:]
                err("eof-in-doctype")
                dt_force_quirks = True
                emit_doctype()
                break
            j = m.start()
            if j > i:
                dt_public += text[i:j]
            c = text[j]
            i = j + 1
            if c == "\x00":
                err("unexpected-null-character")
                dt_public += "�"
            elif c == ">":
                err("abrupt-doctype-public-identifier")
                dt_force_quirks = True
                emit_doctype()
                state = S_DATA
            else:  # closing quote
                state = S_AFTER_DOCTYPE_PUBLIC_ID

        elif state == S_AFTER_DOCTYPE_PUBLIC_ID:
            if i >= n:
                err("eof-in-doctype")
                dt_force_quirks = True
                emit_doctype()
                break
            c = text[i]
            if c in _WS:
                i += 1
                state = S_BETWEEN_DOCTYPE_PUB_SYS
            elif c == ">":
                i += 1
                emit_doctype()
                state = S_DATA
            elif c == '"' or c == "'":
                err(
                    "missing-whitespace-between-doctype-public-and-system-identifiers"
                )
                i += 1
                dt_system = ""
                state = (
                    S_DOCTYPE_SYSTEM_ID_DQ if c == '"' else S_DOCTYPE_SYSTEM_ID_SQ
                )
            else:
                err("missing-quote-before-doctype-system-identifier")
                dt_force_quirks = True
                state = S_BOGUS_DOCTYPE

        elif state == S_BETWEEN_DOCTYPE_PUB_SYS:
            if i >= n:
                err("eof-in-doctype")
                dt_force_quirks = True
                emit_doctype()
                break
            c = text[i]
            if c in _WS:
                i += 1
            elif c == ">":
                i += 1
                emit_doctype()
                state = S_DATA
            elif c == '"' or c == "'":
                i += 1
                dt_system = ""
                state = (
                    S_DOCTYPE_SYSTEM_ID_DQ if c == '"' else S_DOCTYPE_SYSTEM_ID_SQ
                )
            else:
                err("missing-quote-before-doctype-system-identifier")
                dt_force_quirks = True
                state = S_BOGUS_DOCTYPE

        elif state == S_AFTER_DOCTYPE_SYSTEM_KW:
            if i >= n:
                err("eof-in-doctype")
                dt_force_quirks = True
                emit_doctype()
                break
            c = text[i]
            if c in _WS:
                i += 1
                state = S_BEFORE_DOCTYPE_SYSTEM_ID
            elif c == '"' or c == "'":
                err("missing-whitespace-after-doctype-system-keyword")
                i += 1
                dt_system = ""
                state = (
                    S_DOCTYPE_SYSTEM_ID_DQ if c == '"' else S_DOCTYPE_SYSTEM_ID_SQ
                )
            elif c == ">":
                err("missing-doctype-system-identifier")
                i += 1
                dt_force_quirks = True
                emit_doctype()
                state = S_DATA
            else:
                err("missing-quote-before-doctype-system-identifier")
                dt_force_quirks = True
                state = S_BOGUS_DOCTYPE

        elif state == S_BEFORE_DOCTYPE_SYSTEM_ID:
            if i >= n:
                err("eof-in-doctype")
                dt_force_quirks = True
                emit_doctype()
                break
            c = text[i]
            if c in _WS:
                i += 1
            elif c == '"' or c == "'":
                i += 1
                dt_system = ""
                state = (
                    S_DOCTYPE_SYSTEM_ID_DQ if c == '"' else S_DOCTYPE_SYSTEM_ID_SQ
                )
            elif c == ">":
                err("missing-doctype-system-identifier")
                i += 1
                dt_force_quirks = True
                emit_doctype()
                state = S_DATA
            else:
                err("missing-quote-before-doctype-system-identifier")
                dt_force_quirks = True
                state = S_BOGUS_DOCTYPE

        elif state in (S_DOCTYPE_SYSTEM_ID_DQ, S_DOCTYPE_SYSTEM_ID_SQ):
            rex = (
                _RE_DOCTYPE_ID_DQ
                if state == S_DOCTYPE_SYSTEM_ID_DQ
                else _RE_DOCTYPE_ID_SQ
            )
            m = rex.search(text, i)
            if m is None:
                dt_system += text[i:]
                err("eof-in-doctype")
                dt_force_quirks = True
                emit_doctype()
                break
            j = m.start()
            if j > i:
                dt_system += text[i:j]
            c = text[j]
            i = j + 1
            if c == "\x00":
                err("unexpected-null-character")
                dt_system += "�"
            elif c == ">":
                err("abrupt-doctype-system-identifier")
                dt_force_quirks = True
                emit_doctype()
                state = S_DATA
            else:
                state = S_AFTER_DOCTYPE_SYSTEM_ID

        elif state == S_AFTER_DOCTYPE_SYSTEM_ID:
            if i >= n:
                err("eof-in-doctype")
                dt_force_quirks = True
                emit_doctype()
                break
            c = text[i]
            if c in _WS:
                i += 1
            elif c == ">":
                i += 1
                emit_doctype()
                state = S_DATA
            else:
                err("unexpected-character-after-doctype-system-identifier")
                state = S_BOGUS_DOCTYPE  # NOT force-quirks (spec)

        elif state == S_BOGUS_DOCTYPE:
            if i >= n:
                emit_doctype()
                break
            c = text[i]
            i += 1
            if c == ">":
                emit_doctype()
                state = S_DATA
            elif c == "\x00":
                err("unexpected-null-character")

        # ------------------------------------------------------- CDATA
        elif state == S_CDATA:
            m = _RE_CDATA.search(text, i)
            if m is None:
                if i < n:
                    chars.append(text[i:])
                err("eof-in-cdata")
                break
            j = m.start()
            if j > i:
                chars.append(text[i:j])
            i = j + 1
            state = S_CDATA_BRACKET

        elif state == S_CDATA_BRACKET:
            if i < n and text[i] == "]":
                i += 1
                state = S_CDATA_END
            else:
                chars.append("]")
                state = S_CDATA

        elif state == S_CDATA_END:
            if i < n and text[i] == "]":
                i += 1
                chars.append("]")
            elif i < n and text[i] == ">":
                i += 1
                state = S_DATA
            else:
                chars.append("]]")
                state = S_CDATA

        # -------------------------------------------- character references
        elif state == S_CHAR_REF:
            if i < n and text[i] in _ASCII_ALNUM:
                state = S_NAMED_CHAR_REF
            elif i < n and text[i] == "#":
                i += 1
                temp_buf += "#"
                state = S_NUMERIC_CHAR_REF
            else:
                flush_code_points(temp_buf)
                state = return_state

        elif state == S_NAMED_CHAR_REF:
            hit = match_entity(text, i)
            in_attr = return_state in (
                S_ATTR_VALUE_DQ,
                S_ATTR_VALUE_SQ,
                S_ATTR_VALUE_UNQ,
            )
            if hit is not None:
                name, repl = hit
                i += len(name)
                temp_buf += name
                if (
                    in_attr
                    and not name.endswith(";")
                    and i < n
                    and (text[i] == "=" or text[i] in _ASCII_ALNUM)
                ):
                    # historical attribute rule (spec; the reference's
                    # version: src/tokenizer.zig:2048-2057)
                    flush_code_points(temp_buf)
                    state = return_state
                else:
                    if not name.endswith(";"):
                        err("missing-semicolon-after-character-reference")
                    flush_code_points(repl)
                    state = return_state
            else:
                flush_code_points(temp_buf)
                state = S_AMBIGUOUS_AMP

        elif state == S_AMBIGUOUS_AMP:
            if i < n and text[i] in _ASCII_ALNUM:
                flush_code_points(text[i])
                i += 1
            elif i < n and text[i] == ";":
                err("unknown-named-character-reference")
                state = return_state
            else:
                state = return_state

        elif state == S_NUMERIC_CHAR_REF:
            char_ref_code = 0
            if i < n and (text[i] == "x" or text[i] == "X"):
                temp_buf += text[i]
                i += 1
                state = S_HEX_CHAR_REF_START
            else:
                state = S_DEC_CHAR_REF_START

        elif state == S_HEX_CHAR_REF_START:
            if i < n and text[i] in _ASCII_HEX:
                state = S_HEX_CHAR_REF
            else:
                err("absence-of-digits-in-numeric-character-reference")
                flush_code_points(temp_buf)
                state = return_state

        elif state == S_DEC_CHAR_REF_START:
            if i < n and text[i] in _ASCII_DIGITS:
                state = S_DEC_CHAR_REF
            else:
                err("absence-of-digits-in-numeric-character-reference")
                flush_code_points(temp_buf)
                state = return_state

        elif state == S_HEX_CHAR_REF:
            if i < n and text[i] in _ASCII_HEX:
                if char_ref_code <= 0x10FFFF:  # clamp; overflow → U+FFFD
                    char_ref_code = char_ref_code * 16 + int(text[i], 16)
                i += 1
            elif i < n and text[i] == ";":
                i += 1
                state = S_NUMERIC_CHAR_REF_END
            else:
                err("missing-semicolon-after-character-reference")
                state = S_NUMERIC_CHAR_REF_END

        elif state == S_DEC_CHAR_REF:
            if i < n and text[i] in _ASCII_DIGITS:
                if char_ref_code <= 0x10FFFF:
                    char_ref_code = char_ref_code * 10 + int(text[i])
                i += 1
            elif i < n and text[i] == ";":
                i += 1
                state = S_NUMERIC_CHAR_REF_END
            else:
                err("missing-semicolon-after-character-reference")
                state = S_NUMERIC_CHAR_REF_END

        elif state == S_NUMERIC_CHAR_REF_END:
            code = char_ref_code
            if code == 0:
                err("null-character-reference")
                code = 0xFFFD
            elif code > 0x10FFFF:
                err("character-reference-outside-unicode-range")
                code = 0xFFFD
            elif 0xD800 <= code <= 0xDFFF:
                err("surrogate-character-reference")
                code = 0xFFFD
            elif 0xFDD0 <= code <= 0xFDEF or (code & 0xFFFE) == 0xFFFE:
                err("noncharacter-character-reference")
            elif code == 0x0D or (
                (code <= 0x1F or 0x7F <= code <= 0x9F)
                and code not in (0x09, 0x0A, 0x0C, 0x20)
            ):
                err("control-character-reference")
                code = _C1_REMAP.get(code, code)
            flush_code_points(chr(code))
            state = return_state

        else:  # pragma: no cover — unreachable
            raise AssertionError(f"unknown state {state}")

    flush_chars()
    return out, errors
