"""Dependency-free PDF text + layout extraction (round 5).

The brief's north rule names "PDF/layout parse" alongside HTML
boilerplate stripping as part of main-content extraction over
interleaved corpora: web crawls carry PDFs as first-class documents
(and as media payloads harvested by the crawl layer).  This module
parses them with ZERO dependencies — pure byte-walking Python in the
same capability posture as ``multimodal.sniff_image_meta``, running
inside one Arrow-batched ``udfs.map_rows`` stage: an embarrassingly
parallel map at any corpus scale (no shuffle, no driver state;
10^12 docs are 10^12 independent rows, so the stage scales linearly
with executors exactly like the HTML parse stage).

Scope (documented, test-pinned):

* classic-xref AND xref-stream files are both handled by scanning
  ``N G obj`` headers directly (the xref table is never consulted;
  the last direct definition of an object number wins, which is the
  incremental-update winner for append-only updates); compressed
  object streams (``/Type /ObjStm``, PDF 1.5+) ARE expanded, with
  direct definitions taking precedence;
* stream extents: a direct integer ``/Length`` is trusted when
  ``endstream`` actually follows it; otherwise (indirect or wrong
  lengths) the extent falls back to an ``endstream`` search — a
  stream whose BODY contains the literal bytes ``endstream`` AND
  carries an indirect length is truncated (documented limitation,
  exercised in tests only through the well-formed path);
* filters: FlateDecode (zlib header or raw-deflate fallback) and
  ASCIIHexDecode, singly or chained; a predictor (``/DecodeParms``
  ``/Predictor`` > 1) or any other filter marks the stream
  undecodable — skipped, never fatal, never garbage text;
* text operators (ISO 32000-1 §9.4): BT/ET, Tf, Td/TD/TL/T*/Tm,
  Tj/'/"/TJ with the standard kerning-space heuristic (a TJ
  adjustment below −180 thousandths of an em emits one space);
  literal strings (all escape forms, balanced nested parens, 1–3
  digit octal, line continuations), hex strings (odd-digit pad),
  and UTF-16BE BOM strings;
* layout: spans group into rendered LINES by text-baseline y (the
  text matrix's f component; a new line starts when the baseline
  moves by more than 0.5 pt), emitted in content order; x-only
  repositioning between shows on one baseline inserts a single
  space (column gap); a per-document font-size median classifies
  lines at ≥ 1.5× median as ``heading`` — the PDF analog of the
  HTML heading span kind, which is what "layout parse" buys the
  downstream quality/markdown stages.  The graphics CTM (``cm``) is
  deliberately ignored for grouping: baselines are compared in text
  space, which is stable within a page for the documents this tier
  targets;
* media: image XObjects invoked by ``Do`` (resources inherited down
  the page tree per §7.7.3.4) and inline images (BI..ID..EI,
  skipped binary-safely) emit ``media`` spans carrying construction
  dims, so PDF docs interleave text + media spans exactly like the
  HTML extraction path;
* failure mode: structurally unreadable documents (no header, no
  reachable pages, undecodable content) yield ZERO spans — count
  them with an anti-join of input doc ids against span output;
  a decoder EXCEPTION (a parser bug, not a bad document) yields a
  single ``error`` span with the exception class name, so at
  10^12 docs a surprise costs one metric row, never the job.

The reference (watzon/zhtml) has no PDF surface at all — this layer
is brief-driven (north_rule: "PDF/layout parse"), so there is no
reference file to cite; parity is against ISO 32000-1 §7 (syntax)
and §9 (text showing) directly.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .udfs import map_rows

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_OCT = b"01234567"

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_INT_RE = re.compile(rb"[+-]?\d+")
_NAME_ESC = re.compile(rb"#([0-9A-Fa-f]{2})")
# ``N G obj``.  The runs are possessive (each is followed by a byte it
# cannot hold) and a header never starts inside a digit run, so a long
# digit run is read once, not again from each of its digits.
_OBJ_HEAD = rb"(\d++)\s++\d++\s++obj\b"
_OBJ_HEAD_RE = re.compile(rb"(?<!\d)" + _OBJ_HEAD)
_OBJ_HEAD_AT_RE = re.compile(_OBJ_HEAD)
_STREAM_RE = re.compile(rb"stream(?:\r\n|\n|\r)")
_ROOT_RE = re.compile(rb"/Root\s+(\d+)\s+\d+\s+R")
_INFO_RE = re.compile(rb"/Info\s+(\d+)\s+\d+\s+R")
# an /Encrypt trailer entry (direct dict or indirect ref) means every
# stream and string is ciphertext — nothing downstream can be trusted
_ENCRYPT_RE = re.compile(rb"/Encrypt\s*(?:\d+\s+\d+\s+R|<<)")
_OP_RE = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")
_NONHEX_RE = re.compile(rb"[^0-9A-Fa-f]")


class _Ref:
    """Indirect object reference (generation ignored: the scanner
    keeps the last direct definition per object number)."""

    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover - debug aid
        return f"_Ref({self.num})"


# ------------------------------------------------------------------
# object syntax (ISO 32000-1 §7.3)
# ------------------------------------------------------------------

def _skip_ws(b: bytes, i: int) -> int:
    n = len(b)
    while i < n:
        c = b[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment runs to end of line
            while i < n and b[i] not in (0x0A, 0x0D):
                i += 1
        else:
            break
    return i


def _parse_name(b: bytes, i: int) -> tuple[str, int]:
    j = i + 1
    n = len(b)
    while j < n and b[j] not in _WS and b[j] not in _DELIM:
        j += 1
    raw = _NAME_ESC.sub(
        lambda m: bytes([int(m.group(1), 16)]), b[i + 1 : j]
    )
    return raw.decode("latin-1"), j


_ESC_MAP = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C}


def _parse_lit_string(b: bytes, i: int) -> tuple[bytes, int]:
    out = bytearray()
    depth = 1
    j = i + 1
    n = len(b)
    while j < n and depth:
        c = b[j]
        if c == 0x5C:  # backslash
            j += 1
            if j >= n:
                break
            e = b[j]
            if e in _OCT:
                k = j
                while k < j + 3 and k < n and b[k] in _OCT:
                    k += 1
                out.append(int(b[j:k], 8) & 0xFF)
                j = k
                continue
            mapped = _ESC_MAP.get(e)
            if mapped is not None:
                out.append(mapped)
            elif e == 0x0D:  # line continuation \CR[LF]
                if j + 1 < n and b[j + 1] == 0x0A:
                    j += 1
            elif e == 0x0A:
                pass
            else:  # \( \) \\ and any other byte → itself
                out.append(e)
            j += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            j += 1
        elif c == 0x29:
            depth -= 1
            if depth:
                out.append(c)
            j += 1
        else:
            out.append(c)
            j += 1
    return bytes(out), j


def _hex_decode(raw: bytes) -> bytes:
    """Shared ASCIIHex normalization (§7.3.4.3 / §7.4.2): strip
    non-hex bytes, pad a trailing odd digit with 0."""
    hx = _NONHEX_RE.sub(b"", raw)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


def _parse_hex_string(b: bytes, i: int) -> tuple[bytes, int]:
    j = b.find(b">", i + 1)
    if j < 0:
        j = len(b)
    return _hex_decode(b[i + 1 : j]), min(j + 1, len(b))


def _parse_object(b: bytes, i: int, depth: int = 0):
    """Parse one object at ``i`` → ``(value, next_pos)``.  Names are
    Python ``str``, strings are ``bytes`` (unambiguous), references
    are :class:`_Ref`; malformed input always advances."""
    if depth > 32:
        return None, i + 1
    i = _skip_ws(b, i)
    n = len(b)
    if i >= n:
        return None, i
    c = b[i]
    if c == 0x2F:  # /Name
        return _parse_name(b, i)
    if c == 0x28:  # (string)
        return _parse_lit_string(b, i)
    if b.startswith(b"<<", i):  # dict
        d: dict = {}
        j = i + 2
        while True:
            j = _skip_ws(b, j)
            if j >= n:
                return d, n
            if b.startswith(b">>", j):
                return d, j + 2
            if b[j] != 0x2F:  # malformed key — bail to the closer
                k = b.find(b">>", j)
                return d, (k + 2 if k >= 0 else n)
            key, j = _parse_name(b, j)
            val, j = _parse_object(b, j, depth + 1)
            d[key] = val
    if c == 0x3C:  # <hex>
        return _parse_hex_string(b, i)
    if c == 0x5B:  # [array]
        arr: list = []
        j = i + 1
        while True:
            j = _skip_ws(b, j)
            if j >= n:
                return arr, n
            if b[j] == 0x5D:
                return arr, j + 1
            v, j2 = _parse_object(b, j, depth + 1)
            if j2 <= j:  # no progress — malformed element
                return arr, j + 1
            arr.append(v)
            j = j2
    if b.startswith(b"true", i):
        return True, i + 4
    if b.startswith(b"false", i):
        return False, i + 5
    if b.startswith(b"null", i):
        return None, i + 4
    m = _NUM_RE.match(b, i)
    if m:
        tok = m.group()
        j = m.end()
        if b"." not in tok:
            # reference lookahead: INT ws INT ws R (token-terminated)
            k = _skip_ws(b, j)
            m2 = _INT_RE.match(b, k)
            if m2:
                k2 = _skip_ws(b, m2.end())
                if (
                    k2 < n
                    and b[k2] == 0x52
                    and (
                        k2 + 1 >= n
                        or b[k2 + 1] in _WS
                        or b[k2 + 1] in _DELIM
                    )
                ):
                    return _Ref(int(tok)), k2 + 1
            return int(tok), j
        return float(tok), j
    return None, i + 1


def _resolve(v, objs):
    depth = 0
    while isinstance(v, _Ref) and depth < 32:
        v = objs.get(v.num, (None, None))[0]
        depth += 1
    return v


# ------------------------------------------------------------------
# document structure (§7.5): object scan, streams, page tree
# ------------------------------------------------------------------

def _scan_objects(b: bytes) -> tuple[dict, list]:
    """``({num: (value, raw_stream | None)}, stream_extents)`` for
    every ``N G obj`` in the file — later definitions override
    (incremental updates).  The scan RESUMES past each object's
    parsed extent (dict body, stream body, ``endstream``), so bytes
    INSIDE streams or string values can never spawn phantom objects
    that clobber real ones; the returned ``(start, end)`` extents
    let callers exclude stream bodies from their own raw-byte
    searches (the trailer ``/Root`` scan)."""
    objs: dict = {}
    extents: list = []
    pos = 0
    n = len(b)
    while pos < n:
        # the lookbehind sees the byte before ``pos``, so a header that
        # starts right at ``pos`` is tried without it
        m = _OBJ_HEAD_AT_RE.match(b, pos) or _OBJ_HEAD_RE.search(b, pos)
        if not m:
            break
        num = int(m.group(1))
        val, j = _parse_object(b, m.end())
        raw = None
        if isinstance(val, dict):
            sm = _STREAM_RE.match(b, _skip_ws(b, j))
            if sm:
                start = sm.end()
                ln = val.get("Length")
                end = None
                if isinstance(ln, int) and 0 <= ln <= n - start:
                    cand = start + ln
                    if b.startswith(b"endstream", _skip_ws(b, cand)):
                        end = cand
                if end is None:  # indirect or wrong /Length
                    k = b.find(b"endstream", start)
                    end = k if k >= 0 else n
                    while end > start and b[end - 1] in (0x0A, 0x0D):
                        end -= 1
                raw = b[start:end]
                extents.append((start, end))
                k = b.find(b"endstream", end)
                j = (k + len(b"endstream")) if k >= 0 else n
        objs[num] = (val, raw)
        # trust the parsed extent only when the object terminates
        # cleanly; a malformed body rescans from just past the
        # header so later real objects are never swallowed
        j2 = _skip_ws(b, j)
        pos = j2 + 6 if b.startswith(b"endobj", j2) else m.end()
    return objs, extents


def _lzw_decode(data: bytes) -> bytes | None:
    """PDF LZWDecode (§7.4.4): 9→12-bit variable codes, code 256 =
    clear table, 257 = EOD, early-change table growth (PDF's
    ``EarlyChange`` default 1).  Pre-Flate Acrobat output uses this
    exclusively."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == 256:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                return None
            out += entry
            prev = entry
            # early change: widen one code BEFORE the table fills
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _rle_decode(data: bytes) -> bytes | None:
    """PDF RunLengthDecode (§7.4.5): length byte < 128 → copy n+1
    literals; 129–255 → repeat next byte 257-n times; 128 = EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        ln = data[i]
        i += 1
        if ln == 128:
            break
        if ln < 128:
            if i + ln + 1 > n:
                return None
            out += data[i : i + ln + 1]
            i += ln + 1
        else:
            if i >= n:
                return None
            out += bytes([data[i]]) * (257 - ln)
            i += 1
    return bytes(out)


def _a85_decode(data: bytes) -> bytes | None:
    """PDF ASCII85Decode (§7.4.3): whitespace-tolerant, ``z`` group
    shorthand, ``~>`` EOD, partial final group."""
    import base64

    body = data.split(b"~>")[0]
    if body.startswith(b"<~"):
        body = body[2:]
    body = bytes(c for c in body if c not in _WS)
    try:
        return base64.a85decode(body)
    except ValueError:
        return None


def _decode_stream(d: dict, raw: bytes, objs) -> bytes | None:
    """Apply the filter chain; ``None`` = undecodable (skip)."""
    filt = _resolve(d.get("Filter"), objs)
    parms = _resolve(d.get("DecodeParms"), objs)
    for p in parms if isinstance(parms, list) else [parms]:
        p = _resolve(p, objs)
        if isinstance(p, dict):
            if _resolve(p.get("Predictor"), objs) not in (None, 1):
                return None  # predictors are image/xref territory
            if _resolve(p.get("EarlyChange"), objs) == 0:
                return None  # LZW late-change variant: fail safe
    if filt is None:
        return raw
    data = raw
    for f in filt if isinstance(filt, list) else [filt]:
        f = _resolve(f, objs)
        if f == "FlateDecode":
            try:
                data = zlib.decompress(data)
            except zlib.error:
                try:
                    data = zlib.decompressobj(-15).decompress(data)
                except zlib.error:
                    return None
        elif f == "ASCIIHexDecode":
            try:
                data = _hex_decode(data.split(b">")[0])
            except ValueError:
                return None
        elif f == "ASCII85Decode":
            out = _a85_decode(data)
            if out is None:
                return None
            data = out
        elif f == "RunLengthDecode":
            out = _rle_decode(data)
            if out is None:
                return None
            data = out
        elif f == "LZWDecode":
            out = _lzw_decode(data)
            if out is None:
                return None
            data = out
        else:
            return None
    return data


def _expand_object_streams(objs) -> None:
    """PDF 1.5 ``/ObjStm``: parse the contained objects out of the
    decoded stream (header = N pairs of ``objnum offset`` before
    ``/First``).  Direct definitions keep precedence."""
    for num in list(objs):
        val, raw = objs[num]
        if not (
            isinstance(val, dict)
            and val.get("Type") == "ObjStm"
            and raw is not None
        ):
            continue
        data = _decode_stream(val, raw, objs)
        n_objs = _resolve(val.get("N"), objs)
        first = _resolve(val.get("First"), objs)
        if (
            data is None
            or not isinstance(n_objs, int)
            or not isinstance(first, int)
            or not 0 <= first <= len(data)
        ):
            continue
        nums = [int(x) for x in re.findall(rb"\d+", data[:first])]
        for onum, off in list(zip(nums[0::2], nums[1::2]))[:n_objs]:
            if onum in objs:
                continue
            v, _ = _parse_object(data, first + off)
            objs[onum] = (v, None)


def _in_extents(i: int, extents: list) -> bool:
    return any(s <= i < e for s, e in extents)


def _page_order(b: bytes, objs, extents: list) -> list:
    """Pages in reading order: trailer ``/Root`` → catalog ``/Pages``
    → DFS over ``/Kids`` (with ``/Resources`` inheritance, §7.7.3.4);
    falls back to ``/Type /Page`` objects in object-number order.
    ``/Root`` matches inside stream bodies are ignored (a content
    stream ABOUT PDFs must not select a bogus catalog)."""
    pages: list = []
    seen: set = set()
    roots = [
        int(m.group(1))
        for m in _ROOT_RE.finditer(b)
        if not _in_extents(m.start(), extents)
    ]
    if roots:
        cat = _resolve(objs.get(roots[-1], (None, None))[0], objs)
        top = cat.get("Pages") if isinstance(cat, dict) else None
        stack = [(top.num, None)] if isinstance(top, _Ref) else []
        while stack and len(pages) <= 100_000:
            num, inh_res = stack.pop()
            if num in seen:
                continue
            seen.add(num)
            val = objs.get(num, (None, None))[0]
            if not isinstance(val, dict):
                continue
            res = _resolve(val.get("Resources"), objs)
            if not isinstance(res, dict):
                res = inh_res
            if val.get("Type") == "Page":
                pages.append((val, res or {}))
                continue
            kids = _resolve(val.get("Kids"), objs)
            if isinstance(kids, list):
                for k in reversed(kids):
                    if isinstance(k, _Ref):
                        stack.append((k.num, res))
    if not pages:
        for num in sorted(objs):
            val, _ = objs[num]
            if isinstance(val, dict) and val.get("Type") == "Page":
                res = _resolve(val.get("Resources"), objs)
                pages.append((val, res if isinstance(res, dict) else {}))
    return pages


def _page_content(page: dict, objs) -> bytes | None:
    c = page.get("Contents")
    parts = []
    for ref in c if isinstance(c, list) else [c]:
        tgt = ref.num if isinstance(ref, _Ref) else None
        if tgt is None:
            continue
        val, raw = objs.get(tgt, (None, None))
        if isinstance(val, dict) and raw is not None:
            data = _decode_stream(val, raw, objs)
            if data is not None:
                parts.append(data)
    return b"\n".join(parts) if parts else None


# ------------------------------------------------------------------
# content streams (§8.2 operators, §9.4 text showing)
# ------------------------------------------------------------------

_INLINE_W_RE = re.compile(rb"/W(?:idth)?\s+(\d+)")
_INLINE_H_RE = re.compile(rb"/H(?:eight)?\s+(\d+)")


def _content_tokens(data: bytes):
    """Yield ``('v', operand)`` / ``('op', name)`` /
    ``('img', (w, h))`` for inline images (binary skipped safely)."""
    i, n = 0, len(data)
    while i < n:
        i = _skip_ws(data, i)
        if i >= n:
            break
        c = data[i]
        if c in b"/(<[+-." or 0x30 <= c <= 0x39:
            v, j = _parse_object(data, i)
            if j <= i:
                j = i + 1
            yield ("v", v)
            i = j
        elif c in b")]>}{":  # stray delimiter
            i += 1
        else:
            m = _OP_RE.match(data, i)
            if not m:
                i += 1
                continue
            op = m.group().decode("latin-1")
            i = m.end()
            if op != "BI":
                yield ("op", op)
                continue
            # inline image: dict → ID → binary → EI at a ws boundary
            j = data.find(b"ID", i)
            if j < 0:
                return
            hdr = data[i:j]
            k = j + 2
            while True:
                k = data.find(b"EI", k)
                if k < 0:
                    return
                if (k == 0 or data[k - 1] in _WS) and (
                    k + 2 >= n
                    or data[k + 2] in _WS
                    or data[k + 2] in _DELIM
                ):
                    break
                k += 2
            mw = _INLINE_W_RE.search(hdr)
            mh = _INLINE_H_RE.search(hdr)
            yield (
                "img",
                (
                    int(mw.group(1)) if mw else 0,
                    int(mh.group(1)) if mh else 0,
                ),
            )
            i = k + 2


def _decode_pdf_string(raw: bytes) -> str:
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    return raw.decode("latin-1")


# ------------------------------------------------------------------
# ToUnicode CMaps (§9.10.3): the real-world text path for embedded
# subset fonts, whose show-string bytes are glyph codes with NO
# relation to any standard encoding — without the CMap they decode
# as latin-1 garbage.
# ------------------------------------------------------------------

_HEX_TOK_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>|(\[)|(\])")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CSRANGE_RE = re.compile(
    rb"begincodespacerange(.*?)endcodespacerange", re.S
)


def _hex_tok(h: bytes) -> bytes:
    h = re.sub(rb"\s", b"", h)
    if len(h) % 2:
        h += b"0"  # §7.3.4.3: odd final digit implies trailing 0
    return bytes.fromhex(h.decode("ascii"))


def _parse_tounicode(data: bytes) -> tuple[int, dict[int, str]] | None:
    """``(code_bytes, {code: text})`` from a ToUnicode CMap stream.
    Code width comes from the codespacerange (falling back to the
    first bfchar/bfrange source length); destinations are UTF-16BE.
    Returns ``None`` for a CMap with no usable mappings — the caller
    then keeps the plain string decode."""
    width = 0
    for m in _CSRANGE_RE.finditer(data):
        for hm in _HEX_TOK_RE.finditer(m.group(1)):
            if hm.group(1) is not None:
                width = max(width, len(_hex_tok(hm.group(1))))
    mapping: dict[int, str] = {}

    def dst_text(b: bytes) -> str:
        return b.decode("utf-16-be", "replace") if b else ""

    for m in _BFCHAR_RE.finditer(data):
        toks = [
            _hex_tok(hm.group(1))
            for hm in _HEX_TOK_RE.finditer(m.group(1))
            if hm.group(1) is not None
        ]
        for src, dst in zip(toks[0::2], toks[1::2]):
            if not width:
                width = len(src)
            mapping[int.from_bytes(src, "big")] = dst_text(dst)
    for m in _BFRANGE_RE.finditer(data):
        toks: list = []
        depth = 0
        arr: list = []
        for hm in _HEX_TOK_RE.finditer(m.group(1)):
            if hm.group(2):
                depth, arr = 1, []
            elif hm.group(3):
                depth = 0
                toks.append(arr)
            elif depth:
                arr.append(_hex_tok(hm.group(1)))
            else:
                toks.append(_hex_tok(hm.group(1)))
        i = 0
        while i + 2 < len(toks):
            lo_b, hi_b, dst = toks[i], toks[i + 1], toks[i + 2]
            i += 3
            if isinstance(lo_b, list) or isinstance(hi_b, list):
                continue  # malformed triple
            if not width:
                width = len(lo_b)
            lo = int.from_bytes(lo_b, "big")
            hi = int.from_bytes(hi_b, "big")
            if hi - lo > 0xFFFF:
                continue  # runaway range: bound the table
            if isinstance(dst, list):
                for off, d in enumerate(dst):
                    if lo + off <= hi:
                        mapping[lo + off] = dst_text(d)
            else:
                # §9.10.3: only the LAST byte increments within a
                # bfrange destination
                base = int.from_bytes(dst, "big") if dst else 0
                for code in range(lo, hi + 1):
                    inc = base + (code - lo)
                    nbytes = max(
                        2, len(dst), (inc.bit_length() + 7) // 8
                    )
                    mapping[code] = dst_text(inc.to_bytes(nbytes, "big"))
    if not mapping:
        return None
    return (width or 1), mapping


def _decode_with_cmap(raw: bytes, cmap: tuple[int, dict[int, str]]) -> str:
    width, mapping = cmap
    out: list[str] = []
    for i in range(0, len(raw) - width + 1, width):
        code = int.from_bytes(raw[i:i + width], "big")
        out.append(mapping.get(code, "�"))
    return "".join(out)


# ------------------------------------------------------------------
# Simple-font encodings (§9.6.5): /Encoding names and /Differences
# arrays.  TeX-produced PDFs in particular remap arbitrary byte codes
# to glyph NAMES; the compact Adobe-Glyph-List subset below covers
# the latin repertoire those fonts actually use, plus the uniXXXX /
# uXXXXXX algorithmic forms.
# ------------------------------------------------------------------

_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&",
    "quotesingle": "'", "parenleft": "(", "parenright": ")",
    "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "zero": "0", "one": "1", "two": "2",
    "three": "3", "four": "4", "five": "5", "six": "6", "seven": "7",
    "eight": "8", "nine": "9", "colon": ":", "semicolon": ";",
    "less": "<", "equal": "=", "greater": ">", "question": "?",
    "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_",
    "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
    "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "guillemotleft": "«", "guillemotright": "»",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "endash": "–", "emdash": "—", "bullet": "•",
    "dagger": "†", "daggerdbl": "‡",
    "ellipsis": "…", "perthousand": "‰",
    "minus": "−", "fraction": "⁄", "florin": "ƒ",
    "fi": "ﬁ", "fl": "ﬂ", "dotlessi": "ı",
    "euro": "€", "sterling": "£", "yen": "¥", "cent": "¢",
    "currency": "¤", "section": "§", "paragraph": "¶",
    "copyright": "©", "registered": "®", "trademark": "™",
    "degree": "°", "plusminus": "±", "multiply": "×", "divide": "÷",
    "onehalf": "½", "onequarter": "¼", "threequarters": "¾",
    "onesuperior": "¹", "twosuperior": "²", "threesuperior": "³",
    "ordfeminine": "ª", "ordmasculine": "º", "micro": "µ",
    "middot": "·", "periodcentered": "·", "brokenbar": "¦",
    "exclamdown": "¡", "questiondown": "¿", "logicalnot": "¬",
    "macron": "¯", "acute": "´", "cedilla": "¸", "dieresis": "¨",
    "circumflex": "ˆ", "caron": "ˇ", "breve": "˘",
    "dotaccent": "˙", "ring": "˚", "ogonek": "˛",
    "tilde": "˜", "hungarumlaut": "˝",
    "germandbls": "ß", "ae": "æ", "AE": "Æ", "oe": "œ",
    "OE": "Œ", "oslash": "ø", "Oslash": "Ø", "eth": "ð",
    "Eth": "Ð", "thorn": "þ", "Thorn": "Þ",
    "Lslash": "Ł", "lslash": "ł",
    "Scaron": "Š", "scaron": "š",
    "Zcaron": "Ž", "zcaron": "ž",
    "Ydieresis": "Ÿ",
}
# accented latin: <base><accent> names, both cases
for _b, _acc, _ch in [
    ("a", "grave", "à"), ("a", "acute", "á"), ("a", "circumflex", "â"),
    ("a", "tilde", "ã"), ("a", "dieresis", "ä"), ("a", "ring", "å"),
    ("c", "cedilla", "ç"), ("e", "grave", "è"), ("e", "acute", "é"),
    ("e", "circumflex", "ê"), ("e", "dieresis", "ë"),
    ("i", "grave", "ì"), ("i", "acute", "í"), ("i", "circumflex", "î"),
    ("i", "dieresis", "ï"), ("n", "tilde", "ñ"), ("o", "grave", "ò"),
    ("o", "acute", "ó"), ("o", "circumflex", "ô"), ("o", "tilde", "õ"),
    ("o", "dieresis", "ö"), ("u", "grave", "ù"), ("u", "acute", "ú"),
    ("u", "circumflex", "û"), ("u", "dieresis", "ü"),
    ("y", "acute", "ý"), ("y", "dieresis", "ÿ"),
]:
    _AGL[_b + _acc] = _ch
    _up = _ch.upper()
    if _up != _ch:
        _AGL[_b.upper() + _acc] = _up
del _b, _acc, _ch, _up


def _glyph_to_text(name: str) -> str | None:
    if len(name) == 1:
        return name  # AGL: single-char names map to themselves
    if name in _AGL:
        return _AGL[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return "".join(
                chr(int(name[i:i + 4], 16))
                for i in range(3, len(name) - 3, 4)
            )
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except (ValueError, OverflowError):
            return None
    return None


def _base_encoding_table(name) -> list[str]:
    codec = {
        "WinAnsiEncoding": "cp1252",
        "MacRomanEncoding": "mac-roman",
    }.get(name, "latin-1")
    out = []
    for b in range(256):
        try:
            out.append(bytes([b]).decode(codec))
        except UnicodeDecodeError:
            out.append(chr(b))  # undefined slot: latin-1 identity
    return out


def _font_encoding_table(font: dict, objs) -> list[str] | None:
    """256-entry decode table from a simple font's ``/Encoding`` —
    ``None`` when the font declares nothing non-default (keep the
    plain latin-1 decode)."""
    enc = _resolve(font.get("Encoding"), objs)
    if isinstance(enc, str):
        if enc == "WinAnsiEncoding" or enc == "MacRomanEncoding":
            return _base_encoding_table(enc)
        return None
    if not isinstance(enc, dict):
        return None
    table = _base_encoding_table(_resolve(enc.get("BaseEncoding"), objs))
    diffs = _resolve(enc.get("Differences"), objs)
    if isinstance(diffs, list):
        code = 0
        for item in diffs:
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, str) and 0 <= code <= 255:
                g = _glyph_to_text(item)
                if g is not None:
                    table[code] = g
                code += 1
    return table


_DEFAULT_SIZE = 12.0
_TJ_SPACE = -180.0  # thousandths of an em; below this = word gap
_LINE_TOL = 0.5  # pt of baseline movement that starts a new line


def _page_spans(content: bytes, resources: dict, objs, items: list,
                _form_seen: set | None = None) -> None:
    """Append ``("line", text, size)`` / ``("media", name, w, h)``
    items for one page, in content order.  ``Do`` on a ``/Subtype
    /Form`` XObject recurses into the form's own content stream with
    its own ``/Resources`` (falling back to the invoker's), guarded
    against reference cycles — Word/Quartz output routes most body
    text through forms, so skipping them drops whole pages."""
    if _form_seen is None:
        _form_seen = set()
    xobjects = _resolve(resources.get("XObject"), objs)
    if not isinstance(xobjects, dict):
        xobjects = {}
    fonts = _resolve(resources.get("Font"), objs)
    if not isinstance(fonts, dict):
        fonts = {}
    cmap_cache: dict = {}

    def font_decoder(name):
        """Decoder for a /Font resource name (cached): ``('cmap', …)``
        from a ToUnicode stream (wins — it is the author's explicit
        text mapping), ``('table', [256 str])`` from a simple font's
        /Encoding (+/Differences), ``None`` = plain string decode."""
        if name in cmap_cache:
            return cmap_cache[name]
        dec = None
        font = _resolve(fonts.get(name), objs)
        if isinstance(font, dict):
            tu = font.get("ToUnicode")
            if isinstance(tu, _Ref):
                val, raw = objs.get(tu.num, (None, None))
                if isinstance(val, dict) and raw is not None:
                    data = _decode_stream(val, raw, objs)
                    if data is not None:
                        cmap = _parse_tounicode(data)
                        if cmap is not None:
                            dec = ("cmap", cmap)
            if dec is None:
                table = _font_encoding_table(font, objs)
                if table is not None:
                    dec = ("table", table)
        cmap_cache[name] = dec
        return dec

    cur_cmap: tuple | None = None
    tf_size: float | None = None  # None = never set; 0.0 = hidden
    leading = 0.0
    # text line matrix (a b c d e f); only d (y-scale) and f
    # (baseline) feed layout, but Td composes through all six
    lm = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]
    moved = False

    cur_text: list = []
    cur_y: float | None = None
    cur_size = 0.0

    def flush():
        nonlocal cur_text, cur_y, cur_size
        t = "".join(cur_text).strip()
        if t:
            items.append(("line", t, cur_size or _DEFAULT_SIZE))
        cur_text, cur_y, cur_size = [], None, 0.0

    def translate(tx: float, ty: float):
        nonlocal moved
        lm[4] = lm[0] * tx + lm[2] * ty + lm[4]
        lm[5] = lm[1] * tx + lm[3] * ty + lm[5]
        moved = True

    def show(raw):
        nonlocal cur_y, cur_size, moved
        if not isinstance(raw, (bytes, bytearray)):
            return
        if cur_cmap is not None and cur_cmap[0] == "cmap":
            s = _decode_with_cmap(bytes(raw), cur_cmap[1])
        elif cur_cmap is not None:
            table = cur_cmap[1]
            s = "".join(table[b] for b in bytes(raw))
        else:
            s = _decode_pdf_string(bytes(raw))
        if s == "":
            return
        # y-scale magnitude |(c,d)| keeps rotated text visible while
        # an EXPLICIT "0 Tf" / degenerate matrix renders size 0
        eff = (_DEFAULT_SIZE if tf_size is None else tf_size) * (
            lm[2] * lm[2] + lm[3] * lm[3]
        ) ** 0.5
        if eff <= 0:
            return  # invisible (hidden-text spam layer) — no span
        ny = lm[5]
        if cur_y is not None and abs(ny - cur_y) > _LINE_TOL:
            flush()
        if cur_y is None:
            cur_y = ny
        if moved and cur_text and not cur_text[-1].endswith(" "):
            cur_text.append(" ")  # x-gap on one baseline
        cur_text.append(s)
        cur_size = max(cur_size, eff)
        moved = False

    def emit_media(name: str, w, h):
        flush()
        items.append(("media", name, int(w or 0), int(h or 0)))

    stack: list = []
    for kind, tok in _content_tokens(content):
        if kind == "v":
            stack.append(tok)
            continue
        if kind == "img":
            emit_media("inline", tok[0], tok[1])
            stack.clear()
            continue
        op = tok
        try:
            if op == "BT":
                lm[:] = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]
                moved = True
            elif op == "Tf":
                if stack and isinstance(stack[-1], (int, float)):
                    tf_size = float(stack[-1])
                if len(stack) >= 2 and isinstance(stack[-2], str):
                    cur_cmap = font_decoder(stack[-2])
            elif op == "Td" and len(stack) >= 2:
                translate(float(stack[-2]), float(stack[-1]))
            elif op == "TD" and len(stack) >= 2:
                leading = -float(stack[-1])
                translate(float(stack[-2]), float(stack[-1]))
            elif op == "TL" and stack:
                leading = float(stack[-1])
            elif op == "T*":
                translate(0.0, -leading)
            elif op == "Tm" and len(stack) >= 6:
                lm[:] = [float(v) for v in stack[-6:]]
                moved = True
            elif op == "Tj" and stack:
                show(stack[-1])
            elif op == "'" and stack:
                translate(0.0, -leading)
                show(stack[-1])
            elif op == '"' and stack:
                translate(0.0, -leading)
                show(stack[-1])
            elif op == "TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, (bytes, bytearray)):
                        show(el)
                    elif (
                        isinstance(el, (int, float))
                        and el < _TJ_SPACE
                        and cur_text
                        and not cur_text[-1].endswith(" ")
                    ):
                        cur_text.append(" ")
            elif op == "Do" and stack and isinstance(stack[-1], str):
                name = stack[-1]
                ref = xobjects.get(name)
                xo = _resolve(ref, objs)
                if isinstance(xo, dict) and xo.get("Subtype") == "Image":
                    emit_media(
                        name,
                        _resolve(xo.get("Width"), objs),
                        _resolve(xo.get("Height"), objs),
                    )
                elif (
                    isinstance(xo, dict)
                    and xo.get("Subtype") == "Form"
                    and isinstance(ref, _Ref)
                    and ref.num not in _form_seen
                    and len(_form_seen) < 16
                ):
                    _, raw_stream = objs.get(ref.num, (None, None))
                    if raw_stream is not None:
                        data = _decode_stream(xo, raw_stream, objs)
                        if data:
                            sub = _resolve(xo.get("Resources"), objs)
                            flush()
                            _page_spans(
                                data,
                                sub if isinstance(sub, dict) else resources,
                                objs,
                                items,
                                _form_seen | {ref.num},
                            )
        except (TypeError, ValueError):
            pass  # malformed operands never kill the page
        stack.clear()
    flush()


# ------------------------------------------------------------------
# document-level API
# ------------------------------------------------------------------

def _page_link_uris(page: dict, objs) -> list[str]:
    """URI-action ``/Link`` annotations (§12.5.6.5) on one page, in
    /Annots order — the PDF analogue of the HTML path's ``link``
    spans (no anchor text: mapping the link rect back to glyphs
    needs full geometry, out of scope)."""
    uris: list[str] = []
    annots = _resolve(page.get("Annots"), objs)
    if not isinstance(annots, list):
        return uris
    for a in annots[:512]:  # bound adversarial annot spam
        annot = _resolve(a, objs)
        if not isinstance(annot, dict) or annot.get("Subtype") != "Link":
            continue
        action = _resolve(annot.get("A"), objs)
        if not isinstance(action, dict) or action.get("S") != "URI":
            continue
        uri = _resolve(action.get("URI"), objs)
        if isinstance(uri, (bytes, bytearray)):
            uri = _decode_pdf_string(bytes(uri))
        if isinstance(uri, str) and uri:
            uris.append(uri)
    return uris


def _outline_titles(b: bytes, objs, extents: list) -> list:
    """Document outline / bookmarks (§12.3.3): trailer ``/Root`` →
    catalog ``/Outlines`` → depth-first over ``/First`` child chains
    and ``/Next`` sibling chains.  Returns ``[(title, depth)]`` in
    reading order, cycle-guarded (each outline object visits once)
    and bounded — a malformed self-referencing chain terminates
    instead of spinning.  Titles decode through the shared PDF
    string decoder (literal/hex, UTF-16BE BOM)."""
    roots = [
        int(m.group(1))
        for m in _ROOT_RE.finditer(b)
        if not _in_extents(m.start(), extents)
    ]
    if not roots:
        return []
    cat = _resolve(objs.get(roots[-1], (None, None))[0], objs)
    if not isinstance(cat, dict):
        return []
    root = _resolve(cat.get("Outlines"), objs)
    if not isinstance(root, dict):
        return []
    titles: list = []
    seen: set = set()
    first = root.get("First")
    stack = [(first, 1)] if isinstance(first, _Ref) else []
    while stack and len(titles) < 10_000:
        ref, depth = stack.pop()
        if not isinstance(ref, _Ref) or ref.num in seen:
            continue
        seen.add(ref.num)
        node = objs.get(ref.num, (None, None))[0]
        if not isinstance(node, dict):
            continue
        raw = _resolve(node.get("Title"), objs)
        if isinstance(raw, bytes):
            t = _decode_pdf_string(raw)
            if t:
                titles.append((t, depth))
        # Next pushes FIRST so the child chain pops (and emits)
        # before the sibling — document order
        stack.append((node.get("Next"), depth))
        stack.append((node.get("First"), depth + 1))
    return titles


# the /Info keys worth surfacing, in emission order — the PDF
# counterparts of the HTML head-meta allowlist (title/author/subject/
# keywords map onto the same downstream consumers;
# CreationDate/ModDate are the lastmod analogue for recrawl planning)
_INFO_KEYS = (
    ("Title", "info:title"),
    ("Author", "info:author"),
    ("Subject", "info:subject"),
    ("Keywords", "info:keywords"),
    ("CreationDate", "info:created"),
    ("ModDate", "info:modified"),
)


def _info_metadata(b: bytes, objs, extents: list) -> list:
    """Trailer ``/Info`` document-information dictionary (§14.3.3) →
    ``[(value, key)]`` rows for the allowlisted keys, decoded through
    the shared PDF string decoder.  Same in-extents guard as the
    ``/Root`` scan — an /Info mention inside a content stream must
    not select a bogus dictionary."""
    infos = [
        int(m.group(1))
        for m in _INFO_RE.finditer(b)
        if not _in_extents(m.start(), extents)
    ]
    if not infos:
        return []
    d = _resolve(objs.get(infos[-1], (None, None))[0], objs)
    if not isinstance(d, dict):
        return []
    rows: list = []
    for key, label in _INFO_KEYS:
        raw = _resolve(d.get(key), objs)
        if isinstance(raw, bytes):
            t = _decode_pdf_string(raw)
            if t:
                rows.append((t, label))
    return rows


def extract_pdf_spans(b: bytes) -> list[tuple[str, str, str | None, int]]:
    """Parse one PDF → ordered ``(kind, text, media_ref, offset)``
    spans — the exact span shape the HTML extraction path emits, so
    interleaved corpora get one downstream schema.

    ``kind`` ∈ {heading, text, media, link}: lines at ≥ 1.5× the
    document's median font size are headings; image XObjects / inline
    images are media spans with ``media_ref = pdf:image:<name>:<w>x<h>``;
    URI link annotations are ``("link", "", uri)`` spans after each
    page's content — the same shape the HTML tree emits for ``<a>``,
    so crawl-frontier composition works over mixed corpora.
    """
    if b"%PDF-" not in b[:1024]:  # §7.5.2 allows leading junk
        return []
    objs, extents = _scan_objects(b)
    # encrypted documents (§7.6): every stream/string is ciphertext —
    # decode-by-luck could emit mojibake spans, so refuse outright.
    # The /Encrypt must sit OUTSIDE stream bodies (a PDF tutorial's
    # example trailer inside a content stream must not lock the doc).
    for m in _ENCRYPT_RE.finditer(b):
        if not _in_extents(m.start(), extents):
            return []
    _expand_object_streams(objs)
    items: list = []
    for page, res in _page_order(b, objs, extents):
        content = _page_content(page, objs)
        if content:
            _page_spans(content, res, objs, items)
        for uri in _page_link_uris(page, objs):
            items.append(("link", uri))
    sizes = sorted(it[2] for it in items if it[0] == "line")
    if sizes:
        mid = len(sizes) // 2
        med = (
            sizes[mid]
            if len(sizes) % 2
            else (sizes[mid - 1] + sizes[mid]) / 2.0
        )
    else:
        med = 0.0
    spans: list = []
    for it in items:
        if it[0] == "line":
            kind = "heading" if med > 0 and it[2] >= 1.5 * med else "text"
            spans.append((kind, it[1], None, len(spans)))
        elif it[0] == "link":
            spans.append(("link", "", it[1], len(spans)))
        else:
            _, name, w, h = it
            spans.append(
                ("media", "", f"pdf:image:{name}:{w}x{h}", len(spans))
            )
    # document outline (§12.3.3) as navigation metadata AFTER the
    # content — same channel shape as HTML head-meta spans
    for title, depth in _outline_titles(b, objs, extents):
        spans.append(("meta", title, f"outline:{depth}", len(spans)))
    # /Info document metadata (§14.3.3) last — title/author/dates in
    # the head-meta channel, composable with unified_article_meta
    for value, label in _info_metadata(b, objs, extents):
        spans.append(("meta", value, label, len(spans)))
    return spans


PDF_SPANS_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("offset", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("span_ref", StringType(), True),
    ]
)


def _pdf_span_rows(media_ref, payload) -> list[tuple]:
    """One document → its ``PDF_SPANS_SCHEMA`` rows; a decoder
    exception becomes a single ``error`` span (malformed input ≠ dead
    job)."""
    try:
        spans = extract_pdf_spans(bytes(payload))
    except Exception as e:
        spans = [("error", type(e).__name__, None, 0)]
    return [(media_ref, off, kind, text, sref)
            for kind, text, sref, off in spans]


def decode_pdf_spans(df: DataFrame) -> DataFrame:
    """PDF text+layout extraction over binary payloads — ONE
    Arrow-batched ``udfs.map_rows`` stage (same contract as
    :func:`zhtml_spark.multimodal.decode_image_meta`: a pure map,
    embarrassingly parallel at any scale; no shuffle, no driver
    state).  Input columns: ``media_ref`` (document identity) +
    ``payload`` (binary).  Output: one row per span, offsets dense
    per document.  Structurally unreadable docs produce ZERO rows
    (anti-join input ids against the output to count them); a doc
    that makes the decoder RAISE — a parser bug, not a bad document
    — emits one ``error`` span carrying the exception class name, so
    10^12-doc jobs surface surprises as metric rows, never as a dead
    job."""
    return map_rows(
        df, ["media_ref", "payload"], _pdf_span_rows, PDF_SPANS_SCHEMA
    )
