"""PDF text + layout extraction (pdfops) — pure-Python parser units
plus the Spark map_rows round trip.

Every builder here constructs the PDF bytes from scratch (no
fixtures, no libraries), so each test states its expectation from
construction knowledge — the same discipline as the image/container
sniffer oracles."""

import re
import time
import zlib

import pytest

from zhtml_spark.pdfops import (
    _OBJ_HEAD_AT_RE,
    _OBJ_HEAD_RE,
    _parse_lit_string,
    _parse_object,
    _Ref,
    extract_pdf_spans,
)


def _pdf(objects: dict[int, bytes], root: int = 1) -> bytes:
    """Assemble numbered objects + a classic trailer."""
    out = [b"%PDF-1.5\n"]
    for num in sorted(objects):
        out.append(b"%d 0 obj " % num + objects[num] + b" endobj\n")
    out.append(b"trailer << /Root %d 0 R >>\n%%%%EOF" % root)
    return b"".join(out)


def _stream_obj(d: bytes, data: bytes, length: int | None = None) -> bytes:
    n = len(data) if length is None else length
    return (
        b"<< %s /Length %d >> stream\n" % (d, n) + data + b"\nendstream"
    )


def _doc(content: bytes, extra: dict[int, bytes] | None = None,
         page_extra: bytes = b"") -> bytes:
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
           + page_extra + b" >>",
        4: _stream_obj(b"", content),
    }
    if extra:
        objs.update(extra)
    return _pdf(objs)


# ------------------------------------------------------------ syntax

def test_literal_string_escapes():
    s, _ = _parse_lit_string(rb"(a\(b\)c \164 \n nest(ed) \\)", 0)
    assert s == b"a(b)c t \n nest(ed) \\"


def test_literal_string_octal_and_continuation():
    s, _ = _parse_lit_string(b"(\\101\\0028 cont\\\nnext)", 0)
    # \101='A'; \002 stops at 3 digits then literal '8'; \<LF> vanishes
    assert s == b"A\x028 contnext"


def test_object_parser_dict_array_ref():
    v, _ = _parse_object(
        b"<< /A [1 2.5 (s) /N] /R 7 0 R /Neg -3 >>", 0
    )
    assert v["A"] == [1, 2.5, b"s", "N"]
    assert isinstance(v["R"], _Ref) and v["R"].num == 7
    assert v["Neg"] == -3


def test_number_pair_is_not_a_reference():
    # "0 -14 TD"-shaped input must not eat the second int as a ref
    v, j = _parse_object(b"0 -14 TD", 0)
    assert v == 0 and j == 1


# ------------------------------------------------------- text layout

def test_basic_lines_and_heading_classification():
    spans = extract_pdf_spans(_doc(
        b"BT /F1 24 Tf 72 720 Td (Title) Tj ET\n"
        b"BT /F1 10 Tf 72 700 Td (Body one) Tj 0 -14 TD (Body two) Tj ET"
    ))
    assert spans == [
        ("heading", "Title", None, 0),
        ("text", "Body one", None, 1),
        ("text", "Body two", None, 2),
    ]


def test_tj_kerning_space_threshold():
    spans = extract_pdf_spans(_doc(
        b"BT /F1 10 Tf 72 720 Td [(A) -250 (B) -50 (C)] TJ ET"
    ))
    # -250 < -180 emits a space; -50 does not
    assert [s[1] for s in spans] == ["A BC"]


def test_same_baseline_x_move_inserts_gap():
    spans = extract_pdf_spans(_doc(
        b"BT /F1 10 Tf 72 720 Td (left) Tj 200 0 Td (right) Tj ET"
    ))
    assert [s[1] for s in spans] == ["left right"]


def test_tstar_leading_and_quote_ops():
    spans = extract_pdf_spans(_doc(
        b"BT /F1 10 Tf 14 TL 72 720 Td (a) Tj T* (b) Tj (c) ' ET"
    ))
    assert [s[1] for s in spans] == ["a", "b", "c"]


def test_hex_and_utf16_strings():
    spans = extract_pdf_spans(_doc(
        b"BT /F1 10 Tf 72 720 Td <48657821> Tj "
        b"0 -20 Td (\\376\\377\\000H\\000i) Tj ET"
    ))
    assert [s[1] for s in spans] == ["Hex!", "Hi"]


def test_tm_positioning_and_scale():
    spans = extract_pdf_spans(_doc(
        b"BT /F1 10 Tf 2 0 0 2 72 720 Tm (big) Tj "
        b"1 0 0 1 72 700 Tm (small one) Tj "
        b"1 0 0 1 72 680 Tm (small two) Tj ET"
    ))
    # eff sizes 20/10/10 -> median 10, 20 >= 15 -> heading
    assert [(s[0], s[1]) for s in spans] == [
        ("heading", "big"), ("text", "small one"), ("text", "small two"),
    ]


# ----------------------------------------------- streams and filters

def test_flate_and_asciihex_content():
    content = b"BT /F1 10 Tf 72 720 Td (compressed) Tj ET"
    flate = zlib.compress(content, 9)
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: _stream_obj(b"/Filter /FlateDecode", flate),
        5: b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>",
        6: _stream_obj(
            b"/Filter /ASCIIHexDecode",
            b"BT /F1 10 Tf 72 720 Td (hexed) Tj ET".hex().encode()
            + b">",
        ),
    })
    assert [s[1] for s in extract_pdf_spans(doc)] == [
        "compressed", "hexed"
    ]


def test_unknown_filter_and_predictor_are_skipped_not_fatal():
    good = b"BT /F1 10 Tf 72 720 Td (ok) Tj ET"
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 5 0 R 7 0 R] /Count 3 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: _stream_obj(b"/Filter /DCTDecode", b"\xff\xd8junk"),
        5: b"<< /Type /Page /Contents 6 0 R >>",
        6: _stream_obj(
            b"/Filter /FlateDecode /DecodeParms << /Predictor 12 >>",
            zlib.compress(good),
        ),
        7: b"<< /Type /Page /Contents 8 0 R >>",
        8: _stream_obj(b"", good),
    })
    assert [s[1] for s in extract_pdf_spans(doc)] == ["ok"]


def test_indirect_length_falls_back_to_endstream_search():
    content = b"BT /F1 10 Tf 72 720 Td (indirect) Tj ET"
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: b"<< /Length 5 0 R >> stream\n" + content + b"\nendstream",
        5: b"%d" % len(content),
    })
    assert [s[1] for s in extract_pdf_spans(doc)] == ["indirect"]


def test_object_stream_expansion():
    # page 3 and contents dict live INSIDE a compressed ObjStm;
    # the content stream itself stays a direct object (7)
    inner = b"3 0 << /Type /Page /Contents 7 0 R >>"
    # header: "3 3" -> obj 3 at offset 3+len("3 3 ")? build precisely:
    body = b"<< /Type /Page /Contents 7 0 R >>"
    head = b"3 0 "
    data = head + body
    first = len(head)
    objstm = zlib.compress(data)
    content = b"BT /F1 10 Tf 72 720 Td (from objstm) Tj ET"
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        6: _stream_obj(
            b"/Type /ObjStm /N 1 /First %d /Filter /FlateDecode"
            % first,
            objstm,
        ),
        7: _stream_obj(b"", content),
    })
    assert [s[1] for s in extract_pdf_spans(doc)] == ["from objstm"]
    assert inner  # silence lint on the explanatory literal


# ------------------------------------------------- pages and media

def test_page_tree_order_and_inherited_resources():
    img = _stream_obj(
        b"/Type /XObject /Subtype /Image /Width 33 /Height 44", b"X"
    )
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        # resources on the Pages NODE, inherited by both kids
        2: b"<< /Type /Pages /Kids [5 0 R 3 0 R] /Count 2 "
           b"/Resources << /XObject << /Im9 8 0 R >> >> >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: _stream_obj(b"", b"BT /F1 10 Tf 72 720 Td (second) Tj ET"),
        5: b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>",
        6: _stream_obj(
            b"",
            b"BT /F1 10 Tf 72 720 Td (first) Tj ET q /Im9 Do Q",
        ),
        8: img,
    })
    assert extract_pdf_spans(doc) == [
        ("text", "first", None, 0),
        ("media", "", "pdf:image:Im9:33x44", 1),
        ("text", "second", None, 2),
    ]


def test_inline_image_skipped_safely_and_emitted():
    spans = extract_pdf_spans(_doc(
        b"BT /F1 10 Tf 72 720 Td (before) Tj ET\n"
        b"BI /W 7 /H 9 /BPC 8 ID \x00\x01EIEI\xff EI\n"
        b"BT /F1 10 Tf 72 700 Td (after) Tj ET"
    ))
    assert spans == [
        ("text", "before", None, 0),
        ("media", "", "pdf:image:inline:7x9", 1),
        ("text", "after", None, 2),
    ]


def test_non_image_do_is_not_media():
    form = _stream_obj(b"/Type /XObject /Subtype /Form", b"")
    spans = extract_pdf_spans(_doc(
        b"q /Fm1 Do Q BT /F1 10 Tf 72 720 Td (t) Tj ET",
        extra={5: form},
        page_extra=b"/Resources << /XObject << /Fm1 5 0 R >> >>",
    ))
    assert [s[0] for s in spans] == ["text"]


def test_obj_header_bytes_inside_stream_do_not_clobber():
    # the content stream CONTAINS the bytes "3 0 obj" (the real page
    # object's number) — the scanner must skip stream bodies
    content = (
        b"BT /F1 10 Tf 72 720 Td (about 3 0 obj syntax) Tj ET"
    )
    assert [s[1] for s in extract_pdf_spans(_doc(content))] == [
        "about 3 0 obj syntax"
    ]


def test_root_pattern_inside_stream_is_ignored():
    # "/Root 9 0 R" inside the content stream must not select a
    # bogus catalog (object 9 does not exist)
    content = (
        b"BT /F1 10 Tf 72 720 Td (trailer has /Root 9 0 R) Tj ET"
    )
    assert [s[1] for s in extract_pdf_spans(_doc(content))] == [
        "trailer has /Root 9 0 R"
    ]


def test_malformed_object_does_not_swallow_later_objects():
    # an unterminated dict BEFORE the real objects: the scan must
    # still find the document behind it
    broken = b"%PDF-1.4\n9 0 obj << /Never /Terminated\n"
    good = _doc(b"BT /F1 10 Tf 72 720 Td (survives) Tj ET")
    doc = broken + good[len(b"%PDF-1.4\n"):]
    assert [s[1] for s in extract_pdf_spans(doc)] == ["survives"]


def test_zero_size_hidden_text_is_dropped():
    spans = extract_pdf_spans(_doc(
        b"BT /F1 6 Tf 72 720 Td (visible) Tj "
        b"/F1 0 Tf 0 -20 Td (hidden spam layer) Tj ET"
    ))
    assert [(s[0], s[1]) for s in spans] == [("text", "visible")]


def test_rotated_text_stays_visible():
    # 90-degree rotation matrix has d=0 but |(c,d)| = 1
    spans = extract_pdf_spans(_doc(
        b"BT /F1 10 Tf 0 1 -1 0 300 300 Tm (sideways) Tj ET"
    ))
    assert [(s[0], s[1]) for s in spans] == [("text", "sideways")]


# ------------------------------------------------------- robustness

@pytest.mark.parametrize("b", [
    b"",
    b"not a pdf at all",
    b"%PDF-1.4\ngarbage only",
    b"%PDF-1.4\n1 0 obj << /Type /Page >> endobj",  # page, no content
    b"%PDF-1.4\n1 0 obj << /Unterminated",
    b"%PDF-1.4\n1 0 obj (string never closes",
])
def test_malformed_inputs_yield_no_spans_and_no_exception(b):
    assert extract_pdf_spans(b) == []


def test_page_tree_cycle_is_guarded():
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [2 0 R 3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: _stream_obj(b"", b"BT /F1 10 Tf 72 720 Td (cyc) Tj ET"),
    })
    assert [s[1] for s in extract_pdf_spans(doc)] == ["cyc"]


def test_incremental_update_last_definition_wins():
    old = _doc(b"BT /F1 10 Tf 72 720 Td (old) Tj ET")
    append = (
        b"\n4 0 obj "
        + _stream_obj(b"", b"BT /F1 10 Tf 72 720 Td (new) Tj ET")
        + b" endobj\ntrailer << /Root 1 0 R >>\n"
    )
    assert [s[1] for s in extract_pdf_spans(old + append)] == ["new"]


# ------------------------------------------------------------ spark

def test_decode_pdf_spans_spark_roundtrip(spark):
    docs = [
        ("pdf://0", bytearray(_doc(
            b"BT /F1 24 Tf 72 720 Td (T0) Tj /F1 10 Tf 0 -20 TD "
            b"(b) Tj 0 -14 TD (c) Tj ET"
        ))),
        ("pdf://1", bytearray(b"broken")),
    ]
    df = spark.createDataFrame(docs, "media_ref string, payload binary")
    from zhtml_spark.pdfops import decode_pdf_spans

    rows = sorted(
        (r.media_ref, r.offset, r.kind, r.text, r.span_ref)
        for r in decode_pdf_spans(df).collect()
    )
    assert rows == [
        ("pdf://0", 0, "heading", "T0", None),
        ("pdf://0", 1, "text", "b", None),
        ("pdf://0", 2, "text", "c", None),
    ]


# ---------------------------------------------------- ToUnicode CMaps


def _cid_doc(content: bytes, cmap: bytes) -> bytes:
    return _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources << /Font << /F9 5 0 R >> >> >>",
        4: _stream_obj(b"", content),
        5: b"<< /Type /Font /Subtype /Type0 /BaseFont /AAAA+Fake "
           b"/ToUnicode 6 0 R >>",
        6: _stream_obj(b"", cmap),
    })


_CMAP = (
    b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
    b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    b"2 beginbfchar\n<0001> <0043>\n<0002> <006D0061>\nendbfchar\n"
    b"2 beginbfrange\n"
    b"<0010> <0012> <0070>\n"
    b"<0020> <0021> [<0058> <00590059>]\n"
    b"endbfrange\nendcmap\n"
)


def test_tounicode_bfchar_and_bfrange():
    """2-byte glyph codes decode ONLY via the CMap: single- and
    multi-char bfchar destinations, an incrementing bfrange, and the
    array-destination bfrange form."""
    from zhtml_spark.pdfops import extract_pdf_spans

    spans = extract_pdf_spans(_cid_doc(
        b"BT /F9 10 Tf 72 720 Td <00010002001000110012> Tj ET", _CMAP
    ))
    assert spans == [("text", "Cmapqr", None, 0)]
    spans = extract_pdf_spans(_cid_doc(
        b"BT /F9 10 Tf 72 720 Td <00200021> Tj ET", _CMAP
    ))
    assert spans == [("text", "XYY", None, 0)]


def test_tounicode_unmapped_code_is_replacement():
    from zhtml_spark.pdfops import extract_pdf_spans

    spans = extract_pdf_spans(_cid_doc(
        b"BT /F9 10 Tf 72 720 Td <00010099> Tj ET", _CMAP
    ))
    assert spans == [("text", "C�", None, 0)]


def test_tounicode_one_byte_codespace():
    """Simple embedded fonts use 1-byte codes — width comes from the
    codespacerange."""
    from zhtml_spark.pdfops import extract_pdf_spans

    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"1 beginbfchar\n<41> <00E9>\nendbfchar\n"  # 'A' -> e-acute
        b"endcmap\n"
    )
    spans = extract_pdf_spans(_cid_doc(
        b"BT /F9 10 Tf 72 720 Td (AA) Tj ET", cmap
    ))
    assert spans == [("text", "éé", None, 0)]


def test_tounicode_font_switch_restores_plain_decode():
    """Tf to a font WITHOUT a CMap mid-page must drop back to the
    plain string decode."""
    from zhtml_spark.pdfops import extract_pdf_spans

    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources << /Font << /F9 5 0 R /F1 7 0 R >> >> >>",
        4: _stream_obj(
            b"",
            b"BT /F9 10 Tf 72 720 Td <0001> Tj "
            b"/F1 10 Tf (plain) Tj ET",
        ),
        5: b"<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>",
        6: _stream_obj(b"", _CMAP),
        7: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    })
    from zhtml_spark.pdfops import extract_pdf_spans as ex

    assert ex(doc) == [("text", "Cplain", None, 0)]


def test_tounicode_garbage_cmap_is_ignored():
    """An undecodable/empty CMap keeps the plain decode — never an
    exception, never empty output."""
    from zhtml_spark.pdfops import extract_pdf_spans

    spans = extract_pdf_spans(_cid_doc(
        b"BT /F9 10 Tf 72 720 Td (ok) Tj ET",
        b"\x00\xffnot a cmap at all",
    ))
    assert spans == [("text", "ok", None, 0)]


def test_simple_font_differences_encoding():
    """TeX-style /Differences remap: byte codes decode through glyph
    names (AGL subset + uniXXXX), unnamed codes keep the base
    encoding."""
    from zhtml_spark.pdfops import extract_pdf_spans

    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources << /Font << /F1 5 0 R >> >> >>",
        4: _stream_obj(
            b"", b"BT /F1 10 Tf 72 720 Td (\x01\x02x \x10\x11) Tj ET"
        ),
        5: b"<< /Type /Font /Subtype /Type1 /Encoding << "
           b"/Differences [1 /eacute /germandbls 16 /endash /uni2713]"
           b" >> >>",
    })
    assert extract_pdf_spans(doc) == [("text", "éßx –✓", None, 0)]


def test_simple_font_winansi_encoding_name():
    """/Encoding /WinAnsiEncoding: the 0x80–0x9F block decodes as
    cp1252 (euro, curly quote) instead of latin-1 control chars."""
    from zhtml_spark.pdfops import extract_pdf_spans

    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources << /Font << /F1 5 0 R >> >> >>",
        4: _stream_obj(b"", b"BT /F1 10 Tf 72 720 Td (\x80 \x92) Tj ET"),
        5: b"<< /Type /Font /Subtype /Type1 "
           b"/Encoding /WinAnsiEncoding >>",
    })
    assert extract_pdf_spans(doc) == [("text", "€ ’", None, 0)]


def test_tounicode_wins_over_encoding_table():
    from zhtml_spark.pdfops import _glyph_to_text

    assert _glyph_to_text("a") == "a"
    assert _glyph_to_text("Aacute") == "Á"
    assert _glyph_to_text("uni00E900EA") == "éê"
    assert _glyph_to_text("u1F600") == "😀"
    assert _glyph_to_text("g123") is None

# ------------------------------------------- classic stream filters
#
# LZW is round-tripped against an INDEPENDENT encoder written here
# (9->12-bit variable codes, early change, clear/EOD), RunLength
# against its trivial encoder, ASCII85 against hand-laid armor — so
# each expectation comes from construction knowledge, not the
# decoder under test.


def _lzw_encode(data: bytes) -> bytes:
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    out_bits: list[tuple[int, int]] = [(256, 9)]  # leading clear
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        out_bits.append((table[w], width))
        table[wc] = next_code
        next_code += 1
        # early change: decoder widens one code before the table fills
        if next_code + 1 > (1 << width) and width < 12:
            width += 1
        w = bytes([ch])
    if w:
        out_bits.append((table[w], width))
    out_bits.append((257, width))  # EOD
    acc = nbits = 0
    enc = bytearray()
    for code, wd in out_bits:
        acc = (acc << wd) | code
        nbits += wd
        while nbits >= 8:
            nbits -= 8
            enc.append((acc >> nbits) & 0xFF)
    if nbits:
        enc.append((acc << (8 - nbits)) & 0xFF)
    return bytes(enc)


def _rle_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while i + run < len(data) and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + 1
            while (
                j < len(data)
                and j - i < 128
                and not (j + 1 < len(data) and data[j + 1] == data[j])
            ):
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    out.append(128)
    return bytes(out)


def test_lzw_rle_a85_filters():
    import base64

    mk = lambda s: b"BT /F1 10 Tf 72 720 Td (" + s + b") Tj ET"
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 5 0 R 7 0 R] /Count 3 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: _stream_obj(b"/Filter /LZWDecode", _lzw_encode(mk(b"lzw text"))),
        5: b"<< /Type /Page /Contents 6 0 R >>",
        6: _stream_obj(b"/Filter /RunLengthDecode",
                       _rle_encode(mk(b"run   length"))),
        7: b"<< /Type /Page /Contents 8 0 R >>",
        8: _stream_obj(b"/Filter /ASCII85Decode",
                       base64.a85encode(mk(b"armored")) + b"~>"),
    })
    assert [s[1] for s in extract_pdf_spans(doc)] == [
        "lzw text", "run   length", "armored"
    ]


def test_lzw_long_run_widens_code_width():
    # >256 new table entries forces the 9->10->11-bit transitions;
    # a repetitive body also exercises the code==len(table) branch.
    body = (b"abcd" * 200 + bytes(range(256)) + b"aaaaaaa") * 2
    content = b"BT /F1 10 Tf 72 720 Td (wide) Tj ET % " \
        + body.replace(b"(", b"_").replace(b")", b"_").replace(b"\\", b"_") \
        + b"\n"
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: _stream_obj(b"/Filter /LZWDecode", _lzw_encode(content)),
    })
    assert [s[1] for s in extract_pdf_spans(doc)] == ["wide"]


def test_a85_chained_with_flate_and_ws_tolerance():
    import base64

    content = b"BT /F1 10 Tf 72 720 Td (chained) Tj ET"
    armored = base64.a85encode(zlib.compress(content))
    # split with newlines the way real encoders wrap at col 75
    wrapped = b"\n".join(armored[i:i + 60]
                         for i in range(0, len(armored), 60))
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: _stream_obj(b"/Filter [/ASCII85Decode /FlateDecode]",
                       b"<~" + wrapped + b"~>"),
    })
    assert [s[1] for s in extract_pdf_spans(doc)] == ["chained"]


def test_a85_z_shorthand_and_garbage_fail_safe():
    from zhtml_spark.pdfops import _a85_decode, _lzw_decode, _rle_decode

    # 'z' = four zero bytes (stdlib decodes it; our wrapper strips armor)
    assert _a85_decode(b"z~>") == b"\x00\x00\x00\x00"
    assert _a85_decode(b"<~z~>") == b"\x00\x00\x00\x00"
    assert _a85_decode(b"v{{{") is None  # out-of-range group
    assert _lzw_decode(b"\xff\xff\xff\xff") is None  # code past table
    assert _rle_decode(b"\x05ab") is None  # literal run truncated
    assert _rle_decode(b"\xfe") is None  # repeat with no byte


def test_lzw_early_change_zero_parm_fails_safe():
    good = b"BT /F1 10 Tf 72 720 Td (ok) Tj ET"
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: _stream_obj(
            b"/Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>",
            _lzw_encode(good),
        ),
        5: b"<< /Type /Page /Contents 6 0 R >>",
        6: _stream_obj(b"", good),
    })
    assert [s[1] for s in extract_pdf_spans(doc)] == ["ok"]


# ------------------------------------- form XObjects + link annots

def test_form_xobject_text_and_cycle_guard():
    page = (b"BT /F1 10 Tf 72 720 Td (before) Tj ET"
            b" q /Fx1 Do Q"
            b" BT /F1 10 Tf 72 600 Td (after) Tj ET")
    form1 = b"BT /F1 10 Tf 10 10 Td (inside) Tj ET /Fx2 Do"
    form2 = b"BT /F1 10 Tf 0 0 Td (nested) Tj ET /Fx1 Do"  # cycle
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R /Resources"
           b" << /XObject << /Fx1 5 0 R /Fx2 6 0 R >> >> >>",
        4: _stream_obj(b"", page),
        5: _stream_obj(b"/Type /XObject /Subtype /Form", form1),
        6: _stream_obj(b"/Type /XObject /Subtype /Form", form2),
    })
    assert [s[1] for s in extract_pdf_spans(doc)] == [
        "before", "inside", "nested", "after"
    ]


def test_form_inherits_invoker_resources():
    # the form has NO /Resources: its /F7 font must resolve through
    # the page's dict (ToUnicode cmap maps 0x01 -> "Z")
    cmap = (b"begincmap\n1 begincodespacerange\n<00> <FF>\n"
            b"endcodespacerange\n1 beginbfchar\n<01> <005A>\n"
            b"endbfchar\nendcmap\n")
    form = b"BT /F7 10 Tf 5 5 Td <01> Tj ET"
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R /Resources"
           b" << /XObject << /Fm 5 0 R >>"
           b" /Font << /F7 6 0 R >> >> >>",
        4: _stream_obj(b"", b"/Fm Do"),
        5: _stream_obj(b"/Type /XObject /Subtype /Form", form),
        6: b"<< /Type /Font /Subtype /Type0 /ToUnicode 7 0 R >>",
        7: _stream_obj(b"", cmap),
    })
    assert [s[1] for s in extract_pdf_spans(doc)] == ["Z"]


def test_form_with_filter_and_own_resources():
    # compressed form stream with its OWN font table; a /Fx name that
    # is an Image in the page dict stays a media span
    form = b"BT /F1 10 Tf 1 1 Td (deep) Tj ET"
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R /Resources"
           b" << /XObject << /Fm 5 0 R /Im 6 0 R >> >> >>",
        4: _stream_obj(b"", b"/Fm Do /Im Do"),
        5: _stream_obj(
            b"/Type /XObject /Subtype /Form /Filter /FlateDecode"
            b" /Resources << >>",
            zlib.compress(form),
        ),
        6: _stream_obj(
            b"/Type /XObject /Subtype /Image /Width 30 /Height 20",
            b"X",
        ),
    })
    assert extract_pdf_spans(doc) == [
        ("text", "deep", None, 0),
        ("media", "", "pdf:image:Im:30x20", 1),
    ]


def test_link_annotations_emit_link_spans():
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R"
           b" /Annots [5 0 R 6 0 R 7 0 R] >>",
        4: _stream_obj(b"", b"BT /F1 10 Tf 72 720 Td (body) Tj ET"),
        5: b"<< /Type /Annot /Subtype /Link /Rect [0 0 9 9]"
           b" /A << /S /URI /URI (https://a.test/p?x=1) >> >>",
        6: b"<< /Type /Annot /Subtype /Widget >>",  # not a link
        7: b"<< /Type /Annot /Subtype /Link"
           b" /A << /S /GoTo /D [3 0 R] >> >>",  # internal: skipped
    })
    assert extract_pdf_spans(doc) == [
        ("text", "body", None, 0),
        ("link", "", "https://a.test/p?x=1", 1),
    ]


def test_link_annots_indirect_and_malformed():
    doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R /Annots 5 0 R >>",
        4: _stream_obj(b"", b"BT /F1 10 Tf 72 720 Td (t) Tj ET"),
        5: b"[6 0 R 8 0 R]",
        6: b"<< /Type /Annot /Subtype /Link /A 7 0 R >>",
        7: b"<< /S /URI /URI (mailto:x@y.test) >>",
        8: b"<< /Type /Annot /Subtype /Link /A << /S /URI >> >>",
    })
    assert extract_pdf_spans(doc) == [
        ("text", "t", None, 0),
        ("link", "", "mailto:x@y.test", 1),
    ]


def test_encrypted_pdf_refuses_outright():
    """§7.6: an /Encrypt trailer entry means every stream and string
    is ciphertext — even a ciphertext that happens to pattern-match
    text operators must emit ZERO spans, never mojibake.  An
    /Encrypt STRING inside a stream body (a PDF tutorial about
    encryption) must NOT lock an unencrypted document."""
    good = b"BT /F1 10 Tf 72 720 Td (open) Tj ET"
    enc_doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: _stream_obj(b"", good),  # plaintext, but doc says encrypted
        5: b"<< /Filter /Standard /V 2 /R 3 /O (x) /U (y) /P -44 >>",
    })
    enc_doc = enc_doc.replace(
        b"trailer << /Root 1 0 R >>",
        b"trailer << /Root 1 0 R /Encrypt 5 0 R >>",
    )
    assert extract_pdf_spans(enc_doc) == []
    # decoy: "/Encrypt 9 0 R" as CONTENT inside a stream body
    body = (b"BT /F1 10 Tf 72 720 Td "
            b"(see) Tj ET % /Encrypt 9 0 R in a comment\n")
    open_doc = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Contents 4 0 R >>",
        4: _stream_obj(b"", body),
    })
    assert [s[1] for s in extract_pdf_spans(open_doc)] == ["see"]


def test_outline_titles_walk_depth_and_utf16():
    """§12.3.3 outline: depth-first child-before-sibling order,
    UTF-16BE BOM titles decode, cycles terminate."""
    from zhtml_spark.pdfops import extract_pdf_spans

    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R /Outlines 4 0 R >>"
        b" endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 8 0 R >>"
        b" endobj\n"
        b"4 0 obj << /Type /Outlines /First 5 0 R /Last 6 0 R >>"
        b" endobj\n"
        b"5 0 obj << /Title (Chapter 1) /Next 6 0 R /First 7 0 R"
        b" /Last 7 0 R >> endobj\n"
        b"6 0 obj << /Title <FEFF005200E900730075006D00E9> >>"
        b" endobj\n"
        b"7 0 obj << /Title (Intro) /Parent 5 0 R >> endobj\n"
        b"8 0 obj << /Length 40 >> stream\n"
        b"BT /F1 12 Tf 72 720 Td (Body here) Tj ET\n"
        b"endstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    spans = extract_pdf_spans(pdf)
    assert spans == [
        ("text", "Body here", None, 0),
        ("meta", "Chapter 1", "outline:1", 1),
        ("meta", "Intro", "outline:2", 2),
        ("meta", "Résumé", "outline:1", 3),
    ]
    # a Next pointer looping back terminates (cycle guard)
    loop = pdf.replace(
        b"7 0 obj << /Title (Intro) /Parent 5 0 R >>",
        b"7 0 obj << /Title (Intro) /Next 5 0 R >>",
    )
    assert len(extract_pdf_spans(loop)) == 4
    # trailer /Info metadata follows the outline, allowlist order
    info = pdf.replace(
        b"trailer << /Root 1 0 R >>",
        b"9 0 obj << /Title (Doc T) /Author (A) /Producer (ghost)"
        b" >> endobj\ntrailer << /Root 1 0 R /Info 9 0 R >>",
    )
    tail = extract_pdf_spans(info)[-2:]
    assert tail == [
        ("meta", "Doc T", "info:title", 4),
        ("meta", "A", "info:author", 5),
    ]  # /Producer is not allowlisted


# ------------------------------------------------------------ scan cost


def test_digit_run_scans_in_linear_time():
    """The object-header search once rescanned a digit run from each
    of its digits (20 KB of digits took ~5 s, quadratic)."""
    t0 = time.perf_counter()
    assert extract_pdf_spans(b"%PDF-1.4\n" + b"0" * 1_000_000) == []
    assert time.perf_counter() - t0 < 0.5


def test_object_header_scan_matches_plain_search():
    """Match-at-pos, then a search that never starts inside a digit
    run, finds what the plain backtracking search finds, from every
    position, including one inside a digit run."""
    plain = re.compile(rb"(\d+)\s+\d+\s+obj\b")
    for b in (
        b"12 0 obj",
        b"5 12 0 obj << >> endobj 7 0 obj",
        b"123 0 objx 45 6\n obj",
        b"1 2 3 obj 99 0 obj9 1 0 obj",
        b"0000 0 0 obj",
    ):
        for pos in range(len(b) + 1):
            want = plain.search(b, pos)
            got = _OBJ_HEAD_AT_RE.match(b, pos) or _OBJ_HEAD_RE.search(b, pos)
            assert (got and got.span()) == (want and want.span()), (b, pos)
