"""Every Python decoder stage is one ``udfs.map_rows`` stage.

Plan shape: each stage's executed plan holds exactly one MapInArrow
and no MapInPandas or EvalPython node.  Rows: over a small mixed batch
(null payloads included) each stage's output equals a direct call of
its per-document function, and the PDF/feed decoders turn a raising
document into one ``error`` span."""

from __future__ import annotations

import gzip
import struct

import pytest
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from zhtml_spark import feedops, pdfops
from zhtml_spark.extract import ExtractConfig, extract_html, extract_spans
from zhtml_spark.multimodal import (
    _fake_features,
    decode_container_meta,
    decode_image_meta,
    extract_media_features,
    sniff_container_meta,
    sniff_image_meta,
)
from zhtml_spark.sources import _decoded_archives, _stream_gunzip_chunks
from zhtml_spark.tokenizer import tokenize
from zhtml_spark.tree import parse_fragment
from zhtml_spark.udfs import extract_fragments, map_rows, replay_tokenizer


def _plain(v):
    """Collected Rows (nested ones too) → plain tuples/lists."""
    if isinstance(v, tuple):
        return tuple(_plain(x) for x in v)
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def _pdf(content: bytes) -> bytes:
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length %d >> stream\n%s\nendstream" % (len(content), content),
    }
    body = b"".join(b"%d 0 obj %s endobj\n" % kv for kv in objs.items())
    return b"%PDF-1.5\n" + body + b"trailer << /Root 1 0 R >>\n%%EOF"


def _png(w: int, h: int) -> bytes:
    return (b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHDR"
            + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00")


def _wav(ch: int, sr: int) -> bytes:
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sr, sr * ch * 2,
                                ch * 2, 16)
    data = b"data" + struct.pack("<I", sr * ch * 2)
    return b"RIFF" + struct.pack("<I", 4 + len(fmt) + len(data)) + b"WAVE" \
        + fmt + data


_RECORD = "WARC/1.0\r\nWARC-Type: response\r\n\r\n<p>{}</p>\r\n\r\n"
_RSS = ("<rss><channel><title>Feed</title><item><title>One</title>"
        "<description>&lt;p&gt;body &amp; more&lt;/p&gt;</description>"
        '<enclosure url="https://ex.com/a.mp3"/></item></channel></rss>')


def _fragments(spark, tmp_path):
    rows = [("f1", "<li>a<li>b <b>c"), ("f2", None),
            ("f3", "<td>cell</table><img src=x.png>")]
    df = spark.createDataFrame(rows, "doc_id string, fragment string")

    def direct(doc_id, fragment):
        tree, root, errors = parse_fragment(fragment or "", "ul")
        spans = extract_spans(tree, ExtractConfig(), root=root)
        return [(doc_id, [(k, t, m, i) for i, (k, t, m) in enumerate(spans)],
                 list(errors))]

    return extract_fragments(df, "ul"), rows, direct


def _replay(spark, tmp_path):
    rows = [("r1", "a<b>c&amp;d", "Data", None),
            ("r2", "x</title>y</tit", "RCDATA", "title"),
            ("r3", "<!-- open", None, None)]
    df = spark.createDataFrame(
        rows,
        "doc_id string, input string, initial_state string, "
        "last_start_tag string",
    )

    def direct(doc_id, text, state, lst):
        tokens, errors = tokenize(text, initial_state=state or "Data",
                                  last_start_tag=lst)
        runs = [t[1] for t in tokens if t[0] == "Character"]
        return [(doc_id, [("text", t, None, i) for i, t in enumerate(runs)],
                 list(errors))]

    return replay_tokenizer(df), rows, direct


def _pdf_spans(spark, tmp_path):
    rows = [("p0", _pdf(b"BT /F1 24 Tf 72 720 Td (Title) Tj /F1 10 Tf "
                        b"0 -20 TD (body) Tj ET")),
            ("p1", b"broken"), ("p2", None)]
    df = spark.createDataFrame(
        [(r, None if p is None else bytearray(p)) for r, p in rows],
        "media_ref string, payload binary",
    )

    def direct(ref, payload):
        if payload is None:  # bytes(None) raises inside the stage
            return [(ref, 0, "error", "TypeError", None)]
        return [(ref, off, k, t, s)
                for k, t, s, off in pdfops.extract_pdf_spans(payload)]

    return pdfops.decode_pdf_spans(df), rows, direct


def _feed_spans(spark, tmp_path):
    rows = [("d1", _RSS), ("d2", None), ("d3", "<html><p>not a feed")]
    df = spark.createDataFrame(rows, "doc_id string, xml string")

    def direct(doc_id, xml):
        return [(doc_id, off, k, t, m)
                for k, t, m, off in feedops.extract_feed_spans(str(xml))]

    return feedops.decode_feed_spans(df), rows, direct


def _image_meta(spark, tmp_path):
    gif = b"GIF89a" + struct.pack("<HH", 7, 9) + b"\x00" * 4
    rows = [("i1", _png(640, 480)), ("i2", gif), ("i3", b"junk")]
    df = spark.createDataFrame(
        [(r, bytearray(p)) for r, p in rows], "media_ref string, payload binary"
    )

    def direct(ref, payload):
        meta = sniff_image_meta(payload)
        return [(ref, *(meta or (None, None, None)),
                 "sniff" if meta else "none")]

    return decode_image_meta(df), rows, direct


def _container_meta(spark, tmp_path):
    rows = [("a1", _wav(1, 8000)), ("x1", b"not a container")]
    df = spark.createDataFrame(
        [(r, bytearray(p)) for r, p in rows], "media_ref string, payload binary"
    )

    def direct(ref, payload):
        meta = sniff_container_meta(payload)
        if meta is None:
            return [(ref, None, None, None, None, None, None, "none")]
        return [(ref, *meta, "sniff")]

    return decode_container_meta(df), rows, direct


def _media_features(spark, tmp_path):
    rows = [("m1", b"\x89PNG bytes", "image"), ("m2", b"", None)]
    df = spark.createDataFrame(
        [(r, bytearray(p), k) for r, p, k in rows],
        "media_ref string, payload binary, media_kind string",
    )

    def direct(ref, payload, kind):
        digest, feats = _fake_features(payload, 4)
        return [(ref, kind, digest, feats, "hash")]

    return extract_media_features(df, n_features=4), rows, direct


def _gunzip(spark, tmp_path):
    gz = b"".join(
        gzip.compress(_RECORD.format(i).encode()) for i in range(3)
    )
    rows = [("a.warc.gz", gz), ("b.warc", _RECORD.format("plain").encode())]
    df = spark.createDataFrame(
        [(p, bytearray(c)) for p, c in rows], "path string, content binary"
    )

    def direct(path, content):
        if not path.endswith(".gz"):  # the JVM-side decode branch
            return [(content.decode(),)]
        return [(c,) for c in _stream_gunzip_chunks(content, "UTF-8")]

    return _decoded_archives(df), rows, direct


def _src_offsets(spark, tmp_path):
    import __spark_entry__ as entry

    rows = [(1, "plain words"), (22, "a &amp; b"), (303, None)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    cfg = ExtractConfig(with_source_offsets=True)

    def direct(did, text):
        spans, _ = extract_html(f"<body><h1>Doc {did}</h1><p>{text}</p></body>",
                                cfg)
        return [(str(did), off, k, t, src)
                for off, (k, t, _ref, src) in enumerate(spans)]

    return entry._q_extract_src_offsets(spark, str(tmp_path)), rows, direct


STAGES = {
    "extract_fragments": _fragments,
    "replay_tokenizer": _replay,
    "decode_pdf_spans": _pdf_spans,
    "decode_feed_spans": _feed_spans,
    "decode_image_meta": _image_meta,
    "decode_container_meta": _container_meta,
    "extract_media_features": _media_features,
    "gunzip_archives": _gunzip,
    "extract_src_offsets": _src_offsets,
}


@pytest.mark.parametrize("stage", sorted(STAGES))
def test_decoder_stage_is_one_map_rows(spark, tmp_path, stage):
    out, rows, direct = STAGES[stage](spark, tmp_path)
    got = sorted((_plain(r) for r in out.collect()), key=repr)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    want = sorted((o for r in rows for o in direct(*r)), key=repr)
    assert got == want


@pytest.mark.parametrize(
    "module, parser, row_fn, doc",
    [(pdfops, "extract_pdf_spans", "_pdf_span_rows", b"%PDF-1.5"),
     (feedops, "extract_feed_spans", "_feed_span_rows", "<rss>")],
)
def test_raising_document_becomes_error_span(monkeypatch, module, parser,
                                             row_fn, doc):
    def boom(_doc):
        raise RecursionError("parser bug")

    monkeypatch.setattr(module, parser, boom)
    assert getattr(module, row_fn)("d", doc) == [
        ("d", 0, "error", "RecursionError", None)
    ]


def test_map_rows_zero_one_many_and_nulls(spark):
    """The helper's contract: ``fn`` sees Arrow nulls as None and may
    return any number of tuples; nested types and empty output batches
    are typed by the declared schema."""
    schema = StructType([
        StructField("k", StringType(), False),
        StructField("n", IntegerType()),
        StructField("parts", ArrayType(StringType())),
        StructField("counts", MapType(StringType(), IntegerType())),
    ])
    df = spark.createDataFrame(
        [("a", "x y"), ("b", None), ("c", "")], "k string, s string"
    )

    def fn(k, s):
        if s is None:
            return [(k, None, None, None)]
        return [(k, i, s.split()[: i + 1], {w: i for w in s.split()})
                for i in range(len(s.split()))]

    got = sorted(_plain(r) for r in map_rows(df, ["k", "s"], fn, schema)
                 .collect())
    assert got == [("a", 0, ["x"], {"x": 0, "y": 0}),
                   ("a", 1, ["x", "y"], {"x": 1, "y": 1}),
                   ("b", None, None, None)]
    empty = map_rows(df.where("k = 'c'"), ["k", "s"], fn, schema)
    assert empty.schema == schema and empty.collect() == []
