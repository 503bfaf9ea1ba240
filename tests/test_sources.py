"""WARC source: synthesize archives, read them back through the
JVM-side record splitter, extract spans end-to-end."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from conftest import assert_jvm_only

from zhtml_spark.pipeline import extract_documents
from zhtml_spark.sources import (
    parse_warc_records,
    read_warc,
    warc_record,
    warc_to_documents,
)


def _synth_archive(spark, n):
    docs = spark.range(n).select(
        F.concat(F.lit("https://ex.com/p"), F.col("id")).alias("url"),
        F.lit("2024-01-01T00:00:00Z").alias("date"),
        F.concat(
            F.lit("<body><h1>T"), F.col("id"),
            F.lit("</h1><p>body "), F.col("id"), F.lit("</p></body>"),
        ).alias("html"),
    )
    return docs.select(
        warc_record(F.col("url"), F.col("date"), F.col("html")).alias("rec")
    ).agg(F.concat_ws("", F.collect_list("rec")).alias("content"))


def test_warc_roundtrip_and_extract(spark):
    archive = _synth_archive(spark, 20)
    recs = parse_warc_records(archive)
    assert recs.count() == 20
    row = recs.orderBy("warc_url").first()
    assert row["warc_url"] == "https://ex.com/p0"
    assert row["warc_date"] == "2024-01-01T00:00:00Z"
    assert row["html"].startswith("<body><h1>T0</h1>")

    out = extract_documents(warc_to_documents(recs))
    flat = out.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text"
    )
    assert flat.count() == 40  # heading + paragraph per record
    assert flat.where(F.col("kind") == "heading").count() == 20


def test_warc_file_scan(spark, tmp_path):
    content = _synth_archive(spark, 7).collect()[0]["content"]
    p = tmp_path / "archives"
    p.mkdir()
    (p / "part-0.warc").write_bytes(content.encode())
    recs = read_warc(spark, str(p))
    assert recs.count() == 7
    assert recs.select("warc_url").distinct().count() == 7


def test_warc_content_length_is_octets(spark):
    """ADVICE r3: Content-Length must count OCTETS, not characters —
    a non-ASCII body's header must match its UTF-8 byte length so
    synthetic records stay wire-accurate for the production
    Content-Length-honoring InputFormat."""
    from zhtml_spark.sources import warc_record

    body = "<body><p>naïve café — 敬具</p></body>"
    for http_headers in (False, True):
        rec = (
            spark.range(1)
            .select(
                warc_record(
                    F.lit("https://ex.com/u"),
                    F.lit("2024-01-01T00:00:00Z"),
                    F.lit(body),
                    http_headers=http_headers,
                ).alias("rec")
            )
            .first()["rec"]
        )
        import re

        m = re.search(r"Content-Length: (\d+)\r\n\r\n", rec)
        payload = rec[m.end():].removesuffix("\r\n\r\n")
        assert int(m.group(1)) == len(payload.encode("utf-8"))
        assert int(m.group(1)) > len(payload)  # multibyte chars present


def test_warc_interleaved_spans_exchange_never_narrows(spark):
    """ADVICE r8 #1: the dispatch's explicit exchange widens a narrow
    input to the session's parallelism and keeps a wider input's
    width."""
    from zhtml_spark.sources import warc_interleaved_spans

    dp = spark.sparkContext.defaultParallelism

    def exchange_widths(archive):
        out = warc_interleaved_spans(parse_warc_records(archive))
        plan = out._jdf.queryExecution().executedPlan().toString()
        widths = re.findall(r"hashpartitioning\(warc_url#\d+, (\d+)\)", plan)
        return out, {int(w) for w in widths}

    narrow = _synth_archive(spark, 6)
    assert narrow.rdd.getNumPartitions() == 1
    assert exchange_widths(narrow)[1] == {dp}

    wide = spark.range(2 * dp).select(
        warc_record(
            F.concat(F.lit("https://ex.com/w"), F.col("id")),
            F.lit("2024-01-01T00:00:00Z"),
            F.concat(F.lit("<body><p>w"), F.col("id"), F.lit("</p></body>")),
        ).alias("content")
    ).repartition(2 * dp)
    out, widths = exchange_widths(wide)
    assert widths == {2 * dp}
    assert out.select("doc_id").distinct().count() == 2 * dp


def test_warc_plan_is_jvm_side(spark):
    # record splitting must not introduce a Python stage
    archive = _synth_archive(spark, 3)
    plan = parse_warc_records(archive)._jdf.queryExecution().executedPlan().toString()
    assert_jvm_only(plan)


def test_warc_filters_non_response_records(spark):
    """Real archives interleave request/response/metadata per URI —
    only response records may become documents."""
    content = (
        "WARC/1.0\r\n"
        "WARC-Type: request\r\n"
        "WARC-Target-URI: https://ex.com/a\r\n"
        "WARC-Date: 2024-01-01T00:00:00Z\r\n"
        "Content-Type: application/http\r\n\r\n"
        "GET /a HTTP/1.1\r\nHost: ex.com\r\n\r\n"
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Target-URI: https://ex.com/a\r\n"
        "WARC-Date: 2024-01-01T00:00:01Z\r\n"
        "Content-Type: text/html\r\n\r\n"
        "<body><p>real page</p></body>\r\n\r\n"
        "WARC/1.0\r\n"
        "WARC-Type: metadata\r\n"
        "WARC-Target-URI: https://ex.com/a\r\n"
        "WARC-Date: 2024-01-01T00:00:02Z\r\n"
        "Content-Type: application/json\r\n\r\n"
        '{"fetch": 1}\r\n\r\n'
    )
    archive = spark.createDataFrame([(content,)], "content string")
    recs = parse_warc_records(archive).collect()
    assert len(recs) == 1
    assert recs[0]["warc_url"] == "https://ex.com/a"
    assert recs[0]["html"] == "<body><p>real page</p></body>"


def test_warc_body_containing_blank_lines(spark):
    html = "<body><pre>a\r\n\r\nb</pre></body>"
    content = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://ex.com/x\r\n"
        "WARC-Date: d\r\nContent-Type: text/html\r\n\r\n"
        + html + "\r\n\r\n"
    )
    archive = spark.createDataFrame([(content,)], "content string")
    recs = parse_warc_records(archive).collect()
    assert len(recs) == 1
    assert recs[0]["html"] == html


def test_warc_gzip_archives(spark, tmp_path):
    """Common Crawl wire format: .warc.gz, one gzip member per record
    (multi-member concatenation)."""
    import gzip

    p = tmp_path / "gz"
    p.mkdir()
    content = _synth_archive(spark, 4).collect()[0]["content"]
    # multi-member: split the archive into two members
    half = len(content) // 2
    blob = gzip.compress(content[:half].encode()) + gzip.compress(
        content[half:].encode()
    )
    (p / "seg-0.warc.gz").write_bytes(blob)
    # plus one plain archive alongside
    c2 = _synth_archive(spark, 2).collect()[0]["content"]
    (p / "seg-1.warc").write_bytes(c2.encode())

    recs = read_warc(spark, str(p))
    assert recs.count() == 6


def test_record_aligned_chunking():
    """Chunks split only at record boundaries and reassemble exactly."""
    import zhtml_spark.sources as src

    rec = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: u\r\nWARC-Date: d\r\n\r\nBODY\r\n\r\n"
    )
    content = rec * 50
    old = src._CHUNK_TARGET
    src._CHUNK_TARGET = len(rec) * 7  # force several chunks
    try:
        chunks = src._record_aligned_chunks(content)
    finally:
        src._CHUNK_TARGET = old
    assert len(chunks) > 3
    assert "".join(chunks) == content
    for c in chunks:
        assert c.startswith("WARC/1.0\r\n")


def test_warc_http_response_payload_stripped(spark):
    """Common Crawl response records carry a full HTTP response; the
    header block must never tokenize as page text (ADVICE r2 #1)."""
    html = "<body><p>HTTP-framed page</p></body>"
    content = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://ex.com/h\r\n"
        "WARC-Date: d\r\n"
        "Content-Type: application/http; msgtype=response\r\n\r\n"
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        "X-Crawler: cc\r\n\r\n" + html + "\r\n\r\n"
        # status line but no headers (blank line right after)
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://ex.com/nh\r\n"
        "WARC-Date: d\r\nContent-Type: application/http\r\n\r\n"
        "HTTP/1.0 200\r\n\r\n<p>bare</p>\r\n\r\n"
        # truncated HTTP payload: headers only, no blank line → empty
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://ex.com/tr\r\n"
        "WARC-Date: d\r\nContent-Type: application/http\r\n\r\n"
        "HTTP/1.1 503 Unavailable\r\nRetry-After: 60\r\n\r\n"
    )
    archive = spark.createDataFrame([(content,)], "content string")
    recs = {
        r["warc_url"]: r["html"]
        for r in parse_warc_records(archive).collect()
    }
    assert recs["https://ex.com/h"] == html
    assert recs["https://ex.com/nh"] == "<p>bare</p>"
    assert recs["https://ex.com/tr"] == ""


def test_warc_record_http_headers_roundtrip(spark):
    """The synthesizer's http_headers mode and the parser's strip are
    inverses — end-to-end spans identical to header-free records."""
    docs = spark.range(4).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.lit("d").alias("date"),
        F.concat(F.lit("<p>pg "), F.col("id"), F.lit("</p>")).alias("html"),
    )
    archive = docs.select(
        warc_record(
            F.col("url"), F.col("date"), F.col("html"), http_headers=True
        ).alias("rec")
    ).agg(F.concat_ws("", F.collect_list("rec")).alias("content"))
    recs = parse_warc_records(archive).orderBy("warc_url").collect()
    assert [r["html"] for r in recs] == [f"<p>pg {i}</p>" for i in range(4)]


def test_warc_link_header_canonical(spark):
    """RFC 8288 Link header surfaces case-preserved and the canonical
    entry parses out of a multi-entry header; quoted token lists
    count, near-miss rel values don't, non-HTTP records carry ''."""
    from zhtml_spark.textops import link_header_canonical

    cases = [
        (0, 'Link: <https://Ex.com/CaNon0>; rel="canonical"\r\n',
         "https://Ex.com/CaNon0"),
        (1, "Link: </s.css>; rel=preload, <https://ex.com/c1>; "
            'rel="alternate canonical"\r\n', "https://ex.com/c1"),
        (2, "Link: <https://ex.com/x>; rel=canonicalish\r\n", ""),
        (3, "", ""),
        # rel=canonical in a SECOND Link header (RFC 8288 repeated
        # headers == one comma-joined header; CDNs send preload and
        # canonical separately)
        (4, "Link: </app.css>; rel=preload\r\n"
            'Link: <https://ex.com/c4>; rel="canonical"\r\n',
         "https://ex.com/c4"),
    ]
    docs = spark.createDataFrame(
        [(f"https://ex.com/p{i}", hdr) for i, hdr, _ in cases],
        "url string, hdr string",
    )
    archive = docs.select(
        warc_record(
            F.col("url"), F.lit("2024-01-01T00:00:00Z"),
            F.lit("<p>x</p>"), http_headers=True,
            http_extra=F.col("hdr"),
        ).alias("rec")
    ).agg(F.concat_ws("", F.collect_list("rec")).alias("content"))
    rows = (
        parse_warc_records(archive)
        .select(
            "warc_url",
            "http_link",
            link_header_canonical(F.col("http_link")).alias("canon"),
        )
        .orderBy("warc_url")
        .collect()
    )
    assert [r["canon"] for r in rows] == [want for _, _, want in cases]
    # case preserved on the raw header value
    assert "CaNon0" in rows[0]["http_link"]


def test_cdx_index_canonicalization(spark):
    """SURT urlkeys: host reversal, www/userinfo/default-port strip,
    query sorting, fragment strip, empty-path → '/'; the whole plan
    stays JVM-side."""
    from zhtml_spark.sources import cdx_index

    cases = [
        ("HTTP://User@WWW2.a.B.com:80/X/Y?z=1&a=2#f",
         "com,b,a)/x/y?a=2&z=1"),
        ("https://plain.example", "example,plain)/"),
        ("https://keep.example:8443/p", "example,keep:8443)/p"),
        # only the scheme's OWN default port strips: http://h:443 is
        # a real distinct origin and must not collide
        ("http://cross.example:443/p", "example,cross:443)/p"),
        ("https://cross.example:80/p", "example,cross:80)/p"),
    ]
    docs = spark.createDataFrame(
        [(u,) for u, _ in cases], "url string"
    )
    archive = docs.select(
        warc_record(
            F.col("url"), F.lit("2024-01-15T12:34:56Z"),
            F.lit("<p>b</p>"), http_headers=True,
        ).alias("rec")
    ).agg(F.concat_ws("", F.collect_list("rec")).alias("content"))
    idx = cdx_index(parse_warc_records(archive))
    got = {r["url"]: r for r in idx.collect()}
    for u, want_key in cases:
        assert got[u]["urlkey"] == want_key, (u, got[u]["urlkey"])
    assert all(r["ts14"] == "20240115123456" for r in got.values())
    assert all(r["status"] == "200" for r in got.values())
    assert all(r["mime"] == "text/html" for r in got.values())
    assert all(r["length"] == 8 for r in got.values())
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert_jvm_only(plan)


def test_cdx_index_length_counts_wire_octets(spark):
    """ADVICE r5: ``length`` must be the WIRE octet count.  On the
    byte-faithful ISO-8859-1 carrier one char == one octet, so a
    payload carrying a high byte (0xE9 — exactly the shape of binary
    PDF payloads) counts 1, not the 2 octets of its UTF-8
    re-encoding (the old ``octet_length`` bug)."""
    from zhtml_spark.sources import cdx_index

    body = "<p>\u00e9</p>"  # 8 wire octets on the latin-1 carrier
    docs = spark.createDataFrame(
        [("https://hi.example/p", body)], "url string, body string"
    )
    archive = docs.select(
        warc_record(
            F.col("url"), F.lit("2024-01-15T12:34:56Z"),
            F.col("body"), http_headers=True,
        ).alias("content")
    )
    row = cdx_index(parse_warc_records(archive)).collect()[0]
    assert row["length"] == len(body) == 8


def test_warc_http_strip_is_jvm_side(spark):
    archive = _synth_archive(spark, 2)
    plan = (
        parse_warc_records(archive)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert_jvm_only(plan)


def test_stream_gunzip_equivalence_and_bounds():
    """Streamed gunzip must produce byte-identical chunks to the
    whole-blob path on multi-member archives, raise on truncation, and
    cut only at record boundaries (bounded-memory contract)."""
    import gzip

    import zhtml_spark.sources as src

    rec_ascii = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: u\r\nWARC-Date: d\r\n\r\n"
        "<p>plain body</p>\r\n\r\n"
    )
    rec_uni = rec_ascii.replace("plain", "é…uni")
    old = src._CHUNK_TARGET
    src._CHUNK_TARGET = len(rec_ascii) * 13
    try:
        for rec in (rec_ascii, rec_uni):
            content = rec * 200
            multi = b"".join(
                gzip.compress((rec * 10).encode()) for _ in range(20)
            )
            single = gzip.compress(content.encode())
            for blob in (multi, single):
                a = src._stream_gunzip_chunks(blob)
                b = src._record_aligned_chunks(
                    gzip.decompress(blob).decode("utf-8")
                )
                # identical reassembled content; every cut at a record
                # boundary.  Cut POSITIONS agree exactly on ASCII; with
                # multibyte text the streamed path targets BYTES (the
                # unit Arrow's 2 GB cell limit is in) vs the str path's
                # chars, so counts may differ by design.
                assert "".join(a) == "".join(b) == content
                if rec is rec_ascii:
                    assert a == b
                for c in a[:-1]:
                    assert c.startswith("WARC/1.0\r\n")
    finally:
        src._CHUNK_TARGET = old

    assert src._stream_gunzip_chunks(gzip.compress(b"")) == [""]
    import pytest

    with pytest.raises(EOFError):
        src._stream_gunzip_chunks(single[:-6])


def test_stream_gunzip_hypothesis_fuzz():
    """Property: for ANY record set and ANY gzip member partitioning,
    the streamed decoder reassembles to exactly the whole-blob decode
    (chunk boundaries always on record seps)."""
    import gzip

    from hypothesis import given, settings, strategies as st

    import zhtml_spark.sources as src

    @settings(max_examples=60, deadline=None)
    @given(
        bodies=st.lists(
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs",), max_codepoint=0x2FFF
                ),
                max_size=120,
            ),
            min_size=0,
            max_size=12,
        ),
        n_members=st.integers(min_value=1, max_value=5),
        chunk_target=st.integers(min_value=32, max_value=4096),
        data=st.data(),
    )
    def prop(bodies, n_members, chunk_target, data):
        recs = [
            "WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: u{i}\r\nWARC-Date: d\r\n\r\n"
            + b.replace("\r", " ")  # keep bodies off the record sep
            + "\r\n\r\n"
            for i, b in enumerate(bodies)
        ]
        content = "".join(recs)
        raw = content.encode("utf-8")
        # arbitrary member partitioning of the BYTE stream (members may
        # split records and multi-byte chars — decoder must not care)
        cuts = sorted(
            data.draw(
                st.lists(
                    st.integers(min_value=0, max_value=len(raw)),
                    min_size=n_members - 1,
                    max_size=n_members - 1,
                )
            )
        )
        parts = []
        prev = 0
        for c in cuts + [len(raw)]:
            parts.append(raw[prev:c])
            prev = c
        blob = b"".join(gzip.compress(p) for p in parts)
        old = src._CHUNK_TARGET
        src._CHUNK_TARGET = chunk_target
        try:
            chunks = src._stream_gunzip_chunks(blob)
        finally:
            src._CHUNK_TARGET = old
        assert "".join(chunks) == content
        for c in chunks[:-1]:
            assert c.endswith("\r\n\r\n")

    prop()


def test_warc_html_payload_starting_with_http_not_stripped(spark):
    """Code-review r3: a text/html record whose page text begins with
    'HTTP/…' must keep its content — the strip is gated on the
    record's Content-Type, not a payload sniff."""
    body = "HTTP/2 explained\r\n\r\nA plain-text style page about HTTP."
    content = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://ex.com/h2\r\n"
        "WARC-Date: d\r\nContent-Type: text/html\r\n\r\n"
        + body + "\r\n\r\n"
        # and one record with NO Content-Type at all: sniff applies
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://ex.com/nct\r\n"
        "WARC-Date: d\r\n\r\n"
        "HTTP/1.1 200 OK\r\nServer: s\r\n\r\n<p>sniffed</p>\r\n\r\n"
    )
    archive = spark.createDataFrame([(content,)], "content string")
    recs = {
        r["warc_url"]: r["html"]
        for r in parse_warc_records(archive).collect()
    }
    assert recs["https://ex.com/h2"] == body
    assert recs["https://ex.com/nct"] == "<p>sniffed</p>"


def test_crawl_pipeline_end_to_end(spark, tmp_path):
    """Composition test for the round-3 crawl layer: a WARC with three
    HTTP-carrying pages flows through read_warc -> fused extraction
    (head-meta + link harvesting) -> canonical dedup -> markdown, with
    exact expected outputs at every stage."""
    import pyspark.sql.functions as F

    from zhtml_spark.sources import read_warc
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.pipeline import extract_documents
    from zhtml_spark.textops import (
        absolutize_url,
        dedup_by_canonical,
        spans_to_markdown,
    )

    def page(title, canonical, body):
        return (
            f"<html><head><title>{title}</title>"
            f'<link rel="canonical" href="{canonical}"></head>'
            f"<body>{body}</body></html>"
        )

    pages = [
        ("https://a.example/article?utm=1",
         page("One", "/article",
              "<h1>Head</h1><p>Alpha text with "
              "<a href='../rel'>a link</a>.</p>")),
        # duplicate of page 1 under a tracking URL, same canonical
        ("https://a.example/article?utm=2",
         page("One", "/article", "<p>Alpha text variant.</p>")),
        ("https://b.example/other",
         page("Two", "https://b.example/other",
              "<p>Beta text.</p><noscript><p>no js</p></noscript>")),
    ]
    recs = []
    for url, html in pages:
        body = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + html)
        recs.append(
            "WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            "\r\n" + body
        )
    (tmp_path / "t.warc").write_bytes("\r\n\r\n".join(recs).encode())

    docs = read_warc(spark, str(tmp_path))
    assert docs.count() == 3

    # WARC rows -> interleaved shape -> fused extraction with the
    # crawl configs on
    interleaved = docs.select(
        F.col("warc_url").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                F.col("html").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    spans = (
        extract_documents(
            interleaved,
            ExtractConfig(emit_links=True, emit_head_meta=True),
        )
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id", "s.offset", "s.kind", "s.text", "s.media_ref"
        )
    )
    rows = spans.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["kind"], r["text"], r["media_ref"])
        )
    p1 = by_doc["https://a.example/article?utm=1"]
    assert ("meta", "One", "title") in p1
    assert ("meta", "/article", "canonical") in p1
    assert ("link", "a link", "../rel") in p1
    # noscript content never leaks
    p3 = by_doc["https://b.example/other"]
    assert not any("no js" in (t or "") for _, t, _ in p3)

    # canonical dedup: resolve the harvested canonical per page
    canon = (
        spans.where(F.col("media_ref") == "canonical")
        .select(
            F.col("doc_id").alias("url"),
            F.col("text").alias("canonical"),
        )
    )
    pages_df = docs.select(
        F.col("warc_url").alias("url")
    ).join(canon, "url", "left").select(
        F.monotonically_increasing_id().alias("doc_id"),
        "url", "canonical",
    )
    survivors = dedup_by_canonical(pages_df)
    urls = sorted(r["norm_url"] for r in survivors.collect())
    assert urls == [
        "https://a.example/article",
        "https://b.example/other",
    ]

    # links absolutize against the page URL
    resolved = spans.where(F.col("kind") == "link").select(
        absolutize_url(F.col("doc_id"), F.col("media_ref")).alias("u")
    ).collect()
    assert [r["u"] for r in resolved] == ["https://a.example/rel"]

    # and the markdown render of page 1
    md = {
        r["doc_id"]: r["markdown"]
        for r in spans_to_markdown(spans).collect()
    }
    assert md["https://b.example/other"] == "Beta text."
    # link spans emit at anchor close, before the enclosing block
    # flushes (documented emission order)
    assert md["https://a.example/article?utm=1"] == (
        "# Head\n\n[a link](../rel)\n\nAlpha text with a link."
    )


def _mixed_archive_bytes() -> bytes:
    """One HTML record (multibyte UTF-8), one binary PDF record
    (FlateDecode — zlib's checksum makes the payload a byte-integrity
    probe), one plain-ASCII HTML record, as HTTP-carried WARC
    responses.  Raw bytes, ready to write to disk."""
    import zlib

    flate = zlib.compress(
        b"BT /F1 20 Tf 72 720 Td (Binary \\(ok\\)) Tj ET", 9
    )
    pdf = b"".join([
        b"%PDF-1.4\n",
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
        b" endobj\n",
        b"4 0 obj << /Filter /FlateDecode /Length ",
        str(len(flate)).encode(), b" >> stream\n",
        flate,
        b"\nendstream endobj\n",
        b"trailer << /Root 1 0 R >>\n%%EOF",
    ])

    def rec(url: bytes, ctype: bytes, body: bytes) -> bytes:
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype
                + b"\r\n\r\n" + body)
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + url + b"\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode()
            + b"\r\n\r\n" + http + b"\r\n\r\n"
        )

    return (
        rec(b"https://ex.com/utf8", b"text/html; charset=utf-8",
            "<body><h1>Título</h1><p>café &amp; té"
            "</p></body>".encode("utf-8"))
        + rec(b"https://ex.com/doc.pdf", b"application/pdf", pdf)
        + rec(b"https://ex.com/plain", b"text/html",
              b"<body><p>plain ascii</p></body>")
    )


def _interleaved_spans_by_doc(spark, path):
    from zhtml_spark.sources import warc_interleaved_spans

    recs = read_warc(spark, path, charset="ISO-8859-1")
    spans = warc_interleaved_spans(recs).orderBy("doc_id", "offset")
    by_doc: dict[str, list[tuple]] = {}
    for r in spans.collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["offset"], r["kind"], r["text"])
        )
    return recs, by_doc


def test_warc_interleaved_mixed_formats_plain_file(spark, tmp_path):
    """The byte-faithful latin-1 carrier end-to-end from a plain
    .warc on disk: a multibyte-UTF-8 HTML record and a binary
    FlateDecode PDF record in ONE archive each round-trip exactly —
    the PDF branch would fail its zlib checksum, and the HTML branch
    would show mojibake, on any single corrupted byte."""
    p = tmp_path / "archives"
    p.mkdir()
    (p / "mixed.warc").write_bytes(_mixed_archive_bytes())

    recs, by_doc = _interleaved_spans_by_doc(spark, str(p))
    ctypes = {
        r["warc_url"]: r["payload_ctype"]
        for r in recs.select("warc_url", "payload_ctype").collect()
    }
    assert ctypes == {
        "https://ex.com/utf8": "text/html; charset=utf-8",
        "https://ex.com/doc.pdf": "application/pdf",
        "https://ex.com/plain": "text/html",
    }
    assert by_doc == {
        "https://ex.com/utf8": [
            (0, "heading", "Título"),
            (1, "text", "café & té"),
        ],
        "https://ex.com/doc.pdf": [(0, "text", "Binary (ok)")],
        "https://ex.com/plain": [(0, "text", "plain ascii")],
    }


def test_warc_interleaved_mixed_formats_gzip(spark, tmp_path):
    """Same archive through the streamed-gunzip codec stage with the
    latin-1 charset threaded through (the Python decode path, not the
    JVM one)."""
    import gzip

    p = tmp_path / "archives"
    p.mkdir()
    (p / "mixed.warc.gz").write_bytes(
        gzip.compress(_mixed_archive_bytes())
    )

    _, by_doc = _interleaved_spans_by_doc(spark, str(p))
    assert by_doc["https://ex.com/doc.pdf"] == [
        (0, "text", "Binary (ok)")
    ]
    assert by_doc["https://ex.com/utf8"][0] == (
        0, "heading", "Título"
    )


# --------------------------------------------------------------------
# HTTP content codings (chunked / gzip / deflate bodies) — r5
# --------------------------------------------------------------------


def test_dechunk_edge_cases():
    from zhtml_spark.sources import _dechunk

    # extension on the size line, trailers after the terminal chunk
    assert _dechunk(
        b"a;x=1\r\n0123456789\r\n5\r\nabcde\r\n0\r\nT: v\r\n\r\n"
    ) == (b"0123456789abcde", True)
    # uppercase hex sizes
    assert _dechunk(b"A\r\n0123456789\r\n0\r\n\r\n") == (
        b"0123456789",
        True,
    )
    # truncated mid-chunk: keep the prefix
    assert _dechunk(b"10\r\nshort") == (b"short", True)
    # desync after a valid chunk: keep the reassembled prefix
    assert _dechunk(b"5\r\nabcde\r\nGARBAGE") == (b"abcde", True)
    # not chunked at all: original body back, flagged
    assert _dechunk(b"<html>hi</html>") == (b"<html>hi</html>", False)
    assert _dechunk(b"") == (b"", True)


def test_content_coding_edge_cases():
    import gzip
    import zlib

    from zhtml_spark.sources import _decode_content_codings

    body = b"<p>hello</p>"
    assert _decode_content_codings(gzip.compress(body), "gzip") == (
        body,
        True,
    )
    # multi-member with a truncated tail member: partial kept
    two = gzip.compress(body) + gzip.compress(b"tail")[:8]
    assert _decode_content_codings(two, "x-gzip") == (body, True)
    # deflate: zlib-wrapped AND the raw form old servers sent
    assert _decode_content_codings(
        zlib.compress(body), "deflate"
    ) == (body, True)
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    raw = co.compress(body) + co.flush()
    assert _decode_content_codings(raw, "deflate") == (body, True)
    # chained codings removed in reverse declared order
    assert _decode_content_codings(
        gzip.compress(zlib.compress(body)), "deflate, gzip"
    ) == (body, True)
    # undecodable: body untouched, flagged
    assert _decode_content_codings(b"\x0bbr-bytes", "br")[1] is False
    assert _decode_content_codings(b"plain", "gzip") == (
        b"plain",
        False,
    )


def _coded_archive_bytes() -> bytes:
    """One archive whose bodies exercise every wire coding: identity,
    chunked, gzip, raw-deflate, chunked-over-gzip, a gzipped PDF, and
    an undecodable brotli record."""
    import gzip
    import zlib

    def rec(url: bytes, ctype: bytes, body: bytes, extra: bytes = b"") -> bytes:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n"
            + extra + b"\r\n" + body
        )
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + url + b"\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode()
            + b"\r\n\r\n" + http + b"\r\n\r\n"
        )

    def chunk(data: bytes, size: int = 7) -> bytes:
        out = b""
        for pos in range(0, len(data), size):
            part = data[pos:pos + size]
            out += format(len(part), "x").encode() + b"\r\n" + part + b"\r\n"
        return out + b"0\r\n\r\n"

    page = b"<body><h1>C</h1><p>coded body</p></body>"
    inner = b"BT /F1 12 Tf 72 720 Td (Gz pdf ok) Tj ET"
    flate = zlib.compress(inner, 9)
    pdf = b"".join([
        b"%PDF-1.4\n",
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n",
        b"4 0 obj << /Filter /FlateDecode /Length ",
        str(len(flate)).encode(), b" >> stream\n",
        flate,
        b"\nendstream endobj\n",
        b"trailer << /Root 1 0 R >>\n%%EOF",
    ])
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    raw_deflate = co.compress(page) + co.flush()
    return (
        rec(b"https://ex.com/plain", b"text/html", page)
        + rec(b"https://ex.com/chunked", b"text/html", chunk(page),
              b"Transfer-Encoding: chunked\r\n")
        + rec(b"https://ex.com/gz", b"text/html", gzip.compress(page),
              b"Content-Encoding: gzip\r\n")
        + rec(b"https://ex.com/deflate", b"text/html", raw_deflate,
              b"Content-Encoding: deflate\r\n")
        + rec(b"https://ex.com/chunkgz", b"text/html",
              chunk(gzip.compress(page)),
              b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n")
        + rec(b"https://ex.com/doc.pdf", b"application/pdf",
              gzip.compress(pdf), b"Content-Encoding: gzip\r\n")
        + rec(b"https://ex.com/br", b"text/html", b"\x0bbr-bytes",
              b"Content-Encoding: br\r\n")
    )


def test_http_coded_payloads_end_to_end(spark, tmp_path):
    """Every wire coding through the full disk path: read_warc on the
    latin-1 carrier → decode_http_payloads (inside
    warc_interleaved_spans) → extraction.  The four HTML coding
    variants must produce IDENTICAL spans to the identity record, the
    gzipped PDF must inflate to real PDF bytes for pdfops, and the
    undecodable brotli record must flag — not kill — the job."""
    from zhtml_spark.sources import decode_http_payloads

    p = tmp_path / "archives"
    p.mkdir()
    (p / "coded.warc").write_bytes(_coded_archive_bytes())

    recs, by_doc = _interleaved_spans_by_doc(spark, str(p))
    want_html = [(0, "heading", "C"), (1, "text", "coded body")]
    for url in ("plain", "chunked", "gz", "deflate", "chunkgz"):
        assert by_doc[f"https://ex.com/{url}"] == want_html, url
    assert by_doc["https://ex.com/doc.pdf"] == [
        (0, "text", "Gz pdf ok")
    ]

    codings = {
        r["warc_url"]: r["coding"]
        for r in decode_http_payloads(recs).collect()
    }
    assert codings == {
        "https://ex.com/plain": "",
        "https://ex.com/chunked": "chunked",
        "https://ex.com/gz": "gzip",
        "https://ex.com/deflate": "deflate",
        "https://ex.com/chunkgz": "chunked,gzip",
        "https://ex.com/doc.pdf": "gzip",
        "https://ex.com/br": "br:fail",
    }


def test_http_codec_identity_rows_unchanged(spark):
    """Records declaring no coding route through the JVM-only branch:
    html byte-identical, coding empty — a Common-Crawl-shaped archive
    pays nothing for the codec layer."""
    from zhtml_spark.sources import decode_http_payloads

    archive = _synth_archive(spark, 12)
    recs = parse_warc_records(archive)
    out = decode_http_payloads(recs)
    assert out.where(F.col("coding") != "").count() == 0
    before = {
        r["warc_url"]: r["html"] for r in recs.collect()
    }
    after = {r["warc_url"]: r["html"] for r in out.collect()}
    assert before == after

# --------------------------------------------------------------------
# text/plain dispatch (never the HTML tokenizer) — r5
# --------------------------------------------------------------------


def test_warc_plaintext_records_bypass_tokenizer(spark, tmp_path):
    """text/plain payloads must surface verbatim as ONE text span:
    a stray '<' in prose stays prose (the tokenizer would open a
    phantom tag and swallow the rest), and a literal
    '<meta charset=koi8-r>' STRING inside the body is content — the
    meta prescan must NOT apply it (koi8-r would garble the text).
    Transport-level charset= still applies (latin-1 record)."""
    body_utf8 = (
        "x < y and y > z\n<meta charset=\"koi8-r\">\ncafé"
    ).encode("utf-8")
    body_latin = "résumé".encode("windows-1252")

    def rec(url: bytes, ctype: bytes, body: bytes) -> bytes:
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype
                + b"\r\n\r\n" + body)
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
    (p / "plain.warc").write_bytes(
        rec(b"https://ex.com/notes.txt", b"text/plain", body_utf8)
        + rec(b"https://ex.com/cv.txt",
              b"text/plain; charset=windows-1252", body_latin)
        # control: the SAME markup-bearing body as text/html DOES
        # tokenize (proves the dispatch, not a global bypass)
        + rec(b"https://ex.com/page", b"text/html",
              b"<body><p>x &lt; y</p></body>")
    )

    _, by_doc = _interleaved_spans_by_doc(spark, str(p))
    assert by_doc["https://ex.com/notes.txt"] == [(
        0, "text",
        "x < y and y > z\n<meta charset=\"koi8-r\">\ncafé",
    )]
    assert by_doc["https://ex.com/cv.txt"] == [(0, "text", "résumé")]
    assert by_doc["https://ex.com/page"] == [(0, "text", "x < y")]


def test_plaintext_span_plan_stays_jvm_side(spark):
    """The plaintext branch is pure column ops — no Python stage may
    appear in its plan (the fused parse UDF belongs to the HTML
    branch only)."""
    from zhtml_spark.sources import (
        decode_sniffed_payloads, parse_warc_records,
    )

    archive = _synth_archive(spark, 4)
    recs = parse_warc_records(archive)
    plain = decode_sniffed_payloads(
        recs, default_charset="utf-8", meta_prescan=False
    )
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert_jvm_only(plan)


def test_warc_redirect_records_become_edges(spark, tmp_path):
    """3xx-with-Location records surface as ONE ('redirect', status,
    location) span with the stub body NEVER tokenized; a 3xx without
    Location degrades to the content branches; Location casing is
    preserved (URL paths are case-sensitive).  The empty-body 302 is
    the regression case for the header-block trim: a redirect's
    normal wire shape is headers + CRLFCRLF + nothing, and the
    record-level payload trim eats the terminating blank line — the
    Location header must still parse."""

    def rec(url: bytes, status: bytes, extra: bytes,
            body: bytes) -> bytes:
        http = (b"HTTP/1.1 " + status
                + b"\r\nContent-Type: text/html\r\n" + extra
                + b"\r\n" + body)
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
    (p / "r.warc").write_bytes(
        rec(b"https://a.test/old", b"301 Moved Permanently",
            b"Location: https://a.test/NeW/Path\r\n",
            b"<html><body><h1>Moved Permanently</h1></body></html>")
        + rec(b"https://b.test/tmp", b"302 Found",
              b"Location: /b/TaRgEt\r\n", b"")  # empty body
        + rec(b"https://c.test/see", b"303 See Other",
              b"Location: /c\r\n", b"stub")
        + rec(b"https://d.test/keep", b"307 Temporary Redirect",
              b"Location: /d\r\n", b"")
        + rec(b"https://e.test/perm", b"308 Permanent Redirect",
              b"Location: /e\r\n", b"")
        + rec(b"https://f.test/noloc", b"302 Found", b"",
              b"<body><p>no target given</p></body>")
        + rec(b"https://g.test/ok", b"200 OK", b"",
              b"<body><p>real page</p></body>")
    )
    from zhtml_spark.sources import warc_interleaved_spans

    recs = read_warc(spark, str(p), charset="ISO-8859-1")
    rows = warc_interleaved_spans(recs).orderBy("doc_id").collect()
    got = {
        r["doc_id"]: (r["kind"], r["text"], r["media_ref"])
        for r in rows
    }
    assert got["https://a.test/old"] == (
        "redirect", "301", "https://a.test/NeW/Path"
    )
    assert got["https://b.test/tmp"] == ("redirect", "302", "/b/TaRgEt")
    assert got["https://c.test/see"] == ("redirect", "303", "/c")
    assert got["https://d.test/keep"] == ("redirect", "307", "/d")
    assert got["https://e.test/perm"] == ("redirect", "308", "/e")
    # 3xx without Location: content branch (nothing to point at)
    assert got["https://f.test/noloc"] == ("text", "no target given", None)
    assert got["https://g.test/ok"] == ("text", "real page", None)
    # exactly one span per doc — no tokenized redirect stubs
    assert len(rows) == 7


def test_warc_revisit_records_parse_and_responses_ignore_them(spark):
    """Revisit records surface via parse_warc_revisits with their
    refers-to/digest fields; parse_warc_records must keep dropping
    them (zero-length block, no document), and request records stay
    invisible to both."""
    from zhtml_spark.sources import parse_warc_revisits

    archive = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://x.test/a\r\n"
        "WARC-Date: 2024-02-02T00:00:00Z\r\n"
        "Content-Type: text/html\r\nContent-Length: 24\r\n\r\n"
        "<body><p>one</p></body>\r\n\r\n"
        "WARC/1.0\r\nWARC-Type: revisit\r\n"
        "WARC-Target-URI: https://x.test/a?later\r\n"
        "WARC-Date: 2024-03-03T00:00:00Z\r\n"
        "WARC-Profile: http://netpreserve.org/warc/1.1/revisit/"
        "identical-payload-digest\r\n"
        "WARC-Refers-To-Target-URI: https://x.test/a\r\n"
        "WARC-Refers-To-Date: 2024-02-02T00:00:00Z\r\n"
        "WARC-Payload-Digest: sha1:AAAABBBB\r\n"
        "Content-Length: 0\r\n\r\n\r\n\r\n"
        "WARC/1.0\r\nWARC-Type: request\r\n"
        "WARC-Target-URI: https://x.test/a\r\n"
        "WARC-Date: 2024-02-02T00:00:00Z\r\n"
        "Content-Length: 20\r\n\r\n"
        "GET /a HTTP/1.1\r\n\r\n\r\n\r\n"
    )
    df = spark.createDataFrame([(archive,)], "content string")
    rev = parse_warc_revisits(df).collect()
    assert len(rev) == 1
    r = rev[0]
    assert r["warc_url"] == "https://x.test/a?later"
    assert r["refers_to_uri"] == "https://x.test/a"
    assert r["refers_to_date"] == "2024-02-02T00:00:00Z"
    assert r["payload_digest"] == "sha1:AAAABBBB"
    assert r["profile"].endswith("identical-payload-digest")
    resp = parse_warc_records(df).collect()
    assert [x["warc_url"] for x in resp] == ["https://x.test/a"]
