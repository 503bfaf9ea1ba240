"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction over sf0.001 documents wrapped
as interleaved HTML docs through the real fused UDF pipeline.
``queries()`` / ``oracle_sql()`` — per-operator DataFrame callables and
their DuckDB-oracle SQL over the ``TABLES`` views (same column
names/aliases both sides); ``digest`` is the one comparison protocol,
an order-insensitive value hash.

The extraction queries wrap the deterministic ``documents`` table rows
in deterministic HTML so the DuckDB oracle can predict the engine's
exact output spans — a SQL-checkable end-to-end proof of the
tokenize→tree→extract path.
"""

from __future__ import annotations

import contextlib
import hashlib
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from zhtml_spark.pipeline import explode_spans

# the DuckDB twins read the Spark side's own constants, so changing one
# moves both engines together
from zhtml_spark.textops import (
    BPE_MAX_WORD_LEN,
    LOG2Q_FRAC_BITS,
    PAGERANK_DAMPING_PCT,
    PAGERANK_SCALE,
    STOPWORDS,
    SUBSTRING_MAX_GRAM_FREQ,
    VEC_SCALE,
)


def _span_struct(kind, text, media_ref, offset) -> Column:
    return F.struct(
        kind.alias("kind"),
        text.alias("text"),
        media_ref.alias("media_ref"),
        offset.alias("offset"),
    )


def _null_str() -> Column:
    return F.lit(None).cast("string")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _wrap_as_interleaved(docs: DataFrame, html_col: Column) -> DataFrame:
    """documents rows → the input_hint interleaved shape (single html span)."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            _span_struct(F.lit("html"), html_col, _null_str(), F.lit(0))
        ).alias("spans"),
    )


def _extract_exploded(df: DataFrame, config=None) -> DataFrame:
    """Run the fused extraction UDF and explode spans to flat rows."""
    from zhtml_spark.pipeline import extract_documents

    return explode_spans(extract_documents(df, config))


# ------------------------------------------------------------- queries
def _q_extract_heading_para(spark: SparkSession, sf_dir: str) -> DataFrame:
    html = F.concat(
        F.lit("<html><head><title>t</title></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    return _extract_exploded(_wrap_as_interleaved(_docs(spark, sf_dir), html))


def _q_extract_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    html = F.concat(
        F.lit("<body><p>"),
        F.col("text"),
        F.lit(" &amp; &lt;tail&gt; &#x41;&copy;</p></body>"),
    )
    return _extract_exploded(_wrap_as_interleaved(_docs(spark, sf_dir), html))


def _q_extract_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    html = F.concat(
        F.lit("<body><p>"),
        F.col("text"),
        F.lit('</p><img src="img-'),
        F.col("doc_id").cast("string"),
        F.lit('.png" alt="fig"></body>'),
    )
    return _extract_exploded(_wrap_as_interleaved(_docs(spark, sf_dir), html))


def _q_extract_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    html = F.concat(
        F.lit("<body><ul><li>lang "),
        F.col("lang"),
        F.lit("<li>from "),
        F.col("source"),
        F.lit("</ul></body>"),
    )
    return _extract_exploded(_wrap_as_interleaved(_docs(spark, sf_dir), html))


def _q_extract_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates the dedicated table insertion modes (r2): caption +
    implied tbody + cells must land as ordered 'table' spans."""
    html = F.concat(
        F.lit("<body><table><caption>cap "),
        F.col("doc_id").cast("string"),
        F.lit("</caption><tr><td>"),
        F.col("text"),
        F.lit("</td><td>n="),
        F.col("n_chars").cast("string"),
        F.lit("</td></tr></table></body>"),
    )
    return _extract_exploded(_wrap_as_interleaved(_docs(spark, sf_dir), html))


def _q_extract_svg_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates the foreign-content dispatcher (r2): svg title/desc and
    graphics must NOT leak into spans; surrounding HTML text must."""
    html = F.concat(
        F.lit("<body><p>"),
        F.col("text"),
        F.lit('</p><svg viewBox="0 0 8 8"><title>tip</title>'
              '<desc>meta</desc><circle r="1"/></svg><p>tail '),
        F.col("lang"),
        F.lit("</p></body>"),
    )
    return _extract_exploded(_wrap_as_interleaved(_docs(spark, sf_dir), html))


def _q_extract_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates the InTemplate insertion mode (r3): template contents —
    including table-row and media markup, in body AND table scope —
    stay inside the template node and never become spans (browsers
    never render them); <noscript> is skipped under the default
    scripting-on policy."""
    html = F.concat(
        F.lit("<body><h2>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(
            '</h2><template><p>skeleton</p><img src="t.png">'
            "<table><tr><td>ghost</td></tr></table></template><p>"
        ),
        F.col("text"),
        F.lit(
            "</p><noscript><p>enable js</p></noscript>"
            "<table><template><tr><td>thid</td></tr></template>"
            "<tr><td>cell "
        ),
        F.col("lang"),
        F.lit("</td></tr></table></body>"),
    )
    return _extract_exploded(_wrap_as_interleaved(_docs(spark, sf_dir), html))


def _q_extract_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates head-metadata harvesting (r3; extended r5): <title>,
    meta description/robots/og:image, link rel=canonical, feed
    auto-discovery (rel=alternate + rss type → key ``feed``),
    language alternates (rel=alternate hreflang=FR → key
    ``alternate:fr``, lowercased), pagination (rel=next), authorship
    (meta author + article:published_time), and meta-refresh
    redirects (http-equiv=refresh with a url= part → key
    ``refresh``; the %4!=0 docs carry a bare-reload "30" that must
    NOT surface) appear as ('meta', value, key) spans ahead of the
    body content; non-allowlisted keys (viewport), a bare
    ``rel="alternate stylesheet"`` (neither feed nor language), and
    template-wrapped metadata stay out."""
    from zhtml_spark.extract import ExtractConfig

    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<head><title>Doc "), d, F.lit(" | "), F.col("lang"),
        F.lit('</title><meta name="description" content="'),
        F.substring(F.col("text"), 1, 24),
        F.lit('"><meta name="robots" content="'),
        F.when(F.col("doc_id") % 3 == 0, F.lit("noindex"))
        .otherwise(F.lit("index,follow")),
        F.lit(
            '"><meta property="og:image" content="https://cdn.example/og'
        ),
        d,
        F.lit(
            '.png"><meta name="viewport" content="width=1">'
            '<link rel="canonical" href="https://site'
        ),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example/c/"), d,
        F.lit(
            '"><link rel="alternate" type="application/rss+xml"'
            ' href="/feed'
        ),
        d,
        F.lit(
            '.xml"><link rel="alternate" hreflang="FR"'
            ' href="https://fr.example/p'
        ),
        d,
        F.lit(
            '"><link rel="alternate stylesheet" href="/alt.css">'
            '<link rel="next" href="/list?page='
        ),
        (F.col("doc_id") % 50 + 2).cast("int").cast("string"),
        F.lit('"><meta name="author" content="Writer '),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(
            '"><meta property="article:published_time"'
            ' content="2024-05-'
        ),
        F.lpad(
            ((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"
        ),
        F.lit('T00:00:00Z">'),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(
                    '<meta http-equiv="Refresh" content="0; url=/moved/'
                ),
                d,
                F.lit('">'),
            ),
        ).otherwise(
            F.lit('<meta http-equiv="refresh" content="30">')
        ),
        F.lit(
            '<template><meta name="description" content="ghost">'
            "</template></head><body><p>"
        ),
        F.col("text"),
        F.lit("</p></body>"),
    )
    return _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(emit_head_meta=True),
    )


def _q_jsonld_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates schema.org structured-data harvesting (r5): every
    ``<script type="application/ld+json">`` — head AND body, the
    attribute in mixed case with a charset parameter on the body one
    — surfaces as a ('jsonld', raw_json, None) span via the fused
    extraction path, then parses JVM-side with ``get_json_object``
    (nested ``author.name``, the ``@``-prefixed type key, an integer
    cast).  Decoys that must NOT surface: a plain JS script and a
    template-wrapped ld+json block.  The raw JSON rides through
    script RAWTEXT, so ``&`` in the headline stays literal — an
    entity-decoding bug would corrupt it.  The oracle states every
    parsed field from construction."""
    from zhtml_spark.extract import ExtractConfig

    did = F.col("doc_id")
    d = did.cast("string")
    ld_type = (
        F.when(did % 3 == 0, F.lit("Article"))
        .when(did % 3 == 1, F.lit("NewsArticle"))
        .otherwise(F.lit("BlogPosting"))
    )
    day = F.lpad(((did % 28) + 1).cast("string"), 2, "0")
    head_json = F.concat(
        F.lit('{"@context":"https://schema.org","@type":"'),
        ld_type,
        F.lit('","headline":"Doc '), d,
        F.lit(' news & updates","datePublished":"2024-03-'), day,
        F.lit('","author":{"@type":"Person","name":"Writer '),
        (did % 7).cast("string"),
        F.lit('"}}'),
    )
    body_json = F.concat(
        F.lit('{"@type":"WebPage","position":'),
        (did % 5).cast("string"),
        F.lit("}"),
    )
    html = F.concat(
        F.lit('<head><script type="application/ld+json">\n'),
        head_json,
        F.lit(
            "\n</script><script>var x = 1 < 2;</script></head>"
            "<body><p>Doc "
        ),
        d,
        F.lit(
            ' body text.</p><script TYPE="Application/LD+JSON;'
            ' charset=utf-8">'
        ),
        body_json,
        F.lit(
            '</script><template><script type="application/ld+json">'
            '{"ghost":1}</script></template></body>'
        ),
    )
    ex = _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(emit_jsonld=True),
    )
    ld = ex.where(F.col("kind") == "jsonld")
    return ld.select(
        "doc_id",
        "offset",
        F.get_json_object("text", "$['@type']").alias("ld_type"),
        F.get_json_object("text", "$.headline").alias("headline"),
        F.get_json_object("text", "$.datePublished").alias(
            "date_published"
        ),
        F.get_json_object("text", "$.author.name").alias("author"),
        F.get_json_object("text", "$.position").cast("int").alias(
            "pos"
        ),
    )


def _q_microdata_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates HTML Microdata harvesting (r5, WHATWG §5): a Product
    item with the spec's property-value table in play (subtree text,
    img ``src``, meta ``content``, time ``datetime``), a NESTED Offer
    item (dotted path), a multi-name ``itemprop`` (one span per
    name), plus decoys that must NOT surface: an orphan itemprop
    outside any scope and a template-wrapped item.  r5 late: the
    Product also carries ``itemref="extras"`` to an out-of-subtree
    div — its meta contributes a property and its prop+itemscope
    span is CLAIMED as a nested item (the provisional top-level
    recovery must retract, or the phantom item's rows shift every
    offset).  The oracle states every (offset, value, path) row from
    construction."""
    from zhtml_spark.extract import ExtractConfig

    did = F.col("doc_id")
    d = did.cast("string")
    day = F.lpad(((did % 28) + 1).cast("string"), 2, "0")
    price = F.concat(((did % 90) + 10).cast("string"), F.lit(".99"))
    html = F.concat(
        F.lit(
            '<body><div itemscope itemref="extras"'
            ' itemtype="https://schema.org/Product">'
            '<span itemprop="name">Product '
        ),
        d,
        F.lit('</span><img itemprop="image" src="/img/'), d,
        F.lit('.png"><meta itemprop="sku" content="SKU-'),
        (did % 100).cast("string"),
        F.lit(
            '"><div itemprop="offers" itemscope'
            ' itemtype="https://schema.org/Offer">'
            '<span itemprop="price">'
        ),
        price,
        F.lit(
            '</span><time itemprop="validThrough" datetime="2024-12-'
        ),
        day,
        F.lit(
            '">year end</time></div><span itemprop="category tag">cat'
        ),
        (did % 7).cast("string"),
        F.lit(
            '</span></div><p itemprop="orphan">no scope</p>'
            '<template><span itemprop="ghost">g</span></template>'
            '<div id="extras">'
            '<meta itemprop="warranty" content="P2Y">'
            '<span itemprop="support" itemscope><b itemprop="phone">'
            "555-0"
        ),
        (did % 10).cast("string"),
        F.lit("</b></span></div><p>Doc "),
        d,
        F.lit(" body.</p></body>"),
    )
    ex = _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(emit_microdata=True),
    )
    return ex.where(F.col("kind") == "microdata").select(
        "doc_id",
        "offset",
        F.col("text").alias("value"),
        F.col("media_ref").alias("path"),
    )


def _q_extract_srcset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates responsive-image harvesting (r5): per-doc img with src +
    a two-candidate srcset (trailing comma tolerated), a
    picture>source srcset, and a src-less img whose bare srcset still
    surfaces; composed with media-ref URL resolution via
    ``textops.absolutize_url`` against the page URL,
    so the oracle cross-checks BOTH the srcset split and the
    resolver."""
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.textops import absolutize_url

    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<body><p>Doc '), d,
        F.lit(' media.</p><img src="/img/h'), d,
        F.lit('.jpg" alt="Hero '), d,
        F.lit('" srcset="/img/h'), d,
        F.lit('-2x.jpg 2x, h'), d,
        F.lit('-640.jpg 640w,">'
              '<picture><source srcset="art'),
        (F.col("doc_id") % 6).cast("string"),
        F.lit('.webp 1200w" type="image/webp"><img src="art'),
        (F.col("doc_id") % 6).cast("string"),
        F.lit('.jpg" alt="Art"></picture></body>'),
    )
    ex = _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(srcset_media=True),
    )
    base = F.concat(
        F.lit("https://h"), F.col("doc_id"), F.lit("/a/page.html")
    )
    return ex.where(F.col("kind") == "media").select(
        "doc_id",
        "offset",
        F.col("text").alias("descriptor"),
        absolutize_url(base, F.col("media_ref")).alias("url"),
    )


def _q_article_meta_unified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified article metadata (r5): doc_id%4 rotates the channel
    coverage — (0) JSON-LD + an og:title DECOY that must lose, (1)
    Microdata only, (2) RDFa headline/date + meta author (mixed
    channels per field), (3) meta tags only —
    ``textops.unified_article_meta`` coalesces them with
    jsonld > microdata/rdfa > meta precedence.  The oracle states
    every (headline, published, author) from construction; a wrong
    precedence pick or a channel leak flips values."""
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.textops import unified_article_meta

    did = F.col("doc_id")
    d = did.cast("string")
    day = F.lpad(((did % 28) + 1).cast("string"), 2, "0")
    w = (did % 7).cast("string")
    c0 = F.concat(
        F.lit('<head><meta property="og:title" content="Decoy '), d,
        F.lit('"><script type="application/ld+json">'
              '{"headline":"LD '),
        d,
        F.lit(' story","datePublished":"2024-01-'), day,
        F.lit('","author":{"name":"LD Writer '), w,
        F.lit('"}}</script></head><body><p>Doc '), d,
        F.lit(" body.</p></body>"),
    )
    c1 = F.concat(
        F.lit('<body><div itemscope'
              ' itemtype="https://schema.org/Article">'
              '<h1 itemprop="headline">MD '),
        d,
        F.lit(' piece</h1><time itemprop="datePublished"'
              ' datetime="2024-02-'),
        day,
        F.lit('">feb</time><div itemprop="author" itemscope>'
              '<span itemprop="name">MD Writer '),
        w,
        F.lit("</span></div></div></body>"),
    )
    c2 = F.concat(
        F.lit('<head><meta name="author" content="Meta Writer '), w,
        F.lit('"></head><body vocab="https://schema.org/">'
              '<article typeof="Article">'
              '<h1 property="headline">RD '),
        d,
        F.lit(' piece</h1><time property="datePublished"'
              ' content="2024-03-'),
        day,
        F.lit('">mar</time></article></body>'),
    )
    c3 = F.concat(
        F.lit('<head><meta property="og:title" content="OG '), d,
        F.lit('"><meta property="article:published_time"'
              ' content="2024-04-'),
        day,
        F.lit('T00:00:00Z"><meta name="author"'
              ' content="Meta Writer '),
        w,
        F.lit('"></head><body><p>Doc '), d,
        F.lit(" body.</p></body>"),
    )
    html = (
        F.when(did % 4 == 0, c0)
        .when(did % 4 == 1, c1)
        .when(did % 4 == 2, c2)
        .otherwise(c3)
    )
    ex = _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(
            emit_head_meta=True,
            emit_jsonld=True,
            emit_microdata=True,
            emit_rdfa=True,
        ),
    )
    return unified_article_meta(ex)


def _q_extract_style_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates inline-style media harvesting (r5): a hero div with an
    unquoted background-image url, a section with a quoted URL( ) in
    mixed case plus a data: gradient that must NOT surface, and a
    style-less control.  The oracle states every (offset, ref) row
    from construction."""
    from zhtml_spark.extract import ExtractConfig

    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<body><div style="background-image:url(/hero/'), d,
        F.lit('.jpg);padding:4px"><p>Doc '), d,
        F.lit(' overlay.</p></div>'
              "<section style=\"background: URL( 'tile"),
        (F.col("doc_id") % 8).cast("string"),
        F.lit(".png' ) repeat, url(data:image/gif;base64,R0)\">"
              "<p>Body "),
        d,
        F.lit(' text.</p></section><div style="color:red">'
              "<p>plain</p></div></body>"),
    )
    ex = _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(style_media=True),
    )
    return ex.where(F.col("kind") == "media").select(
        "doc_id",
        "offset",
        F.col("media_ref").alias("ref"),
    )


def _q_extract_lazy_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates lazy-loaded media harvesting (r5): per doc, a lazysizes
    img (1px data: placeholder src + data-src), a WP-plugin img
    (data-lazy-src only), a data-srcset pair, and an EAGER img whose
    data-src decoy must NOT override its real src.  The oracle states
    every (offset, alt_or_descriptor, ref) row from construction."""
    from zhtml_spark.extract import ExtractConfig

    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<body><p>Doc '), d,
        F.lit(' lazy.</p>'
              '<img src="data:image/gif;base64,R0lGOD"'
              ' data-src="/lazy/'),
        d,
        F.lit('.jpg" alt="Lazy '), d,
        F.lit('"><img data-lazy-src="/wp/'),
        (F.col("doc_id") % 11).cast("string"),
        F.lit('.png"><img data-srcset="/rs/'), d,
        F.lit('.jpg 1x, /rs/'), d,
        F.lit('-2x.jpg 2x"><img src="/eager/'), d,
        F.lit('.webp" data-src="/decoy.jpg" alt="Eager"></body>'),
    )
    ex = _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(lazy_media=True, srcset_media=True),
    )
    return ex.where(F.col("kind") == "media").select(
        "doc_id",
        "offset",
        F.col("text").alias("label"),
        F.col("media_ref").alias("ref"),
    )


def _q_rdfa_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates RDFa Lite harvesting (r5): a vocab-scoped Event item
    with the Lite value-resolution order in play (content attr beats
    element text, resource beats href, plain href, subtree text), a
    NESTED Place item whose inner vocab differs from the outer, and
    decoys that must NOT surface: a document-subject property
    outside any typeof and a template-wrapped item.  The oracle
    states every (offset, value, path) row from construction."""
    from zhtml_spark.extract import ExtractConfig

    did = F.col("doc_id")
    d = did.cast("string")
    day = F.lpad(((did % 28) + 1).cast("string"), 2, "0")
    html = F.concat(
        F.lit(
            '<body vocab="https://schema.org/">'
            '<div typeof="Event"><span property="name">Event '
        ),
        d,
        F.lit(
            '</span><time property="startDate" content="2025-06-'
        ),
        day,
        F.lit(
            '">June</time><a property="url" href="/events/'
        ),
        d,
        F.lit(
            '">tickets</a><div property="location"'
            ' vocab="https://example.org/geo#" typeof="Place">'
            '<span property="name">Hall '
        ),
        (did % 9).cast("string"),
        F.lit(
            '</span></div><link property="organizer"'
            ' resource="https://org.example/o'
        ),
        (did % 5).cast("string"),
        F.lit(
            '"></div>'
            '<span property="og:noise">doc subject</span>'
            '<template><div typeof="Ghost">'
            '<span property="g">x</span></div></template>'
            "<p>Doc "
        ),
        d,
        F.lit(" body.</p></body>"),
    )
    ex = _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(emit_rdfa=True),
    )
    return ex.where(F.col("kind") == "rdfa").select(
        "doc_id",
        "offset",
        F.col("text").alias("value"),
        F.col("media_ref").alias("path"),
    )


def _q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates link-graph harvesting (r3): <a href> anchors surface as
    ('link', anchor_text, href) spans — including nav anchors whose
    text block is boilerplate-stripped and href-less anchors staying
    plain text — composed with textops.absolutize_url against the
    per-doc page URL (the WARC target-URI shape).  The oracle states
    the EXPECTED resolved URLs as independent literals, cross-checking
    the resolver rather than mirroring its regex chain."""
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.textops import absolutize_url

    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<body><p>Doc "), d, F.lit(' intro: <a href="/r/'), d,
        F.lit('">rel '), F.col("lang"),
        F.lit('</a> then <a href="https://peer.example/p'), d,
        F.lit(
            '">peer <b>link</b></a> tail words here.</p>'
            '<nav><a href="../nav/'
        ),
        d,
        F.lit(
            '">section</a></nav><p><a>plain</a> anchor stays text</p>'
            "</body>"
        ),
    )
    ex = _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(emit_links=True),
    )
    base = F.concat(
        F.lit("https://site"),
        (F.col("doc_id").cast("bigint") % 7).cast("string"),
        F.lit(".example/a/b/page"), F.col("doc_id"), F.lit(".html"),
    )
    return ex.where(F.col("kind") == "link").select(
        "doc_id", "offset",
        F.col("text").alias("anchor_text"),
        F.col("media_ref").alias("href"),
        absolutize_url(base, F.col("media_ref")).alias("resolved"),
    )


_DENSITY_LEAD = (
    "In this article we cover the following points in careful detail"
)


def _q_extract_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates the WSDM'10 densitometric classifier (r4): a share bar at
    0.44 link density (between the 1/3 density threshold and the 0.66
    hard cap — only the classifier can drop it) and a 3-word footer
    whose prev block has ≤4 words both vanish; the short headline
    (rescued by its ≥21-word next paragraph) and the paragraph stay.
    The oracle states the surviving spans from construction."""
    from zhtml_spark.extract import ExtractConfig

    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<body><h1>Doc "), d,
        F.lit(f"</h1><p>{_DENSITY_LEAD} "), F.col("text"),
        F.lit('</p><p><a href="/s'), d,
        F.lit('">Share on</a> social now</p>'
              "<p>Legal footer text</p></body>"),
    )
    return _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(density_classifier=True),
    )


def _q_extract_svg_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates svg media harvesting (r4): svg <image> refs via the
    legacy xlink:href and the SVG2 href both surface as media spans
    (ExtractConfig.svg_media), svg text stays suppressed, and the
    enclosing paragraph splits at the media emission like every other
    media span."""
    from zhtml_spark.extract import ExtractConfig

    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<body><p>Doc "), d,
        F.lit(' intro <svg><image xlink:href="img/a'), d,
        F.lit('.png"></image><image href="img/b'), d,
        F.lit('.png"/><text>chart label</text></svg> closing words.'
              "</p></body>"),
    )
    return _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(svg_media=True),
    )


def _q_extract_src_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates span source provenance (r4): tokenizer token positions →
    tree node anchors → 4-tuple spans, distributed through one
    ``udfs.map_rows`` stage.  The page shape makes every anchor computable
    from construction: the heading text starts at char 10
    ('<body><h1>'), the paragraph text at 22 + len(doc_id) — the
    oracle states those arithmetic offsets, so the whole
    positions chain (including entity-free run starts) must be
    byte-exact to match."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from zhtml_spark.extract import ExtractConfig, extract_html
    from zhtml_spark.udfs import map_rows

    schema = StructType([
        StructField("doc_id", StringType()),
        StructField("offset", IntegerType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("src", IntegerType()),
    ])
    cfg = ExtractConfig(with_source_offsets=True)

    def row(did, text):
        html = f"<body><h1>Doc {did}</h1><p>{text}</p></body>"
        spans, _ = extract_html(html, cfg)
        return [
            (did, off, k, t, src)
            for off, (k, t, _ref, src) in enumerate(spans)
        ]

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return map_rows(d, ["doc_id", "text"], row, schema)


def _q_extract_fragment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates fragment parsing (r2): innerHTML-shaped list fragments in
    a ul context through the distributed fragment UDF."""
    from zhtml_spark.udfs import extract_fragments

    frags = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("<li>lang "),
            F.col("lang"),
            F.lit("<li>"),
            F.col("text"),
        ).alias("fragment"),
    )
    return explode_spans(extract_fragments(frags, "ul"))


def _q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gates the WARC source (r2): documents rendered into WARC
    response records, split back JVM-side, extracted through the fused
    UDF — the oracle predicts the final spans with no knowledge of the
    container format.  r3: records carry a FULL HTTP response payload
    (Common Crawl's actual wire shape), so the oracle also gates the
    HTTP-header strip — leaked headers would change every span hash."""
    from zhtml_spark.sources import (
        parse_warc_records,
        warc_record,
        warc_to_documents,
    )

    d = _docs(spark, sf_dir)
    archives = d.select(
        warc_record(
            F.concat(F.lit("warc://doc/"), F.col("doc_id").cast("string")),
            F.lit("2024-01-01T00:00:00Z"),
            F.concat(
                F.lit("<body><h1>Doc "),
                F.col("doc_id").cast("string"),
                F.lit("</h1><p>"),
                F.col("text"),
                F.lit("</p></body>"),
            ),
            http_headers=True,
        ).alias("content")
    )
    return _extract_exploded(
        warc_to_documents(parse_warc_records(archives))
    )


def _q_extract_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    html = F.concat(
        F.lit(
            '<body><nav><ul><li><a href="/h">home</a></li>'
            '<li><a href="/b">blog</a></li></ul></nav><p>'
        ),
        F.col("text"),
        F.lit('</p><footer><a href="/a">about</a> site</footer></body>'),
    )
    return _extract_exploded(_wrap_as_interleaved(_docs(spark, sf_dir), html))


def _q_media_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction + media-ref resolution broadcast join against a
    deterministic media-metadata dimension."""
    from zhtml_spark.pipeline import extract_documents, resolve_media_refs

    html = F.concat(
        F.lit("<body><p>"),
        F.col("text"),
        F.lit('</p><img src="img-'),
        F.col("doc_id").cast("string"),
        F.lit('.png" alt="fig"></body>'),
    )
    wrapped = _wrap_as_interleaved(_docs(spark, sf_dir), html)
    meta = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("img-"), F.col("doc_id").cast("string"), F.lit(".png")
        ).alias("media_ref"),
        F.lit("image").alias("media_kind"),
        F.concat(
            F.lit("https://cdn.example/"), F.col("doc_id").cast("string")
        ).alias("resolved_url"),
    )
    return resolve_media_refs(extract_documents(wrapped), meta)


def _q_span_kind_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _q_extract_media(spark, sf_dir)
    return df.groupBy("kind").agg(F.count("*").alias("n")).select("kind", "n")


def _q_interleaved_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media spans interleaved between html spans pass through
    positionally (input_hint invariant)."""
    docs = _docs(spark, sf_dir)
    wrapped = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            _span_struct(
                F.lit("html"),
                F.concat(F.lit("<body><p>"), F.col("text"), F.lit("</p>")),
                _null_str(),
                F.lit(0),
            ),
            _span_struct(
                F.lit("image"),
                F.lit("a figure"),
                F.concat(F.lit("media://"), F.col("doc_id").cast("string")),
                F.lit(1),
            ),
            _span_struct(
                F.lit("html"),
                F.concat(F.lit("<p>tail "), F.col("lang"), F.lit("</p></body>")),
                _null_str(),
                F.lit(2),
            ),
        ).alias("spans"),
    )
    return _extract_exploded(wrapped)


# ------------------------------------------- training-data pipeline ops
def _q_dedup_exact(spark, sf_dir):
    from zhtml_spark.textops import dedup_exact

    return dedup_exact(_docs(spark, sf_dir))


def _q_ngram_jaccard_pairs(spark, sf_dir):
    from zhtml_spark.textops import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.05)


def _q_minhash_dup_candidates(spark, sf_dir):
    from zhtml_spark.textops import minhash_dup_candidates

    return minhash_dup_candidates(_docs(spark, sf_dir), n=3, seeds=8,
                                  min_agree=2)


def _q_minhash_banded_candidates(spark, sf_dir):
    """b×r banded LSH (r=2): the scale-safe candidate generator."""
    from zhtml_spark.textops import minhash_banded_candidates

    d = _docs(spark, sf_dir).select("doc_id", "text")
    copies = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    return minhash_banded_candidates(
        d.unionByName(copies), n=3, bands=4, rows=2
    )


def _q_dedup_components(spark, sf_dir):
    """Exact duplicate clusters (r4): connected components over the
    banded-LSH candidate edges (same augmented corpus as
    `minhash_banded_candidates`, so every doc is connected at least to
    its +10000 shifted copy).  The oracle computes the same
    components INDEPENDENTLY — a recursive transitive-closure CTE over
    the identical candidate SQL.  The candidate set is far below
    ``textops._DRIVER_EDGES``, so this checks the driver union-find
    path; the distributed round loop is checked against the driver
    path by ``test_dedup_components_driver_path_matches_round_loop``."""
    from zhtml_spark.textops import (
        dedup_components,
        minhash_banded_candidates,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    copies = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    cands = minhash_banded_candidates(
        d.unionByName(copies), n=3, bands=4, rows=2
    )
    return dedup_components(cands).select(
        F.col("doc_id").cast("string").alias("doc_id"), "component"
    )


def _q_dedup_survivors_banded(spark, sf_dir):
    """The composed dedup job: exact dedup, then b×r banded LSH
    near-dup dominance."""
    from zhtml_spark.textops import dedup_survivors

    d = _docs(spark, sf_dir).select("doc_id", "text")
    exact_copies = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    near_copies = d.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    allx = d.unionByName(exact_copies).unionByName(near_copies)
    return dedup_survivors(allx, n=3, bands=4, rows=2)


def _q_simhash60(spark, sf_dir):
    """60-bit simhash (widest BIGINT-sign-safe): the scale path's
    signature — more bits → fewer random near-collisions at 10^12."""
    from zhtml_spark.textops import simhash_bits

    return simhash_bits(_docs(spark, sf_dir), bits=60)


def _q_simhash_dup_candidates(spark, sf_dir):
    """Near-dup detection demo on docs ∪ near-copies (one appended
    word) so qualifying pairs actually exist in the synthetic data."""
    from zhtml_spark.textops import simhash_dup_candidates

    d = _docs(spark, sf_dir).select("doc_id", "text")
    copies = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    return simhash_dup_candidates(d.unionByName(copies), max_hamming=6)


def _q_cosine_topk(spark, sf_dir):
    from zhtml_spark.textops import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, n_queries=5, k=5)


def _q_nearest_centroid(spark, sf_dir):
    from zhtml_spark.textops import nearest_centroid

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return nearest_centroid(emb, n_centroids=8)


def _q_embed_hashing(spark, sf_dir):
    """Self-derived document embeddings (r5, VERDICT r4 #6): the
    hashing-trick sketch over the documents table, emitted as
    (doc_id, dim_idx, q_weight) rows with the weight FLOOR-quantized
    by ``VEC_SCALE`` (floor is identical on both engines; the doubles
    themselves are bit-identical — integer counts, IEEE sqrt/divide).
    The oracle recomputes bucket, sign bit 47, signed counts, and the
    L2 norm from the same md5-48 hash."""
    from zhtml_spark.textops import embed_hashing

    emb = embed_hashing(_docs(spark, sf_dir), dim=16)
    return emb.select(
        "doc_id",
        F.posexplode("embedding").alias("dim_idx", "w"),
    ).select(
        "doc_id",
        "dim_idx",
        F.floor(F.col("w") * VEC_SCALE).cast("long").alias("q_weight"),
    )


def _q_trigram_lm_score(spark, sf_dir):
    """CCNet-style light-LM quality score (r6): mean per-trigram
    integer log-probability under the en trigram model, quantized by
    integer div — the filter-perplexity gate between heuristic
    filtering and dedup.  Docs below one trigram score NULL."""
    from zhtml_spark.textops import trigram_lm_score

    return trigram_lm_score(
        _docs(spark, sf_dir), lang="en", hash_fn="md5"
    )


def _q_dedup_incremental(spark, sf_dir):
    """Incremental dedup (r6): the documents table is the EXISTING
    corpus (its minhash_band_index the only state); the new batch is
    exact copies (+30000), near copies (+40000, one appended token),
    and novel synthetic docs (+50000, ten md5-derived gibberish words
    sharing no shingle with anything).  Exact and near copies
    collide with the index and drop; novel docs survive — without
    the old corpus ever being rescanned."""
    from zhtml_spark.textops import (
        dedup_against_index,
        minhash_band_index,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    novel_text = F.concat_ws(
        " ",
        *[
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"nv{i}:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                10,
            )
            for i in range(10)
        ],
    )
    new_batch = (
        d.select((F.col("doc_id") + 30000).alias("doc_id"), "text")
        .unionByName(
            d.select(
                (F.col("doc_id") + 40000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zq")).alias("text"),
            )
        )
        .unionByName(
            d.select(
                (F.col("doc_id") + 50000).alias("doc_id"),
                novel_text.alias("text"),
            )
        )
    )
    index = minhash_band_index(d, n=3, bands=4, rows=2)
    return dedup_against_index(
        new_batch, index, n=3, bands=4, rows=2, min_bands=1
    )


def _q_lang_gate(spark, sf_dir):
    """Fused one-pass language gate (r6; multilingual accept set +
    per-language floors r7): accept = (en, ja) with floors
    {en: -8.15e6, ja: -8.25e6} — en-predicted salad passes or drops
    on ITS floor (the sf document text scores around the salad
    median, so the en floor BINDS), held-out ja passes on the CJK
    floor, held-out es/zh/ru drop on prediction, every 7th doc is
    md5 gibberish that drops on the floor UNDER ITS OWN predicted
    language (ja/zh-attracted under the 10-language model: smallest
    seed mass = highest smoothing floor), and scoring caps at the
    120-char head (the giant-page guard is part of the gated
    semantics).  Pins hash_fn='md5' (engine default xxhash64)."""
    from zhtml_spark.textops import lang_gate

    gib = F.concat_ws(
        " ",
        *[
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"gb{i}:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                10,
            )
            for i in range(6)
        ],
    )
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, gib)
        .otherwise(_langid_case_col())
        .alias("text"),
    )
    return lang_gate(
        d,
        langs=("en", "ja"),
        max_chars=120,
        min_lm_score={"en": -8_150_000, "ja": -8_250_000},
        hash_fn="md5",
    ).select("doc_id")


def _q_kmeans_centroids(spark, sf_dir):
    """Distributed Lloyd k-means (r6, VERDICT r5 #4): fixed-iteration
    training over the embeddings table in quantized integer space —
    the oracle recomputes IDENTICAL centroids because every operation
    (floor-quantize, BIGINT L2, truncating integer-DIV means,
    centroid_id tie-breaks, md5-48 init) is exact on both engines.
    Output exploded per (centroid, dim) like embed_hashing."""
    from zhtml_spark.textops import kmeans_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = kmeans_centroids(emb, n_centroids=8, iters=3)
    return out.select(
        "centroid_id",
        F.posexplode("centroid").alias("dim_idx", "coord"),
        "n_members",
    )


def _q_pagerank_links(spark, sf_dir):
    """Fixed-iteration integer PageRank (r7 — crawl-quality weight):
    the edge list is derived DETERMINISTICALLY from the documents
    table (two arithmetic out-links per non-dangling doc; every
    doc_id % 7 == 0 node is dangling so the 1-row dangling-mass
    redistribution is exercised, not just compiled), then 3 unrolled
    iterations in quantized BIGINT space — the oracle recomputes
    IDENTICAL ranks because every step (truncating div, damping,
    teleport, dangling share) is integer-exact on both engines."""
    from zhtml_spark.textops import pagerank

    ids = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    m = ids.agg(F.count("*").alias("m"))
    base = ids.crossJoin(F.broadcast(m)).where("doc_id % 7 != 0")
    edges = base.select(
        F.col("doc_id").alias("src"),
        F.expr("(doc_id * 2 + 1) % m").alias("dst"),
    ).union(
        base.select(
            F.col("doc_id").alias("src"),
            F.expr("(doc_id * 3 + 7) % m").alias("dst"),
        )
    )
    return pagerank(edges, iters=3)


def _q_rebalance_sample(spark, sf_dir):
    """Target-distribution rebalancing sampler (r7): per-language
    keep rates COMPUTED from the observed counts against a target
    mix (en 30% / es+zh 20% / de+fr 15%), then the deterministic
    md5-48 hash-threshold keep rule — rates, survivors, and the
    sample itself identical on both engines."""
    from zhtml_spark.textops import rebalance_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return rebalance_sample(
        docs,
        {"en": 3000, "es": 2000, "zh": 2000, "de": 1500, "fr": 1500},
    ).select("doc_id", "lang", "rate_ppm")


def _q_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training (r7): 4 merge rounds over
    the documents vocabulary — the oracle replays the IDENTICAL
    training run because the merge step is a literal replace on the
    U+001F symbol carrier (non-overlapping left-to-right = BPE's
    greedy semantics, probed identical on both engines) and the
    argmax pair is a deterministic total order."""
    from zhtml_spark.textops import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_train(docs, n_merges=4)


def _q_bpe_encode(spark, sf_dir):
    """BPE encoding / per-doc token accounting (r7): train 6 merges
    on the documents vocabulary, apply them to the same corpus (the
    apply path is SEPARATE code — an in-plan fold over the broadcast
    merge array against the distinct-word vocabulary), return each
    document's word and token counts.  The oracle replays training
    via _bpe_ctes then applies the same literal-replace chain."""
    from zhtml_spark.textops import bpe_encode, bpe_train

    docs = _docs(spark, sf_dir)
    return (
        bpe_encode(docs, bpe_train(docs, n_merges=6))
        .orderBy("doc_id")
        .limit(500)
    )


def _q_quality_tiers(spark, sf_dir):
    """CCNet-style per-language head/middle/tail quality tiers (r7):
    the en trigram-LM score (md5 oracle path) bucketed to integer
    quanta, cut at 10%/30% per the documents table's own language
    column via the histogram — no corpus-scale sort."""
    from zhtml_spark.textops import score_tiers, trigram_lm_score

    scores = trigram_lm_score(
        _docs(spark, sf_dir),
        lang="en",
        hash_fn="md5",
        keep_cols=("lang",),
    )
    return score_tiers(
        scores,
        group_col="lang",
        score_col="lm_score",
        head_ppm=100_000,
        middle_ppm=300_000,
        bucket_q=1000,
    ).orderBy("doc_id").limit(500)


def _q_pq_adc_topk(spark, sf_dir):
    """Product-quantization ADC search (r7): m=4 subspace codebooks
    trained with the quantized-integer Lloyd, vectors encoded to 4
    codes, asymmetric-distance top-k from the per-query m×k distance
    table — ALL in one lazy plan; the oracle retrains the codebooks,
    re-encodes, and re-ranks entirely in SQL (prefix-named kmeans CTE
    chains, one per subspace)."""
    from zhtml_spark.textops import pq_adc_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_adc_topk(
        emb, n_queries=4, topk=5, m=4, k=8, iters=2, dim=64
    )


def _q_decontaminate_fuzzy(spark, sf_dir):
    """MinHash-banded benchmark decontamination (r7): the benchmark
    set is every 17th document with one appended token — a NEAR copy
    that shares no long verbatim n-gram run's guarantee but collides
    in LSH bands; those training docs (and any true near-dups of
    them) drop, the rest survive.  The bench side reduces to distinct
    bucket keys and broadcasts."""
    from zhtml_spark.textops import decontaminate_fuzzy

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 90000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    return decontaminate_fuzzy(docs, bench, n=3, bands=4, rows=2)


def _q_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (r7): three literal keyword queries over
    the documents table, k1=1.2/b=0.75 worked into EXACT integer
    arithmetic — idf via the fixed-point log2 recurrence
    (with_log2q), tf normalization as one exact rational — so the
    oracle recomputes bit-identical scores with the same CTE-chained
    integer log."""
    from zhtml_spark.textops import bm25_topk

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    queries = spark.createDataFrame(
        [
            (1, ["dup", "key"]),
            (2, ["customer", "join", "slow"]),
            (3, ["vector", "scan", "the"]),
        ],
        "query_id long, terms array<string>",
    )
    return bm25_topk(docs, queries, k=10)


def _q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (r7): target domain = every 13th
    document; every document scored by the hashed-unigram
    log-likelihood ratio (target vs raw, add-one smoothing, 256
    buckets) — both distributions estimated from the data, the logs
    computed by the integer fixed-point log2 recurrence on the
    bucket table, so weights are cross-engine exact."""
    from zhtml_spark.textops import dsir_weights

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    target = docs.where(F.col("doc_id") % 13 == 0)
    return dsir_weights(docs, target, n_buckets=256)


def _q_doc_line_dedup(spark, sf_dir):
    """Within-document duplicate-line removal (r7): each document is
    rendered as 7 lines with three self-repetitions (a duplicated
    cookie banner, a repeated body, a repeated head slice) plus a
    blank structural line — the first occurrences and the blank
    survive, n_removed = 3, all with ZERO shuffles."""
    from zhtml_spark.textops import dedup_lines_in_doc

    d = _docs(spark, sf_dir).select("doc_id", "text")
    multi = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("cookie notice accept all"),
            F.substring("text", 1, 40),
            F.lit("cookie notice accept all"),
            F.col("text"),
            F.lit(""),
            F.substring("text", 1, 40),
        ).alias("text"),
    )
    return dedup_lines_in_doc(multi)


def _q_bigram_selfscore(spark, sf_dir):
    """Corpus-trained bigram-LM self-perplexity (r7): the LM is
    estimated from the documents table itself (hashed word bigrams,
    add-one smoothing, 256 buckets), every doc scored by its mean
    conditional log2-prob via the integer fixed-point log — CCNet's
    perplexity filter with the model trained in-plan instead of
    shipped."""
    from zhtml_spark.textops import bigram_lm_selfscore

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return bigram_lm_selfscore(docs, n_buckets=256)


def _q_corpus_kl(spark, sf_dir):
    """Quantized corpus divergence (r7): KL(zh-labeled slice ‖ whole
    corpus) over 1024 hashed-unigram buckets with smoothed
    distributions on both sides — the one-row diagnostic a mixing
    pipeline watches while tuning rebalance/DSIR rates."""
    from zhtml_spark.textops import corpus_kl

    docs = _docs(spark, sf_dir)
    return corpus_kl(
        docs.select("doc_id", "text"),
        docs.where(F.col("lang") == "zh").select("doc_id", "text"),
        n_buckets=1024,
    )


def _q_doc_chunks(spark, sf_dir):
    """Sliding-window chunking (r7): documents split into ≤16-word
    chunks with 4-word overlap (stride 12) — exercises the
    pure-overlap tail-drop rule on every doc whose length lands in
    the drop window, zero shuffles."""
    from zhtml_spark.textops import chunk_documents

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return chunk_documents(docs, max_tokens=16, overlap=4)


def _q_ivf_topk_embedded(spark, sf_dir):
    """IVF ANN re-gated over SELF-DERIVED embeddings and TRAINED
    centroids (r6, VERDICT r5 #4): the full composition — text →
    hashing-trick embedding → k-means coarse quantizer → centroid
    prune → cosine top-k — in ONE lazy plan, oracle = the same
    restricted brute force over SQL-recomputed embeddings and
    SQL-retrained centroids."""
    from zhtml_spark.textops import (
        embed_hashing,
        ivf_topk,
        kmeans_centroids,
    )

    emb = embed_hashing(_docs(spark, sf_dir), dim=16).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    cents = kmeans_centroids(emb, n_centroids=8, iters=2).select(
        "centroid_id",
        F.transform(
            "centroid", lambda x: x.cast("double") / F.lit(float(VEC_SCALE))
        ).alias("c"),
    )
    return ivf_topk(emb, n_queries=5, k=5, n_probe=2, centroids=cents)


def _q_embedding_dup_candidates(spark, sf_dir):
    from zhtml_spark.textops import embedding_dup_candidates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_dup_candidates(emb, threshold=0.1, n_centroids=8)


def _q_embedding_dedup_survivors(spark, sf_dir):
    """Gates the composed SemDeDup-style pass: IVF-bucketed cosine
    candidates -> smallest-neighbor dominance anti-join."""
    from zhtml_spark.textops import embedding_dedup_survivors

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_dedup_survivors(emb, threshold=0.1, n_centroids=8)


def _synthetic_urls(spark, sf_dir):
    """Deterministic messy URLs from documents (testdata has no URL
    column): three shapes exercising fragment strip, case folding,
    default-port removal, and query sorting."""
    d = _docs(spark, sf_dir)
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTP://Example.COM:80/a/"),
                F.col("doc_id").cast("string"),
                F.lit("?z=1&a=2#sec"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("https://www.Site.ORG/path/"),
                F.col("doc_id").cast("string"),
                F.lit("?b=2&a=1"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://cdn.Example.net:443/x?q="),
                F.col("doc_id").cast("string"),
            )
        )
    )
    return d.select("doc_id", url.alias("url"))


def _q_url_normalize(spark, sf_dir):
    from zhtml_spark.textops import url_host, url_normalize

    urls = _synthetic_urls(spark, sf_dir)
    return urls.select(
        "doc_id",
        url_normalize(F.col("url")).alias("norm_url"),
        url_host(F.col("url")).alias("host"),
    )


def _q_dedup_by_canonical(spark, sf_dir):
    """Gates the canonical-URL dedup tier: odd docs declare
    rel=canonical at their even sibling's URL, so pairs collapse to
    the even survivor — composition of the head-meta harvest with the
    URL-identity tier."""
    from zhtml_spark.textops import dedup_by_canonical

    did = F.col("doc_id")
    even = F.floor(did / 2).cast("bigint") * 2

    def art(idc):
        s = idc.cast("string")
        return F.concat(
            F.lit("https://site"), (idc % 7).cast("string"),
            F.lit(".example/art"), s, F.lit("?ref="), s,
        )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        art(did).alias("url"),
        F.when(did % 2 == 1, art(even)).otherwise(F.lit(""))
        .alias("canonical"),
    )
    return dedup_by_canonical(d)


def _q_line_dedup(spark, sf_dir):
    """Gates corpus-level line dedup (the C4 pass): every doc carries
    a universal cookie-banner line and a per-site (doc_id%7) footer
    line — both duplicated corpus-wide and removed — plus its unique
    body text and a unique tail, which survive and rejoin in order.
    The oracle states the expected surviving text directly."""
    from zhtml_spark.textops import line_dedup

    d = F.col("doc_id").cast("string")
    text = F.concat_ws(
        "\n",
        F.lit("This site uses cookies ACCEPT ALL"),
        F.col("text"),
        F.concat(F.lit("footer of site"),
                 (F.col("doc_id") % 7).cast("string")),
        F.concat(F.lit("unique tail "), d),
    )
    docs = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    return line_dedup(docs)


def _page_shape_spans(spark, sf_dir):
    """Exploded spans of one page per document (heading, paragraph,
    list item, image), which the markdown, text and WET renderers
    read."""
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<body><h1>Doc "), d, F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><ul><li>item "), F.col("lang"),
        F.lit('</li></ul><img src="i'), d,
        F.lit('.png" alt="fig"></body>'),
    )
    return _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html)
    )


def _q_spans_to_markdown(spark, sf_dir):
    """Gates the markdown renderer end-to-end: parse → extract spans
    (heading/text/list/media) → one markdown doc per page.  The
    oracle states the expected markdown literally."""
    from zhtml_spark.textops import spans_to_markdown

    ex = _page_shape_spans(spark, sf_dir)
    return spans_to_markdown(ex)


def _q_wet_render(spark, sf_dir):
    """WET conversion-record rendering (r5): the spans_to_text page
    shape extracted through the REAL path, rendered as a byte-exact
    WET record (version line, conversion type, text/plain,
    octet-accurate Content-Length, CRLF framing).  The oracle states
    the ENTIRE record string from construction — one wrong header,
    separator, or length octet flips the hash."""
    from zhtml_spark.sources import wet_record
    from zhtml_spark.textops import spans_to_text

    ex = _page_shape_spans(spark, sf_dir)
    txt = spans_to_text(ex)
    return txt.select(
        "doc_id",
        wet_record(
            F.concat(F.lit("wet://doc/"), F.col("doc_id")),
            F.lit("2024-01-01T00:00:00Z"),
            F.col("text"),
        ).alias("record"),
    )


def _q_frontier_prioritized(spark, sf_dir):
    """Indegree-prioritized polite scheduling (r5): 20 hosts × ~25
    URLs; each URL has doc_id%4 incoming links (0 → absent from the
    REAL anchor_text_stats aggregation → NULL priority, which must
    sort LAST — the engines default opposite ways on DESC), so each
    host's fetch order is priority-desc then URL.  The oracle
    restates the whole schedule with DESC NULLS LAST window SQL."""
    from zhtml_spark.textops import anchor_text_stats, fetch_schedule

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    m = (did % 20).cast("string")
    url = F.concat(
        F.lit("https://h"), m, F.lit(".example/art"),
        did.cast("string"),
    )
    k = did % 4
    links = d.select(
        url.alias("resolved"),
        F.explode(
            F.when(k > 0, F.sequence(F.lit(1), k.cast("int")))
            .otherwise(F.array().cast("array<int>"))
        ).alias("j"),
    ).select(
        "resolved",
        F.lit("go").alias("anchor_text"),
        F.concat(F.lit("src"), F.col("j").cast("string"))
        .alias("doc_id"),
    )
    stats = anchor_text_stats(links)
    frontier = (
        d.select(
            F.concat(F.lit("h"), m).alias("host"), url.alias("url")
        )
        .join(
            stats.select(F.col("resolved").alias("url"), "n_sources"),
            "url",
            "left",
        )
    )
    delays = frontier.select("host").distinct().select(
        "host", F.lit(None).cast("double").alias("crawl_delay")
    )
    return fetch_schedule(frontier, delays, order_col="n_sources")


def _q_hreflang_clusters(spark, sf_dir):
    """Language-variant clustering (r5): docs in groups of three
    (de/en/fr variants of one page) each declare ALL THREE hreflang
    alternates plus an ``x-default`` pointing at the en variant (a
    duplicate member that must not inflate the distinct count)
    through the REAL head-meta extraction; every variant clusters
    under the lexicographically-smallest (.de) URL with n_members=3.
    The oracle states every row from construction."""
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.pipeline import extract_documents
    from zhtml_spark.textops import hreflang_clusters

    did = F.col("doc_id")
    base = (F.floor(did / 3) * 3).cast("bigint")
    stem = F.concat(
        F.lit("https://site"), (base % 7).cast("string"),
        F.lit(".example/p"), base.cast("string"),
    )
    my_lang = (
        F.when(did % 3 == 0, F.lit("de"))
        .when(did % 3 == 1, F.lit("en"))
        .otherwise(F.lit("fr"))
    )
    url = F.concat(stem, F.lit("."), my_lang)

    def alt(lang):
        return F.concat(
            F.lit('<link rel="alternate" hreflang="' + lang
                  + '" href="'),
            stem, F.lit("." + lang), F.lit('">'),
        )

    html = F.concat(
        F.lit("<head><title>t</title>"),
        alt("de"), alt("en"), alt("fr"),
        F.concat(
            F.lit('<link rel="alternate" hreflang="x-default"'
                  ' href="'),
            stem, F.lit('.en">'),
        ),
        F.lit("</head><body><p>x</p></body>"),
    )
    inter = _docs(spark, sf_dir).select(
        url.alias("doc_id"),
        F.array(
            _span_struct(F.lit("html"), html, _null_str(), F.lit(0))
        ).alias("spans"),
    )
    ex = (
        extract_documents(
            inter, config=ExtractConfig(emit_head_meta=True)
        )
        .select("doc_id", F.explode("spans").alias("s"))
    )
    alts = ex.where(
        (F.col("s.kind") == "meta")
        & F.col("s.media_ref").startswith("alternate:")
    ).select(
        F.col("doc_id").alias("url"),
        F.col("s.text").alias("alt"),
    )
    pages = inter.select(F.col("doc_id").alias("url"))
    return hreflang_clusters(pages, alts)


def _q_warc_length_audit(spark, sf_dir):
    """Content-Length audit (r5): per doc three records — intact
    (delta 0), a payload CONTAINING the literal record boundary
    (the string-splitter's one documented failure: the record chops
    early, the tail is lost, and delta must read exactly
    -(14 + len(tail)) — the boundary's 14 octets plus the lost
    bytes), and a payload whose OWN trailing CRLFCRLF meets the
    end-trim (the benign -4 edge).  The phantom tail fragment
    carries no WARC-Type and must NOT mint a row.  The oracle states
    every delta from construction — the corruption the splitter
    cannot avoid is now measured, not silent."""
    from zhtml_spark.sources import parse_warc_records, warc_record

    d = _docs(spark, sf_dir)
    ids = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    origin = F.concat(F.lit("https://site"), k, F.lit(".example"))
    date = F.lit("2024-01-01T00:00:00Z")
    ok = warc_record(
        F.concat(origin, F.lit("/ok"), ids), date,
        F.concat(F.lit("<p>before "), ids, F.lit("</p>")),
    )
    cut = warc_record(
        F.concat(origin, F.lit("/cut"), ids), date,
        F.concat(
            F.lit("<p>before "), ids,
            F.lit("</p>\r\n\r\nWARC/1.0\r\ntail"), ids,
        ),
    )
    pad = warc_record(
        F.concat(origin, F.lit("/pad"), ids), date,
        F.concat(F.lit("<p>pad "), ids, F.lit("</p>\r\n\r\n")),
    )
    archives = d.select(
        # pad sits INTERIOR (the -4 trim edge needs the inter-record
        # split to have consumed the writer's own separator); cut is
        # last, proving the phantom tail also dies at end-of-archive
        F.concat(ok, pad, cut).alias("content")
    )
    return parse_warc_records(archives).select(
        "warc_url", "length_delta"
    )


def _q_resolve_redirects(spark, sf_dir):
    """Redirect-chain closure (r5): per doc a REAL two-hop redirect
    chain (301 u→v, 302 v→w, 200 at w) plus, every fifth doc, a
    two-node CYCLE — built as WARC records, surfaced as redirect
    spans by warc_interleaved_spans, then resolved with max_hops=3.
    The oracle states every (src, final, hops, resolved) row: chain
    members collapse onto w with their true hop counts, cycle members
    surface resolved=false at the hop cap."""
    from zhtml_spark.sources import (
        parse_warc_records,
        warc_interleaved_spans,
        warc_record,
    )
    from zhtml_spark.textops import resolve_redirects

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    k = (did % 7).cast("string")
    origin = F.concat(F.lit("https://site"), k, F.lit(".example"))

    def page(name):
        return F.concat(origin, F.lit("/" + name), ids)

    date = F.lit("2024-01-01T00:00:00Z")

    def redir(src, dst, status):
        return warc_record(
            src, date, F.lit(""), http_headers=True, status=status,
            http_extra=F.concat(F.lit("Location: "), dst,
                                F.lit("\r\n")),
        )

    chain = F.concat(
        redir(page("u"), page("v"), "301 Moved Permanently"),
        redir(page("v"), page("w"), "302 Found"),
        warc_record(page("w"), date,
                    F.concat(F.lit("<p>Doc "), ids, F.lit("</p>")),
                    http_headers=True),
    )
    cycle = F.concat(
        redir(page("x"), page("y"), "301 Moved Permanently"),
        redir(page("y"), page("x"), "301 Moved Permanently"),
    )
    archives = d.select(
        F.when(did % 5 == 0, F.concat(chain, cycle))
        .otherwise(chain).alias("content")
    )
    spans = warc_interleaved_spans(parse_warc_records(archives))
    edges = spans.where(F.col("kind") == "redirect").select(
        F.col("doc_id").alias("src"),
        F.col("media_ref").alias("dst"),
    )
    return resolve_redirects(edges, max_hops=3)


def _q_spans_to_text(spark, sf_dir):
    """Gates the WET-form plain-text renderer (r5): the
    spans_to_markdown page shape (heading/text/list/media) rendered
    as visible text only — the media span must DROP (alt text is an
    attribute, not rendered text) while heading/paragraph/list pass
    verbatim, newline-joined in offset order."""
    from zhtml_spark.textops import spans_to_text

    ex = _page_shape_spans(spark, sf_dir)
    return spans_to_text(ex)


def _q_host_stats(spark, sf_dir):
    """Gates the per-host crawl report: messy-case hosts + unsorted
    queries + fragment-bearing recrawls (every 4th doc) must collapse
    under url_normalize, so n_distinct_urls < n_pages per host."""
    from zhtml_spark.textops import host_stats

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://Site"), (did % 7).cast("string"),
        F.lit(".example/art"), did.cast("string"), F.lit("?b=2&a=1"),
    )
    base = d.select(url.alias("url"), "text")
    recrawl = d.where(did % 4 == 0).select(
        F.concat(url, F.lit("#frag")).alias("url"), "text"
    )
    return host_stats(base.unionByName(recrawl))


def _q_text_quality(spark, sf_dir):
    from zhtml_spark.textops import text_quality

    return text_quality(_docs(spark, sf_dir))


def _q_quality_filter(spark, sf_dir):
    """Gopher/C4-style composed quality gate with thresholds tight
    enough to actually drop rows on the synthetic corpus."""
    from zhtml_spark.textops import quality_filter

    return quality_filter(
        _docs(spark, sf_dir).select("doc_id", "text"),
        min_tokens=30,
        max_tokens=100_000,
        max_avg_word_len=6.0,
        min_uniq_ratio=0.35,
    )


# held-out sentences (NOT in langid_model.SEED_TEXTS — true test
# data), shared verbatim by the Spark query and the DuckDB oracle.
# One per seed language (10 incl. Cyrillic + CJK since r7), in
# sorted-language order so doc_id % 11 picks deterministically.
from zhtml_spark.langid_model import HELD_OUT as _LANGID_HELD_OUT
from zhtml_spark.langid_model import N_BUCKETS as _LANGID_B

_LANGID_LANGS = sorted(_LANGID_HELD_OUT)  # de en es fr it ja nl pt ru zh


def _langid_case_sql() -> str:
    """CASE over ``doc_id % 11``: 1..10 → the held-out sentence of
    the i-th sorted language, else the document's own text — the
    DuckDB twin of the Spark-side corpus in _q_lang_id_v2/_q_lang_gate."""
    whens = "\n".join(
        f"WHEN {i + 1} THEN '{_LANGID_HELD_OUT[lg].replace(chr(39), chr(39) * 2)}'"
        for i, lg in enumerate(_LANGID_LANGS)
    )
    return f"CASE doc_id % 11 {whens} ELSE text END"


def _langid_case_col() -> Column:
    """Spark twin of :func:`_langid_case_sql`."""
    expr = F.col("doc_id") % 11
    c = None
    for i, lg in enumerate(_LANGID_LANGS):
        branch = F.when(expr == i + 1, F.lit(_LANGID_HELD_OUT[lg]))
        c = branch if c is None else c.when(
            expr == i + 1, F.lit(_LANGID_HELD_OUT[lg])
        )
    return c.otherwise(F.col("text"))


# per-doc trigram buckets ``bk(doc_id, b)`` over a ``low(doc_id, t)``
# CTE: the DuckDB twin of the Spark-side trigram hashing, shared by the
# lang_id_v2, lang_gate, trigram_lm_score and quality_tiers oracles
_LANGID_BUCKET_CTES = f"""grams AS (
                SELECT doc_id, substr(t, CAST(i.i AS INTEGER), 3) AS g
                FROM low, UNNEST(range(1, length(t) - 1)) i(i)
                WHERE length(t) >= 3
            ),
            bk AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5(g), 1, 12)) AS BIGINT)
                         % {_LANGID_B} AS b
                FROM grams
            )"""


def _langid_values() -> str:
    """DuckDB VALUES table of the trigram-NB weights — generated from
    the SAME Python model the Spark plan embeds as literals
    (zhtml_spark.langid_model), so no engine ever computes a log."""
    from zhtml_spark.langid_model import trigram_weights

    rows = ", ".join(
        f"('{lang}', CAST([{', '.join(map(str, wv))}] AS BIGINT[]))"
        for lang, wv in sorted(trigram_weights().items())
    )
    return f"(VALUES {rows}) t(lang, w)"


def _q_lang_id_v2(spark, sf_dir):
    """Trigram Naive-Bayes language id (r6, VERDICT r5 #7; ten seed
    languages incl. Cyrillic + CJK since r7, VERDICT r6 #5) over an
    eleven-way corpus synthesized from documents (doc_id % 11 picks
    one held-out sentence per language on 1..10; the en-ish document
    text otherwise) — gates discrimination across the full model,
    not just the scoring path.  Pins hash_fn='md5' (the cross-engine
    hash; the engine default is xxhash64)."""
    from zhtml_spark.textops import lang_id_v2

    d = _docs(spark, sf_dir).select(
        "doc_id",
        _langid_case_col().alias("text"),
    )
    return lang_id_v2(d, hash_fn="md5")


def _q_doc_fingerprint(spark, sf_dir):
    from zhtml_spark.textops import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir))


def _media_table(spark, sf_dir):
    """Synthesize a typed media table from documents: binary payload =
    utf-8 bytes of text (real bytes through the binary column path)."""
    return _docs(spark, sf_dir).select(
        F.concat(F.lit("m-"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.when(F.col("doc_id") % 3 == 0, F.lit("video"))
        .when(F.col("doc_id") % 3 == 1, F.lit("image"))
        .otherwise(F.lit("audio"))
        .alias("media_kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        (F.col("n_chars") % 640 + 16).cast("int").alias("width"),
        (F.col("n_chars") % 480 + 16).cast("int").alias("height"),
        (F.col("n_chars") * 100).cast("long").alias("duration_ms"),
    )


def _q_media_features(spark, sf_dir):
    from zhtml_spark.multimodal import extract_media_features

    feats = extract_media_features(_media_table(spark, sf_dir), n_features=4)
    return feats.select(
        "media_ref",
        "media_kind",
        "checksum",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(F.element_at("features", 2), 6).alias("f1"),
        F.round(F.element_at("features", 3), 6).alias("f2"),
        F.round(F.element_at("features", 4), 6).alias("f3"),
    )


def _q_image_meta(spark, sf_dir):
    """Binary image-header decode (r4, VERDICT r3 #7): PNG payloads
    are synthesized JVM-side (``unhex`` over the PNG signature + IHDR
    chunk with per-doc dims), then ``decode_image_meta``'s pure-Python
    sniffer parses width/height/format back out of the raw bytes in
    one Arrow-batched ``map_rows`` stage.  The oracle states the
    dims from CONSTRUCTION knowledge — the row only matches if the
    byte-level round trip (hex → binary → Arrow → struct.unpack) is
    exact."""
    from zhtml_spark.multimodal import decode_image_meta

    d = _docs(spark, sf_dir)
    w = (F.col("doc_id") % 640 + 16).cast("int")
    h = (F.col("doc_id") % 480 + 9).cast("int")
    payload = F.unhex(
        F.concat(
            F.lit("89504E470D0A1A0A"),      # PNG signature
            F.lit("0000000D49484452"),      # IHDR length + type
            F.lpad(F.hex(w), 8, "0"),
            F.lpad(F.hex(h), 8, "0"),
            F.lit("080200000000000000"),    # bit depth etc + pad
        )
    )
    imgs = d.select(
        F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        payload.alias("payload"),
    )
    return decode_image_meta(imgs).select(
        "media_ref", "format", "width", "height", "decoder"
    )


def _hex_be(col, n_bytes):
    """Big-endian fixed-width hex of an integer column (JVM-side)."""
    return F.lpad(F.hex(col), 2 * n_bytes, "0")


def _hex_le(col, n_bytes):
    """LITTLE-endian fixed-width hex (RIFF fields): byte-swap the
    big-endian hex pairwise, JVM-side."""
    be = _hex_be(col, n_bytes)
    return F.concat(
        *[
            F.substring(be, 2 * i + 1, 2)
            for i in reversed(range(n_bytes))
        ]
    )


def _q_media_container_meta(spark, sf_dir):
    """Video/audio container-header decode (r5, VERDICT r4 #4): the
    image_meta recipe extended to the moving-media containers.  Three
    payload families are synthesized JVM-side with ``unhex``:

    * doc_id%3==0 — ISO-BMFF mp4: ftyp + moov(mvhd timescale 600 +
      per-doc duration; trak/tkhd with per-doc 16.16 fixed dims),
      every box size exact;
    * doc_id%3==1 — RIFF WAV: fmt (per-doc channels/sample-rate) +
      a declared data size (streamed-prefix sniffing: header fields
      only, little-endian throughout, byte-swapped JVM-side);
    * doc_id%3==2 — a fixed valid WebM EBML tree (DocType, Info with
      TimecodeScale+Duration, Tracks/Video pixel dims).

    ``decode_container_meta``'s pure-Python walker parses them back in
    one Arrow-batched ``map_rows`` stage; the oracle states every
    field from CONSTRUCTION arithmetic (integer //), so rows match
    only if the byte-level round trip is exact."""
    from zhtml_spark.multimodal import decode_container_meta

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    # -- mp4: per-doc dims + duration (timescale 600) ---------------
    w = (did % 640 + 16).cast("int")
    h = (did % 480 + 9).cast("int")
    dur = (did * 7 + 600).cast("long")
    mp4_hex = F.concat(
        F.lit("0000001066747970" "69736F6D" "00000200"),  # ftyp isom
        F.lit("000000D8" "6D6F6F76"),                     # moov(216)
        F.lit("0000006C" "6D766864"), F.lit("00" * 12),   # mvhd(108) v0
        F.lit("00000258"), _hex_be(dur, 4), F.lit("00" * 80),
        F.lit("00000064" "7472616B"),                     # trak(100)
        F.lit("0000005C" "746B6864"), F.lit("00" * 76),   # tkhd(92) v0
        _hex_be(w, 2), F.lit("0000"), _hex_be(h, 2), F.lit("0000"),
    )
    # -- wav: per-doc audio params, declared data size --------------
    ch = (did % 2 + 1).cast("int")
    sr = (did % 5 * 1000 + 8000).cast("int")
    block = (ch * 2).cast("int")
    byte_rate = (sr * block).cast("int")
    data_size = (byte_rate * (did % 4 + 1) + did % 997).cast("int")
    wav_hex = F.concat(
        F.lit("52494646"), _hex_le(data_size + 36, 4), F.lit("57415645"),
        F.lit("666D7420" "10000000" "0100"),  # fmt(16), PCM
        _hex_le(ch, 2), _hex_le(sr, 4), _hex_le(byte_rate, 4),
        _hex_le(block, 2), F.lit("1000"),     # 16-bit
        F.lit("64617461"), _hex_le(data_size, 4),
    )
    # -- webm: fixed EBML tree (640x480, 12345 ms) ------------------
    webm_hex = F.lit(
        "1A45DFA3874282847765626D18538067A41549A9668E2AD7B1830F4240"
        "4489844640E4001654AE6B8CAE8AE088B0820280BA8201E0"
    )
    payload = F.unhex(
        F.when(did % 3 == 0, mp4_hex)
        .when(did % 3 == 1, wav_hex)
        .otherwise(webm_hex)
    )
    media = d.select(
        F.concat(F.lit("med://"), did.cast("string")).alias("media_ref"),
        payload.alias("payload"),
    )
    return decode_container_meta(media).select(
        "media_ref", "format", "width", "height", "duration_ms",
        "sample_rate", "channels", "decoder",
    )


def _fixed_multipage_pdf() -> bytes:
    """The FIXED six-page PDF (page 1 FlateDecode with escape/hex/
    UTF-16BE strings + per-line font sizes, page 2 ASCIIHexDecode,
    page 3 a Type0 font whose show-string bytes are 2-byte glyph
    codes decoded ONLY via its ToUnicode CMap — bfchar single- and
    multi-char destinations, an incrementing bfrange, non-ASCII
    targets, page 4 the classic ps2pdf armor chain
    ``[/ASCII85Decode /FlateDecode]``, page 5 ``/RunLengthDecode``
    with both literal and repeat runs, page 6 body text routed
    through a ``/Subtype /Form`` XObject plus a URI ``/Link``
    annotation) shared by ``pdf_extract`` (odd docs) and
    ``warc_pdf_extract`` (odd docs) — deterministic bytes built once
    at plan-build time.  Expected spans (construction): heading
    "Flate (layout) line", text "Esc tab" / "Hex!" / "Hi" /
    "Page two" / "Cmap naïve € ABC" / "A85 flate chain" /
    "Run length" / "Via form", link → https://fix.test/next."""
    import base64 as _base64
    import zlib as _zlib

    flate = _zlib.compress(
        b"BT /F1 20 Tf 14 TL 72 720 Td (Flate \\(layout\\) line) Tj "
        b"/F1 10 Tf T* (Esc \\164ab) Tj T* <48657821> Tj "
        b"T* (\\376\\377\\000H\\000i) Tj ET",
        9,
    )
    hexed = (
        b"BT /F1 10 Tf 72 720 Td (Page two) Tj ET".hex().encode()
        + b">"
    )
    # glyph codes 0001..0006 + range 0010..0012 -> "Cmap naïve € ABC"
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"begincmap\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"6 beginbfchar\n"
        b"<0001> <0043>\n"          # C
        b"<0002> <006D0061>\n"      # ma
        b"<0003> <0070>\n"          # p
        b"<0004> <0020>\n"          # space
        b"<0005> <006E006100EF00760065>\n"  # naïve
        b"<0006> <20AC>\n"          # euro
        b"endbfchar\n"
        b"1 beginbfrange\n"
        b"<0010> <0012> <0041>\n"   # A B C
        b"endbfrange\n"
        b"endcmap\n"
    )
    cid_content = (
        b"BT /F9 10 Tf 72 720 Td "
        b"<000100020003000400050004000600040010> Tj "
        b"<00110012> Tj ET"
    )
    a85flate = (
        _base64.a85encode(
            _zlib.compress(
                b"BT /F1 10 Tf 72 720 Td (A85 flate chain) Tj ET", 9
            )
        )
        + b"~>"
    )
    # RunLength by hand: literal run + 5-space repeat (between
    # operators, so the decoded text is unaffected) + literal run
    _rl1 = b"BT /F1 10 Tf 72 720 Td"
    _rl2 = b"(Run length) Tj ET"
    rle = (
        bytes([len(_rl1) - 1]) + _rl1
        + bytes([257 - 5, 0x20])
        + bytes([len(_rl2) - 1]) + _rl2
        + b"\x80"
    )
    form_invoke = b"q /Fm1 Do Q"
    form_body = b"BT /F1 10 Tf 72 720 Td (Via form) Tj ET"
    return b"".join(
        [
            b"%PDF-1.4\n",
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
            b"2 0 obj << /Type /Pages /Kids"
            b" [3 0 R 6 0 R 8 0 R 12 0 R 14 0 R 16 0 R]"
            b" /Count 6 >> endobj\n",
            b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
            b" endobj\n",
            b"4 0 obj << /Filter /FlateDecode /Length ",
            str(len(flate)).encode(),
            b" >> stream\n",
            flate,
            b"\nendstream endobj\n",
            b"6 0 obj << /Type /Page /Parent 2 0 R /Contents 7 0 R >>"
            b" endobj\n",
            b"7 0 obj << /Filter /ASCIIHexDecode /Length ",
            str(len(hexed)).encode(),
            b" >> stream\n",
            hexed,
            b"\nendstream endobj\n",
            b"8 0 obj << /Type /Page /Parent 2 0 R /Contents 9 0 R"
            b" /Resources << /Font << /F9 10 0 R >> >> >> endobj\n",
            b"9 0 obj << /Length ",
            str(len(cid_content)).encode(),
            b" >> stream\n",
            cid_content,
            b"\nendstream endobj\n",
            b"10 0 obj << /Type /Font /Subtype /Type0"
            b" /BaseFont /AAAAAA+FakeCID /ToUnicode 11 0 R >> endobj\n",
            b"11 0 obj << /Length ",
            str(len(cmap)).encode(),
            b" >> stream\n",
            cmap,
            b"\nendstream endobj\n",
            b"12 0 obj << /Type /Page /Parent 2 0 R /Contents 13 0 R"
            b" >> endobj\n",
            b"13 0 obj << /Filter [/ASCII85Decode /FlateDecode]"
            b" /Length ",
            str(len(a85flate)).encode(),
            b" >> stream\n",
            a85flate,
            b"\nendstream endobj\n",
            b"14 0 obj << /Type /Page /Parent 2 0 R /Contents 15 0 R"
            b" >> endobj\n",
            b"15 0 obj << /Filter /RunLengthDecode /Length ",
            str(len(rle)).encode(),
            b" >> stream\n",
            rle,
            b"\nendstream endobj\n",
            b"16 0 obj << /Type /Page /Parent 2 0 R /Contents 17 0 R"
            b" /Resources << /XObject << /Fm1 18 0 R >> >>"
            b" /Annots [19 0 R] >> endobj\n",
            b"17 0 obj << /Length ",
            str(len(form_invoke)).encode(),
            b" >> stream\n",
            form_invoke,
            b"\nendstream endobj\n",
            b"18 0 obj << /Type /XObject /Subtype /Form /Length ",
            str(len(form_body)).encode(),
            b" >> stream\n",
            form_body,
            b"\nendstream endobj\n",
            b"19 0 obj << /Type /Annot /Subtype /Link"
            b" /Rect [72 700 200 730]"
            b" /A << /S /URI /URI (https://fix.test/next) >> >>"
            b" endobj\n",
            b"trailer << /Root 1 0 R >>\n%%EOF",
        ]
    )


def _q_warc_pdf_extract(spark, sf_dir):
    """Interleaved multi-format WARC extraction (r5): even docs are
    ``text/html`` HTTP response records, odd docs ``application/pdf``
    records carrying the fixed six-page PDF as latin-1 text — the
    byte-faithful carrier ``read_warc(charset='ISO-8859-1')`` uses
    for mixed archives.  ``parse_warc_records`` extracts each
    payload's Content-Type from its HTTP headers and
    ``warc_interleaved_spans`` routes on it: HTML re-decodes to UTF-8
    into the fused extraction path, PDFs re-encode to EXACT original
    bytes into ``pdfops``.  One span schema out; the oracle states
    both branches' spans from construction, so a single corrupted
    byte anywhere in the latin-1 round trip fails the hash."""
    from zhtml_spark.sources import (
        parse_warc_records,
        warc_interleaved_spans,
        warc_record,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    url = F.concat(F.lit("warc://doc/"), ids)
    date = F.lit("2024-01-01T00:00:00Z")
    html_rec = warc_record(
        url,
        date,
        F.concat(
            F.lit("<body><h1>Doc "), ids, F.lit("</h1><p>"),
            F.col("text"), F.lit("</p></body>"),
        ),
        http_headers=True,
    )
    pdf_rec = warc_record(
        url,
        date,
        F.decode(
            F.unhex(F.lit(_fixed_multipage_pdf().hex().upper())),
            "ISO-8859-1",
        ),
        http_headers=True,
        payload_ctype="application/pdf",
    )
    archives = d.select(
        F.when(did % 2 == 0, html_rec).otherwise(pdf_rec).alias(
            "content"
        )
    )
    return warc_interleaved_spans(parse_warc_records(archives))


def _q_warc_charset_extract(spark, sf_dir):
    """WHATWG charset sniffing end-to-end (r5): five per-doc charset
    classes rendered as HTTP-carried WARC records on the latin-1
    carrier, decoded by ``decode_sniffed_payloads`` (spec-mode
    windows-1252 default, flagless repertoire only — exactly what a
    foreign driver session can run), then extracted.  Classes by
    ``doc_id % 5``: (0) windows-1252 bytes declared via the header's
    ``charset=iso-8859-1`` — the WHATWG latin1→1252 fold AND the
    0x80-block translate decode; (1) BOM'd UTF-8, nothing declared —
    BOM precedence + BOM stripping (an unstripped U+FEFF would change
    span 0's hash); (2) ``<meta charset=utf-8>`` prescan; (3) nothing
    declared, high-byte latin-1 body — the spec default path (a blind
    UTF-8 engine would mojibake or throw); (4) BOM'd UTF-16LE.  The
    oracle states every span from construction."""
    from zhtml_spark.sources import (
        _W1252_DST,
        _W1252_SRC,
        decode_sniffed_payloads,
        parse_warc_records,
        warc_record,
        warc_to_documents,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    url = F.concat(F.lit("warc://doc/"), ids)
    date = F.lit("2024-01-01T00:00:00Z")

    def page(suffix: str, head: str = "") -> Column:
        return F.concat(
            F.lit(f"{head}<body><h1>Doc "), ids, F.lit("</h1><p>"),
            F.col("text"), F.lit(suffix + "</p></body>"),
        )

    # carrier renderings (string whose codepoints ARE the wire bytes)
    w1252 = F.translate(
        page(" café €99 ™"), _W1252_DST, _W1252_SRC
    )
    utf8_bom = F.concat(
        F.lit("ï»¿"),
        F.decode(F.encode(page(" naïve ✓"), "UTF-8"), "ISO-8859-1"),
    )
    utf8_meta = F.decode(
        F.encode(
            page(" – naïve", head='<head><meta charset="utf-8"></head>'),
            "UTF-8",
        ),
        "ISO-8859-1",
    )
    plain_default = page(" café 45°")  # latin-1-identity chars
    utf16 = F.concat(
        F.lit("ÿþ"),
        F.decode(F.encode(page(" utf16 é"), "UTF-16LE"), "ISO-8859-1"),
    )

    def rec(payload: Column, ctype: str = "text/html") -> Column:
        return warc_record(
            url, date, payload, http_headers=True, payload_ctype=ctype
        )

    archives = d.select(
        F.when(did % 5 == 0, rec(w1252, "text/html; charset=iso-8859-1"))
        .when(did % 5 == 1, rec(utf8_bom))
        .when(did % 5 == 2, rec(utf8_meta))
        .when(did % 5 == 3, rec(plain_default))
        .otherwise(rec(utf16))
        .alias("content")
    )
    recs = decode_sniffed_payloads(
        parse_warc_records(archives),
        default_charset="windows-1252",
        extended=False,
    )
    return _extract_exploded(warc_to_documents(recs))


def _q_warc_http_codec_extract(spark, sf_dir):
    """HTTP wire codings end-to-end (r5): five per-doc coding classes
    rendered as HTTP-carried WARC records on the latin-1 carrier,
    undone by ``decode_http_payloads`` (inside
    ``warc_interleaved_spans``), then extracted.  Classes by
    ``doc_id % 5``: (0) identity control; (1) ``Transfer-Encoding:
    chunked`` with per-doc text, the split landing mid-markup and a
    chunk extension on the size line — framing built JVM-side
    (``hex(octet_length)``), so reassembly must happen before
    tokenization or hex size lines corrupt every span; (2)
    ``Content-Encoding: gzip`` of a fixed body; (3) zlib-wrapped
    ``deflate``; (4) chunked OVER gzip — TE removed first, then CE,
    per RFC 9112.  The oracle states every span from construction;
    crawlers that archive raw exchanges (wget --warc, proxy captures)
    produce exactly these bodies, which Common-Crawl-tuned readers
    silently mangle."""
    import zlib as _zlib

    from zhtml_spark.sources import (
        parse_warc_records,
        warc_interleaved_spans,
        warc_record,
    )

    def carrier(b: bytes) -> Column:
        return F.decode(F.unhex(F.lit(b.hex().upper())), "ISO-8859-1")

    def gz(b: bytes) -> bytes:
        co = _zlib.compressobj(9, _zlib.DEFLATED, 31)
        return co.compress(b) + co.flush()

    def chunk2(b: bytes) -> bytes:
        cut = max(1, len(b) // 2)
        out = b""
        for part in (b[:cut], b[cut:]):
            out += format(len(part), "x").encode() + b"\r\n" + part + b"\r\n"
        return out + b"0\r\n\r\n"

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    url = F.concat(F.lit("warc://doc/"), ids)
    date = F.lit("2024-01-01T00:00:00Z")

    plain_page = F.concat(
        F.lit("<body><h1>Doc "), ids, F.lit("</h1><p>"),
        F.col("text"), F.lit(" plain</p></body>"),
    )
    chunk_page = F.concat(
        F.lit("<body><h1>Doc "), ids, F.lit("</h1><p>"),
        F.col("text"), F.lit(" chunked</p></body>"),
    )
    part1 = F.substring(chunk_page, 1, 10)  # "<body><h1>" — mid-markup cut
    part2 = F.substring(chunk_page, 11, 1 << 30)
    chunked = F.concat(
        F.lit("a;x=y\r\n"), part1, F.lit("\r\n"),
        F.lower(F.hex(F.octet_length(part2))), F.lit("\r\n"),
        part2, F.lit("\r\n0\r\n\r\n"),
    )
    gz_body = gz(b"<body><h1>GZ</h1><p>gzip fixed body</p></body>")
    df_body = _zlib.compress(
        b"<body><h1>DF</h1><p>deflate fixed body</p></body>", 9
    )
    cg_body = chunk2(
        gz(b"<body><h1>CG</h1><p>chunked gzip body</p></body>")
    )

    def rec(payload: Column, extra: str = "") -> Column:
        return warc_record(
            url, date, payload, http_headers=True, http_extra=extra
        )

    archives = d.select(
        F.when(did % 5 == 0, rec(plain_page))
        .when(did % 5 == 1, rec(chunked, "Transfer-Encoding: chunked\r\n"))
        .when(did % 5 == 2, rec(carrier(gz_body), "Content-Encoding: gzip\r\n"))
        .when(did % 5 == 3, rec(carrier(df_body), "Content-Encoding: deflate\r\n"))
        .otherwise(
            rec(
                carrier(cg_body),
                "Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n",
            )
        )
        .alias("content")
    )
    return warc_interleaved_spans(parse_warc_records(archives))


def _q_warc_plaintext_extract(spark, sf_dir):
    """text/plain dispatch end-to-end (r5): three per-doc payload
    classes rendered as HTTP-carried WARC records on the latin-1
    carrier through ``warc_interleaved_spans``.  Classes by
    ``doc_id % 3``: (0) text/plain, UTF-8 body containing a stray
    ``<`` AND a literal ``<meta charset="windows-1252">`` string —
    the tokenizer would swallow everything after the ``<`` and the
    meta prescan would mojibake the UTF-8 ``é`` (Ã©), so the verbatim
    whole-body span proves BOTH the bypass and the prescan
    suppression; (1) text/plain with transport
    ``charset=iso-8859-1`` and a windows-1252 body (€ in the
    0x80-block) — transport charset still applies to plaintext;
    (2) text/html control with the same angle-bracket entity-encoded
    — the dispatch routes it through the tokenizer (a global bypass
    would leave ``&lt;`` undecoded).  The oracle states every span
    from construction."""
    from zhtml_spark.sources import (
        _W1252_DST,
        _W1252_SRC,
        parse_warc_records,
        warc_interleaved_spans,
        warc_record,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    url = F.concat(F.lit("warc://doc/"), ids)
    date = F.lit("2024-01-01T00:00:00Z")

    plain_utf8 = F.decode(
        F.encode(
            F.concat(
                F.lit('x < y; <meta charset="windows-1252"> café '),
                F.col("text"),
            ),
            "UTF-8",
        ),
        "ISO-8859-1",
    )
    plain_w1252 = F.translate(
        F.concat(F.col("text"), F.lit(" résumé €9")),
        _W1252_DST,
        _W1252_SRC,
    )
    html_ctl = F.concat(
        F.lit("<body><h1>Doc "), ids, F.lit("</h1><p>"),
        F.col("text"), F.lit(" x &lt; y</p></body>"),
    )

    archives = d.select(
        F.when(
            did % 3 == 0,
            warc_record(
                url, date, plain_utf8, http_headers=True,
                payload_ctype="text/plain",
            ),
        )
        .when(
            did % 3 == 1,
            warc_record(
                url, date, plain_w1252, http_headers=True,
                payload_ctype="text/plain; charset=iso-8859-1",
            ),
        )
        .otherwise(
            warc_record(url, date, html_ctl, http_headers=True)
        )
        .alias("content")
    )
    return warc_interleaved_spans(parse_warc_records(archives))


def _q_warc_feed_extract(spark, sf_dir):
    """Syndication-feed dispatch end-to-end (r5): three per-doc
    payload classes rendered as HTTP-carried WARC records through
    ``warc_interleaved_spans``.  Classes by ``doc_id % 3``: (0) RSS
    2.0 with a CDATA-wrapped HTML description and an ``<enclosure>``
    — the two-level parse (CDATA unwrap, then HTML extraction) plus
    the media span; (1) Atom with an XML prolog declaring
    ``encoding="windows-1252"`` and a ``€`` (0x80 byte) in the
    escaped-HTML summary — the prolog charset source (BOM-less,
    header charset-less) and the entity-decode-then-parse path, plus
    a ``type="html"`` title and a ``rel="enclosure"`` link; (2)
    text/html control — proves the dispatch routes only feed roots.
    The oracle states every span from construction."""
    from zhtml_spark.sources import (
        _W1252_DST,
        _W1252_SRC,
        parse_warc_records,
        warc_interleaved_spans,
        warc_record,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    url = F.concat(F.lit("warc://doc/"), ids)
    date = F.lit("2024-01-01T00:00:00Z")

    rss = F.concat(
        F.lit('<?xml version="1.0"?><rss version="2.0"><channel>'),
        F.lit("<title>Feed "), ids, F.lit("</title>"),
        F.lit("<item><title>Item "), ids, F.lit("</title>"),
        F.lit("<description><![CDATA[<p>"), F.col("text"),
        F.lit(" rss</p>]]></description>"),
        F.lit('<enclosure url="https://cdn.example/'), ids,
        F.lit('.mp3"/></item></channel></rss>'),
    )
    atom = F.translate(
        F.concat(
            F.lit(
                '<?xml version="1.0" encoding="windows-1252"?>'
                '<feed xmlns="http://www.w3.org/2005/Atom">'
                "<title>Atom "
            ),
            ids,
            F.lit(
                '</title><entry><title type="html">E &lt;b&gt;'
            ),
            ids,
            F.lit("&lt;/b&gt;</title><summary>&lt;p&gt;"),
            F.col("text"),
            F.lit(" €9&lt;/p&gt;</summary>"),
            F.lit('<link rel="enclosure" href="https://cdn.example/'),
            ids,
            F.lit('.ogg"/></entry></feed>'),
        ),
        _W1252_DST,
        _W1252_SRC,
    )
    html_ctl = F.concat(
        F.lit("<body><h1>Doc "), ids, F.lit("</h1><p>"),
        F.col("text"), F.lit(" html</p></body>"),
    )

    archives = d.select(
        F.when(
            did % 3 == 0,
            warc_record(
                url, date, rss, http_headers=True,
                payload_ctype="application/rss+xml",
            ),
        )
        .when(
            did % 3 == 1,
            warc_record(
                url, date, atom, http_headers=True,
                payload_ctype="application/atom+xml",
            ),
        )
        .otherwise(
            warc_record(url, date, html_ctl, http_headers=True)
        )
        .alias("content")
    )
    return warc_interleaved_spans(parse_warc_records(archives))


def _q_pdf_extract(spark, sf_dir):
    """PDF text + layout extraction (r5, north_rule: "PDF/layout
    parse").  Even docs get a per-doc ASCII PDF synthesized JVM-side
    (catalog → pages → page with an image-XObject resource, content
    stream with exact ``/Length`` from ``octet_length``); odd docs a
    FIXED six-page file mixing FlateDecode, ASCIIHexDecode,
    ToUnicode-CMap Type0, chained ASCII85+Flate, and RunLength
    content streams (bytes computed once at plan-build time with
    zlib — deterministic — and embedded as a hex literal).
    ``pdfops.decode_pdf_spans`` earns every row back through the full
    byte-level round trip: object scan, trailer/page-tree walk,
    filter chains, text operators (Td/TD/T*/TJ kerning spaces,
    octal/hex/UTF-16BE strings), baseline line grouping, the
    1.5×-median heading rule, and the ``Do`` image media span.  The
    oracle states every span from CONSTRUCTION knowledge."""
    from zhtml_spark.pdfops import decode_pdf_spans

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    w = (did % 640 + 16).cast("int").cast("string")
    h = (did % 480 + 9).cast("int").cast("string")
    content = F.concat(
        F.lit("BT /F1 24 Tf 72 720 Td (Title "), ids,
        F.lit(") Tj ET\nBT /F1 10 Tf 72 700 Td (Body line "), ids,
        F.lit(") Tj 0 -14 TD [(Second) -250 (part "),
        (did % 7).cast("string"),
        F.lit(")] TJ ET\nq /Im1 Do Q"),
    )
    filea = F.concat(
        F.lit(
            "%PDF-1.4\n"
            "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >>"
            " endobj\n"
            "3 0 obj << /Type /Page /Parent 2 0 R /Resources"
            " << /XObject << /Im1 5 0 R >> >> /Contents 4 0 R >>"
            " endobj\n"
            "4 0 obj << /Length "
        ),
        F.octet_length(content).cast("string"),
        F.lit(" >> stream\n"),
        content,
        F.lit(
            "\nendstream endobj\n"
            "5 0 obj << /Type /XObject /Subtype /Image /Width "
        ),
        w,
        F.lit(" /Height "),
        h,
        F.lit(
            " /Length 1 >> stream\nX\nendstream endobj\n"
            "trailer << /Root 1 0 R >>\n%%EOF"
        ),
    )
    fileb = _fixed_multipage_pdf()
    payload = F.when(did % 2 == 0, F.encode(filea, "UTF-8")).otherwise(
        F.unhex(F.lit(fileb.hex().upper()))
    )
    pdfs = d.select(
        F.concat(F.lit("pdf://"), ids).alias("media_ref"),
        payload.alias("payload"),
    )
    return decode_pdf_spans(pdfs).select(
        "media_ref", "offset", "kind", "text", "span_ref"
    )


def _q_html_lang_meta(spark, sf_dir):
    """Root-element language harvest (r5): doc%3 rotates a
    mixed-case BCP-47 ``<html lang="EN-us">`` (must lowercase), a
    bare ``lang="fr"``, and NO lang attribute (no span — the signal
    is never fabricated).  The oracle states the surviving rows."""
    from zhtml_spark.extract import ExtractConfig

    did = F.col("doc_id")
    lang_attr = (
        F.when(did % 3 == 0, F.lit(' lang="EN-us"'))
        .when(did % 3 == 1, F.lit(' lang="fr"'))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html"), lang_attr,
        F.lit("><head><title>T</title></head><body><p>Doc "),
        did.cast("string"),
        F.lit("</p></body></html>"),
    )
    ex = _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(emit_head_meta=True),
    )
    return ex.where(F.col("media_ref") == "lang").select(
        "doc_id", F.col("text").alias("lang")
    )


def _q_pdf_outline(spark, sf_dir):
    """PDF document outline (r5, §12.3.3): per-doc PDF whose catalog
    carries an /Outlines tree — a top-level chapter with one child
    plus a SECOND top-level item whose /Title is a hex UTF-16BE
    string with a BOM ('Résumé' — wrong decoding shows immediately) —
    emitted as ('meta', title, 'outline:<depth>') spans after the
    page content, followed by the trailer /Info document-information
    dictionary (§14.3.3: title/author/creation date in allowlist
    order).  The oracle states all seven spans per doc from
    construction: a wrong walk order, depth, key order, or string
    decode flips the hash."""
    from zhtml_spark.pdfops import decode_pdf_spans

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    content = F.concat(
        F.lit("BT /F1 12 Tf 72 720 Td (Body "), ids, F.lit(") Tj ET")
    )
    pdf = F.concat(
        F.lit(
            "%PDF-1.4\n"
            "1 0 obj << /Type /Catalog /Pages 2 0 R /Outlines 4 0 R"
            " >> endobj\n"
            "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >>"
            " endobj\n"
            "3 0 obj << /Type /Page /Parent 2 0 R /Contents 8 0 R >>"
            " endobj\n"
            "4 0 obj << /Type /Outlines /First 5 0 R /Last 6 0 R >>"
            " endobj\n"
            "5 0 obj << /Title (Chapter "
        ),
        ids,
        F.lit(
            ") /Next 6 0 R /First 7 0 R /Last 7 0 R >> endobj\n"
            "6 0 obj << /Title <FEFF005200E900730075006D00E9> >>"
            " endobj\n"
            "7 0 obj << /Title (Intro "
        ),
        ids,
        F.lit(") /Parent 5 0 R >> endobj\n8 0 obj << /Length "),
        F.octet_length(content).cast("string"),
        F.lit(" >> stream\n"),
        content,
        F.lit(
            "\nendstream endobj\n"
            "9 0 obj << /Title (Report "
        ),
        ids,
        F.lit(
            ") /Author (Ann Writer) /CreationDate"
            " (D:20240115123456Z) >> endobj\n"
            "trailer << /Root 1 0 R /Info 9 0 R >>\n%%EOF"
        ),
    )
    pdfs = d.select(
        F.concat(F.lit("pdf://"), ids).alias("media_ref"),
        F.encode(pdf, "UTF-8").alias("payload"),
    )
    return decode_pdf_spans(pdfs).select(
        "media_ref", "offset", "kind", "text", "span_ref"
    )


def _q_frame_sample(spark, sf_dir):
    from zhtml_spark.multimodal import frame_sample_refs

    return frame_sample_refs(_media_table(spark, sf_dir), n_frames=4)


def _q_resize_dims(spark, sf_dir):
    from zhtml_spark.multimodal import resize_dims

    return resize_dims(_media_table(spark, sf_dir), max_dim=256).select(
        "media_ref", "width", "height", "target_width", "target_height"
    )


# --------------------------------------- relational operator coverage
def _q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
            "avg_disc", "count_order",
        )
    )


def _q_top_customers(spark, sf_dir):
    from pyspark.sql.window import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("rank", "c_custkey", "c_name", "revenue")
    )


def _q_order_window_rank(spark, sf_dir):
    from pyspark.sql.window import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn",
                F.round("o_totalprice", 2).alias("price"))
    )


def _q_events_windowed(spark, sf_dir):
    """Tumbling event-time windows: one (window, event_type) row per
    hour bucket with its event count and rounded value total."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "total_value",
        )
    )


def _q_asof_join(spark, sf_dir):
    """As-of join (brief: the canonical operator stock Spark lacks):
    every event picks up the latest signup event for its user at or
    before its own timestamp.  Right side deduped to one row per
    (user, ts) — the standard as-of precondition."""
    from zhtml_spark.timeops import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.select("event_id", "user_id", "ts")
    right = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
    )
    out = asof_join(left, right, on="ts", by="user_id",
                    value_cols=["signup_event_id"])
    return out.select(
        "event_id",
        "user_id",
        F.col("signup_event_id_asof").alias("signup_event_id"),
    )


def _q_events_sessionized(spark, sf_dir):
    from zhtml_spark.timeops import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, gap_minutes=30)


def _q_events_rollup(spark, sf_dir):
    """Multi-level rollup (the hypertable-rollup shape): per
    (event_type, day) with day and grand totals via ROLLUP —
    map-side-combinable, one shuffle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("day", F.date_format(F.date_trunc("day", "ts"),
                                           "yyyy-MM-dd"))
        .rollup("event_type", "day")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select("event_type", "day", "n", "total_value")
    )


def _q_kmv_distinct(spark, sf_dir):
    """Deterministic KMV sketch vs the exact distinct count — both in
    one row so the gate documents sketch accuracy."""
    from zhtml_spark.textops import kmv_distinct_estimate

    d = _docs(spark, sf_dir)
    est = kmv_distinct_estimate(d, col="text", k=64)
    exact = d.agg(F.countDistinct("text").alias("n_exact"))
    return est.crossJoin(exact).select("n_exact", "n_estimate")


def _q_winnow_fingerprints(spark, sf_dir):
    """Gates the winnowing fingerprint sketch (r3): char-8-gram md5-48
    hashes, window-4 minima, zero-shuffle higher-order-function plan;
    oracle recomputes via standard SQL window functions.  Pins
    hash_fn='md5' (DuckDB has no xxhash64 — the r4 engine default);
    the xxhash64 path is pytest-gated for scheme equivalence."""
    from zhtml_spark.textops import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), hash_fn="md5").select(
        F.col("doc_id").cast("string").alias("doc_id"), "fp"
    )


def _q_winnow_dup_candidates(spark, sf_dir):
    """Gates the composed winnowing near-dup pass: inverted-index
    self-join over fingerprints with the doc-frequency boilerplate
    cap, pairs sharing >= 5 fingerprints.  The dense synthetic
    vocabulary makes loose settings degenerate (min_shared=3 at
    df<=50 admits 58% of ALL pairs); df<=20 + shared>=5 keeps 561 of
    124,750 — the cap doing its selectivity job."""
    from zhtml_spark.textops import winnow_dup_candidates

    return winnow_dup_candidates(
        _docs(spark, sf_dir), min_shared=5, max_doc_freq=20,
        hash_fn="md5",
    ).select(
        F.col("doc_a").cast("string").alias("doc_a"),
        F.col("doc_b").cast("string").alias("doc_b"),
        "shared",
    )


def _robots_corpus(spark, sf_dir):
    d = F.col("doc_id").cast("string")
    txt = F.concat(
        F.lit("# synthetic robots\nUser-agent: bot"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("\nUser-agent: extra"),
        (F.col("doc_id") % 2).cast("string"),
        F.lit("\nDisallow: /p"), d,
        F.lit("\nAllow: /p"), d,
        F.lit("/ok   # inline\n\nUser-agent: *\nDisallow: /tmp"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("\nDisallow: /*.pdf$\nSitemap: https://site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example/map.xml\n"),
    )
    return _docs(spark, sf_dir).select(
        F.concat(F.lit("h"), d).alias("host"), txt.alias("text")
    )


def _q_robots_parse(spark, sf_dir):
    """Gates robots.txt parsing (r3): RFC 9309 grouping — shared
    user-agent lines, group restart after directives, pre-group rules
    dropped, sitemap agent-independent.  The oracle derives the
    expected rows from CONSTRUCTION knowledge (literal per-group
    unions), not by mirroring the window-function parser."""
    from zhtml_spark.textops import parse_robots

    return parse_robots(_robots_corpus(spark, sf_dir))


def _q_robots_gate(spark, sf_dir):
    """Gates the composed robots URL gate for agent bot0: group
    selection (specific group suppresses *), longest-prefix
    precedence, allow-on-tie, default-allow."""
    from zhtml_spark.textops import parse_robots, robots_gate

    rules = parse_robots(_robots_corpus(spark, sf_dir))
    d = F.col("doc_id").cast("string")
    host = F.concat(F.lit("h"), d)
    urls = _docs(spark, sf_dir).select(
        host.alias("host"),
        F.explode(
            F.array(
                F.concat(F.lit("https://h"), d, F.lit("/p"), d,
                         F.lit("/sub")),
                F.concat(F.lit("https://h"), d, F.lit("/p"), d,
                         F.lit("/ok/y")),
                F.concat(F.lit("https://h"), d, F.lit("/tmp"),
                         (F.col("doc_id") % 5).cast("string"),
                         F.lit("/z")),
                # wildcard rule target: denied only when the * group
                # applies (no bot0 group)
                F.concat(F.lit("https://h"), d, F.lit("/file"), d,
                         F.lit(".pdf")),
            )
        ).alias("url"),
    )
    return robots_gate(urls, rules, "bot0")


def _q_anchor_stats(spark, sf_dir):
    """Anchor-text aggregation (r4): the link-graph relevance signal,
    composed through the REAL extraction path — parse pages with
    emit_links, absolutize each href against the page URL, then
    aggregate incoming anchors per target.  Targets shard by doc_id%7
    (the per-site hub) plus one corpus-wide target everyone links, so
    the aggregation has real fan-in; hub anchors vary by doc_id%3 so
    the top-anchor rank exercises the count-then-lexicographic
    tie-break.  The oracle recomputes the identical aggregation over
    the constructed link set."""
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.textops import absolutize_url, anchor_text_stats

    d = F.col("doc_id").cast("string")
    m7 = (F.col("doc_id") % 7).cast("string")
    m3 = (F.col("doc_id") % 3).cast("string")
    html = F.concat(
        F.lit("<body><p>Doc "), d,
        F.lit(': <a href="/hub/'), m7, F.lit('">hub '), m3,
        F.lit('</a> and <a href="https://peer.example/home">peer home'
              "</a> tail words.</p></body>"),
    )
    ex = _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(emit_links=True),
    )
    base = F.concat(
        F.lit("https://site"),
        (F.col("doc_id").cast("bigint") % 7).cast("string"),
        F.lit(".example/a/page"), F.col("doc_id"), F.lit(".html"),
    )
    links = ex.where(F.col("kind") == "link").select(
        "doc_id",
        F.col("text").alias("anchor_text"),
        absolutize_url(base, F.col("media_ref")).alias("resolved"),
    )
    return anchor_text_stats(links)


def _q_crawl_frontier(spark, sf_dir):
    """Composite crawl-frontier gate (r4, VERDICT r3 #8): the three
    crawl ops composed in ONE plan — extract links from parsed HTML
    (``ExtractConfig(emit_links=True)``), absolutize each href against
    the page URL (``textops.absolutize_url``), derive the host, then
    gate for agent bot0 against per-host robots rules
    (``parse_robots`` + ``robots_gate``).  Pages live on hosts
    ``h<doc_id>`` matching the robots corpus; hrefs rotate rooted
    (``/p<d>/sub``, ``/p<d>/ok/y``, ``/file<d>.pdf``) and relative
    (``../../tmp<d%5>/z`` walks up from ``/a/b/``).  The oracle states
    the expected (host, url, allowed) rows from CONSTRUCTION knowledge
    — same literal shape the unit gates use, but the URLs here only
    come out right if extraction, resolution, and gating all compose."""
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.textops import (
        absolutize_url,
        parse_robots,
        robots_gate,
    )

    d = F.col("doc_id").cast("string")
    m5 = (F.col("doc_id") % 5).cast("string")
    html = F.concat(
        F.lit("<body><p>Doc "), d,
        F.lit(' frontier: <a href="/p'), d, F.lit('/sub">crawl '),
        F.col("lang"),
        F.lit('</a> and <a href="/p'), d,
        F.lit('/ok/y">ok page</a> words.</p><p><a href="../../tmp'),
        m5,
        F.lit('/z">tmp</a> then <a href="/file'), d,
        F.lit('.pdf">pdf</a> trailing text here.</p></body>'),
    )
    ex = _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(emit_links=True),
    )
    base = F.concat(
        F.lit("https://h"), F.col("doc_id"), F.lit("/a/b/page"),
        F.col("doc_id"), F.lit(".html"),
    )
    # anchors to media-extension targets (the .pdf) surface as
    # 'media' spans per the extractor's ref classification — a
    # frontier fetches both kinds, so keep link + media
    urls = ex.where(F.col("kind").isin("link", "media")).select(
        absolutize_url(base, F.col("media_ref")).alias("url")
    ).select(
        F.regexp_extract("url", "^https://([^/]+)", 1).alias("host"),
        "url",
    )
    rules = parse_robots(_robots_corpus(spark, sf_dir))
    return robots_gate(urls, rules, "bot0")


def _q_warc_redirect_extract(spark, sf_dir):
    """HTTP redirect edges from WARC archives (r5): doc_id%3 rotates
    (0) a 301 with a relative ``Location`` and an HTML stub body that
    must NEVER tokenize, (1) a 302 with an absolute cross-host
    ``Location`` whose path is mixed-case — a lowercasing bug in the
    header extract flips the hash, (2) a normal 200 HTML page.
    ``parse_warc_records`` surfaces ``http_status``/``http_location``
    and ``warc_interleaved_spans`` routes 3xx-with-Location records
    to ONE ('redirect', status, location) span.  The oracle states
    every span from construction; a tokenized "Moved" stub would add
    rows and fail the count."""
    from zhtml_spark.sources import (
        parse_warc_records,
        warc_interleaved_spans,
        warc_record,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    url = F.concat(F.lit("warc://doc/"), ids)
    date = F.lit("2024-01-01T00:00:00Z")
    rec301 = warc_record(
        url, date,
        F.lit("<html><body><h1>Moved Permanently</h1></body></html>"),
        http_headers=True,
        status="301 Moved Permanently",
        http_extra="Location: /moved/here\r\n",
    )
    loc302 = F.concat(
        F.lit("Location: https://Mirror.Example/CaSe/"), ids,
        F.lit("\r\n"),
    )
    rec302 = warc_record(
        url, date, F.lit(""),
        http_headers=True, status="302 Found", http_extra=loc302,
    )
    html_rec = warc_record(
        url, date,
        F.concat(
            F.lit("<body><h1>Doc "), ids, F.lit("</h1><p>"),
            F.col("text"), F.lit("</p></body>"),
        ),
        http_headers=True,
    )
    archives = d.select(
        F.when(did % 3 == 0, rec301)
        .when(did % 3 == 1, rec302)
        .otherwise(html_rec)
        .alias("content")
    )
    return warc_interleaved_spans(parse_warc_records(archives))


def _q_warc_revisit_dedup(spark, sf_dir):
    """WARC revisit records as archive-native dedup signals (r5):
    odd docs are ``WARC-Type: revisit`` records (identical-payload-
    digest profile, zero-length block) pointing at the previous even
    doc's capture; even docs are normal responses.
    ``parse_warc_revisits`` surfaces the revisit table WITHOUT
    hashing any payload, and the query left-semi-checks each
    ``refers_to_uri`` against the response table from the SAME
    archive — a revisit chain's canonical is present only when its
    target is an even doc that exists.  The oracle states every row
    from construction (doc 2N+1 refers to doc 2N, which always
    exists, so canonical_present is TRUE throughout — a parse slip
    on either table flips it)."""
    from zhtml_spark.sources import (
        parse_warc_records,
        parse_warc_revisits,
        warc_record,
        warc_revisit_record,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    url = F.concat(F.lit("warc://doc/"), ids)
    date = F.lit("2024-02-02T00:00:00Z")
    resp = warc_record(
        url, date,
        F.concat(F.lit("<body><p>Doc "), ids,
                 F.lit(" content.</p></body>")),
        http_headers=True,
    )
    prev = (did - 1).cast("string")
    revisit = warc_revisit_record(
        url, date,
        F.concat(F.lit("warc://doc/"), prev),
        F.lit("2024-01-01T00:00:00Z"),
        F.concat(F.lit("sha1:DIGEST"), prev),
    )
    archives = d.select(
        F.when(did % 2 == 0, resp).otherwise(revisit).alias("content")
    )
    revisits = parse_warc_revisits(archives)
    responses = parse_warc_records(archives).select(
        F.col("warc_url").alias("refers_to_uri")
    )
    return revisits.join(
        responses.withColumn("canonical_present", F.lit(True)),
        "refers_to_uri",
        "left",
    ).select(
        F.col("warc_url").alias("doc_id"),
        F.col("refers_to_uri").alias("canonical"),
        F.col("payload_digest").alias("digest"),
        F.coalesce(F.col("canonical_present"), F.lit(False)).alias(
            "canonical_present"
        ),
    )


def _q_warc_noindex_gate(spark, sf_dir):
    """Indexability from both robots channels (r5): doc_id%4 rotates
    (0) a clean page whose near-miss signals must NOT fire (header
    ``nofollow`` only, meta ``index,follow``), (1) an
    ``X-Robots-Tag: noindex`` header, (2) ``<meta name=robots
    content="noindex, nofollow">`` in the page head, (3) BOTH
    (header ``none`` + meta noindex — the header wins the reason
    label).  ``parse_warc_records`` surfaces ``http_xrobots``, the
    head-meta extraction surfaces the robots meta span, and
    ``textops.noindex_gate`` joins the two; the oracle states every
    (indexable, reason) row from construction.  A substring match
    (``nonewidget`` → none) or a lost header would flip rows."""
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.pipeline import extract_documents
    from zhtml_spark.sources import (
        parse_warc_records,
        warc_record,
        warc_to_documents,
    )
    from zhtml_spark.textops import noindex_gate

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    url = F.concat(F.lit("warc://doc/"), ids)
    date = F.lit("2024-01-01T00:00:00Z")
    xrobots = (
        F.when(did % 4 == 0,
               F.lit("X-Robots-Tag: nofollow, nonewidget\r\n"))
        .when(did % 4 == 1, F.lit("X-Robots-Tag: noindex\r\n"))
        .when(did % 4 == 3, F.lit("X-Robots-Tag: none\r\n"))
        .otherwise(F.lit(""))
    )
    robots_meta = (
        F.when(did % 4 == 0, F.lit("index,follow"))
        .when(did % 4 == 2, F.lit("noindex, nofollow"))
        .when(did % 4 == 3, F.lit("noindex"))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit('<head><meta name="robots" content="'),
        robots_meta,
        F.lit('"></head><body><p>Doc '), ids,
        F.lit(" body.</p></body>"),
    )
    archives = d.select(
        warc_record(
            url, date, html, http_headers=True, http_extra=xrobots
        ).alias("content")
    )
    records = parse_warc_records(archives)
    spans = (
        extract_documents(
            warc_to_documents(records),
            config=ExtractConfig(emit_head_meta=True),
        )
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )
    return noindex_gate(records, spans)


def _q_warc_canonical_header(spark, sf_dir):
    """HTTP ``Link: rel=canonical`` header channel (r5): doc_id%3
    rotates (0) the canonical declared ONLY in the Link header (with
    a decoy ``rel=preload`` entry ahead of it in the same header),
    (1) ONLY in the HTML ``<link rel=canonical>`` (no Link header),
    (2) BOTH channels DISAGREEING — the header names the true
    canonical, the HTML one a per-doc decoy, and the header must win
    (Google's documented precedence).  Each group of three doc_ids
    shares one canonical target, so ``parse_warc_records`` →
    ``link_header_canonical`` + the REAL head-meta extraction →
    precedence coalesce → ``dedup_by_canonical`` collapses every
    group to its smallest doc_id.  The oracle states the surviving
    (doc_id, norm_url) rows from construction: a lost header, a
    decoy-entry match, or inverted precedence all change the groups."""
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.pipeline import extract_documents
    from zhtml_spark.sources import (
        parse_warc_records,
        warc_record,
        warc_to_documents,
    )
    from zhtml_spark.textops import (
        dedup_by_canonical,
        link_header_canonical,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    base = (F.floor(did / 3) * 3).cast("bigint")
    bs = base.cast("string")
    url = F.concat(
        F.lit("https://site"), (did % 7).cast("string"),
        F.lit(".example/art"), ids,
    )
    canon = F.concat(
        F.lit("https://site"), (base % 7).cast("string"),
        F.lit(".example/canon"), bs,
    )
    decoy = F.concat(
        F.lit("https://site"), (did % 7).cast("string"),
        F.lit(".example/WRONG"), ids,
    )
    html_link = (
        F.when(
            did % 3 == 1,
            F.concat(F.lit('<link rel="canonical" href="'), canon,
                     F.lit('">')),
        )
        .when(
            did % 3 == 2,
            F.concat(F.lit('<link rel="canonical" href="'), decoy,
                     F.lit('">')),
        )
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<head><title>t</title>"), html_link,
        F.lit("</head><body><p>Doc "), ids, F.lit("</p></body>"),
    )
    link_hdr = F.when(
        did % 3 != 1,
        F.concat(
            F.lit("Link: </static/app.css>; rel=preload, <"),
            canon, F.lit('>; rel="canonical"\r\n'),
        ),
    ).otherwise(F.lit(""))
    archives = d.select(
        warc_record(
            url, F.lit("2024-01-01T00:00:00Z"), html,
            http_headers=True, http_extra=link_hdr,
        ).alias("content")
    )
    records = parse_warc_records(archives)
    html_canon = (
        extract_documents(
            warc_to_documents(records),
            config=ExtractConfig(emit_head_meta=True),
        )
        .select(
            F.col("doc_id").alias("warc_url"),
            F.explode("spans").alias("s"),
        )
        .where(
            (F.col("s.kind") == "meta")
            & (F.col("s.media_ref") == "canonical")
        )
        .select("warc_url", F.col("s.text").alias("html_canon"))
    )
    eff = (
        records.select(
            "warc_url",
            link_header_canonical(F.col("http_link")).alias("hdr_canon"),
        )
        .join(html_canon, "warc_url", "left")
        .select(
            F.regexp_extract("warc_url", r"art(\d+)$", 1)
            .cast("bigint").alias("doc_id"),
            F.col("warc_url").alias("url"),
            F.coalesce(
                F.nullif(F.col("hdr_canon"), F.lit("")),
                F.col("html_canon"),
                F.lit(""),
            ).alias("canonical"),
        )
    )
    return dedup_by_canonical(eff)


def _q_recrawl_candidates(spark, sf_dir):
    """Recrawl planning composition (r5): REAL sitemap entries joined
    against a REAL capture index built from WARC records — per doc,
    ``/new`` was never captured (reason 'new'), ``/mod``'s lastmod
    postdates its capture ('modified'), ``/same`` was captured after
    its lastmod (excluded), ``/nolm`` has no lastmod (excluded).
    The oracle states the two surviving rows per doc; a broken
    ts14/lastmod comparison or join key surfaces immediately."""
    from zhtml_spark.sources import (
        cdx_index,
        parse_warc_records,
        warc_record,
    )
    from zhtml_spark.textops import recrawl_candidates, sitemap_entries

    d = _docs(spark, sf_dir)
    ds = F.col("doc_id").cast("string")
    s7 = (F.col("doc_id") % 7).cast("string")
    origin = F.concat(F.lit("https://site"), s7, F.lit(".example"))
    xml = F.concat(
        F.lit("<urlset><url><loc>"), origin, F.lit("/new"), ds,
        F.lit("</loc><lastmod>2024-02-01</lastmod></url><url><loc>"),
        origin, F.lit("/mod"), ds,
        F.lit("</loc><lastmod>2024-02-01</lastmod></url><url><loc>"),
        origin, F.lit("/same"), ds,
        F.lit("</loc><lastmod>2024-01-01</lastmod></url><url><loc>"),
        origin, F.lit("/nolm"), ds,
        F.lit("</loc></url></urlset>"),
    )
    entries = sitemap_entries(
        d.select(F.concat(F.lit("h"), ds).alias("host"),
                 xml.alias("text"))
    )
    date = F.lit("2024-01-15T12:34:56Z")
    body = F.lit("<p>x</p>")
    archives = d.select(
        F.concat(
            warc_record(F.concat(origin, F.lit("/mod"), ds), date,
                        body, http_headers=True),
            warc_record(F.concat(origin, F.lit("/same"), ds), date,
                        body, http_headers=True),
            warc_record(F.concat(origin, F.lit("/nolm"), ds), date,
                        body, http_headers=True),
        ).alias("content")
    )
    caps = cdx_index(parse_warc_records(archives))
    return recrawl_candidates(entries, caps)


def _q_host_quota_sample(spark, sf_dir):
    """Per-domain quota capping (r5): 5 hosts × ~100 docs, quota 30 —
    genuinely binding on every host, so the survivor set IS the
    deterministic hash order (smallest salted md5-48 per host) and
    any rank/tie-break/salt drift flips the hash.  The oracle
    recomputes the identical window."""
    from zhtml_spark.textops import host_quota_sample

    d = _docs(spark, sf_dir)
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example/p"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return host_quota_sample(urls, max_per_host=30)


def _q_bpe_pair_stats(spark, sf_dir):
    """BPE first-merge pair counts (r5) straight over the documents
    table — the oracle recomputes the whole vocabulary-weighted pair
    aggregation in SQL (string_split_regex + list_transform), so the
    word segmentation, the length gates, the per-word pair expansion
    (overlaps included: 'aaa' → two 'aa'), and the frequency
    weighting must all agree exactly."""
    from zhtml_spark.textops import bpe_pair_stats

    return bpe_pair_stats(_docs(spark, sf_dir).select("text"))


def _q_fetch_schedule(spark, sf_dir):
    """Politeness scheduling (r5): 50 hosts × ~10 URLs; host m%3
    rotates (0) a specific-agent group with Crawl-delay 2.5 plus a
    wildcard decoy delay 7 that must LOSE (specific group wins), (1)
    wildcard-only delay 4, (2) a specific group WITHOUT a delay plus
    a wildcard delay 9 that must be SUPPRESSED (RFC 9309 group
    selection: specific presence hides *) so the default 1.0
    applies.  parse_robots → crawl_delay("MyBot", case-folded) →
    fetch_schedule assigns the k-th URL of each host fetch offset
    (k-1)*delay; the oracle restates the whole schedule with SQL
    window functions over the constructed frontier."""
    from zhtml_spark.textops import (
        crawl_delay,
        fetch_schedule,
        parse_robots,
    )

    d = _docs(spark, sf_dir)
    m = F.col("doc_id") % 50
    ms = m.cast("string")
    frontier = d.select(
        F.concat(F.lit("h"), ms).alias("host"),
        F.concat(
            F.lit("https://h"), ms, F.lit(".example/art"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    hosts = d.select(m.alias("m")).distinct()
    hm = F.col("m")
    text = (
        F.when(
            hm % 3 == 0,
            F.lit("User-agent: mybot\nCrawl-delay: 2.5\n"
                  "Disallow: /private\n\n"
                  "User-agent: *\nCrawl-delay: 7\n"),
        )
        .when(hm % 3 == 1, F.lit("User-agent: *\nCrawl-delay: 4\n"))
        .otherwise(
            F.lit("User-agent: mybot\nDisallow: /tmp\n\n"
                  "User-agent: *\nCrawl-delay: 9\n")
        )
    )
    robots = hosts.select(
        F.concat(F.lit("h"), hm.cast("string")).alias("host"),
        text.alias("text"),
    )
    delays = crawl_delay(parse_robots(robots), "MyBot")
    return fetch_schedule(frontier, delays)


def _q_sitemap_entries(spark, sf_dir):
    """Full sitemap entries (r5): urlset docs carry one
    fully-annotated entry (lastmod+changefreq+priority), one bare
    entry (all optional fields must be NULL — a flat parallel-list
    extract would misalign here), and one with a GARBAGE priority
    (``high`` → NULL via try_cast, never a kill); sitemapindex docs
    (doc%10==0) carry one annotated and one bare ``<sitemap>`` block
    flagged is_index.  The oracle states every row and NULL from
    construction."""
    from zhtml_spark.textops import sitemap_entries

    d = F.col("doc_id").cast("string")
    s7 = (F.col("doc_id") % 7).cast("string")
    origin = F.concat(F.lit("https://site"), s7, F.lit(".example"))
    xml = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.lit('<?xml version="1.0"?><sitemapindex><sitemap><loc>'),
            origin, F.lit("/sub"), d,
            F.lit(".xml</loc><lastmod>2024-01-15</lastmod></sitemap>"
                  "<sitemap><loc> "),
            origin, F.lit("/more"), d,
            F.lit(".xml </loc></sitemap></sitemapindex>"),
        ),
    ).otherwise(
        F.concat(
            F.lit('<?xml version="1.0"?><urlset><url><loc>'),
            origin, F.lit("/art"), d,
            F.lit("?a=1&amp;b=2</loc><lastmod>2024-01-15</lastmod>"
                  "<changefreq>daily</changefreq>"
                  "<priority>0.8</priority></url><url><loc> "),
            origin, F.lit("/p"), d,
            F.lit(" </loc></url><url><loc>"),
            origin, F.lit("/junk"), d,
            F.lit("</loc><priority>high</priority></url></urlset>"),
        ),
    )
    return sitemap_entries(
        _docs(spark, sf_dir).select(
            F.concat(F.lit("h"), d).alias("host"), xml.alias("text")
        )
    )


def _q_warc_cdx_index(spark, sf_dir):
    """CDX capture index (r5): even docs carry a maximally-messy
    capture URI (uppercase scheme/host, userinfo, explicit :443,
    ``www.`` label, mixed-case path, unsorted query, fragment), odd
    docs a minimal origin-only URI (empty path must key as ``/``);
    every fifth doc is a PLAIN (non-HTTP-carried) record whose status
    must surface as ``-``.  ``sources.cdx_index`` canonicalizes to
    SURT urlkeys, collapses WARC-Date to ts14, and digests the
    payload; the oracle states every column from construction, so a
    missed canonicalization step (unstripped port, unsorted params,
    forgotten www label, case leak) changes the urlkey hash."""
    from zhtml_spark.sources import cdx_index, parse_warc_records, warc_record

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    k = (did % 7).cast("string")
    messy = F.concat(
        F.lit("HTTPS://user@WWW.Site"), k, F.lit(".Example:443/Path"),
        ids, F.lit("/Page?b=2&a=1#frag"),
    )
    minimal = F.concat(F.lit("http://site"), k, F.lit(".example"))
    url = F.when(did % 2 == 0, messy).otherwise(minimal)
    body = F.concat(F.lit("<p>doc "), ids, F.lit("</p>"))
    date = F.lit("2024-01-15T12:34:56Z")
    rec_http = warc_record(url, date, body, http_headers=True)
    rec_plain = warc_record(url, date, body)
    archives = d.select(
        F.when(did % 5 == 0, rec_plain).otherwise(rec_http)
        .alias("content")
    )
    return cdx_index(parse_warc_records(archives))


def _q_frontier_with_base(spark, sf_dir):
    """``<base href>``-aware link resolution (r5): doc_id%3 rotates
    (0) a root-relative base ``/deep/dir/`` plus a SECOND decoy base
    ``/WRONG/`` that must lose (HTML §4.2.3: first base wins), (1) an
    absolute cross-host base, (2) no base at all (page-URL
    fallback).  Two links per doc — one bare-relative, one ``../``
    walk — resolve through ``textops.resolve_links_with_base``; the
    oracle states every resolved URL from construction, so a wrong
    base pick, a decoy win, or a broken two-step resolution flips
    the hash."""
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.textops import resolve_links_with_base

    did = F.col("doc_id")
    d = did.cast("string")
    base_tag = (
        F.when(
            did % 3 == 0,
            F.lit('<base href="/deep/dir/"><base href="/WRONG/">'),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit('<base href="https://cdn'),
                (did % 4).cast("string"),
                F.lit('.example/x/"><base href="/WRONG/">'),
            ),
        )
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<head>"), base_tag,
        F.lit('</head><body><p>Doc '), d,
        F.lit(' here: <a href="page'), d,
        F.lit('.html">rel</a> and <a href="../up'), d,
        F.lit('">up</a> words.</p></body>'),
    )
    ex = _extract_exploded(
        _wrap_as_interleaved(_docs(spark, sf_dir), html),
        ExtractConfig(emit_head_meta=True, emit_links=True),
    )
    pages = _docs(spark, sf_dir).select(
        did.cast("string").alias("doc_id"),
        F.concat(
            F.lit("https://h"), d, F.lit("/a/b/page.html")
        ).alias("page_url"),
    )
    return resolve_links_with_base(ex, pages)


def _q_warc_frontier_mixed(spark, sf_dir):
    """Mixed-format crawl frontier (r5): ONE plan from a WARC of
    interleaved HTML and PDF responses to a robots-gated frontier —
    the end-to-end story for axis-B interleaved corpora.  Even docs
    are ``text/html`` records at ``https://h<d>/a/b/page<d>.html``
    with one rooted and one ``../``-relative href; odd docs are
    per-doc ASCII PDFs at ``https://h<d>/docs/file<d>.pdf`` whose
    links are URI ``/Link`` ANNOTATIONS (§12.5.6.5) — one
    server-rooted, one document-relative — surfaced by
    ``pdfops._page_link_uris`` as the same ``link`` span shape the
    HTML tree emits.  Both branches' links absolutize against the
    WARC-Target-URI and gate for agent bot0 against the per-host
    robots corpus.  The oracle states every (host, url, allowed) row
    from construction: a wrong byte in the carrier, a misrouted
    Content-Type, a broken ``..`` walk, or a wrong RFC 9309 group
    pick each flips a hash."""
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.sources import (
        parse_warc_records,
        warc_interleaved_spans,
        warc_record,
    )
    from zhtml_spark.textops import (
        absolutize_url,
        parse_robots,
        robots_gate,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ids = did.cast("string")
    m5 = (did % 5).cast("string")
    date = F.lit("2024-01-01T00:00:00Z")
    html_url = F.concat(
        F.lit("https://h"), ids, F.lit("/a/b/page"), ids,
        F.lit(".html"),
    )
    pdf_url = F.concat(
        F.lit("https://h"), ids, F.lit("/docs/file"), ids,
        F.lit(".pdf"),
    )
    html_body = F.concat(
        F.lit("<body><p>Doc "), ids,
        F.lit(' links <a href="/p'), ids, F.lit('/sub">deep</a>'),
        F.lit(' and <a href="../../tmp'), m5,
        F.lit('/z">tmp</a> here.</p></body>'),
    )
    pdf_content = F.concat(
        F.lit("BT /F1 10 Tf 72 720 Td (PDF doc "), ids,
        F.lit(") Tj ET"),
    )
    pdf_body = F.concat(
        F.lit(
            "%PDF-1.4\n"
            "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >>"
            " endobj\n"
            "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R"
            " /Annots [5 0 R 6 0 R] >> endobj\n"
            "4 0 obj << /Length "
        ),
        F.octet_length(pdf_content).cast("string"),
        F.lit(" >> stream\n"),
        pdf_content,
        F.lit(
            "\nendstream endobj\n"
            "5 0 obj << /Type /Annot /Subtype /Link"
            " /Rect [0 0 9 9] /A << /S /URI /URI (/p"
        ),
        ids,
        F.lit(
            "/ok/y) >> >> endobj\n"
            "6 0 obj << /Type /Annot /Subtype /Link"
            " /Rect [0 0 9 9] /A << /S /URI /URI (doc"
        ),
        m5,
        F.lit(
            ".pdf) >> >> endobj\n"
            "trailer << /Root 1 0 R >>\n%%EOF"
        ),
    )
    html_rec = warc_record(html_url, date, html_body,
                           http_headers=True)
    pdf_rec = warc_record(pdf_url, date, pdf_body,
                          http_headers=True,
                          payload_ctype="application/pdf")
    archives = d.select(
        F.when(did % 2 == 0, html_rec).otherwise(pdf_rec).alias(
            "content"
        )
    )
    spans = warc_interleaved_spans(
        parse_warc_records(archives),
        config=ExtractConfig(emit_links=True),
    )
    urls = spans.where(F.col("kind") == "link").select(
        absolutize_url(F.col("doc_id"), F.col("media_ref")).alias(
            "url"
        )
    ).select(
        F.regexp_extract("url", "^https://([^/]+)", 1).alias("host"),
        "url",
    )
    rules = parse_robots(_robots_corpus(spark, sf_dir))
    return robots_gate(urls, rules, "bot0")


def _q_pack_sequences(spark, sf_dir):
    """Sequence packing (r4): documents into 512-token packs across 8
    deterministic hash buckets — the pretraining batch-construction
    pass.  The oracle recomputes the identical bucket hash, hash
    order, prefix sum, and floor division with SQL window functions."""
    from zhtml_spark.textops import pack_sequences

    out = pack_sequences(
        _docs(spark, sf_dir), budget_tokens=512, n_buckets=8
    )
    return out.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "n_tokens", "bucket", "pack_id", "pack_seq",
    )


def _q_bloom_seen(spark, sf_dir):
    """Bloom seen-set gate (r4): the crawl-frontier membership sketch.
    Even-doc URLs build a deliberately TIGHT filter (m=2048 bits for
    250 keys at k=4 → ~2% false-positive rate, so the probabilistic
    path is actually exercised, not just the all-hits one); every URL
    then gates against it.  All arithmetic is the blessed md5-48 form
    + integer DIV/pmod + 63-bit word packing, so DuckDB mirrors the
    exact bit table — false positives and all."""
    from zhtml_spark.textops import bloom_build, bloom_gate

    d = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("https://site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example/art"), F.col("doc_id").cast("string"),
    )
    urls = d.select(url.alias("url"))
    crawled = d.where(F.col("doc_id") % 2 == 0).select(url.alias("url"))
    bloom = bloom_build(crawled, m_bits=2048, k=4)
    return bloom_gate(urls, bloom, m_bits=2048, k=4)


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (r3): a synthetic eval set (first 8
    words of every 10th doc) broadcast-joins against the corpus's
    8-grams; contaminated docs drop via anti-join.  The oracle is the
    NOT EXISTS formulation over the same gram construction."""
    from zhtml_spark.textops import decontaminate

    d = _docs(spark, sf_dir)
    bench = d.where(F.col("doc_id") % 10 == 0).select(
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " "), 1, 8)
        ).alias("text")
    )
    clean = decontaminate(d, bench, n=8)
    return clean.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )


def _q_redact_pii(spark, sf_dir):
    """PII redaction (r3): deterministic emails/IPs/phone runs injected
    per doc, scrubbed by the JVM regexp chain; DuckDB runs the
    IDENTICAL RE2-compatible patterns (global flag)."""
    from zhtml_spark.textops import redact_pii

    d = _docs(spark, sf_dir)
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 or +1 555 010 "),
        (F.col("doc_id") % 9000 + 1000).cast("string"),
    )
    return redact_pii(
        d.select("doc_id", pii_text.alias("text"))
    ).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "clean_text",
        "n_redactions",
    )


def _q_repetition_stats(spark, sf_dir):
    """Within-doc repetition features (r3): each doc gets its first six
    words appended twice (deterministic boilerplate), then the
    Gopher-style duplicate-3-gram counters run; integer arithmetic
    end-to-end so the oracle is exact."""
    from zhtml_spark.textops import repetition_stats

    d = _docs(spark, sf_dir)
    first6 = F.array_join(
        F.slice(F.split(F.col("text"), " "), 1, 6), " "
    )
    rep_text = F.concat(
        F.col("text"), F.lit(" "), first6, F.lit(" "), first6
    )
    return repetition_stats(
        d.select("doc_id", rep_text.alias("text")), n=3
    ).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "total_ngrams",
        "distinct_ngrams",
        "repetitive",
    )


def _q_hash_sample(spark, sf_dir):
    """Deterministic stratified sampling (r3): per-lang keep rates via
    the blessed cross-engine md5-48 hash — reruns and the oracle pick
    the identical sample, no RNG."""
    from zhtml_spark.textops import hash_sample

    d = _docs(spark, sf_dir)
    out = hash_sample(
        d, rate_pct=20, by_rates={"en": 50, "es": 25}, by="lang"
    )
    return out.select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang"
    )


def _q_media_absolutize(spark, sf_dir):
    """Relative-URL absolutization (r3): per-doc synthetic base URLs +
    a rotation of ref shapes (relative, ../, root-relative,
    protocol-relative, absolute) through the JVM resolver; the oracle
    mirrors the identical regex chain in DuckDB."""
    from zhtml_spark.textops import absolutize_url

    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    base = F.concat(
        F.lit("https://site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example/a/b/page"), did, F.lit(".html?x=1"),
    )
    m = F.col("doc_id") % 5
    ref = (
        F.when(m == 0, F.concat(F.lit("img/p"), did, F.lit(".png")))
        .when(m == 1, F.lit("../up.png"))
        .when(m == 2, F.lit("/rooted.png"))
        .when(m == 3, F.lit("//cdn.example/c.js"))
        .otherwise(
            F.concat(F.lit("https://abs.example/v"), did, F.lit(".png"))
        )
    )
    return d.select(
        did.alias("doc_id"),
        absolutize_url(base, ref).alias("resolved_ref"),
    )


def _q_substring_dup_spans(spark, sf_dir):
    """Exact substring dedup (r3): maximal verbatim runs ≥60 chars
    shared across doc pairs, with offsets — positioned 25-shingle
    inverted-index join + per-diagonal gaps-and-islands; the oracle is
    the identical construction in SQL window functions.  Runs with the
    DEFAULT df≤20 boilerplate cap ON (r4: the gate now exercises the
    scale lever; the oracle mirrors the cap in its `keep` CTE)."""
    from zhtml_spark.textops import substring_dup_spans

    d = _docs(spark, sf_dir)
    out = substring_dup_spans(d, k=25, min_len=60, hash_fn="md5")
    return out.select(
        F.col("doc_a").cast("string").alias("doc_a"),
        F.col("doc_b").cast("string").alias("doc_b"),
        F.col("start_a").cast("int").alias("start_a"),
        F.col("start_b").cast("int").alias("start_b"),
        "length",
    )


def _q_substring_dedup_apply(spark, sf_dir):
    """The ACTION half of exact-substring dedup (r4): detect shared
    runs with the default xxhash64 engine path, then CUT every doc_b
    occurrence.  Texts are FULLY constructed (the sf corpus's native
    near-dup texts would add data-dependent spans no literal oracle
    can state): a per-doc head with the doc id woven in every segment
    (all its 25-grams doc-unique), then a pair tail
    ``repeat('p<k> ', 24)``.  Periodic tails with different primitive
    periods share no 25-substring (Fine–Wilf), so every tail gram is
    pair-local — df=2, immune to the df≤20 cap (the first cut of
    this query embedded partial-digit boundary grams like
    '6 repeated verbatim by p1' with df=22: the cap correctly split
    those runs and taught this construction).  A non-digit ``#``
    separator pins the run's left edge — without it an odd doc whose
    id shares its last digit with the pair key matched one char
    deeper into the tail's period (doc 159 vs ``p79``, found by the
    first gate run).  The oracle states the
    rewritten texts from construction — even docs unchanged, odd
    docs lose exactly the shared tail — which only matches if
    detection, interval merge, and the splice fold all compose."""
    from zhtml_spark.textops import (
        substring_dedup_apply,
        substring_dup_spans,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    sk = F.concat(F.lit("p"), F.expr("CAST(doc_id DIV 2 AS STRING)"))
    head = F.concat(
        F.lit("document "), did, F.lit(" head section "), did,
        F.lit(" marker region "), did,
    )
    tail = F.repeat(F.concat(sk, F.lit(" ")), 24)
    built = d.select(
        "doc_id",
        F.concat(head, F.lit(" # "), tail).alias("text"),
    )
    spans = substring_dup_spans(built, k=25, min_len=60)
    out = substring_dedup_apply(built, spans)
    return out.select(
        did.alias("doc_id"), "text", "n_cut_chars"
    )


def _q_interval_join_guarded(spark, sf_dir):
    """Skew-guarded range join (r3): LONG per-day windows (18 h at
    60-min buckets) through the two-tier coarse/fine decomposition
    (``coarse_factor=6``) — the oracle is the plain containment join,
    proving the guard changes the plan's replication, never the
    results."""
    from zhtml_spark.timeops import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    days = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    windows = days.select(
        F.date_format("day", "yyyy-MM-dd").alias("window_id"),
        (F.col("day") + F.expr("INTERVAL 2 HOURS")).alias("start_ts"),
        (F.col("day") + F.expr("INTERVAL 20 HOURS")).alias("end_ts"),
    )
    joined = interval_join(
        ev.select("event_id", "ts"),
        windows,
        bucket_minutes=60,
        coarse_factor=6,
    )
    return joined.select("event_id", "window_id")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q_interleaved_passthrough(spark, "/root/testdata/sf0.001")


# The sf-directory parquet tables the oracle SQL reads, one DuckDB view
# each.
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        # 12 significant digits, so 1e-12 engine jitter ties
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(rows: Sequence[Sequence], cols: Sequence[str]) -> str:
    """Order-insensitive value hash of a result: columns sorted by
    name, each row canonicalized to one line, md5 over the sorted
    lines.  A Spark result and its oracle match when their digests
    are equal."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\x1e")
    return h.hexdigest()


@contextlib.contextmanager
def oracle_gate(
    spark: SparkSession, sf_dir: str
) -> Iterator[Callable[[str], str | None]]:
    """The correctness gate at one scale factor: a DuckDB connection
    with one view per ``TABLES`` entry over ``sf_dir``'s parquet files,
    and a check that runs a query on Spark and its ``oracle_sql()``
    mirror on those views.  The check returns None when the row count,
    the sorted column names and :func:`digest` agree, and otherwise
    says what differs; an engine error propagates."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = queries(), oracle_sql()

    def check(name: str) -> str | None:
        sdf = qs[name](spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        rows_ok = len(srows) == len(orows)
        schema_ok = sorted(sdf.columns) == sorted(ocols)
        hash_ok = schema_ok and (
            digest(srows, sdf.columns) == digest(orows, ocols)
        )
        if rows_ok and hash_ok:
            return None
        return (
            f"rows={len(srows)}/{len(orows)} schema={schema_ok} "
            f"hash={hash_ok}"
        )

    try:
        yield check
    finally:
        con.close()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry query by name: each module-level ``_q_<name>``
    function is the query ``<name>``.  ``oracle_sql()`` holds the
    DuckDB mirror of each, and the tier-1 test compares every pair
    with :func:`digest`."""
    return {
        name[len("_q_"):]: fn
        for name, fn in globals().items()
        if name.startswith("_q_")
    }


_EMB_HASH_ORACLE_HEAD = r"""
    -- hashing-trick embedding recomputed from scratch (mirrors
    -- textops.embed_hashing dim=16, md5-48, sign bit 47): bucketed
    -- signed counts, L2 norm; integer sums exact, doubles then
    -- bit-identical across engines
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '\w+|[^\w\s]')) AS t
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('emb:' || t), 1, 12)) AS BIGINT)
                 AS h
        FROM toks
    ),
    bs AS (
        SELECT doc_id, CAST(h % 16 AS INTEGER) AS b,
               CASE WHEN ((h >> 47) & 1) = 0 THEN 1 ELSE -1 END AS s
        FROM hashed
    ),
    cnts AS (
        SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS cnt
        FROM bs GROUP BY doc_id, b
    ),
    dims AS (
        SELECT d.doc_id, CAST(t.i AS INTEGER) AS dim_idx
        FROM documents d, UNNEST(range(0, 16)) t(i)
    ),
    fullc AS (
        SELECT dims.doc_id, dims.dim_idx, COALESCE(cnts.cnt, 0) AS cnt
        FROM dims LEFT JOIN cnts
          ON dims.doc_id = cnts.doc_id AND dims.dim_idx = cnts.b
    ),
    n2 AS (
        SELECT doc_id, CAST(sum(cnt * cnt) AS BIGINT) AS norm2
        FROM fullc GROUP BY doc_id
    ),
    wts AS (
        SELECT f.doc_id, f.dim_idx,
               CASE WHEN norm2 > 0
                    THEN CAST(f.cnt AS DOUBLE)
                         / sqrt(CAST(norm2 AS DOUBLE))
                    ELSE 0.0 END AS w
        FROM fullc f JOIN n2 USING (doc_id)
    )
"""

def _pagerank_ctes(iters: int) -> str:
    """CTE chain replicating textops.pagerank in DuckDB — generated
    because the iterations are plan-unrolled on the Spark side too.
    Expects an ``e(src, dst)`` CTE (already DISTINCT, self-loop-free)
    in scope.  Exact cross-engine by construction: all-BIGINT ranks,
    truncating ``//`` division everywhere Spark uses ``div``, and the
    dangling mass as an explicit 1-row aggregate per iteration.  The
    scale and the damping are the Spark side's own: ``PAGERANK_SCALE``
    and ``PAGERANK_DAMPING_PCT``.  Final ranks live in ``r{iters}``."""
    tele = f"(({PAGERANK_SCALE} * {100 - PAGERANK_DAMPING_PCT}) // 100) // p.n"
    parts = [
        """
        nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM e
                UNION ALL SELECT dst FROM e
            )
        ),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        od AS (
            SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
            FROM e GROUP BY 1
        ),
        r0 AS (
            SELECT node, n, """
        + f"{PAGERANK_SCALE} // n"
        + """ AS r FROM nodes, nn)"""
    ]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        parts.append(
            f"""
        c{i} AS (
            SELECT e.dst AS node,
                   CAST(sum(p.r // od.outdeg) AS BIGINT) AS contrib
            FROM e JOIN {p} p ON p.node = e.src
                   JOIN od ON od.node = e.src
            GROUP BY 1
        ),
        d{i} AS (
            SELECT CAST(coalesce(sum(p.r), 0) AS BIGINT) AS dang
            FROM {p} p LEFT JOIN od ON od.node = p.node
            WHERE od.node IS NULL
        ),
        r{i} AS (
            SELECT p.node, p.n,
                   {tele}
                   + ({PAGERANK_DAMPING_PCT} * (coalesce(c.contrib, 0)
                                       + d.dang // p.n)) // 100 AS r
            FROM {p} p LEFT JOIN c{i} c ON c.node = p.node, d{i} d
        )"""
        )
    return ",".join(parts)


def _bpe_ctes(n_merges: int) -> str:
    """CTE chain replaying textops.bpe_train in DuckDB — per merge
    round: vocabulary pair counts (adjacent symbols on the chr(31)
    carrier), deterministic argmax (count DESC, lhs, rhs), literal
    replace merge.  An empty round (vocabulary fully merged) makes
    the cross join empty, exactly like the Spark crossJoin.  Ends
    with ``t0..t{n-1}`` (one merge row each)."""
    parts = [
        f"""
    bwc AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split_regex(text,
                   '[ \t\n\r\f]+')) AS word FROM documents)
      WHERE length(word) BETWEEN 1 AND {BPE_MAX_WORD_LEN}
        AND NOT contains(word, chr(31))
        AND NOT contains(word, chr(30))
      GROUP BY 1),
    b0 AS (
      SELECT array_to_string(string_split(word, ''), chr(31)) AS sym,
             n
      FROM bwc)"""
    ]
    for i in range(n_merges):
        parts.append(
            f"""
    p{i} AS (
      SELECT parts[j] AS lhs, parts[j + 1] AS rhs,
             CAST(sum(n) AS BIGINT) AS pair_n
      FROM (SELECT string_split(sym, chr(31)) AS parts, n
            FROM b{i} WHERE contains(sym, chr(31))),
           UNNEST(range(1, len(parts))) t(j)
      GROUP BY 1, 2),
    t{i} AS (
      SELECT lhs, rhs, pair_n FROM p{i}
      ORDER BY pair_n DESC, lhs, rhs LIMIT 1),
    b{i + 1} AS (
      SELECT replace(sym, lhs || chr(31) || rhs, lhs || rhs) AS sym,
             n
      FROM b{i}, t{i})"""
        )
    return ",".join(parts)


def _log2q_ctes(src: str, prefix: str, x: str, out: str) -> str:
    """CTE chain replaying textops.with_log2q in DuckDB: appends
    column ``out`` = fixed-point log2 (``≈ 2^LOG2Q_FRAC_BITS · log2(x)``)
    of BIGINT column ``x`` (NULL below 1) to every row of CTE
    ``src``, via the same mantissa-squaring recurrence in pure
    64-bit integer arithmetic — mantissa in [2^30, 2^31) so squares
    stay < 2^62; each fractional bit compares the square against
    2^61 and renormalizes by 31 or 30.  Caller reads ``{prefix}z``.
    Identical op-for-op with the Spark side, so log-based scores
    (BM25 idf, DSIR llr) hash-match exactly."""
    two61 = 1 << 61
    parts = [
        f"""
    {prefix}n AS (
      SELECT *, CASE WHEN {x} >= 1
                     THEN CAST(length(bin({x})) - 1 AS BIGINT) END AS _n
      FROM {src}),
    {prefix}0 AS (
      SELECT * EXCLUDE (_n),
             CASE WHEN _n <= 30 THEN {x} << CAST(30 - _n AS INTEGER)
                  ELSE {x} >> CAST(_n - 30 AS INTEGER) END AS _m,
             _n AS _f
      FROM {prefix}n)"""
    ]
    for i in range(LOG2Q_FRAC_BITS):
        parts.append(
            f"""
    {prefix}{i + 1} AS (
      SELECT * EXCLUDE (_m, _f),
             CASE WHEN _m * _m >= {two61} THEN (_m * _m) >> 31
                  ELSE (_m * _m) >> 30 END AS _m,
             _f * 2 + CASE WHEN _m * _m >= {two61}
                           THEN 1 ELSE 0 END AS _f
      FROM {prefix}{i})"""
        )
    parts.append(
        f"""
    {prefix}z AS (
      SELECT * EXCLUDE (_m, _f), _f AS {out} FROM {prefix}{LOG2Q_FRAC_BITS})"""
    )
    return ",".join(parts)


def _pq_ctes(m: int, k: int, iters: int, dim: int, n_queries: int) -> str:
    """CTE chain replicating textops.pq_adc_topk in DuckDB: per
    subspace a prefix-named kmeans training over the sliced
    embeddings, the nearest-code assignment (same (dist, code)
    argmin), then the per-query distance table and the ADC sum.
    Ends with ``adist`` = (query_id, neighbor_id, adist)."""
    d = dim // m
    parts = []
    for j in range(m):
        p = f"s{j}k"
        src = (
            f"(SELECT vec_id, embedding[{j * d + 1}:{(j + 1) * d}]"
            f" AS embedding FROM embeddings) pqsrc{j}"
        )
        parts.append(
            _kmeans_ctes(src, k=k, iters=iters, dim=d, prefix=p)
        )
        parts.append(
            f"""
    s{j}code AS (
      SELECT vec_id, {j} AS sub_idx, centroid_id AS code FROM (
        SELECT q.vec_id, c.centroid_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY (SELECT sum((q.qv[i]-c.cv[i])
                                        *(q.qv[i]-c.cv[i]))
                             FROM UNNEST(range(1, {d}+1)) t(i)),
                            c.centroid_id) AS r
        FROM {p}q q, {p}c{iters} c) WHERE r = 1),
    s{j}dtab AS (
      SELECT q.vec_id AS query_id, {j} AS sub_idx,
             c.centroid_id AS code,
             (SELECT sum((q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))
              FROM UNNEST(range(1, {d}+1)) t(i)) AS d
      FROM {p}q q, {p}c{iters} c WHERE q.vec_id < {n_queries})"""
        )
    codes = " UNION ALL ".join(
        f"SELECT * FROM s{j}code" for j in range(m)
    )
    dtab = " UNION ALL ".join(
        f"SELECT * FROM s{j}dtab" for j in range(m)
    )
    parts.append(
        f"""
    pqcodes AS ({codes}),
    pqdtab AS ({dtab}),
    adist AS (
      SELECT t.query_id, c.vec_id AS neighbor_id,
             CAST(sum(t.d) AS BIGINT) AS adist
      FROM pqcodes c
      JOIN pqdtab t ON t.sub_idx = c.sub_idx AND t.code = c.code
      WHERE c.vec_id <> t.query_id
      GROUP BY 1, 2)"""
    )
    return ",".join(parts)


def _kmeans_ctes(
    src: str, k: int, iters: int, dim: int, prefix: str = "k"
) -> str:
    """CTE chain replicating textops.kmeans_centroids in DuckDB —
    emitted by a generator because the Lloyd iterations are plan-
    unrolled on the Spark side too.  ``src`` must expose
    (vec_id, embedding).  Exact cross-engine by construction: floor-
    quantized BIGINT vectors, BIGINT L2 folds, truncating //-means
    (Spark div and DuckDB // both truncate toward zero — probed),
    (dist, centroid_id) tie-breaks, md5-48 seed order.  Ends with
    ``{prefix}c{iters}`` = (centroid_id, cv, n_members); all CTE
    names carry ``prefix`` so several trainings (PQ subspaces)
    can share one WITH clause."""
    p = prefix
    out = [f"""
    {p}q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {VEC_SCALE}) AS BIGINT))
               AS qv
      FROM {src}),
    {p}seed AS (
      SELECT qv, row_number() OVER (
               ORDER BY CAST(('0x' || substr(md5('kmeans|'
                          || CAST(vec_id AS VARCHAR)), 1, 12))
                        AS BIGINT), vec_id) AS r
      FROM {p}q),
    {p}c0 AS (
      SELECT CAST(r - 1 AS BIGINT) AS centroid_id, qv AS cv
      FROM {p}seed WHERE r <= {k})"""]
    prev = f"{prefix}c0"
    for i in range(1, iters + 1):
        out.append(f"""
    {p}d{i} AS (
      SELECT q.vec_id, q.qv, c.centroid_id,
             (SELECT sum((q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))
              FROM UNNEST(range(1, {dim}+1)) t(i)) AS dist
      FROM {p}q q, {prev} c),
    {p}a{i} AS (
      SELECT vec_id, qv, centroid_id FROM (
        SELECT vec_id, qv, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, centroid_id) AS r
        FROM {p}d{i}) WHERE r = 1),
    {p}m{i} AS (
      SELECT centroid_id, CAST(t.i AS INTEGER) AS dim_idx,
             CAST(sum(qv[t.i]) // count(*) AS BIGINT) AS coord,
             count(*) AS n
      FROM {p}a{i}, UNNEST(range(1, {dim}+1)) t(i)
      GROUP BY centroid_id, t.i),
    {p}c{i} AS (
      SELECT p.centroid_id,
             CASE WHEN count(m.coord) = 0 THEN p.cv
                  ELSE list(m.coord ORDER BY m.dim_idx) END AS cv,
             CAST(coalesce(max(m.n), 0) AS BIGINT) AS n_members
      FROM {prev} p LEFT JOIN {p}m{i} m USING (centroid_id)
      GROUP BY p.centroid_id, p.cv)""")
        prev = f"{prefix}c{i}"
    return ",".join(out)


_GRAMS_CTE = """
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
        FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
    )
"""

def _abs_url_sql() -> str:
    """DuckDB mirror of textops.absolutize_url (identical regex chain;
    built by loop so the 10 nested regexp_replace passes stay in sync
    with the Spark implementation)."""
    u = "regexp_replace(joined, '[?#].*$', '')"  # collapse PATH only
    u = f"regexp_replace({u}, '/\\.\\.$', '/../')"
    u = f"regexp_replace({u}, '/\\.$', '/./')"
    for _ in range(8):
        u = f"regexp_replace({u}, '/\\./', '/', 'g')"
    for _ in range(8):
        # captured preceding char guards the authority (never '/'/':')
        u = f"regexp_replace({u}, '([^/:])/[^/?#]+/\\.\\./', '\\1/', 'g')"
    # root-underflow clamp (browser behavior)
    u = f"regexp_replace({u}, '(://[^/?#]+/)(\\.\\./)+', '\\1', 'g')"
    u = f"{u} || regexp_extract(joined, '((?:\\?|#).*)$', 1)"
    return f"""
        WITH m AS (
            SELECT doc_id,
                   'https://site' || CAST(doc_id % 7 AS VARCHAR)
                     || '.example/a/b/page' || CAST(doc_id AS VARCHAR)
                     || '.html?x=1' AS base,
                   CASE doc_id % 5
                     WHEN 0 THEN 'img/p' || CAST(doc_id AS VARCHAR)
                                 || '.png'
                     WHEN 1 THEN '../up.png'
                     WHEN 2 THEN '/rooted.png'
                     WHEN 3 THEN '//cdn.example/c.js'
                     ELSE 'https://abs.example/v'
                          || CAST(doc_id AS VARCHAR) || '.png'
                   END AS ref
            FROM documents
        ),
        parts AS (
            SELECT doc_id, ref,
                   regexp_extract(base,
                     '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1) AS scheme,
                   regexp_extract(base,
                     '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)', 1) AS origin,
                   regexp_extract(regexp_replace(base, '[?#].*$', ''),
                     '^(.*/)', 1) AS bdir0
            FROM m
        ),
        j AS (
            SELECT doc_id,
                   CASE
                     WHEN regexp_matches(ref,
                          '^[a-zA-Z][a-zA-Z0-9+.-]*:') THEN ref
                     WHEN ref LIKE '//%' THEN scheme || ':' || ref
                     WHEN ref LIKE '/%' THEN origin || ref
                     ELSE (CASE WHEN length(bdir0) > length(origin)
                           THEN bdir0 ELSE origin || '/' END) || ref
                   END AS joined
            FROM parts
        )
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, {u} AS resolved_ref
        FROM j
    """


_STOP_EN = "[" + ",".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"


_EMB_CAND_SQL = """            WITH c AS (
                SELECT vec_id AS centroid_id, embedding AS ce
                FROM embeddings WHERE vec_id < 8
            ),
            adist AS (
                SELECT e.vec_id, c.centroid_id,
                       round((SELECT sum((CAST(e.embedding[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE))
                                       * (CAST(e.embedding[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE)))
                              FROM UNNEST(range(1, len(ce) + 1)) t(i)), 6) AS dist
                FROM embeddings e, c
            ),
            assign AS (
                SELECT vec_id, centroid_id FROM (
                    SELECT vec_id, centroid_id,
                           row_number() OVER (
                               PARTITION BY vec_id
                               ORDER BY dist ASC, centroid_id ASC
                           ) AS r
                    FROM adist
                ) WHERE r = 1
            ),
            pairs AS (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       ea.embedding AS ea, eb.embedding AS eb
                FROM assign a
                JOIN assign b ON a.centroid_id = b.centroid_id
                             AND a.vec_id < b.vec_id
                JOIN embeddings ea ON ea.vec_id = a.vec_id
                JOIN embeddings eb ON eb.vec_id = b.vec_id
            ),
            dots AS (
                SELECT vec_a, vec_b,
                       (SELECT sum(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))
                        FROM UNNEST(range(1, len(ea) + 1)) t(i)) AS dot,
                       (SELECT sum(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE))
                        FROM UNNEST(range(1, len(ea) + 1)) t(i)) AS na,
                       (SELECT sum(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))
                        FROM UNNEST(range(1, len(eb) + 1)) t(i)) AS nb
                FROM pairs
            )
            SELECT vec_a, vec_b,
                   round(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine
            FROM dots
            WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.1
        """


def oracle_sql() -> dict[str, str]:
    doc_id = "CAST(doc_id AS VARCHAR) AS doc_id"
    null_ref = "CAST(NULL AS VARCHAR) AS media_ref"
    sqls = {
        "extract_heading_para": f"""
            SELECT {doc_id}, 0 AS offset, 'heading' AS kind,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS text, {null_ref}
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'text' AS kind, text, {null_ref}
            FROM documents
        """,
        "extract_entities": f"""
            SELECT {doc_id}, 0 AS offset, 'text' AS kind,
                   text || ' & <tail> A©' AS text, {null_ref}
            FROM documents
        """,
        "extract_media": f"""
            SELECT {doc_id}, 0 AS offset, 'text' AS kind, text, {null_ref}
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'media' AS kind, 'fig' AS text,
                   'img-' || CAST(doc_id AS VARCHAR) || '.png' AS media_ref
            FROM documents
        """,
        "extract_list": f"""
            SELECT {doc_id}, 0 AS offset, 'list' AS kind,
                   'lang ' || lang AS text, {null_ref}
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'list' AS kind,
                   'from ' || source AS text, {null_ref}
            FROM documents
        """,
        "extract_table": f"""
            SELECT {doc_id}, 0 AS offset, 'table' AS kind,
                   'cap ' || CAST(doc_id AS VARCHAR) AS text, {null_ref}
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'table' AS kind, text, {null_ref}
            FROM documents
            UNION ALL
            SELECT {doc_id}, 2 AS offset, 'table' AS kind,
                   'n=' || CAST(n_chars AS VARCHAR) AS text, {null_ref}
            FROM documents
        """,
        "extract_svg_mixed": f"""
            SELECT {doc_id}, 0 AS offset, 'text' AS kind, text, {null_ref}
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'text' AS kind,
                   'tail ' || lang AS text, {null_ref}
            FROM documents
        """,
        "extract_meta": f"""
            SELECT {doc_id}, 0 AS offset, 'meta' AS kind,
                   'Doc ' || CAST(doc_id AS VARCHAR) || ' | ' || lang
                     AS text,
                   'title' AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'meta' AS kind,
                   trim(substr(text, 1, 24)) AS text,
                   'description' AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 2 AS offset, 'meta' AS kind,
                   CASE WHEN doc_id % 3 = 0 THEN 'noindex'
                        ELSE 'index,follow' END AS text,
                   'robots' AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 3 AS offset, 'meta' AS kind,
                   'https://cdn.example/og' || CAST(doc_id AS VARCHAR)
                     || '.png' AS text,
                   'og:image' AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 4 AS offset, 'meta' AS kind,
                   'https://site' || CAST(doc_id % 7 AS VARCHAR)
                     || '.example/c/' || CAST(doc_id AS VARCHAR) AS text,
                   'canonical' AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 5 AS offset, 'meta' AS kind,
                   '/feed' || CAST(doc_id AS VARCHAR) || '.xml' AS text,
                   'feed' AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 6 AS offset, 'meta' AS kind,
                   'https://fr.example/p' || CAST(doc_id AS VARCHAR)
                     AS text,
                   'alternate:fr' AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 7 AS offset, 'meta' AS kind,
                   '/list?page=' || CAST(doc_id % 50 + 2 AS VARCHAR)
                     AS text,
                   'next' AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 8 AS offset, 'meta' AS kind,
                   'Writer ' || CAST(doc_id % 7 AS VARCHAR) AS text,
                   'author' AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 9 AS offset, 'meta' AS kind,
                   '2024-05-' || lpad(
                       CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'
                   ) || 'T00:00:00Z' AS text,
                   'article:published_time' AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 10 AS offset, 'meta' AS kind,
                   '/moved/' || CAST(doc_id AS VARCHAR) AS text,
                   'refresh' AS media_ref
            FROM documents WHERE doc_id % 4 = 0
            UNION ALL
            SELECT {doc_id},
                   CASE WHEN doc_id % 4 = 0 THEN 11 ELSE 10 END
                     AS offset,
                   'text' AS kind, text, {null_ref}
            FROM documents
        """,
        "extract_links": f"""
            SELECT {doc_id}, 0 AS offset, 'rel ' || lang AS anchor_text,
                   '/r/' || CAST(doc_id AS VARCHAR) AS href,
                   'https://site' || CAST(doc_id % 7 AS VARCHAR)
                     || '.example/r/' || CAST(doc_id AS VARCHAR)
                     AS resolved
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'peer link' AS anchor_text,
                   'https://peer.example/p' || CAST(doc_id AS VARCHAR)
                     AS href,
                   'https://peer.example/p' || CAST(doc_id AS VARCHAR)
                     AS resolved
            FROM documents
            UNION ALL
            SELECT {doc_id}, 3 AS offset, 'section' AS anchor_text,
                   '../nav/' || CAST(doc_id AS VARCHAR) AS href,
                   'https://site' || CAST(doc_id % 7 AS VARCHAR)
                     || '.example/a/nav/' || CAST(doc_id AS VARCHAR)
                     AS resolved
            FROM documents
        """,
        "extract_template": f"""
            SELECT {doc_id}, 0 AS offset, 'heading' AS kind,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS text, {null_ref}
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'text' AS kind, text, {null_ref}
            FROM documents
            UNION ALL
            SELECT {doc_id}, 2 AS offset, 'table' AS kind,
                   'cell ' || lang AS text, {null_ref}
            FROM documents
        """,
        "extract_fragment": f"""
            SELECT {doc_id}, 0 AS offset, 'list' AS kind,
                   'lang ' || lang AS text, {null_ref}
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'list' AS kind, text, {null_ref}
            FROM documents
        """,
        "warc_extract": f"""
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   0 AS offset, 'heading' AS kind,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS text, {null_ref}
            FROM documents
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   1 AS offset, 'text' AS kind, text, {null_ref}
            FROM documents
        """,
        "warc_charset_extract": f"""
            -- expected spans stated from construction: per doc_id%5
            -- charset class, the paragraph is text || the class's
            -- suffix; any sniffing/precedence/decode/BOM-strip error
            -- on the Spark side changes a span value and the hash
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   0 AS offset, 'heading' AS kind,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS text, {null_ref}
            FROM documents
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   1 AS offset, 'text' AS kind,
                   text || CASE doc_id % 5
                       WHEN 0 THEN ' café €99 ™'
                       WHEN 1 THEN ' naïve ✓'
                       WHEN 2 THEN ' – naïve'
                       WHEN 3 THEN ' café 45°'
                       ELSE ' utf16 é'
                   END AS text, {null_ref}
            FROM documents
        """,
        "warc_feed_extract": f"""
            -- expected spans stated from construction: per doc_id%3
            -- payload class — RSS (CDATA body two-level parse +
            -- enclosure media), Atom (XML-prolog windows-1252 €,
            -- type="html" title, escaped summary, enclosure link),
            -- text/html control
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   0 AS offset, 'heading' AS kind,
                   CASE doc_id % 3
                       WHEN 0 THEN 'Feed ' WHEN 1 THEN 'Atom '
                       ELSE 'Doc '
                   END || CAST(doc_id AS VARCHAR) AS text, {null_ref}
            FROM documents
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   1 AS offset, 'heading' AS kind,
                   CASE doc_id % 3 WHEN 0 THEN 'Item ' ELSE 'E ' END
                       || CAST(doc_id AS VARCHAR) AS text, {null_ref}
            FROM documents WHERE doc_id % 3 < 2
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   CASE doc_id % 3 WHEN 2 THEN 1 ELSE 2 END AS offset,
                   'text' AS kind,
                   text || CASE doc_id % 3
                       WHEN 0 THEN ' rss' WHEN 1 THEN ' €9'
                       ELSE ' html'
                   END AS text, {null_ref}
            FROM documents
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   3 AS offset, 'media' AS kind, '' AS text,
                   'https://cdn.example/' || CAST(doc_id AS VARCHAR)
                       || CASE doc_id % 3 WHEN 0 THEN '.mp3'
                          ELSE '.ogg' END AS media_ref
            FROM documents WHERE doc_id % 3 < 2
        """,
        "warc_plaintext_extract": f"""
            -- expected spans stated from construction: per doc_id%3
            -- payload class — text/plain bodies surface VERBATIM as
            -- one whole-body span (tokenizer bypassed, meta prescan
            -- suppressed, transport charset honored); the text/html
            -- control still tokenizes (entity decoded, heading span)
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   0 AS offset, 'text' AS kind,
                   'x < y; <meta charset="windows-1252"> café ' || text
                       AS text, {null_ref}
            FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   0 AS offset, 'text' AS kind,
                   text || ' résumé €9' AS text, {null_ref}
            FROM documents WHERE doc_id % 3 = 1
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   0 AS offset, 'heading' AS kind,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS text, {null_ref}
            FROM documents WHERE doc_id % 3 = 2
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   1 AS offset, 'text' AS kind,
                   text || ' x < y' AS text, {null_ref}
            FROM documents WHERE doc_id % 3 = 2
        """,
        "warc_http_codec_extract": f"""
            -- expected spans stated from construction: per doc_id%5
            -- wire-coding class — identity / chunked / gzip / deflate
            -- / chunked-over-gzip; any dechunk or inflate error on
            -- the Spark side leaves hex size lines or binary noise
            -- in a span value and fails the hash
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   0 AS offset, 'heading' AS kind,
                   CASE doc_id % 5
                       WHEN 2 THEN 'GZ'
                       WHEN 3 THEN 'DF'
                       WHEN 4 THEN 'CG'
                       ELSE 'Doc ' || CAST(doc_id AS VARCHAR)
                   END AS text, {null_ref}
            FROM documents
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   1 AS offset, 'text' AS kind,
                   CASE doc_id % 5
                       WHEN 0 THEN text || ' plain'
                       WHEN 1 THEN text || ' chunked'
                       WHEN 2 THEN 'gzip fixed body'
                       WHEN 3 THEN 'deflate fixed body'
                       ELSE 'chunked gzip body'
                   END AS text, {null_ref}
            FROM documents
        """,
        "extract_boilerplate": f"""
            SELECT {doc_id}, 0 AS offset, 'text' AS kind, text, {null_ref}
            FROM documents
        """,
        "span_kind_counts": """
            SELECT 'text' AS kind, count(*) AS n FROM documents
            UNION ALL
            SELECT 'media' AS kind, count(*) AS n FROM documents
        """,
        "interleaved_passthrough": f"""
            SELECT {doc_id}, 0 AS offset, 'text' AS kind, text, {null_ref}
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'media' AS kind,
                   'a figure' AS text,
                   'media://' || CAST(doc_id AS VARCHAR) AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 2 AS offset, 'text' AS kind,
                   'tail ' || lang AS text, {null_ref}
            FROM documents
        """,
        "media_resolution": f"""
            SELECT {doc_id}, 0 AS offset, 'text' AS kind, text,
                   {null_ref}, CAST(NULL AS VARCHAR) AS media_kind,
                   CAST(NULL AS VARCHAR) AS resolved_url
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'media' AS kind, 'fig' AS text,
                   'img-' || CAST(doc_id AS VARCHAR) || '.png' AS media_ref,
                   'image' AS media_kind,
                   'https://cdn.example/' || CAST(doc_id AS VARCHAR)
                       AS resolved_url
            FROM documents
        """,
        "dedup_exact": """
            SELECT CAST(min(doc_id) AS VARCHAR) AS doc_id, text
            FROM documents GROUP BY text
        """,
        "ngram_jaccard_pairs": _GRAMS_CTE + """
            , sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id)
            , shared AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                FROM grams a JOIN grams b USING (gram)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(shared / (sa.n + sb.n - shared), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(shared / (sa.n + sb.n - shared), 6) >= 0.05
        """,
        "minhash_dup_candidates": _GRAMS_CTE + """
            , seeded AS (
                SELECT doc_id, gram, CAST(s.seed AS INTEGER) AS seed
                FROM grams, (SELECT UNNEST(range(0, 8)) AS seed) s
            )
            , sig AS (
                SELECT doc_id, seed,
                       min(CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || gram), 1, 12)) AS BIGINT)) AS minhash
                FROM seeded GROUP BY doc_id, seed
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_agree
            FROM sig a JOIN sig b ON a.seed = b.seed AND a.minhash = b.minhash
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "minhash_banded_candidates": """
            WITH documents_u AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000 AS doc_id, text || ' zq' AS text
                FROM documents
            ),
            words AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents_u
            ),
            grams AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
                FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
            ),
            seeded AS (
                SELECT doc_id, gram, CAST(s.seed AS INTEGER) AS seed
                FROM grams, (SELECT UNNEST(range(0, 8)) AS seed) s
            ),
            sig AS (
                SELECT doc_id, seed,
                       min(CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || gram), 1, 12)) AS BIGINT)) AS minhash
                FROM seeded GROUP BY doc_id, seed
            ),
            band_sig AS (
                SELECT doc_id, seed // 2 AS band,
                       md5(string_agg(CAST(minhash AS VARCHAR), ','
                                      ORDER BY seed)) AS bsig
                FROM sig GROUP BY doc_id, seed // 2
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_bands
            FROM band_sig a
            JOIN band_sig b ON a.band = b.band AND a.bsig = b.bsig
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        """,
        "simhash60": """
            WITH wrds AS (
                SELECT DISTINCT doc_id, w FROM (
                    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
                    FROM documents
                )
            ),
            hashed AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
                FROM wrds
            ),
            bits AS (
                SELECT doc_id, CAST(s.s AS INTEGER) AS s,
                       CASE WHEN ((h >> CAST(s.s AS INTEGER)) & 1) = 1
                            THEN 1 ELSE -1 END AS c
                FROM hashed, (SELECT UNNEST(range(0, 60)) AS s) s
            ),
            per_bit AS (
                SELECT doc_id, s, sum(c) AS c FROM bits GROUP BY doc_id, s
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << s)
                                 ELSE 0 END) AS BIGINT) AS simhash
            FROM per_bit GROUP BY doc_id
        """,
        "embed_hashing": _EMB_HASH_ORACLE_HEAD + f"""
            SELECT doc_id, dim_idx,
                   CAST(floor(w * {VEC_SCALE}) AS BIGINT) AS q_weight
            FROM wts
        """,
        "pagerank_links": """
            -- fixed-iteration integer PageRank over the derived edge
            -- list (see _pagerank_ctes: every step BIGINT-exact on
            -- both engines; doc_id % 7 == 0 nodes are dangling)
            WITH ids AS (SELECT doc_id FROM documents),
            m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ids),
            e0 AS (
                SELECT doc_id AS src, (doc_id * 2 + 1) % m.m AS dst
                FROM ids, m WHERE doc_id % 7 <> 0
                UNION ALL
                SELECT doc_id AS src, (doc_id * 3 + 7) % m.m AS dst
                FROM ids, m WHERE doc_id % 7 <> 0
            ),
            e AS (
                SELECT DISTINCT src, dst FROM e0 WHERE src <> dst
            ),""" + _pagerank_ctes(iters=3) + """
            SELECT node, r AS rank_q FROM r3
        """,
        "rebalance_sample": """
            -- target-distribution rebalancing: T = the largest total
            -- sample every group can fill (min over groups of
            -- count*10000//share), per-group ppm rate, md5-48
            -- hash-threshold keep rule (textops.rebalance_sample)
            WITH g AS (
                SELECT lang, CAST(count(*) AS BIGINT) AS cnt
                FROM documents
                WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
                GROUP BY 1
            ),
            s AS (
                SELECT lang, cnt,
                       CASE lang WHEN 'en' THEN 3000
                                 WHEN 'es' THEN 2000
                                 WHEN 'zh' THEN 2000
                                 WHEN 'de' THEN 1500
                                 WHEN 'fr' THEN 1500 END AS share_bp
                FROM g
            ),
            t AS (
                SELECT min(cnt * 10000 // share_bp) AS t_total FROM s
            ),
            r AS (
                SELECT lang,
                       ((share_bp * t_total) // 10000) * 1000000
                           // cnt AS rate_ppm
                FROM s, t
            )
            SELECT d.doc_id, d.lang, r.rate_ppm
            FROM documents d JOIN r USING (lang)
            WHERE ('0x' || substr(
                      md5('rebal|' || CAST(d.doc_id AS VARCHAR)), 1, 12
                  ))::BIGINT % 1000000 < r.rate_ppm
        """,
        "bpe_train": """
            -- BPE merge-table training replayed in SQL (see
            -- _bpe_ctes: literal-replace greedy merges, argmax by
            -- (count DESC, lhs, rhs))
            WITH """ + _bpe_ctes(n_merges=4) + """
            SELECT * FROM (
                SELECT 0 AS step, lhs, rhs, pair_n FROM t0
                UNION ALL
                SELECT 1, lhs, rhs, pair_n FROM t1
                UNION ALL
                SELECT 2, lhs, rhs, pair_n FROM t2
                UNION ALL
                SELECT 3, lhs, rhs, pair_n FROM t3
            )
        """,
        "bpe_encode": """
            -- BPE apply + per-doc token accounting: replay the
            -- 6-merge training (_bpe_ctes), then apply t0..t5 to the
            -- distinct-word vocabulary with the SAME literal-replace
            -- chain and join token lengths back onto the per-doc
            -- word stream
            WITH """ + _bpe_ctes(n_merges=6) + """,
            ew AS (
                SELECT doc_id, word FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(text,
                               '[ \t\n\r\f]+')) AS word
                    FROM documents)
                WHERE length(word) BETWEEN 1 AND 64
                  AND NOT contains(word, chr(31))
                  AND NOT contains(word, chr(30))
            ),
            v0 AS (
                SELECT word,
                       array_to_string(string_split(word, ''),
                                       chr(31)) AS sym
                FROM bwc
            ),
            v1 AS (SELECT word, replace(sym, lhs || chr(31) || rhs,
                          lhs || rhs) AS sym FROM v0, t0),
            v2 AS (SELECT word, replace(sym, lhs || chr(31) || rhs,
                          lhs || rhs) AS sym FROM v1, t1),
            v3 AS (SELECT word, replace(sym, lhs || chr(31) || rhs,
                          lhs || rhs) AS sym FROM v2, t2),
            v4 AS (SELECT word, replace(sym, lhs || chr(31) || rhs,
                          lhs || rhs) AS sym FROM v3, t3),
            v5 AS (SELECT word, replace(sym, lhs || chr(31) || rhs,
                          lhs || rhs) AS sym FROM v4, t4),
            v6 AS (SELECT word, replace(sym, lhs || chr(31) || rhs,
                          lhs || rhs) AS sym FROM v5, t5),
            vt AS (
                SELECT word,
                       CAST(len(string_split(sym, chr(31)))
                            AS INTEGER) AS tok_n
                FROM v6
            )
            SELECT w.doc_id,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(v.tok_n) AS BIGINT) AS n_tokens
            FROM ew w JOIN vt v USING (word)
            GROUP BY 1 ORDER BY 1 LIMIT 500
        """,
        "doc_chunks": """
            -- sliding-window chunking: <=16-word chunks, stride 12,
            -- 4-word overlap; a final pure-overlap window drops;
            -- empty docs produce no chunks
            WITH w1 AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS w
                FROM documents
            ),
            starts AS (
                SELECT doc_id, w, CAST(s AS INTEGER) AS start
                FROM (SELECT doc_id, w FROM w1 WHERE len(w) > 0),
                     UNNEST(range(0, len(w), 12)) t(s)
                WHERE s = 0 OR s + 4 < len(w)
            ),
            chunks AS (
                SELECT doc_id,
                       CAST(row_number() OVER (PARTITION BY doc_id
                            ORDER BY start) - 1 AS INTEGER) AS chunk_id,
                       w[start + 1:start + 16] AS cw
                FROM starts
            )
            SELECT doc_id, chunk_id,
                   CAST(len(cw) AS INTEGER) AS n_words,
                   array_to_string(cw, ' ') AS chunk_text
            FROM chunks
        """,
        "bigram_selfscore": """
            -- corpus-trained bigram LM, scored over itself: pair
            -- buckets = md5-48('blm|'||word) % 256 of adjacent
            -- non-empty words; P(b2|b1) add-one smoothed; logs via
            -- the fixed-point log2 chain; every pair is in both count
            -- tables (the corpus is scored against itself)
            WITH prs AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('blm|' || w[i]), 1, 12))
                            AS BIGINT) % 256 AS b1,
                       CAST(('0x' || substr(md5('blm|' || w[i+1]), 1, 12))
                            AS BIGINT) % 256 AS b2
                FROM (SELECT doc_id,
                             list_filter(string_split(text, ' '),
                                         x -> x <> '') AS w
                      FROM documents),
                     UNNEST(range(1, len(w))) t(i)
            ),
            big0 AS (
                SELECT b1, b2, CAST(count(*) + 1 AS BIGINT) AS _x12
                FROM prs GROUP BY 1, 2
            ),
        """ + _log2q_ctes("big0", "ca", "_x12", "l2_12") + """,
            uni0 AS (
                SELECT b1, CAST(count(*) + 256 AS BIGINT) AS _x1
                FROM prs GROUP BY 1
            ),
        """ + _log2q_ctes("uni0", "cb", "_x1", "l2_1") + """,
            sc AS (
                SELECT p.doc_id, g.l2_12 - u.l2_1 AS lp
                FROM prs p
                JOIN caz g ON p.b1 = g.b1 AND p.b2 = g.b2
                JOIN cbz u ON p.b1 = u.b1
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(lp) AS BIGINT) AS lm_q,
                   CAST(sum(lp) AS BIGINT)
                       // CAST(count(*) AS BIGINT) AS mean_q
            FROM sc GROUP BY 1
        """,
        "corpus_kl": """
            -- KL(zh slice || whole corpus) over 1024 hashed-unigram
            -- buckets, both distributions add-one smoothed, weight =
            -- smoothed target mass (Gibbs holds up to quantization);
            -- absent-from-both buckets contribute 0 (constant folded)
            WITH rtok AS (
                SELECT CAST(('0x' || substr(md5('dsir|' || word), 1, 12))
                            AS BIGINT) % 1024 AS bucket
                FROM (SELECT unnest(string_split(text, ' ')) AS word
                      FROM documents)
                WHERE word <> ''
            ),
            ttok AS (
                SELECT CAST(('0x' || substr(md5('dsir|' || word), 1, 12))
                            AS BIGINT) % 1024 AS bucket
                FROM (SELECT unnest(string_split(text, ' ')) AS word
                      FROM documents WHERE lang = 'zh')
                WHERE word <> ''
            ),
            rc AS (
                SELECT bucket, CAST(count(*) AS BIGINT) AS r_b
                FROM rtok GROUP BY 1
            ),
            tc AS (
                SELECT bucket, CAST(count(*) AS BIGINT) AS t_b
                FROM ttok GROUP BY 1
            ),
            j0 AS (
                SELECT coalesce(t_b, 0) AS t_b,
                       coalesce(t_b, 0) + 1 AS _xa,
                       coalesce(r_b, 0) + 1 AS _xb
                FROM tc FULL OUTER JOIN rc USING (bucket)
            ),
        """ + _log2q_ctes("j0", "ka", "_xa", "_l2a") + ","
            + _log2q_ctes("kaz", "kb", "_xb", "_l2b") + """,
            tt1 AS (
                SELECT (SELECT CAST(sum(r_b) AS BIGINT) FROM rc) AS r_tot,
                       (SELECT CAST(sum(t_b) AS BIGINT) FROM tc) AS t_tot,
                       (SELECT CAST(sum(r_b) AS BIGINT) FROM rc)
                           + 1024 AS _xr,
                       (SELECT CAST(sum(t_b) AS BIGINT) FROM tc)
                           + 1024 AS _xt
            ),
        """ + _log2q_ctes("tt1", "kr", "_xr", "_l2r") + ","
            + _log2q_ctes("krz", "kw", "_xt", "_l2t") + """,
            num AS (
                SELECT CAST(sum((t_b + 1) * (_l2a - _l2b)) AS BIGINT)
                           AS _wsum
                FROM kbz
            )
            SELECT r_tot AS n_raw_tokens,
                   t_tot AS n_target_tokens,
                   (_wsum // (t_tot + 1024)) + (_l2r - _l2t) AS kl_q
            FROM num, kwz
        """,
        "doc_line_dedup": """
            -- within-doc line dedup: 7 synthesized lines per doc
            -- (3 self-repetitions + a blank); non-blank lines keep
            -- first occurrence by md5-48 of the trimmed line,
            -- blanks always survive
            WITH multi AS (
                SELECT doc_id,
                       text || chr(10) || 'cookie notice accept all'
                       || chr(10) || substr(text, 1, 40) || chr(10)
                       || 'cookie notice accept all' || chr(10)
                       || text || chr(10) || '' || chr(10)
                       || substr(text, 1, 40) AS text
                FROM documents
            ),
            lines AS (
                SELECT doc_id, i - 1 AS pos, l[i] AS line
                FROM (SELECT doc_id,
                             string_split(text, chr(10)) AS l
                      FROM multi),
                     UNNEST(range(1, len(l) + 1)) t(i)
            ),
            keyed AS (
                SELECT doc_id, pos, line,
                       CASE WHEN trim(line) <> '' THEN
                         CAST(('0x' || substr(md5(trim(line)), 1, 12))
                              AS BIGINT)
                       END AS lk
                FROM lines
            ),
            flagged AS (
                SELECT doc_id, pos, line,
                       (lk IS NULL OR row_number() OVER (
                            PARTITION BY doc_id, lk ORDER BY pos) = 1)
                           AS keep
                FROM keyed
            )
            SELECT doc_id,
                   coalesce(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE keep), '') AS text,
                   CAST(count(*) FILTER (WHERE NOT keep)
                        AS INTEGER) AS n_removed
            FROM flagged GROUP BY doc_id
        """,
        "decontaminate_fuzzy": """
            -- MinHash-banded decontamination: bench = every 17th doc
            -- + ' zq' (a NEAR copy); training docs colliding with a
            -- bench doc's band signature in >= 1 band drop
            WITH bench AS (
                SELECT doc_id + 90000 AS doc_id, text || ' zq' AS text
                FROM documents WHERE doc_id % 17 = 0
            ),
            bw AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM bench
            ),
            bgrams AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i:i+2], ' ') AS gram
                FROM bw, UNNEST(range(1, len(w) - 1)) AS t(i)
            ),
            bseeded AS (
                SELECT doc_id, gram, CAST(s.seed AS INTEGER) AS seed
                FROM bgrams, (SELECT UNNEST(range(0, 8)) AS seed) s
            ),
            bsg AS (
                SELECT doc_id, seed,
                       min(CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || gram), 1, 12)) AS BIGINT)) AS minhash
                FROM bseeded GROUP BY doc_id, seed
            ),
            bbuckets AS (
                SELECT DISTINCT band, bsig FROM (
                    SELECT seed // 2 AS band,
                           md5(string_agg(CAST(minhash AS VARCHAR), ','
                                          ORDER BY seed)) AS bsig
                    FROM bsg GROUP BY doc_id, seed // 2
                )
            ),
            dw AS (
                SELECT doc_id, string_split(text, ' ') AS w
                FROM documents
            ),
            dgrams AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i:i+2], ' ') AS gram
                FROM dw, UNNEST(range(1, len(w) - 1)) AS t(i)
            ),
            dseeded AS (
                SELECT doc_id, gram, CAST(s.seed AS INTEGER) AS seed
                FROM dgrams, (SELECT UNNEST(range(0, 8)) AS seed) s
            ),
            dsg AS (
                SELECT doc_id, seed,
                       min(CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || gram), 1, 12)) AS BIGINT)) AS minhash
                FROM dseeded GROUP BY doc_id, seed
            ),
            dbs AS (
                SELECT doc_id, seed // 2 AS band,
                       md5(string_agg(CAST(minhash AS VARCHAR), ','
                                      ORDER BY seed)) AS bsig
                FROM dsg GROUP BY doc_id, seed // 2
            ),
            dirty AS (
                SELECT DISTINCT d.doc_id
                FROM dbs d JOIN bbuckets b
                  ON d.band = b.band AND d.bsig = b.bsig
            )
            SELECT doc_id, text FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
        """,
        "bm25_topk": """
            -- BM25 (k1=6/5, b=3/4) in exact integer arithmetic:
            -- idf = log2q(2N-2df+1) - log2q(2df+1) via the fixed-
            -- point log2 CTE chain; tf norm multiplied through to
            -- 22*tf*W // (10*tf*W + 3*W + 9*dl*N)
            WITH qs AS (
                SELECT * FROM (VALUES
                    (CAST(1 AS BIGINT), ['dup', 'key']),
                    (CAST(2 AS BIGINT), ['customer', 'join', 'slow']),
                    (CAST(3 AS BIGINT), ['vector', 'scan', 'the'])
                ) AS t(query_id, terms)
            ),
            wordsf AS (
                SELECT doc_id, word FROM (
                    SELECT doc_id,
                           unnest(string_split(text, ' ')) AS word
                    FROM documents)
                WHERE word <> ''
            ),
            tf AS (
                SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
                FROM wordsf GROUP BY 1, 2
            ),
            dl AS (
                SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
                FROM tf GROUP BY 1
            ),
            nw AS (
                SELECT (SELECT CAST(count(*) AS BIGINT)
                        FROM documents) AS n_docs,
                       (SELECT CAST(count(*) AS BIGINT)
                        FROM wordsf) AS n_words
            ),
            dfreq AS (
                SELECT word, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY 1
            ),
            qterms AS (
                SELECT DISTINCT query_id, unnest(terms) AS word FROM qs
            ),
            qdf0 AS (
                SELECT query_id, qt.word,
                       2 * n_docs - 2 * df + 1 AS _xa,
                       2 * df + 1 AS _xb,
                       n_docs, n_words
                FROM qterms qt JOIN dfreq USING (word) CROSS JOIN nw
            ),
        """ + _log2q_ctes("qdf0", "la", "_xa", "_l2a") + ","
            + _log2q_ctes("laz", "lb", "_xb", "_l2b") + """,
            qidf AS (
                SELECT query_id, word, _l2a - _l2b AS idf_q,
                       n_docs, n_words
                FROM lbz
            ),
            scored AS (
                SELECT query_id, t.doc_id,
                       CAST(sum((idf_q * (22 * t.tf * n_words)) //
                                (10 * t.tf * n_words + 3 * n_words
                                 + 9 * d.dl * n_docs))
                            AS BIGINT) AS score_q
                FROM tf t JOIN qidf q ON t.word = q.word
                          JOIN dl d ON t.doc_id = d.doc_id
                GROUP BY 1, 2
            ),
            ranked AS (
                SELECT query_id, doc_id, score_q,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY score_q DESC, doc_id)
                            AS INTEGER) AS rank
                FROM scored
            )
            SELECT query_id, doc_id, score_q, rank
            FROM ranked WHERE rank <= 10
        """,
        "dsir_weights": """
            -- DSIR hashed-unigram importance weights: target =
            -- every 13th doc; llr per 256-way md5 bucket with
            -- add-one smoothing, logs via the fixed-point log2 chain
            WITH tdocs AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0
            ),
            rtok AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('dsir|' || word), 1, 12))
                            AS BIGINT) % 256 AS bucket
                FROM (SELECT doc_id,
                             unnest(string_split(text, ' ')) AS word
                      FROM documents)
                WHERE word <> ''
            ),
            ttok AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('dsir|' || word), 1, 12))
                            AS BIGINT) % 256 AS bucket
                FROM (SELECT doc_id,
                             unnest(string_split(text, ' ')) AS word
                      FROM tdocs)
                WHERE word <> ''
            ),
            rc AS (
                SELECT bucket, CAST(count(*) AS BIGINT) AS r_b
                FROM rtok GROUP BY 1
            ),
            tc AS (
                SELECT bucket, CAST(count(*) AS BIGINT) AS t_b
                FROM ttok GROUP BY 1
            ),
            tot0 AS (
                SELECT (SELECT CAST(sum(r_b) AS BIGINT) FROM rc)
                           + 256 AS _xr,
                       (SELECT coalesce(CAST(sum(t_b) AS BIGINT), 0)
                        FROM tc) + 256 AS _xt
            ),
        """ + _log2q_ctes("tot0", "tr", "_xr", "_l2r") + ","
            + _log2q_ctes("trz", "tw", "_xt", "_l2t") + """,
            cst AS (SELECT _l2r - _l2t AS llr_const FROM twz),
            bt0 AS (
                SELECT rc.bucket,
                       coalesce(t_b, CAST(0 AS BIGINT)) + 1 AS _xa,
                       r_b + 1 AS _xb
                FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket
            ),
        """ + _log2q_ctes("bt0", "ba", "_xa", "_l2a") + ","
            + _log2q_ctes("baz", "bb", "_xb", "_l2b") + """,
            llr AS (
                SELECT bucket,
                       _l2a - _l2b + (SELECT llr_const FROM cst)
                           AS llr_q
                FROM bbz
            )
            SELECT r.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(l.llr_q) AS BIGINT) AS dsir_q
            FROM rtok r JOIN llr l ON r.bucket = l.bucket
            GROUP BY 1
        """,
        "quality_tiers": f"""
            -- CCNet-style per-language head/middle/tail tiers from
            -- the en trigram-LM score: integer histogram (score div
            -- 1000 buckets), cumulative-from-top window over the
            -- tiny histogram, whole buckets land on one side of each
            -- cut (10% head / 30% middle)
            WITH langs AS (SELECT * FROM {_langid_values()}),
            en AS (SELECT w FROM langs WHERE lang = 'en'),
            low AS (SELECT doc_id, lang,
                           lower(text) AS t FROM documents),
            {_LANGID_BUCKET_CTES},
            sc AS (
                SELECT doc_id,
                       CAST(sum(w[CAST(b AS INTEGER) + 1]) AS BIGINT)
                         AS t2,
                       count(*) AS n
                FROM bk, en GROUP BY doc_id
            ),
            scored AS (
                SELECT d.doc_id, d.lang,
                       CASE WHEN sc.n > 0
                            THEN CAST(sc.t2 // sc.n AS BIGINT) END
                         AS lm_score,
                       CAST(coalesce(sc.n, 0) AS INTEGER)
                         AS n_trigrams
                FROM documents d LEFT JOIN sc USING (doc_id)
            ),
            rows_q AS (
                SELECT *, CAST(lm_score // 1000 AS BIGINT)
                         AS score_bucket
                FROM scored WHERE lm_score IS NOT NULL
            ),
            hist AS (
                SELECT lang, score_bucket, count(*) AS hn
                FROM rows_q GROUP BY 1, 2
            ),
            cum AS (
                SELECT lang, score_bucket,
                       coalesce(sum(hn) OVER (
                           PARTITION BY lang
                           ORDER BY score_bucket DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS above,
                       sum(hn) OVER (PARTITION BY lang) AS total
                FROM hist
            ),
            tl AS (
                SELECT lang, score_bucket,
                       CASE WHEN above < (total * 100000) // 1000000
                              THEN 'head'
                            WHEN above < (total * 400000) // 1000000
                              THEN 'middle'
                            ELSE 'tail' END AS tier
                FROM cum
            )
            SELECT r.doc_id, r.lang, r.lm_score, r.n_trigrams,
                   r.score_bucket, t.tier
            FROM rows_q r JOIN tl t USING (lang, score_bucket)
            ORDER BY r.doc_id LIMIT 500
        """,
        "pq_adc_topk": """
            -- product-quantization ADC top-k: m=4 subspace codebooks
            -- (prefix-named kmeans CTE chains), nearest-code encode,
            -- per-query distance table, ADC sum (see _pq_ctes)
            WITH """ + _pq_ctes(
            m=4, k=8, iters=2, dim=64, n_queries=4
        ) + """
            SELECT query_id, neighbor_id,
                   CAST(rank AS INTEGER) AS rank, adist
            FROM (
                SELECT query_id, neighbor_id, adist,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY adist, neighbor_id
                       ) AS rank
                FROM adist
            ) WHERE rank <= 5
        """,
        "kmeans_centroids": """
            -- fixed-iteration Lloyd over the embeddings table in
            -- quantized integer space (see _kmeans_ctes: every
            -- operation exact on both engines)
            WITH """ + _kmeans_ctes(
            "embeddings", k=8, iters=3, dim=64
        ) + """
            SELECT centroid_id, CAST(t.i - 1 AS INTEGER) AS dim_idx,
                   cv[t.i] AS coord, n_members
            FROM kc3, UNNEST(range(1, 64 + 1)) t(i)
        """,
        "ivf_topk_embedded": _EMB_HASH_ORACLE_HEAD + """
            , emb AS (
                SELECT doc_id AS vec_id, list(w ORDER BY dim_idx)
                         AS embedding
                FROM wts GROUP BY doc_id
            ),""" + _kmeans_ctes(
            "emb", k=8, iters=2, dim=16
        ) + """,
            c AS (
                SELECT centroid_id,
                       list_transform(cv,
                         x -> CAST(x AS DOUBLE) / """ + f"{VEC_SCALE}" + """) AS ce
                FROM kc2
            ),
            adist AS (
                SELECT e.vec_id, c.centroid_id,
                       round((SELECT sum((CAST(e.embedding[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE))
                                       * (CAST(e.embedding[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE)))
                              FROM UNNEST(range(1, len(ce) + 1)) t(i)), 6) AS dist
                FROM emb e, c
            ),
            assign AS (
                SELECT vec_id, centroid_id FROM (
                    SELECT vec_id, centroid_id,
                           row_number() OVER (
                               PARTITION BY vec_id
                               ORDER BY dist ASC, centroid_id ASC
                           ) AS r
                    FROM adist
                ) WHERE r = 1
            ),
            q AS (
                SELECT vec_id AS query_id, embedding AS qe
                FROM emb WHERE vec_id < 5
            ),
            qdist AS (
                SELECT q.query_id, c.centroid_id, q.qe,
                       round((SELECT sum((CAST(qe[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE))
                                       * (CAST(qe[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE)))
                              FROM UNNEST(range(1, len(ce) + 1)) t(i)), 6) AS dist
                FROM q, c
            ),
            probes AS (
                SELECT query_id, centroid_id, qe FROM (
                    SELECT query_id, centroid_id, qe,
                           row_number() OVER (
                               PARTITION BY query_id
                               ORDER BY dist ASC, centroid_id ASC
                           ) AS r
                    FROM qdist
                ) WHERE r <= 2
            ),
            cand AS (
                SELECT p.query_id, e.vec_id, p.qe, e.embedding AS ee
                FROM probes p
                JOIN assign a USING (centroid_id)
                JOIN emb e ON e.vec_id = a.vec_id
                WHERE e.vec_id <> p.query_id
            ),
            dots AS (
                SELECT query_id, vec_id,
                       (SELECT sum(CAST(qe[i] AS DOUBLE) * CAST(ee[i] AS DOUBLE))
                        FROM UNNEST(range(1, len(qe) + 1)) t(i)) AS dot,
                       (SELECT sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))
                        FROM UNNEST(range(1, len(qe) + 1)) t(i)) AS nq,
                       (SELECT sum(CAST(ee[i] AS DOUBLE) * CAST(ee[i] AS DOUBLE))
                        FROM UNNEST(range(1, len(ee) + 1)) t(i)) AS ne
                FROM cand
            ),
            ranked AS (
                SELECT query_id, vec_id,
                       round(dot / (sqrt(nq) * sqrt(ne)), 6) AS cosine,
                       CAST(row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY round(dot / (sqrt(nq) * sqrt(ne)), 6) DESC,
                                    vec_id ASC
                       ) AS INTEGER) AS rank
                FROM dots
            )
            SELECT query_id, vec_id AS neighbor_id, rank, cosine
            FROM ranked WHERE rank <= 5
        """,
        "dedup_survivors_banded": """
            WITH allx AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000 AS doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 20000 AS doc_id, text || ' zq' AS text
                FROM documents
            ),
            exact AS (
                SELECT min(doc_id) AS doc_id, text FROM allx GROUP BY text
            ),
            words AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM exact
            ),
            grams AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
                FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
            ),
            seeded AS (
                SELECT doc_id, gram, CAST(s.seed AS INTEGER) AS seed
                FROM grams, (SELECT UNNEST(range(0, 8)) AS seed) s
            ),
            sig AS (
                SELECT doc_id, seed,
                       min(CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || gram), 1, 12)) AS BIGINT)) AS minhash
                FROM seeded GROUP BY doc_id, seed
            ),
            band_sig AS (
                SELECT doc_id, seed // 2 AS band,
                       md5(string_agg(CAST(minhash AS VARCHAR), ','
                                      ORDER BY seed)) AS bsig
                FROM sig GROUP BY doc_id, seed // 2
            ),
            pairs AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM band_sig a
                JOIN band_sig b ON a.band = b.band AND a.bsig = b.bsig
                WHERE a.doc_id < b.doc_id
            )
            SELECT doc_id, text FROM exact
            WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM pairs)
        """,
        "simhash_dup_candidates": """
            WITH documents_u AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000 AS doc_id, text || ' zq' AS text
                FROM documents
            ),
            wrds AS (
                SELECT DISTINCT doc_id, w FROM (
                    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
                    FROM documents_u
                )
            ),
            hashed AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) AS h
                FROM wrds
            ),
            bits AS (
                SELECT doc_id, CAST(s.s AS INTEGER) AS s,
                       CASE WHEN ((h >> CAST(s.s AS INTEGER)) & 1) = 1
                            THEN 1 ELSE -1 END AS c
                FROM hashed, (SELECT UNNEST(range(0, 48)) AS s) s
            ),
            per_bit AS (
                SELECT doc_id, s, sum(c) AS c FROM bits GROUP BY doc_id, s
            ),
            sig AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << s)
                                     ELSE 0 END) AS BIGINT) AS simhash
                FROM per_bit GROUP BY doc_id
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM sig a, sig b
            WHERE a.doc_id < b.doc_id
              AND bit_count(xor(a.simhash, b.simhash)) <= 6
        """,
        "cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qe
                FROM embeddings WHERE vec_id < 5
            ),
            dots AS (
                SELECT q.query_id, e.vec_id,
                       (SELECT sum(CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))
                        FROM UNNEST(range(1, len(qe) + 1)) t(i)) AS dot,
                       (SELECT sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))
                        FROM UNNEST(range(1, len(qe) + 1)) t(i)) AS nq,
                       (SELECT sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))
                        FROM UNNEST(range(1, len(e.embedding) + 1)) t(i)) AS ne
                FROM q, embeddings e WHERE e.vec_id <> q.query_id
            ),
            sims AS (
                SELECT query_id, vec_id,
                       round(dot / (sqrt(nq) * sqrt(ne)), 6) AS cosine
                FROM dots
            ),
            ranked AS (
                SELECT query_id, vec_id, cosine,
                       CAST(row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cosine DESC, vec_id ASC
                       ) AS INTEGER) AS rank
                FROM sims
            )
            SELECT query_id, vec_id AS neighbor_id, rank, cosine
            FROM ranked WHERE rank <= 5
        """,
        "nearest_centroid": """
            WITH c AS (
                SELECT vec_id AS centroid_id, embedding AS ce
                FROM embeddings WHERE vec_id < 8
            ),
            dists AS (
                SELECT e.vec_id, c.centroid_id,
                       round((SELECT sum((CAST(e.embedding[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE))
                                       * (CAST(e.embedding[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE)))
                              FROM UNNEST(range(1, len(ce) + 1)) t(i)), 6) AS dist
                FROM embeddings e, c
            ),
            ranked AS (
                SELECT vec_id, centroid_id, dist,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC
                       ) AS rank
                FROM dists
            )
            SELECT vec_id, centroid_id, dist
            FROM ranked WHERE rank = 1
        """,
        "embedding_dup_candidates": _EMB_CAND_SQL,
        "embedding_dedup_survivors": f"""
            WITH cand AS ({_EMB_CAND_SQL})
            SELECT vec_id FROM embeddings
            WHERE vec_id NOT IN (SELECT vec_b FROM cand)
        """,
        "url_normalize": """
            WITH urls AS (
                SELECT doc_id,
                    CASE WHEN doc_id % 3 = 0
                         THEN 'HTTP://Example.COM:80/a/' || CAST(doc_id AS VARCHAR) || '?z=1&a=2#sec'
                         WHEN doc_id % 3 = 1
                         THEN 'https://www.Site.ORG/path/' || CAST(doc_id AS VARCHAR) || '?b=2&a=1'
                         ELSE 'https://cdn.Example.net:443/x?q=' || CAST(doc_id AS VARCHAR)
                    END AS url
                FROM documents
            ),
            parts AS (
                SELECT doc_id, url,
                    regexp_replace(url, '#.*', '') AS u
                FROM urls
            ),
            split AS (
                SELECT doc_id, url, u,
                    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*') AS base,
                    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*', '') AS rest
                FROM parts
            ),
            norm AS (
                SELECT doc_id, url, rest,
                    regexp_replace(
                        regexp_replace(lower(base), '^(http://[^/?]*):80$', '\\1'),
                        '^(https://[^/?]*):443$', '\\1') AS lb,
                    regexp_extract(rest, '^[^?]*') AS path,
                    regexp_extract(rest, '\\?(.*)$', 1) AS query
                FROM split
            )
            SELECT doc_id,
                CASE WHEN query = '' THEN lb || path
                     ELSE lb || path || '?' ||
                          array_to_string(list_sort(string_split(query, '&')), '&')
                END AS norm_url,
                lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/:?#]*)', 1)) AS host
            FROM norm
        """,
        "text_quality": f"""
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
                   CAST(length(text) AS INTEGER) AS n_chars,
                   round(length(replace(text, ' ', ''))
                         / len(string_split(text, ' ')), 4) AS avg_word_len,
                   round(len(list_filter(string_split(text, ' '),
                                         t -> list_contains({_STOP_EN}, t)))
                         / len(string_split(text, ' ')), 4) AS stopword_ratio,
                   round(len(list_distinct(string_split(text, ' ')))
                         / len(string_split(text, ' ')), 4) AS uniq_ratio
            FROM documents
        """,
        "quality_filter": """
            WITH q AS (
                SELECT doc_id, text,
                       len(string_split(text, ' ')) AS n_tokens,
                       round(length(replace(text, ' ', ''))
                             / len(string_split(text, ' ')), 4)
                           AS avg_word_len,
                       round(len(list_distinct(string_split(text, ' ')))
                             / len(string_split(text, ' ')), 4) AS uniq_ratio
                FROM documents
            )
            SELECT doc_id, text FROM q
            WHERE n_tokens >= 30 AND n_tokens <= 100000
              AND avg_word_len <= 6.0
              AND uniq_ratio >= 0.35
        """,
        "trigram_lm_score": f"""
            -- mean per-trigram integer log-weight under the en
            -- model (same pre-baked table as lang_id_v2); integer
            -- div truncates toward zero on both engines
            WITH langs AS (SELECT * FROM {_langid_values()}),
            en AS (SELECT w FROM langs WHERE lang = 'en'),
            low AS (SELECT doc_id, lower(text) AS t FROM documents),
            {_LANGID_BUCKET_CTES},
            sc AS (
                SELECT doc_id,
                       CAST(sum(w[CAST(b AS INTEGER) + 1]) AS BIGINT)
                         AS t2,
                       count(*) AS n
                FROM bk, en GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CASE WHEN sc.n > 0
                        THEN CAST(sc.t2 // sc.n AS BIGINT) END
                     AS lm_score,
                   CAST(coalesce(sc.n, 0) AS INTEGER) AS n_trigrams
            FROM documents d LEFT JOIN sc USING (doc_id)
        """,
        "dedup_incremental": """
            -- existing corpus = documents; new batch = exact copies
            -- (+30000), near copies (+40000, ' zq'), novel synthetic
            -- (+50000).  A new doc drops iff some band's signature
            -- equals an index bucket (min_bands=1).
            WITH newdocs AS (
                SELECT doc_id + 30000 AS doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 40000 AS doc_id, text || ' zq' AS text
                FROM documents
                UNION ALL
                SELECT doc_id + 50000 AS doc_id,
                       substr(md5('nv0:' || CAST(doc_id AS VARCHAR)), 1, 10)
                       || ' ' || substr(md5('nv1:' || CAST(doc_id AS VARCHAR)), 1, 10)
                       || ' ' || substr(md5('nv2:' || CAST(doc_id AS VARCHAR)), 1, 10)
                       || ' ' || substr(md5('nv3:' || CAST(doc_id AS VARCHAR)), 1, 10)
                       || ' ' || substr(md5('nv4:' || CAST(doc_id AS VARCHAR)), 1, 10)
                       || ' ' || substr(md5('nv5:' || CAST(doc_id AS VARCHAR)), 1, 10)
                       || ' ' || substr(md5('nv6:' || CAST(doc_id AS VARCHAR)), 1, 10)
                       || ' ' || substr(md5('nv7:' || CAST(doc_id AS VARCHAR)), 1, 10)
                       || ' ' || substr(md5('nv8:' || CAST(doc_id AS VARCHAR)), 1, 10)
                       || ' ' || substr(md5('nv9:' || CAST(doc_id AS VARCHAR)), 1, 10)
                         AS text
                FROM documents
            ),
            iw AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            igrams AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
                FROM iw, UNNEST(range(1, len(w) - 1)) AS t(i)
            ),
            iseeded AS (
                SELECT doc_id, gram, CAST(s.seed AS INTEGER) AS seed
                FROM igrams, (SELECT UNNEST(range(0, 8)) AS seed) s
            ),
            isig AS (
                SELECT doc_id, seed,
                       min(CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || gram), 1, 12)) AS BIGINT)) AS minhash
                FROM iseeded GROUP BY doc_id, seed
            ),
            ibuckets AS (
                SELECT DISTINCT band, bsig FROM (
                    SELECT seed // 2 AS band,
                           md5(string_agg(CAST(minhash AS VARCHAR), ','
                                          ORDER BY seed)) AS bsig
                    FROM isig GROUP BY doc_id, seed // 2
                )
            ),
            nw AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM newdocs
            ),
            ngrams AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
                FROM nw, UNNEST(range(1, len(w) - 1)) AS t(i)
            ),
            nseeded AS (
                SELECT doc_id, gram, CAST(s.seed AS INTEGER) AS seed
                FROM ngrams, (SELECT UNNEST(range(0, 8)) AS seed) s
            ),
            nsig AS (
                SELECT doc_id, seed,
                       min(CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || gram), 1, 12)) AS BIGINT)) AS minhash
                FROM nseeded GROUP BY doc_id, seed
            ),
            nbs AS (
                SELECT doc_id, seed // 2 AS band,
                       md5(string_agg(CAST(minhash AS VARCHAR), ','
                                      ORDER BY seed)) AS bsig
                FROM nsig GROUP BY doc_id, seed // 2
            ),
            dominated AS (
                SELECT DISTINCT n.doc_id
                FROM nbs n JOIN ibuckets i
                  ON n.band = i.band AND n.bsig = i.bsig
            )
            SELECT doc_id, text FROM newdocs
            WHERE doc_id NOT IN (SELECT doc_id FROM dominated)
        """,
        "lang_gate": f"""
            -- fused gate: argmax language + per-language LM floor
            -- under the PREDICTED language, over the 120-char head;
            -- accept = (en, ja) with floors (-8.15e6, -8.25e6).
            -- Gibberish docs (doc%7==0) fail the floor under their
            -- own best-fit language; es/zh/ru/... fail the
            -- prediction; held-out ja passes on the CJK floor
            WITH langs AS (SELECT * FROM {_langid_values()}),
            src AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN
                            substr(md5('gb0:' || CAST(doc_id AS VARCHAR)), 1, 10)
                            || ' ' || substr(md5('gb1:' || CAST(doc_id AS VARCHAR)), 1, 10)
                            || ' ' || substr(md5('gb2:' || CAST(doc_id AS VARCHAR)), 1, 10)
                            || ' ' || substr(md5('gb3:' || CAST(doc_id AS VARCHAR)), 1, 10)
                            || ' ' || substr(md5('gb4:' || CAST(doc_id AS VARCHAR)), 1, 10)
                            || ' ' || substr(md5('gb5:' || CAST(doc_id AS VARCHAR)), 1, 10)
                            ELSE {_langid_case_sql()} END AS text
                FROM documents
            ),
            low AS (
                SELECT doc_id, substr(lower(text), 1, 120) AS t FROM src
            ),
            {_LANGID_BUCKET_CTES},
            sc AS (
                SELECT doc_id, l.lang,
                       CAST(sum(l.w[CAST(b AS INTEGER) + 1]) AS BIGINT)
                         AS score,
                       count(*) AS n
                FROM bk, langs l GROUP BY doc_id, l.lang
            ),
            best AS (
                SELECT doc_id, lang, score, n FROM (
                    SELECT doc_id, lang, score, n, row_number() OVER (
                        PARTITION BY doc_id
                        ORDER BY score DESC, lang ASC) AS r
                    FROM sc) WHERE r = 1
            )
            SELECT doc_id FROM best
            WHERE (lang = 'en' AND score > -8150000 * n)
               OR (lang = 'ja' AND score > -8250000 * n)
        """,
        "lang_id_v2": f"""
            -- trigram NB: weights are the SAME pre-baked integers
            -- the Spark plan embeds (see _langid_values); scoring is
            -- an exact BIGINT sum, argmax by (score DESC, lang ASC),
            -- 'und' when the doc has no trigram.  Corpus: one
            -- held-out sentence per seed language on doc_id % 11 in
            -- 1..10, document text otherwise
            WITH langs AS (SELECT * FROM {_langid_values()}),
            src AS (
                SELECT doc_id,
                       {_langid_case_sql()} AS text
                FROM documents
            ),
            low AS (SELECT doc_id, lower(text) AS t FROM src),
            {_LANGID_BUCKET_CTES},
            sc AS (
                SELECT doc_id, l.lang,
                       CAST(sum(l.w[CAST(b AS INTEGER) + 1]) AS BIGINT)
                         AS score
                FROM bk, langs l GROUP BY doc_id, l.lang
            ),
            best AS (
                SELECT doc_id, lang FROM (
                    SELECT doc_id, lang, row_number() OVER (
                        PARTITION BY doc_id
                        ORDER BY score DESC, lang ASC) AS r
                    FROM sc) WHERE r = 1
            )
            SELECT d.doc_id, coalesce(best.lang, 'und')
                     AS predicted_lang
            FROM documents d LEFT JOIN best USING (doc_id)
        """,
        "doc_fingerprint": r"""
            SELECT doc_id,
                   md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
                   CAST(('0x' || substr(md5(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 12)) AS BIGINT) AS fingerprint48
            FROM documents
        """,
        "media_features": """
            SELECT 'm-' || CAST(doc_id AS VARCHAR) AS media_ref,
                   CASE WHEN doc_id % 3 = 0 THEN 'video'
                        WHEN doc_id % 3 = 1 THEN 'image'
                        ELSE 'audio' END AS media_kind,
                   md5(text) AS checksum,
                   round(CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) / 65535.0, 6) AS f0,
                   round(CAST(('0x' || substr(md5(text), 5, 4)) AS INTEGER) / 65535.0, 6) AS f1,
                   round(CAST(('0x' || substr(md5(text), 9, 4)) AS INTEGER) / 65535.0, 6) AS f2,
                   round(CAST(('0x' || substr(md5(text), 13, 4)) AS INTEGER) / 65535.0, 6) AS f3
            FROM documents
        """,
        "frame_sample": """
            SELECT 'm-' || CAST(doc_id AS VARCHAR) AS media_ref,
                   CAST(i.i AS INTEGER) AS frame_idx,
                   CAST((n_chars * 100 * (2 * i.i + 1)) // 8 AS BIGINT)
                       AS frame_ms,
                   'm-' || CAST(doc_id AS VARCHAR) || '#f'
                       || CAST(i.i AS VARCHAR) AS frame_ref
            FROM documents, (SELECT UNNEST(range(0, 4)) AS i) i
            WHERE doc_id % 3 = 0
        """,
        "resize_dims": """
            WITH m AS (
                SELECT 'm-' || CAST(doc_id AS VARCHAR) AS media_ref,
                       CAST(n_chars % 640 + 16 AS INTEGER) AS width,
                       CAST(n_chars % 480 + 16 AS INTEGER) AS height
                FROM documents
            )
            SELECT media_ref, width, height,
                   CAST(CASE WHEN greatest(width, height) > 256
                        THEN ceil(width * (256.0 / greatest(width, height)))
                        ELSE width END AS INTEGER) AS target_width,
                   CAST(CASE WHEN greatest(width, height) > 256
                        THEN ceil(height * (256.0 / greatest(width, height)))
                        ELSE height END AS INTEGER) AS target_height
            FROM m
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "top_customers": """
            WITH rev AS (
                SELECT c_custkey, c_name,
                       round(sum(o_totalprice), 2) AS revenue
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY c_custkey, c_name
            )
            SELECT CAST(row_number() OVER (
                       ORDER BY revenue DESC, c_custkey ASC
                   ) AS INTEGER) AS rank,
                   c_custkey, c_name, revenue
            FROM rev
            QUALIFY rank <= 10
        """,
        "order_window_rank": """
            SELECT o_custkey, o_orderkey,
                   CAST(row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC
                   ) AS INTEGER) AS rn,
                   round(o_totalprice, 2) AS price
            FROM orders
            QUALIFY rn <= 3
        """,
        "events_windowed": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   event_type, count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM events
            GROUP BY date_trunc('hour', ts), event_type
        """,
        "asof_join": """
            SELECT e.event_id, e.user_id,
                   (SELECT r.signup_event_id FROM (
                        SELECT user_id, ts,
                               max(event_id) AS signup_event_id
                        FROM events WHERE event_type = 'signup'
                        GROUP BY user_id, ts
                    ) r
                    WHERE r.user_id = e.user_id AND r.ts <= e.ts
                    ORDER BY r.ts DESC LIMIT 1) AS signup_event_id
            FROM events e
        """,
        "events_rollup": """
            SELECT event_type,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM events
            GROUP BY ROLLUP (event_type,
                             strftime(date_trunc('day', ts), '%Y-%m-%d'))
        """,
        "kmv_distinct": """
            WITH hashed AS (
                SELECT DISTINCT
                    CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) AS h
                FROM documents
            ),
            kth AS (
                SELECT max(h) AS h_k, count(*) AS n_kept
                FROM (SELECT h FROM hashed ORDER BY h ASC LIMIT 64)
            )
            SELECT (SELECT count(DISTINCT text) FROM documents) AS n_exact,
                   CAST(floor(CASE WHEN n_kept < 64
                                   THEN CAST(n_kept AS DOUBLE)
                                   ELSE CAST(63 AS DOUBLE)
                                        * CAST(281474976710656 AS DOUBLE)
                                        / CAST(h_k AS DOUBLE)
                              END) AS BIGINT) AS n_estimate
            FROM kth
        """,
        "winnow_fingerprints": """
            WITH g AS (
                SELECT doc_id, i AS pos,
                       CAST(('0x' || substr(md5(substr(text,
                             CAST(i AS INTEGER), 8)), 1, 12))
                         AS BIGINT) AS h,
                       length(text) - 8 + 1 AS n
                FROM documents,
                     UNNEST(range(1,
                       CAST(length(text) AS BIGINT) - 8 + 2)) t(i)
                WHERE length(text) >= 11
            )
            SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND 3 FOLLOWING) AS fp
            FROM g
            QUALIFY pos <= n - 3
        """,
        "winnow_dup_candidates": """
            WITH g AS (
                SELECT doc_id, i AS pos,
                       CAST(('0x' || substr(md5(substr(text,
                             CAST(i AS INTEGER), 8)), 1, 12))
                         AS BIGINT) AS h,
                       length(text) - 8 + 1 AS n
                FROM documents,
                     UNNEST(range(1,
                       CAST(length(text) AS BIGINT) - 8 + 2)) t(i)
                WHERE length(text) >= 11
            ),
            f0 AS (
                SELECT DISTINCT doc_id,
                       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW
                                    AND 3 FOLLOWING) AS fp
                FROM g
                QUALIFY pos <= n - 3
            ),
            freq AS (
                SELECT fp FROM f0 GROUP BY fp HAVING count(*) <= 20
            ),
            kept AS (
                SELECT f0.doc_id, f0.fp FROM f0 JOIN freq USING (fp)
            )
            SELECT CAST(a.doc_id AS VARCHAR) AS doc_a,
                   CAST(b.doc_id AS VARCHAR) AS doc_b,
                   count(*) AS shared
            FROM kept a JOIN kept b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 5
        """,
        "robots_parse": """
            WITH h AS (
                SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
                       CAST(doc_id AS VARCHAR) AS d,
                       doc_id
                FROM documents
            ),
            agents AS (
                SELECT host, doc_id,
                       'bot' || CAST(doc_id % 3 AS VARCHAR) AS agent
                FROM h
                UNION ALL
                SELECT host, doc_id,
                       'extra' || CAST(doc_id % 2 AS VARCHAR)
                FROM h
            )
            SELECT a.host, a.agent, 'disallow' AS directive,
                   '/p' || CAST(a.doc_id AS VARCHAR) AS value
            FROM agents a
            UNION ALL
            SELECT a.host, a.agent, 'allow',
                   '/p' || CAST(a.doc_id AS VARCHAR) || '/ok'
            FROM agents a
            UNION ALL
            SELECT host, '*', 'disallow',
                   '/tmp' || CAST(doc_id % 5 AS VARCHAR)
            FROM h
            UNION ALL
            SELECT host, '*', 'disallow', '/*.pdf$'
            FROM h
            UNION ALL
            SELECT host, CAST(NULL AS VARCHAR), 'sitemap',
                   'https://site' || CAST(doc_id % 7 AS VARCHAR)
                     || '.example/map.xml'
            FROM h
            UNION ALL
            SELECT a.host, a.agent, 'user-agent', ''
            FROM agents a
            UNION ALL
            SELECT host, '*', 'user-agent', ''
            FROM h
        """,
        "line_dedup": """
            SELECT doc_id,
                   text || chr(10) || 'unique tail '
                     || CAST(doc_id AS VARCHAR) AS text
            FROM documents
        """,
        "host_stats": """
            WITH pages AS (
                SELECT doc_id % 7 AS h, length(text) AS c
                FROM documents
                UNION ALL
                SELECT doc_id % 7, length(text)
                FROM documents WHERE doc_id % 4 = 0
            ),
            agg AS (
                SELECT h, count(*) AS n_pages,
                       CAST(floor(avg(c)) AS BIGINT) AS mean_chars
                FROM pages GROUP BY h
            ),
            dis AS (
                SELECT doc_id % 7 AS h,
                       count(*) AS n_distinct_urls
                FROM documents GROUP BY 1
            )
            SELECT 'site' || CAST(agg.h AS VARCHAR) || '.example'
                     AS host,
                   agg.n_pages, dis.n_distinct_urls, agg.mean_chars
            FROM agg JOIN dis USING (h)
        """,
        "html_lang_meta": """
            -- stated from construction: EN-us lowercases, fr passes,
            -- no-attribute docs contribute nothing
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   'en-us' AS lang
            FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 'fr'
            FROM documents WHERE doc_id % 3 = 1
        """,
        "pdf_outline": """
            -- stated from construction (see _q_pdf_outline): one
            -- body text line, then the outline walked depth-first
            -- (chapter, its child, the UTF-16BE sibling)
            WITH h AS (
                SELECT 'pdf://' || CAST(doc_id AS VARCHAR) AS m,
                       CAST(doc_id AS VARCHAR) AS d
                FROM documents
            )
            SELECT m AS media_ref, 0 AS offset, 'text' AS kind,
                   'Body ' || d AS text,
                   CAST(NULL AS VARCHAR) AS span_ref
            FROM h
            UNION ALL
            SELECT m, 1, 'meta', 'Chapter ' || d, 'outline:1' FROM h
            UNION ALL
            SELECT m, 2, 'meta', 'Intro ' || d, 'outline:2' FROM h
            UNION ALL
            SELECT m, 3, 'meta', 'Résumé', 'outline:1' FROM h
            UNION ALL
            SELECT m, 4, 'meta', 'Report ' || d, 'info:title' FROM h
            UNION ALL
            SELECT m, 5, 'meta', 'Ann Writer', 'info:author' FROM h
            UNION ALL
            SELECT m, 6, 'meta', 'D:20240115123456Z', 'info:created'
            FROM h
        """,
        "wet_render": """
            -- the ENTIRE WET record stated from construction: the
            -- extracted text is 'Doc d\\nTEXT\\nitem LANG' (media
            -- dropped), framed per WARC §6.8 with octet-accurate
            -- Content-Length
            WITH t AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       'Doc ' || CAST(doc_id AS VARCHAR)
                         || chr(10) || text
                         || chr(10) || 'item ' || lang AS wtext
                FROM documents
            )
            SELECT doc_id,
                   'WARC/1.0' || chr(13) || chr(10)
                     || 'WARC-Type: conversion' || chr(13) || chr(10)
                     || 'WARC-Target-URI: wet://doc/' || doc_id
                     || chr(13) || chr(10)
                     || 'WARC-Date: 2024-01-01T00:00:00Z'
                     || chr(13) || chr(10)
                     || 'Content-Type: text/plain'
                     || chr(13) || chr(10)
                     || 'Content-Length: '
                     || CAST(strlen(wtext) AS VARCHAR)
                     || chr(13) || chr(10) || chr(13) || chr(10)
                     || wtext || chr(13) || chr(10) || chr(13)
                     || chr(10) AS record
            FROM t
        """,
        "frontier_prioritized": """
            -- restated schedule: per host, priority DESC NULLS LAST
            -- (doc_id%4, with 0 -> never linked -> NULL) then URL;
            -- all hosts use the default 1.0 s delay
            WITH f AS (
                SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
                       'https://h' || CAST(doc_id % 20 AS VARCHAR)
                         || '.example/art' || CAST(doc_id AS VARCHAR)
                         AS url,
                       CASE WHEN doc_id % 4 = 0 THEN NULL
                            ELSE doc_id % 4 END AS pr
                FROM documents
            ), r AS (
                SELECT host, url,
                       ROW_NUMBER() OVER (
                           PARTITION BY host
                           ORDER BY pr DESC NULLS LAST, url
                       ) AS rn
                FROM f
            )
            SELECT host, url,
                   CAST((rn - 1) * 1.0 AS DOUBLE) AS fetch_at_s
            FROM r
        """,
        "hreflang_clusters": """
            -- stated from construction (see _q_hreflang_clusters):
            -- each group-of-3's variants cluster under the .de URL;
            -- the x-default duplicate of .en must not inflate the
            -- distinct member count
            WITH u AS (
                SELECT doc_id,
                       'https://site'
                         || CAST(((doc_id // 3) * 3) % 7 AS VARCHAR)
                         || '.example/p'
                         || CAST((doc_id // 3) * 3 AS VARCHAR)
                         AS stem
                FROM documents
            )
            SELECT stem || '.' || CASE doc_id % 3
                       WHEN 0 THEN 'de' WHEN 1 THEN 'en'
                       ELSE 'fr' END AS url,
                   stem || '.de' AS cluster_id,
                   CAST(3 AS BIGINT) AS n_members
            FROM u
        """,
        "warc_length_audit": """
            -- stated from construction (see _q_warc_length_audit):
            -- /ok intact (0); /cut loses the boundary's 14 octets
            -- plus 'tail'||d (4+len(d) octets); /pad's own trailing
            -- CRLFCRLF meets the end-trim (-4); the phantom tail
            -- fragment mints no row
            WITH h AS (
                SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                         || '.example' AS o,
                       CAST(doc_id AS VARCHAR) AS d
                FROM documents
            )
            SELECT o || '/ok' || d AS warc_url,
                   CAST(0 AS BIGINT) AS length_delta
            FROM h
            UNION ALL
            SELECT o || '/cut' || d,
                   CAST(-(18 + length(d)) AS BIGINT)
            FROM h
            UNION ALL
            SELECT o || '/pad' || d, CAST(-4 AS BIGINT) FROM h
        """,
        "resolve_redirects": """
            -- stated from construction (see _q_resolve_redirects):
            -- u->v->w chains collapse onto w (hops 2 and 1); the
            -- every-5th-doc x<->y cycle pins at the hop cap (3)
            -- unresolved
            WITH h AS (
                SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                         || '.example' AS o,
                       CAST(doc_id AS VARCHAR) AS d, doc_id
                FROM documents
            )
            SELECT o || '/u' || d AS src, o || '/w' || d AS final,
                   2 AS hops, TRUE AS resolved
            FROM h
            UNION ALL
            SELECT o || '/v' || d, o || '/w' || d, 1, TRUE FROM h
            UNION ALL
            SELECT o || '/x' || d, o || '/y' || d, 3, FALSE
            FROM h WHERE doc_id % 5 = 0
            UNION ALL
            SELECT o || '/y' || d, o || '/x' || d, 3, FALSE
            FROM h WHERE doc_id % 5 = 0
        """,
        "spans_to_text": """
            -- WET form of the spans_to_markdown page: heading,
            -- paragraph, and list text newline-joined; the media
            -- span's alt text must NOT appear
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   'Doc ' || CAST(doc_id AS VARCHAR)
                     || chr(10) || text
                     || chr(10) || 'item ' || lang AS text
            FROM documents
        """,
        "spans_to_markdown": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   '# Doc ' || CAST(doc_id AS VARCHAR)
                     || chr(10) || chr(10) || text
                     || chr(10) || chr(10) || '- item ' || lang
                     || chr(10) || chr(10) || '![fig](i'
                     || CAST(doc_id AS VARCHAR) || '.png)' AS markdown
            FROM documents
        """,
        "dedup_by_canonical": """
            SELECT DISTINCT (doc_id // 2) * 2 AS doc_id,
                   'https://site'
                     || CAST(((doc_id // 2) * 2) % 7 AS VARCHAR)
                     || '.example/art'
                     || CAST((doc_id // 2) * 2 AS VARCHAR)
                     || '?ref='
                     || CAST((doc_id // 2) * 2 AS VARCHAR) AS norm_url
            FROM documents
        """,
        "robots_gate": """
            WITH h AS (
                SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
                       CAST(doc_id AS VARCHAR) AS d,
                       doc_id
                FROM documents
            )
            SELECT host, 'https://h' || d || '/p' || d || '/sub' AS url,
                   doc_id % 3 <> 0 AS allowed
            FROM h
            UNION ALL
            SELECT host, 'https://h' || d || '/p' || d || '/ok/y',
                   TRUE
            FROM h
            UNION ALL
            SELECT host,
                   'https://h' || d || '/tmp'
                     || CAST(doc_id % 5 AS VARCHAR) || '/z',
                   doc_id % 3 = 0
            FROM h
            UNION ALL
            SELECT host,
                   'https://h' || d || '/file' || d || '.pdf',
                   doc_id % 3 = 0
            FROM h
        """,
        "anchor_stats": """
            WITH links AS (
                SELECT doc_id,
                       'https://site' || CAST(doc_id % 7 AS VARCHAR)
                         || '.example/hub/'
                         || CAST(doc_id % 7 AS VARCHAR) AS resolved,
                       'hub ' || CAST(doc_id % 3 AS VARCHAR) AS anchor
                FROM documents
                UNION ALL
                SELECT doc_id, 'https://peer.example/home', 'peer home'
                FROM documents
            ),
            per AS (
                SELECT resolved, anchor, count(*) AS n
                FROM links GROUP BY 1, 2
            ),
            ranked AS (
                SELECT resolved, anchor, n,
                       row_number() OVER (
                           PARTITION BY resolved
                           ORDER BY n DESC, anchor ASC
                       ) AS rn
                FROM per
            ),
            tot AS (
                SELECT resolved, count(*) AS n_links,
                       count(DISTINCT doc_id) AS n_sources
                FROM links GROUP BY 1
            )
            SELECT t.resolved, t.n_links, t.n_sources,
                   r.anchor AS top_anchor,
                   r.n AS top_anchor_count
            FROM tot t JOIN ranked r
              ON r.resolved = t.resolved AND r.rn = 1
        """,
        "extract_src_offsets": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   0 AS offset, 'heading' AS kind,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS text,
                   10 AS src
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 1, 'text', text,
                   22 + length(CAST(doc_id AS VARCHAR))
            FROM documents
        """,
        "extract_svg_media": f"""
            SELECT {doc_id}, 0 AS offset, 'text' AS kind,
                   'Doc ' || CAST(doc_id AS VARCHAR) || ' intro'
                     AS text, {null_ref}
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'media' AS kind, '' AS text,
                   'img/a' || CAST(doc_id AS VARCHAR) || '.png'
                     AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 2 AS offset, 'media' AS kind, '' AS text,
                   'img/b' || CAST(doc_id AS VARCHAR) || '.png'
                     AS media_ref
            FROM documents
            UNION ALL
            SELECT {doc_id}, 3 AS offset, 'text' AS kind,
                   'closing words.' AS text, {null_ref}
            FROM documents
        """,
        "extract_density": f"""
            SELECT {doc_id}, 0 AS offset, 'heading' AS kind,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS text, {null_ref}
            FROM documents
            UNION ALL
            SELECT {doc_id}, 1 AS offset, 'text' AS kind,
                   '{_DENSITY_LEAD} ' || text AS text, {null_ref}
            FROM documents
        """,
        "warc_pdf_extract": f"""
            -- even docs: HTML branch (warc_extract's span shape);
            -- odd docs: the fixed six-page PDF's spans (see
            -- _fixed_multipage_pdf) — both stated from construction,
            -- so any byte corruption in the latin-1 carrier round
            -- trip or a misrouted Content-Type fails the hash
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   0 AS offset, 'heading' AS kind,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS text,
                   {null_ref}
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 1,
                   'text', text, NULL
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 0,
                   'heading', 'Flate (layout) line', NULL
            FROM documents WHERE doc_id % 2 = 1
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 1,
                   'text', 'Esc tab', NULL
            FROM documents WHERE doc_id % 2 = 1
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 2,
                   'text', 'Hex!', NULL
            FROM documents WHERE doc_id % 2 = 1
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 3,
                   'text', 'Hi', NULL
            FROM documents WHERE doc_id % 2 = 1
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 4,
                   'text', 'Page two', NULL
            FROM documents WHERE doc_id % 2 = 1
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 5,
                   'text', 'Cmap naïve € ABC', NULL
            FROM documents WHERE doc_id % 2 = 1
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 6,
                   'text', 'A85 flate chain', NULL
            FROM documents WHERE doc_id % 2 = 1
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 7,
                   'text', 'Run length', NULL
            FROM documents WHERE doc_id % 2 = 1
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 8,
                   'text', 'Via form', NULL
            FROM documents WHERE doc_id % 2 = 1
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 9,
                   'link', '', 'https://fix.test/next'
            FROM documents WHERE doc_id % 2 = 1
        """,
        "pdf_extract": """
            -- expected spans stated from CONSTRUCTION knowledge of
            -- the synthesized PDFs (see _q_pdf_extract): the Spark
            -- side earns each row only via the byte-level parse
            WITH ev AS (
                SELECT doc_id FROM documents WHERE doc_id % 2 = 0
            ),
            od AS (
                SELECT doc_id FROM documents WHERE doc_id % 2 = 1
            )
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR) AS media_ref,
                   0 AS offset, 'heading' AS kind,
                   'Title ' || CAST(doc_id AS VARCHAR) AS text,
                   CAST(NULL AS VARCHAR) AS span_ref
            FROM ev
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 1, 'text',
                   'Body line ' || CAST(doc_id AS VARCHAR), NULL
            FROM ev
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 2, 'text',
                   'Second part ' || CAST(doc_id % 7 AS VARCHAR), NULL
            FROM ev
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 3, 'media', '',
                   'pdf:image:Im1:'
                     || CAST(doc_id % 640 + 16 AS VARCHAR)
                     || 'x' || CAST(doc_id % 480 + 9 AS VARCHAR)
            FROM ev
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 0, 'heading',
                   'Flate (layout) line', NULL
            FROM od
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 1, 'text',
                   'Esc tab', NULL
            FROM od
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 2, 'text',
                   'Hex!', NULL
            FROM od
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 3, 'text',
                   'Hi', NULL
            FROM od
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 4, 'text',
                   'Page two', NULL
            FROM od
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 5, 'text',
                   'Cmap naïve € ABC', NULL
            FROM od
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 6, 'text',
                   'A85 flate chain', NULL
            FROM od
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 7, 'text',
                   'Run length', NULL
            FROM od
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 8, 'text',
                   'Via form', NULL
            FROM od
            UNION ALL
            SELECT 'pdf://' || CAST(doc_id AS VARCHAR), 9, 'link',
                   '', 'https://fix.test/next'
            FROM od
        """,
        "image_meta": """
            SELECT 'img://' || CAST(doc_id AS VARCHAR) AS media_ref,
                   'png' AS format,
                   CAST(doc_id % 640 + 16 AS INTEGER) AS width,
                   CAST(doc_id % 480 + 9 AS INTEGER) AS height,
                   'sniff' AS decoder
            FROM documents
        """,
        "media_container_meta": """
            -- expected output from CONSTRUCTION arithmetic (integer //
            -- mirrors the sniffer's Python // exactly); the Spark side
            -- earns these rows only via the byte-level header walk
            WITH wavp AS (
                SELECT doc_id,
                       CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
                       CAST(doc_id % 5 * 1000 + 8000 AS INTEGER) AS sr
                FROM documents
            ),
            wav AS (
                SELECT doc_id, ch, sr,
                       sr * ch * 2 AS byte_rate,
                       sr * ch * 2 * (doc_id % 4 + 1) + doc_id % 997
                         AS data_size
                FROM wavp
            )
            SELECT 'med://' || CAST(doc_id AS VARCHAR) AS media_ref,
                   'mp4' AS format,
                   CAST(doc_id % 640 + 16 AS INTEGER) AS width,
                   CAST(doc_id % 480 + 9 AS INTEGER) AS height,
                   CAST((doc_id * 7 + 600) * 1000 // 600 AS BIGINT)
                     AS duration_ms,
                   CAST(NULL AS INTEGER) AS sample_rate,
                   CAST(NULL AS INTEGER) AS channels,
                   'sniff' AS decoder
            FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT 'med://' || CAST(doc_id AS VARCHAR),
                   'wav', NULL, NULL,
                   CAST(data_size * 1000 // byte_rate AS BIGINT),
                   sr, ch, 'sniff'
            FROM wav WHERE doc_id % 3 = 1
            UNION ALL
            SELECT 'med://' || CAST(doc_id AS VARCHAR),
                   'webm', 640, 480, CAST(12345 AS BIGINT),
                   NULL, NULL, 'sniff'
            FROM documents WHERE doc_id % 3 = 2
        """,
        "article_meta_unified": """
            -- (headline, published, author) per doc stated from
            -- construction (see _q_article_meta_unified); the class-0
            -- og:title decoy must LOSE to JSON-LD
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CASE doc_id % 4
                       WHEN 0 THEN 'LD ' || CAST(doc_id AS VARCHAR)
                           || ' story'
                       WHEN 1 THEN 'MD ' || CAST(doc_id AS VARCHAR)
                           || ' piece'
                       WHEN 2 THEN 'RD ' || CAST(doc_id AS VARCHAR)
                           || ' piece'
                       ELSE 'OG ' || CAST(doc_id AS VARCHAR)
                   END AS headline,
                   CASE doc_id % 4
                       WHEN 0 THEN '2024-01-'
                       WHEN 1 THEN '2024-02-'
                       WHEN 2 THEN '2024-03-'
                       ELSE '2024-04-'
                   END || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                     || CASE WHEN doc_id % 4 = 3
                             THEN 'T00:00:00Z' ELSE '' END
                     AS published,
                   CASE doc_id % 4
                       WHEN 0 THEN 'LD Writer '
                       WHEN 1 THEN 'MD Writer '
                       ELSE 'Meta Writer '
                   END || CAST(doc_id % 7 AS VARCHAR) AS author
            FROM documents
        """,
        "extract_style_media": """
            -- every (offset, ref) row stated from construction of
            -- the synthesized inline styles (see
            -- _q_extract_style_media); the data: gradient and the
            -- style-less div contribute nothing
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS offset,
                   '/hero/' || CAST(doc_id AS VARCHAR) || '.jpg'
                     AS ref
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 2,
                   'tile' || CAST(doc_id % 8 AS VARCHAR) || '.png'
            FROM documents
        """,
        "frontier_with_base": """
            -- every resolved URL stated from construction (see
            -- _q_frontier_with_base): doc_id%3 picks the base class,
            -- the /WRONG/ decoy must never win, the ../ walk climbs
            -- from the EFFECTIVE base's directory
            WITH h AS (
                SELECT CAST(doc_id AS VARCHAR) AS d,
                       doc_id,
                       'https://h' || CAST(doc_id AS VARCHAR) AS origin,
                       'https://cdn' || CAST(doc_id % 4 AS VARCHAR)
                         || '.example' AS cdn
                FROM documents
            )
            SELECT d AS doc_id,
                   'page' || d || '.html' AS href,
                   CASE doc_id % 3
                       WHEN 0 THEN origin || '/deep/dir/page' || d
                           || '.html'
                       WHEN 1 THEN cdn || '/x/page' || d || '.html'
                       ELSE origin || '/a/b/page' || d || '.html'
                   END AS url
            FROM h
            UNION ALL
            SELECT d, '../up' || d,
                   CASE doc_id % 3
                       WHEN 0 THEN origin || '/deep/up' || d
                       WHEN 1 THEN cdn || '/up' || d
                       ELSE origin || '/a/up' || d
                   END
            FROM h
        """,
        "extract_lazy_media": """
            -- every (offset, label, ref) row stated from
            -- construction of the synthesized lazy-loader images
            -- (see _q_extract_lazy_media); offsets start at 1
            -- (offset 0 is the text block, filtered); the eager
            -- img's ref must be its REAL src, never the decoy
            WITH h AS (
                SELECT CAST(doc_id AS VARCHAR) AS d,
                       CAST(doc_id % 11 AS VARCHAR) AS m11
                FROM documents
            )
            SELECT d AS doc_id, 1 AS offset,
                   'Lazy ' || d AS label,
                   '/lazy/' || d || '.jpg' AS ref
            FROM h
            UNION ALL
            SELECT d, 2, '', '/wp/' || m11 || '.png' FROM h
            UNION ALL
            SELECT d, 3, '1x', '/rs/' || d || '.jpg' FROM h
            UNION ALL
            SELECT d, 4, '2x', '/rs/' || d || '-2x.jpg' FROM h
            UNION ALL
            SELECT d, 5, 'Eager', '/eager/' || d || '.webp' FROM h
        """,
        "extract_srcset": """
            -- every (offset, descriptor, url) row stated from
            -- construction of the synthesized responsive images
            -- (see _q_extract_srcset); offsets start at 1 (offset 0
            -- is the text block, filtered)
            WITH h AS (
                SELECT CAST(doc_id AS VARCHAR) AS d,
                       CAST(doc_id % 6 AS VARCHAR) AS m6,
                       'https://h' || CAST(doc_id AS VARCHAR) AS origin
                FROM documents
            )
            SELECT d AS doc_id, 1 AS offset,
                   'Hero ' || d AS descriptor,
                   origin || '/img/h' || d || '.jpg' AS url
            FROM h
            UNION ALL
            SELECT d, 2, '2x', origin || '/img/h' || d || '-2x.jpg'
            FROM h
            UNION ALL
            SELECT d, 3, '640w', origin || '/a/h' || d || '-640.jpg'
            FROM h
            UNION ALL
            SELECT d, 4, '1200w', origin || '/a/art' || m6 || '.webp'
            FROM h
            UNION ALL
            SELECT d, 5, 'Art', origin || '/a/art' || m6 || '.jpg'
            FROM h
        """,
        "recrawl_candidates": """
            -- stated from construction (see _q_recrawl_candidates):
            -- /new was never captured, /mod's lastmod (2024-02-01)
            -- postdates the 2024-01-15 capture; /same and /nolm stay
            WITH h AS (
                SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                         || '.example' AS origin,
                       CAST(doc_id AS VARCHAR) AS d
                FROM documents
            )
            SELECT origin || '/new' || d AS url, 'new' AS reason
            FROM h
            UNION ALL
            SELECT origin || '/mod' || d, 'modified' FROM h
        """,
        "host_quota_sample": """
            -- identical deterministic window: smallest salted md5-48
            -- per host, tie-broken by doc_id, quota 30
            WITH u AS (
                SELECT doc_id,
                       'https://site' || CAST(doc_id % 5 AS VARCHAR)
                         || '.example/p' || CAST(doc_id AS VARCHAR)
                         AS url,
                       'site' || CAST(doc_id % 5 AS VARCHAR)
                         || '.example' AS host,
                       ('0x' || substr(md5(
                           'quota|' || CAST(doc_id AS VARCHAR)
                       ), 1, 12))::BIGINT AS rk
                FROM documents
            ), r AS (
                SELECT doc_id, url,
                       ROW_NUMBER() OVER (
                           PARTITION BY host ORDER BY rk, doc_id
                       ) AS rn
                FROM u
            )
            SELECT doc_id, url FROM r WHERE rn <= 30
        """,
        "bpe_pair_stats": """
            -- independent recomputation: vocabulary-weighted adjacent
            -- char-pair counts (overlapping pairs included), words
            -- outside [2,64] chars dropped, HUGEINT sum cast back
            WITH w AS (
                -- explicit class, NOT \\s: Java \\s includes U+000B,
                -- RE2's does not (cross-engine gotcha)
                SELECT unnest(string_split_regex(
                           text, '[ \\t\\n\\r\\f]+'
                       )) AS word
                FROM documents
            ), wc AS (
                SELECT word, COUNT(*) AS n
                FROM w WHERE word <> '' GROUP BY word
            ), p AS (
                SELECT unnest(list_transform(
                           range(1, length(word)),
                           i -> substring(word, i, 2)
                       )) AS pair,
                       n
                FROM wc
                WHERE length(word) BETWEEN 2 AND 64
            )
            SELECT pair, CAST(SUM(n) AS BIGINT) AS n
            FROM p GROUP BY pair
        """,
        "fetch_schedule": """
            -- stated from construction (see _q_fetch_schedule): host
            -- m%3=0 -> specific delay 2.5 (wildcard 7 loses), m%3=1
            -- -> wildcard 4, m%3=2 -> specific group present without
            -- a delay suppresses the wildcard 9 -> default 1.0
            WITH f AS (
                SELECT 'h' || CAST(doc_id % 50 AS VARCHAR) AS host,
                       'https://h' || CAST(doc_id % 50 AS VARCHAR)
                         || '.example/art' || CAST(doc_id AS VARCHAR)
                         AS url,
                       doc_id % 50 AS m
                FROM documents
            ), r AS (
                SELECT host, url,
                       ROW_NUMBER() OVER (
                           PARTITION BY host ORDER BY url
                       ) AS rn,
                       CASE WHEN m % 3 = 0 THEN 2.5
                            WHEN m % 3 = 1 THEN 4.0
                            ELSE 1.0 END AS delay
                FROM f
            )
            SELECT host, url,
                   CAST((rn - 1) * delay AS DOUBLE) AS fetch_at_s
            FROM r
        """,
        "sitemap_entries": """
            -- stated from construction (see _q_sitemap_entries):
            -- index docs (doc_id%10=0) yield one annotated + one bare
            -- <sitemap> block; urlset docs yield one fully-annotated,
            -- one bare, and one garbage-priority <url> block
            WITH h AS (
                SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
                       CAST(doc_id AS VARCHAR) AS d,
                       'https://site' || CAST(doc_id % 7 AS VARCHAR)
                         || '.example' AS origin,
                       doc_id
                FROM documents
            )
            SELECT host, TRUE AS is_index,
                   origin || '/sub' || d || '.xml' AS url,
                   '2024-01-15' AS lastmod,
                   CAST(NULL AS VARCHAR) AS changefreq,
                   CAST(NULL AS DOUBLE) AS priority
            FROM h WHERE doc_id % 10 = 0
            UNION ALL
            SELECT host, TRUE, origin || '/more' || d || '.xml',
                   NULL, NULL, NULL
            FROM h WHERE doc_id % 10 = 0
            UNION ALL
            SELECT host, FALSE,
                   origin || '/art' || d || '?a=1&b=2',
                   '2024-01-15', 'daily', CAST(0.8 AS DOUBLE)
            FROM h WHERE doc_id % 10 <> 0
            UNION ALL
            SELECT host, FALSE, origin || '/p' || d,
                   NULL, NULL, NULL
            FROM h WHERE doc_id % 10 <> 0
            UNION ALL
            SELECT host, FALSE, origin || '/junk' || d,
                   NULL, NULL, NULL
            FROM h WHERE doc_id % 10 <> 0
        """,
        "warc_cdx_index": """
            -- stated from construction (see _q_warc_cdx_index):
            -- even docs' messy URI canonicalizes to the SURT key
            -- (userinfo/port/www stripped, host reversed, path+query
            -- lowercased, params sorted, fragment gone); odd docs'
            -- origin-only URI keys as ')/'; every fifth doc is a
            -- plain record -> status '-'
            WITH h AS (
                SELECT doc_id, CAST(doc_id AS VARCHAR) AS d,
                       CAST(doc_id % 7 AS VARCHAR) AS k
                FROM documents
            )
            SELECT CASE WHEN doc_id % 2 = 0
                        THEN 'example,site' || k || ')/path' || d
                             || '/page?a=1&b=2'
                        ELSE 'example,site' || k || ')/' END AS urlkey,
                   '20240115123456' AS ts14,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'HTTPS://user@WWW.Site' || k
                             || '.Example:443/Path' || d
                             || '/Page?b=2&a=1#frag'
                        ELSE 'http://site' || k || '.example'
                   END AS url,
                   'text/html' AS mime,
                   CASE WHEN doc_id % 5 = 0 THEN '-' ELSE '200'
                   END AS status,
                   md5('<p>doc ' || d || '</p>') AS digest,
                   CAST(length('<p>doc ' || d || '</p>') AS INTEGER)
                     AS length
            FROM h
        """,
        "warc_canonical_header": """
            -- stated from construction (see _q_warc_canonical_header):
            -- every group of three doc_ids shares one canonical target
            -- (header channel for %3 in {0,2}, HTML channel for %3==1;
            -- the %3==2 HTML decoy loses to the header), so each group
            -- collapses to its smallest member; the canonical URL is
            -- already in url_normalize's fixed point (lowercase, no
            -- query, no fragment)
            SELECT DISTINCT (doc_id // 3) * 3 AS doc_id,
                   'https://site'
                     || CAST(((doc_id // 3) * 3) % 7 AS VARCHAR)
                     || '.example/canon'
                     || CAST((doc_id // 3) * 3 AS VARCHAR) AS norm_url
            FROM documents
        """,
        "warc_revisit_dedup": """
            -- stated from construction (see _q_warc_revisit_dedup):
            -- odd docs revisit even doc d-1, which always exists
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   'warc://doc/' || CAST(doc_id - 1 AS VARCHAR)
                     AS canonical,
                   'sha1:DIGEST' || CAST(doc_id - 1 AS VARCHAR)
                     AS digest,
                   TRUE AS canonical_present
            FROM documents WHERE doc_id % 2 = 1
        """,
        "rdfa_meta": """
            -- every (offset, value, path) row stated from
            -- construction of the synthesized Event/Place items
            -- (see _q_rdfa_meta)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS offset,
                   'Event' AS value, '0:@type' AS path
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 1,
                   'https://schema.org/', '0:@vocab'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 2,
                   'Event ' || CAST(doc_id AS VARCHAR), '0:name'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 3,
                   '2025-06-' || lpad(
                       CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'
                   ),
                   '0:startDate'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 4,
                   '/events/' || CAST(doc_id AS VARCHAR), '0:url'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 5,
                   'Place', '0:location.@type'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 6,
                   'https://example.org/geo#', '0:location.@vocab'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 7,
                   'Hall ' || CAST(doc_id % 9 AS VARCHAR),
                   '0:location.name'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 8,
                   'https://org.example/o' || CAST(doc_id % 5 AS VARCHAR),
                   '0:organizer'
            FROM documents
        """,
        "warc_noindex_gate": """
            -- (indexable, reason) stated from construction of the
            -- per-doc robots signals (see _q_warc_noindex_gate):
            -- near-miss tokens (nofollow, nonewidget, index) must
            -- not fire; header wins the reason label when both do
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   doc_id % 4 = 0 AS indexable,
                   CASE doc_id % 4
                       WHEN 1 THEN 'header'
                       WHEN 2 THEN 'meta'
                       WHEN 3 THEN 'header'
                       ELSE ''
                   END AS reason
            FROM documents
        """,
        "warc_redirect_extract": f"""
            -- spans stated from construction (see
            -- _q_warc_redirect_extract): 3xx records become ONE
            -- redirect span (status in text, case-preserved Location
            -- in media_ref) and their stub bodies NEVER tokenize —
            -- an extra "Moved Permanently" heading row would fail
            -- the row count before the hash
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR) AS doc_id,
                   0 AS offset, 'redirect' AS kind, '301' AS text,
                   '/moved/here' AS media_ref
            FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 0,
                   'redirect', '302',
                   'https://Mirror.Example/CaSe/'
                     || CAST(doc_id AS VARCHAR)
            FROM documents WHERE doc_id % 3 = 1
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 0,
                   'heading', 'Doc ' || CAST(doc_id AS VARCHAR), NULL
            FROM documents WHERE doc_id % 3 = 2
            UNION ALL
            SELECT 'warc://doc/' || CAST(doc_id AS VARCHAR), 1,
                   'text', text, NULL
            FROM documents WHERE doc_id % 3 = 2
        """,
        "microdata_meta": """
            -- every (offset, value, path) row stated from
            -- construction of the synthesized Product/Offer items
            -- (see _q_microdata_meta); offsets are the span
            -- positions in emission order (microdata spans precede
            -- the body content span)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS offset,
                   'https://schema.org/Product' AS value,
                   '0:@type' AS path
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 1,
                   'Product ' || CAST(doc_id AS VARCHAR), '0:name'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 2,
                   '/img/' || CAST(doc_id AS VARCHAR) || '.png',
                   '0:image'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 3,
                   'SKU-' || CAST(doc_id % 100 AS VARCHAR), '0:sku'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 4,
                   'https://schema.org/Offer', '0:offers.@type'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 5,
                   CAST(doc_id % 90 + 10 AS VARCHAR) || '.99',
                   '0:offers.price'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 6,
                   '2024-12-' || lpad(
                       CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'
                   ),
                   '0:offers.validThrough'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 7,
                   'cat' || CAST(doc_id % 7 AS VARCHAR), '0:category'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 8,
                   'cat' || CAST(doc_id % 7 AS VARCHAR), '0:tag'
            FROM documents
            UNION ALL
            -- itemref contributions append after in-subtree props;
            -- the claimed prop+itemscope span retracts its phantom
            -- top-level recovery, so offsets stay contiguous
            SELECT CAST(doc_id AS VARCHAR), 9, 'P2Y', '0:warranty'
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 10,
                   '555-0' || CAST(doc_id % 10 AS VARCHAR),
                   '0:support.phone'
            FROM documents
        """,
        "jsonld_meta": """
            -- every parsed field stated from construction of the
            -- synthesized ld+json blocks (see _q_jsonld_meta); the
            -- Spark side earns each value through script-RAWTEXT
            -- span emission + get_json_object
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS offset,
                   CASE doc_id % 3
                       WHEN 0 THEN 'Article'
                       WHEN 1 THEN 'NewsArticle'
                       ELSE 'BlogPosting'
                   END AS ld_type,
                   'Doc ' || CAST(doc_id AS VARCHAR)
                     || ' news & updates' AS headline,
                   '2024-03-' || lpad(
                       CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'
                   ) AS date_published,
                   'Writer ' || CAST(doc_id % 7 AS VARCHAR) AS author,
                   CAST(NULL AS INTEGER) AS pos
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 1, 'WebPage',
                   NULL, NULL, NULL,
                   CAST(doc_id % 5 AS INTEGER)
            FROM documents
        """,
        "warc_frontier_mixed": """
            -- every (host, url, allowed) row stated from
            -- construction of the interleaved WARC (see
            -- _q_warc_frontier_mixed): even docs contribute their
            -- HTML hrefs (one rooted, one ../-relative), odd docs
            -- their PDF /Link annotation URIs (one rooted, one
            -- document-relative); allowed = bot0 under the robots
            -- corpus (d%3=0 hosts name bot0 explicitly, every other
            -- host falls to the * group's /tmp<d%5> + /*.pdf$ bans)
            WITH h AS (
                SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
                       CAST(doc_id AS VARCHAR) AS d,
                       doc_id
                FROM documents
            )
            SELECT host, 'https://h' || d || '/p' || d || '/sub' AS url,
                   doc_id % 3 <> 0 AS allowed
            FROM h WHERE doc_id % 2 = 0
            UNION ALL
            SELECT host,
                   'https://h' || d || '/tmp'
                     || CAST(doc_id % 5 AS VARCHAR) || '/z',
                   doc_id % 3 = 0
            FROM h WHERE doc_id % 2 = 0
            UNION ALL
            SELECT host, 'https://h' || d || '/p' || d || '/ok/y',
                   TRUE
            FROM h WHERE doc_id % 2 = 1
            UNION ALL
            SELECT host,
                   'https://h' || d || '/docs/doc'
                     || CAST(doc_id % 5 AS VARCHAR) || '.pdf',
                   doc_id % 3 = 0
            FROM h WHERE doc_id % 2 = 1
        """,
        "crawl_frontier": """
            WITH h AS (
                SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
                       CAST(doc_id AS VARCHAR) AS d,
                       doc_id
                FROM documents
            )
            SELECT host, 'https://h' || d || '/p' || d || '/sub' AS url,
                   doc_id % 3 <> 0 AS allowed
            FROM h
            UNION ALL
            SELECT host, 'https://h' || d || '/p' || d || '/ok/y',
                   TRUE
            FROM h
            UNION ALL
            SELECT host,
                   'https://h' || d || '/tmp'
                     || CAST(doc_id % 5 AS VARCHAR) || '/z',
                   doc_id % 3 = 0
            FROM h
            UNION ALL
            SELECT host,
                   'https://h' || d || '/file' || d || '.pdf',
                   doc_id % 3 = 0
            FROM h
        """,
        "substring_dedup_apply": """
            WITH shaped AS (
                SELECT doc_id,
                       'document ' || CAST(doc_id AS VARCHAR)
                         || ' head section ' || CAST(doc_id AS VARCHAR)
                         || ' marker region ' || CAST(doc_id AS VARCHAR)
                         AS head,
                       repeat(
                           'p' || CAST(doc_id // 2 AS VARCHAR) || ' ',
                           24
                       ) AS tail
                FROM documents
            )
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CASE WHEN doc_id % 2 = 0
                        THEN head || ' # ' || tail
                        ELSE head END AS text,
                   CASE WHEN doc_id % 2 = 0 THEN 0
                        ELSE 3 + length(tail) END AS n_cut_chars
            FROM shaped
        """,
        "pack_sequences": r"""
            WITH toks AS (
                -- doc_id stays NUMERIC through every window ORDER BY:
                -- Spark tie-breaks the _ord hash on the BIGINT id, and
                -- a VARCHAR tie-break would order '10' < '9'
                -- (code-review r4b; latent until a 48-bit collision)
                SELECT doc_id,
                       CAST(len(regexp_extract_all(
                           COALESCE(text, ''), '\w+|[^\w\s]'))
                            AS INTEGER) AS n_tokens,
                       ('0x' || substr(md5(
                           'pack:' || CAST(doc_id AS VARCHAR)
                       ), 1, 12))::BIGINT % 8 AS bucket,
                       ('0x' || substr(md5(
                           'order:' || CAST(doc_id AS VARCHAR)
                       ), 1, 12))::BIGINT AS ord
                FROM documents
            ),
            pref AS (
                SELECT *,
                       COALESCE(sum(n_tokens) OVER (
                           PARTITION BY bucket ORDER BY ord, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING
                       ), 0) AS start
                FROM toks
            ),
            packed AS (
                SELECT doc_id, n_tokens, bucket,
                       -- integer // mirrors Spark's DIV: exact past
                       -- 2^53 where floor(x/512.0) would round
                       -- (ADVICE r4)
                       CAST(start // 512 AS BIGINT) AS pack_id,
                       ord
                FROM pref
            )
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   n_tokens, bucket, pack_id,
                   CAST(row_number() OVER (
                       PARTITION BY bucket, pack_id ORDER BY ord, doc_id
                   ) AS INTEGER) AS pack_seq
            FROM packed
        """,
        "bloom_seen": """
            WITH urls AS (
                SELECT doc_id,
                       'https://site' || CAST(doc_id % 7 AS VARCHAR)
                         || '.example/art' || CAST(doc_id AS VARCHAR)
                         AS url
                FROM documents
            ),
            pos AS (
                SELECT u.url,
                       ('0x' || substr(md5(
                           'bloom' || CAST(i AS VARCHAR) || ':' || u.url
                       ), 1, 12))::BIGINT % 2048 AS p
                FROM urls u, UNNEST(range(0, 4)) t(i)
                WHERE u.doc_id % 2 = 0
            ),
            words AS (
                SELECT p // 63 AS word_idx,
                       bit_or(1::BIGINT << CAST(p % 63 AS INTEGER))
                         AS word
                FROM pos GROUP BY 1
            ),
            cand AS (
                SELECT u.url,
                       ('0x' || substr(md5(
                           'bloom' || CAST(i AS VARCHAR) || ':' || u.url
                       ), 1, 12))::BIGINT % 2048 AS p
                FROM urls u, UNNEST(range(0, 4)) t(i)
            ),
            hits AS (
                SELECT c.url,
                       CASE WHEN w.word IS NOT NULL AND
                            (w.word & (1::BIGINT
                              << CAST(c.p % 63 AS INTEGER))) <> 0
                       THEN 1 ELSE 0 END AS hit
                FROM cand c
                LEFT JOIN words w ON w.word_idx = c.p // 63
            )
            SELECT url, min(hit) = 1 AS maybe_seen
            FROM hits GROUP BY url
        """,
        "interval_join_guarded": """
            WITH windows AS (
                SELECT DISTINCT
                    strftime(date_trunc('day', ts), '%Y-%m-%d') AS window_id,
                    date_trunc('day', ts) + INTERVAL 2 HOUR AS start_ts,
                    date_trunc('day', ts) + INTERVAL 20 HOUR AS end_ts
                FROM events
            )
            SELECT e.event_id, w.window_id
            FROM events e JOIN windows w
              ON e.ts >= w.start_ts AND e.ts < w.end_ts
        """,
        "media_absolutize": _abs_url_sql(),
        "substring_dup_spans": f"""
            WITH g AS (
                SELECT doc_id, i - 1 AS pos,
                       ('0x' || substr(
                           md5(substring(text, i, 25)), 1, 12
                       ))::BIGINT AS gh
                FROM documents,
                     UNNEST(range(1, length(text) - 25 + 2)) AS t(i)
                WHERE length(text) >= 25
            ),
            keep AS (
                SELECT gh FROM g
                GROUP BY gh HAVING count(DISTINCT doc_id) <= {SUBSTRING_MAX_GRAM_FREQ}
            ),
            gk AS (
                SELECT g.* FROM g JOIN keep USING (gh)
            ),
            p AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.pos AS pos_a, b.pos AS pos_b,
                       a.pos - b.pos AS d
                FROM gk a JOIN gk b USING (gh)
                WHERE a.doc_id < b.doc_id
            ),
            isl AS (
                SELECT *,
                       CASE WHEN pos_a - lag(pos_a) OVER (
                           PARTITION BY doc_a, doc_b, d ORDER BY pos_a
                       ) = 1 THEN 0 ELSE 1 END AS brk
                FROM p
            ),
            num AS (
                SELECT *, sum(brk) OVER (
                    PARTITION BY doc_a, doc_b, d ORDER BY pos_a
                ) AS island
                FROM isl
            )
            SELECT CAST(doc_a AS VARCHAR) AS doc_a,
                   CAST(doc_b AS VARCHAR) AS doc_b,
                   CAST(min(pos_a) AS INTEGER) AS start_a,
                   CAST(min(pos_b) AS INTEGER) AS start_b,
                   CAST(max(pos_a) - min(pos_a) + 25 AS INTEGER) AS length
            FROM num
            GROUP BY doc_a, doc_b, d, island
            HAVING max(pos_a) - min(pos_a) + 25 >= 60
        """,
        "decontaminate": """
            WITH bench AS (
                SELECT DISTINCT array_to_string(
                    string_split(text, ' ')[1:8], ' '
                ) AS gram
                FROM documents WHERE doc_id % 10 = 0
            ),
            wd AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            dgrams AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i:i+7], ' ') AS gram
                FROM wd, UNNEST(range(1, len(w) - 6)) AS t(i)
            ),
            dirty AS (
                SELECT DISTINCT g.doc_id
                FROM dgrams g JOIN bench b USING (gram)
            )
            SELECT CAST(d.doc_id AS VARCHAR) AS doc_id, d.text
            FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM dirty)
        """,
        "redact_pii": """
            WITH pii AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com at 10.0.'
                         || CAST(doc_id % 256 AS VARCHAR)
                         || '.7 or +1 555 010 '
                         || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS t
                FROM documents
            ),
            scrubbed AS (
                SELECT doc_id,
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(t,
                             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                             '<EMAIL>', 'g'),
                           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                           '<IP>', 'g'),
                         '\\+?\\b\\d[\\d -]{7,}\\d\\b', '<PHONE>', 'g'
                       ) AS clean_text
                FROM pii
            )
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, clean_text,
                   CAST(
                     len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                     + len(regexp_extract_all(
                         regexp_replace(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                     + len(regexp_extract_all(
                         regexp_replace(
                           regexp_replace(t,
                             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                             '<EMAIL>', 'g'),
                           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                           '<IP>', 'g'),
                         '\\+?\\b\\d[\\d -]{7,}\\d\\b'))
                   AS INTEGER) AS n_redactions
            FROM scrubbed JOIN pii USING (doc_id)
        """,
        "repetition_stats": """
            WITH base AS (
                SELECT doc_id,
                       text || ' '
                         || array_to_string(string_split(text,' ')[1:6],' ')
                         || ' '
                         || array_to_string(string_split(text,' ')[1:6],' ')
                         AS rtext
                FROM documents
            ),
            wd AS (
                SELECT doc_id, string_split(rtext, ' ') AS w FROM base
            ),
            tot AS (
                SELECT doc_id,
                       CAST(greatest(len(w) - 2, 0) AS INTEGER)
                           AS total_ngrams
                FROM wd
            ),
            dist AS (
                SELECT doc_id, CAST(count(DISTINCT
                           array_to_string(w[i:i+2], ' ')) AS INTEGER)
                           AS distinct_ngrams
                FROM wd, UNNEST(range(1, len(w) - 1)) AS t(i)
                GROUP BY doc_id
            )
            SELECT CAST(t.doc_id AS VARCHAR) AS doc_id,
                   t.total_ngrams, d.distinct_ngrams,
                   (t.total_ngrams - d.distinct_ngrams) * 10
                       > t.total_ngrams * 3 AS repetitive
            FROM tot t JOIN dist d ON t.doc_id = d.doc_id
        """,
        "hash_sample": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang
            FROM documents
            WHERE ('0x' || substr(
                      md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 12
                  ))::BIGINT % 100
                  < CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 25
                    ELSE 20 END
        """,
        "events_sessionized": """
            WITH flagged AS (
                SELECT user_id, ts, value,
                       CASE WHEN epoch_us(ts)
                                 - lag(epoch_us(ts)) OVER (
                                       PARTITION BY user_id ORDER BY ts
                                   ) >= 1800000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
            ),
            numbered AS (
                SELECT user_id, ts, value,
                       sum(new_session) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING
                       ) AS session_id
                FROM flagged
            )
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM numbered GROUP BY user_id, session_id
        """,
    }
    # components oracle reuses the banded-candidate SQL verbatim as a
    # subquery, then closes it transitively with a RECURSIVE CTE — an
    # independent (non-iterative) formulation of the same components
    sqls["dedup_components"] = f"""
        WITH RECURSIVE cand AS (
            {sqls["minhash_banded_candidates"]}
        ),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM cand
            UNION ALL
            SELECT doc_b, doc_a FROM cand
        ),
        reach AS (
            SELECT a AS v, a AS label FROM edges
            UNION
            SELECT e.a, r.label FROM edges e JOIN reach r ON r.v = e.b
        )
        SELECT CAST(v AS VARCHAR) AS doc_id,
               min(label) AS component
        FROM reach GROUP BY v
    """
    return sqls
