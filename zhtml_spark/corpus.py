"""Deterministic synthetic interleaved-document corpus.

BASELINE.json input_hint mandates the input shape:
``(doc_id: string, spans: array<struct<kind, text, media_ref, offset>>)``
with input span kinds {html, text, image, video, audio}; the document
byte stream is the concatenation of html/text span texts in offset
order with media spans passed through positionally (FIXTURES.md §2).

Everything is seeded (seed=42 default) — resume tests and the
two-parallelism scaling runs must see byte-identical inputs
(SURVEY §7.2).  The knobs are the doc count and the seed; the heavy-tailed
byte-length distribution with occasional multi-hundred-KB "giant
pages" (exercises quantile salting), the entity/comment/malformed
densities and the media rate are module constants.
"""

from __future__ import annotations

import random

_WORDS = (
    "the quick brown fox jumps over lazy dog content extraction spark "
    "pipeline data web page article story report analysis method result "
    "system design large scale corpus token stream parser element node "
    "media image caption heading paragraph table row cell list item"
).split()

_ENTITIES = ["&amp;", "&lt;", "&gt;", "&mdash;", "&nbsp;", "&copy;", "&#x41;"]
_MALFORMED = [
    "<p>unclosed paragraph",
    "<b>unclosed bold",
    "</div>",
    "<a href='x.html>broken quote</a>",
    "<!-- unterminated comment",
    "<  p>",
    "<?php echo 1; ?>",
]
_MEDIA_KINDS = ("image", "video", "audio")
# per-document draw rates
MEDIA_RATE = 0.08
ENTITY_DENSITY = 0.3
MALFORMED_RATE = 0.04
NAV_RATE = 0.5
# corpus_dataframe's byte-length draw: lognormal × MEAN_BYTES + 300,
# GIANT_RATE of docs × GIANT_MULTIPLIER (perfbench mirrors these)
MEAN_BYTES = 4000
GIANT_RATE = 0.01
GIANT_MULTIPLIER = 40


def _sentence(rng: random.Random, n_words: int) -> str:
    ws = [rng.choice(_WORDS) for _ in range(n_words)]
    return " ".join(ws)


def _paragraph(rng: random.Random) -> str:
    s = _sentence(rng, rng.randint(8, 40))
    if rng.random() < ENTITY_DENSITY:
        s += " " + rng.choice(_ENTITIES) + " " + _sentence(rng, 4)
    if rng.random() < 0.25:
        s += f" <a href=\"/l/{rng.randint(0, 999)}\">{_sentence(rng, 2)}</a> "
        s += _sentence(rng, 5)
    return f"<p>{s}</p>"


def _block(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.55:
        return _paragraph(rng)
    if r < 0.65:
        return f"<h{rng.randint(1, 3)}>{_sentence(rng, rng.randint(2, 8))}</h{rng.randint(1, 3)}>"
    if r < 0.75:
        items = "".join(
            f"<li>{_sentence(rng, rng.randint(2, 10))}</li>"
            for _ in range(rng.randint(2, 6))
        )
        return f"<ul>{items}</ul>"
    if r < 0.82:
        rows = "".join(
            "<tr>"
            + "".join(
                f"<td>{_sentence(rng, rng.randint(1, 4))}</td>"
                for _ in range(rng.randint(2, 4))
            )
            + "</tr>"
            for _ in range(rng.randint(1, 4))
        )
        return f"<table>{rows}</table>"
    if r < 0.86:
        return f"<pre>{_sentence(rng, rng.randint(4, 20))}</pre>"
    if r < 0.90:
        return f"<!-- {_sentence(rng, rng.randint(2, 6))} -->"
    if r < 0.90 + MALFORMED_RATE:
        return rng.choice(_MALFORMED)
    if r < 0.97:
        return f"<script>var x_{rng.randint(0, 99)} = 1 < 2;</script>"
    return (
        f"<div class=\"c{rng.randint(0, 9)}\">"
        f"{_paragraph(rng)}</div>"
    )


def make_document(doc_id: str, rng: random.Random, target_bytes: int) -> dict:
    """One interleaved document row: {doc_id, spans:[{kind,text,media_ref,offset}]}."""
    spans: list[dict] = []
    offset = 0

    def add(kind: str, text: str | None, media_ref: str | None) -> None:
        nonlocal offset
        spans.append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}
        )
        offset += 1

    head = (
        "<!DOCTYPE html><html><head>"
        f"<title>{_sentence(rng, 4)}</title>"
        "<style>body{margin:0}</style></head><body>"
    )
    parts = [head]
    if rng.random() < NAV_RATE:
        links = "".join(
            f"<li><a href=\"/nav/{k}\">{_sentence(rng, 1)}</a></li>"
            for k in range(rng.randint(3, 8))
        )
        parts.append(f"<nav><ul>{links}</ul></nav>")
    size = sum(len(p) for p in parts)
    media_i = 0
    while size < target_bytes:
        b = _block(rng)
        parts.append(b)
        size += len(b)
        if rng.random() < MEDIA_RATE:
            # flush accumulated html as one span; then a media span
            add("html", "".join(parts), None)
            parts = []
            kind = rng.choice(_MEDIA_KINDS)
            add(kind, _sentence(rng, rng.randint(0, 4)),
                f"media://{doc_id}/{media_i}")
            media_i += 1
        if rng.random() < 0.02:
            # a plain-text span interleaved (pre-extracted fragment)
            add("html", "".join(parts), None) if parts else None
            parts = []
            add("text", _sentence(rng, rng.randint(5, 30)), None)
    parts.append(f"<footer>{_sentence(rng, 3)} <a href=\"/a\">x</a></footer>")
    parts.append("</body></html>")
    add("html", "".join(parts), None)
    return {"doc_id": doc_id, "spans": spans}


def corpus_dataframe(spark, n_docs: int, seed: int = 42):
    """Materialize the corpus as a Spark DataFrame with the input_hint
    schema (distributed generation: one task per ~2k docs, rows built
    executor-side so the driver never holds the corpus)."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from pyspark.sql.types import LongType

    span_struct = StructType(
        [
            StructField("kind", StringType(), False),
            StructField("text", StringType(), True),
            StructField("media_ref", StringType(), True),
            StructField("offset", IntegerType(), False),
        ]
    )
    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("spans", ArrayType(span_struct), False),
            # size stats stored at ingest: planning passes (quantiles,
            # giant detection) prune to this column and never decode
            # the span payload
            StructField("n_bytes", LongType(), False),
        ]
    )
    chunk = 2000
    starts = list(range(0, n_docs, chunk))
    sc = spark.sparkContext

    def gen_chunk(start: int):
        end = min(start + chunk, n_docs)
        for i in range(start, end):
            rng = random.Random((seed << 20) ^ i)
            target = int(rng.lognormvariate(0, 0.8) * MEAN_BYTES) + 300
            if rng.random() < GIANT_RATE:
                target *= GIANT_MULTIPLIER
            d = make_document(f"doc-{seed}-{i:08d}", rng, target)
            spans = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in d["spans"]
            ]
            n_bytes = sum(len(s[1] or "") for s in spans)
            yield (d["doc_id"], spans, n_bytes)

    rdd = sc.parallelize(starts, len(starts)).flatMap(gen_chunk)
    return spark.createDataFrame(rdd, schema)


def adversarial_web_corpus(
    spark,
    n_docs: int = 20000,
    seed: int = 42,
    n_partitions: int = 32,
):
    """Adversarial WEB-SHAPED dedup corpus (VERDICT r4 #1): the sf
    corpora are boilerplate-free and host-flat, so every scale lever
    (df caps, bloom density, skew salting) passes on inputs that never
    stress it.  This generator is seed-stable, pure-JVM (md5-derived
    pseudo-randomness, no RNG, no Python rows) and builds the three
    structures the levers exist for:

    * **power-law host skew** — ``host_id = floor(n_hosts^u)`` for a
      uniform md5 ``u`` over ``n_hosts`` = 100 hosts (log-uniform ≈
      Zipf mass: ~15% of docs land on host 1), plus per-host footer
      boilerplate whose line df IS the host mass;
    * **shared boilerplate at realistic df** — a global cookie-banner
      line on ~60% of docs, a fixed license header on 10%, per-host
      copyright footers on all — exactly the df shapes the substring/
      winnow caps and the C4 line-dedup pass target;
    * **chained near-dup families** — every 20-id block contributes an
      8-member chain over one base text: member m mutates a sliding
      word window [12m, 12m+24), so ADJACENT members are near-dups but
      chain ends are not — the mirror-ring/pagination
      topology that breaks one-pass dominance and O(diameter)
      components;
    * **giant pages** — every 999th non-chain doc repeats its body
      300× (~180 KB vs the ~700-byte median): rare enough to be
      collectable, large enough to EXCEED the salting threshold (25%
      of a partition's byte budget at the bench's 20k docs × 32
      partitions), and numerous enough (~12) that hash placement
      collides giants deterministically — so the salted-repartition
      lever is measured where it actually fires, not below its own
      trigger (6 giants at seed 42 happened to hash collision-free
      and showed nothing).

    Returns (doc_id long, host string, n_bytes long, text string).
    """
    from pyspark.sql import functions as F

    from .textops import md5_hash48

    n_hosts, body_words, vocab = 100, 120, 500

    def u01(salt):
        """Deterministic uniform [0,1) per doc from md5-48."""
        return md5_hash48(
            F.concat(F.lit(f"{seed}:{salt}:"), F.col("doc_id").cast("string"))
        ) / F.lit(float(1 << 48))

    # PINNED partition count (r7, the adv-suite "+75%" root cause):
    # a bare spark.range inherits the GENERATING session's default
    # parallelism, so the cached parquet's file count — and with a
    # 5 MB corpus, every downstream scan's task count — silently
    # became a property of whichever job wrote the cache first.  In
    # r6 an 8-core session regenerated /tmp's adv cache as 8 files
    # and all three "mutually agreeing" adv-row samples measured a
    # 32-core session running 8-wide scans (+75% vs r5's 32-file
    # cache, code byte-identical).  Layout is now seed-stable like
    # the rows themselves.
    d = spark.range(0, n_docs, numPartitions=n_partitions).select(
        F.col("id").alias("doc_id")
    )
    host_id = F.floor(
        F.pow(F.lit(float(n_hosts)), u01("host"))
    ).cast("int")
    is_chain = F.col("doc_id") % 5 < 2  # 40% of docs, 8 per 20-block
    fam = (F.col("doc_id") / 20).cast("long")
    member = (
        (F.col("doc_id") % 20 / 5).cast("long") * 2 + F.col("doc_id") % 5
    )
    # base word i of family f: 'w' || md5(f:i) % vocab; chain member m
    # overrides the window [12m, 12m+24); unique docs key on doc_id
    mut_lo = member * 12
    mut_hi = member * 12 + 24
    word_src = F.when(
        is_chain,
        F.concat(F.lit("f"), fam.cast("string")),
    ).otherwise(F.concat(F.lit("u"), F.col("doc_id").cast("string")))
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(body_words - 1)),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(
                    md5_hash48(
                        F.concat(
                            F.when(
                                is_chain & (i >= mut_lo) & (i < mut_hi),
                                F.concat(
                                    word_src,
                                    F.lit("m"),
                                    member.cast("string"),
                                ),
                            ).otherwise(word_src),
                            F.lit(":"),
                            i.cast("string"),
                        )
                    ),
                    F.lit(vocab),
                ).cast("string"),
            ),
        ),
        " ",
    )
    # giants are UNIQUE docs only: a giant chain member would repeat
    # its chain-shared text 300×, turning the substring-dedup diagonal
    # merge into a 300-diagonal blowup per chain pair — realistic skew
    # wants big pages, not big × near-dup compound interest
    giant = (F.col("doc_id") % 999 == 0) & ~is_chain
    body = F.when(
        giant, F.array_join(F.array_repeat(body, 300), " ")
    ).otherwise(body)
    license_line = F.when(
        F.col("doc_id") % 10 == 0,
        F.lit(
            "licensed under the apache license version two point zero "
            "you may not use this file except in compliance"
        ),
    )
    cookie_line = F.when(
        u01("cookie") < 0.6,
        F.lit(
            "we use cookies to improve your experience accept all or "
            "manage preferences in settings"
        ),
    )
    footer_line = F.concat(
        F.lit("copyright host"),
        host_id.cast("string"),
        F.lit(" all rights reserved contact admin at host"),
        host_id.cast("string"),
    )
    text = F.concat_ws(
        "\n", license_line, cookie_line, body, footer_line
    )
    return d.select(
        "doc_id",
        F.concat(F.lit("host"), host_id.cast("string")).alias("host"),
        F.length(text).cast("long").alias("n_bytes"),
        text.alias("text"),
    )
