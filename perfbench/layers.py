"""Single-threaded, in-process split of the fused extraction stage.

Over a seeded sample of a workload's input documents this times, from
outside the engine, the public calls the fused stage makes:
``tokenizer.tokenize(html, tree_aware=True)``, ``tree.parse_document``
(its self time is its duration minus the tokenize share) and
``extract.extract_spans``; then it runs ``udfs.make_extract_arrow_udf``
over one pyarrow batch of the same documents and charges to the Arrow
boundary whatever that costs beyond the per-document
``udfs.extract_document_safe`` calls.  The same numbers are the
single-threaded baseline of the 4-core runs.
"""

from __future__ import annotations

import statistics
import time

_MEDIA_KINDS = frozenset(["image", "video", "audio"])


def html_fragments(spans: list[tuple]) -> list[str]:
    """The html runs ``udfs.extract_document`` parses, one string each:
    adjacent html spans join; text and media spans end a run."""
    out: list[str] = []
    parts: list[str] = []
    for kind, text, media_ref, _off in sorted(spans, key=lambda s: s[3]):
        if kind == "html":
            if text:
                parts.append(text)
        elif kind == "text" or kind in _MEDIA_KINDS or media_ref is not None:
            if parts:
                out.append("".join(parts))
                parts = []
    if parts:
        out.append("".join(parts))
    return out


def arrow_batch(docs: list[tuple[str, list[tuple]]]):
    """One pyarrow batch in the fused stage's input schema."""
    import pyarrow as pa

    span_type = pa.struct(
        [
            pa.field("kind", pa.string(), nullable=False),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32(), nullable=False),
        ]
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array([d for d, _ in docs], pa.string()),
            pa.array(
                [
                    [
                        {"kind": k, "text": t, "media_ref": m, "offset": o}
                        for k, t, m, o in spans
                    ]
                    for _, spans in docs
                ],
                pa.list_(span_type),
            ),
        ],
        names=["doc_id", "spans"],
    )


def _one_pass(docs, config) -> dict:
    from zhtml_spark.extract import extract_spans
    from zhtml_spark.tokenizer import tokenize
    from zhtml_spark.tree import parse_document
    from zhtml_spark.udfs import extract_document_safe, make_extract_arrow_udf

    scripting = not config.include_noscript
    tok = parse = ext = 0.0
    n_chars = 0
    for _, spans in docs:
        for frag in html_fragments(spans):
            n_chars += len(frag)
            t0 = time.perf_counter()
            tokenize(frag, tree_aware=True, scripting=scripting)
            t1 = time.perf_counter()
            tree, _errs = parse_document(frag, scripting=scripting)
            t2 = time.perf_counter()
            extract_spans(tree, config)
            t3 = time.perf_counter()
            tok += t1 - t0
            parse += t2 - t1
            ext += t3 - t2
    per_doc = 0.0
    for _, spans in docs:
        t0 = time.perf_counter()
        extract_document_safe(spans, config)
        per_doc += time.perf_counter() - t0
    batch = arrow_batch(docs)
    udf = make_extract_arrow_udf(config)
    t0 = time.perf_counter()
    rows = sum(out.num_rows for out in udf(iter([batch])))
    udf_s = time.perf_counter() - t0
    assert rows == len(docs)
    return {
        "tokenizer.self_s": tok,
        "tree.self_s": parse - tok,
        "extract.self_s": ext,
        "udfs.arrow_s": udf_s - per_doc,
        "mb": n_chars / 1e6,
    }


def split(docs: list[tuple[str, list[tuple]]], config, passes: int = 3) -> dict:
    """Median over ``passes`` of the per-layer seconds for ``docs``
    (``(doc_id, [(kind, text, media_ref, offset), ...])`` rows)."""
    runs = [_one_pass(docs, config) for _ in range(passes)]
    out = {k: statistics.median(r[k] for r in runs) for k in runs[0]}
    mb = out.pop("mb")
    tok = out["tokenizer.self_s"]
    out["tokenizer.mb_per_s"] = mb / tok if tok > 0 else 0.0
    return out
