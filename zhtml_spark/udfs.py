"""Fused tokenize→tree→extract stage and the one Arrow row stage.

One Python stage, one JVM↔Python Arrow crossing (SURVEY §4.2 "UDF
fusion": Catalyst cannot fuse across two Python stages, so we never
split the parse).  Input/output cross the boundary as Arrow record
batches; inside the batch we loop documents — the per-document DFA is
inherently sequential (SURVEY §7.2), parallelism comes from doc-level
batching across tasks.

Every Python stage is one ``map_rows`` stage: the fused HTML parse
(``extract_row``), fragment extraction, tokenizer replay, the
PDF/feed/media decoders, the archive gunzip and the HTTP codec.  The
stage supplies a per-row function; ``_row_batches`` owns the batch
format, including the flat-child read of ``list<struct>`` columns.

Input schema  (BASELINE.json input_hint):
    doc_id: string,
    spans:  array<struct<kind,text,media_ref,offset:int>>
Output schema (extraction):
    doc_id, spans (same struct, extracted), n_bytes, n_spans,
    n_errors, error_codes map<string,long>  — feeding the metrics and
    lineage sinks (FIXTURES.md §6).
"""

from __future__ import annotations

import time
from collections import Counter
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .extract import ExtractConfig, extract_spans
from .tokenizer import tokenize
from .tree import parse_document, parse_fragment

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), False),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT), False),
        StructField("n_bytes", LongType(), False),
        StructField("n_spans", LongType(), False),
        StructField("n_errors", LongType(), False),
        StructField("error_codes", MapType(StringType(), LongType()), False),
        StructField("wall_us", LongType(), False),
    ]
)

REPLAY_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT), False),
        StructField("errors", ArrayType(StringType()), False),
    ]
)

_MEDIA_INPUT_KINDS = frozenset(["image", "video", "audio"])


def extract_document_safe(
    in_spans: list, config: ExtractConfig | None = None
) -> tuple[list[tuple], list[str], int]:
    """Poison-pill guard around :func:`extract_document`.

    At 10^12 docs a single pathological document must degrade to a
    per-doc error record, never a task failure (which would retry the
    whole partition 4× and then kill the job).  The error lands in the
    doc's error list as ``internal-error:<ExcType>`` and flows into the
    metrics error-code histogram for triage."""
    try:
        return extract_document(in_spans, config)
    except Exception as exc:  # noqa: BLE001 — the whole point
        n_bytes = sum(
            len(s[1]) for s in in_spans if isinstance(s[1], str)
        )
        return [], [f"internal-error:{type(exc).__name__}"], n_bytes


def extract_document(
    in_spans: list, config: ExtractConfig | None = None
) -> tuple[list[tuple], list[str], int]:
    """Extract one interleaved document.

    ``in_spans`` are (kind, text, media_ref, offset)-shaped records in
    any order.  Maximal runs of html spans are parsed as one fragment
    (tags may span adjacent html spans); ``text`` spans pass through as
    text; media spans pass through positionally as ``media`` output
    spans (FIXTURES.md §2/§3).  Returns (out_spans, errors, n_bytes);
    out_spans are (kind, text, media_ref) with offsets implied by
    position.
    """
    ordered = sorted(in_spans, key=lambda s: s[3])
    out: list[tuple] = []
    errors: list[str] = []
    n_bytes = 0
    html_parts: list[str] = []
    # include_noscript=True describes a no-JS browser: parse with the
    # spec scripting flag off so noscript content is markup
    scripting = not (config.include_noscript if config else False)

    def flush_html() -> None:
        if not html_parts:
            return
        fragment = "".join(html_parts)
        html_parts.clear()
        tree, errs = parse_document(fragment, scripting=scripting)
        errors.extend(errs)
        out.extend(extract_spans(tree, config))

    for kind, text, media_ref, _off in ordered:
        if text:
            n_bytes += len(text)
        if kind == "html":
            if text:
                html_parts.append(text)
        elif kind == "text":
            flush_html()
            if text and text.strip():
                out.append(("text", " ".join(text.split()), None))
        elif kind in _MEDIA_INPUT_KINDS or media_ref is not None:
            flush_html()
            out.append(("media", text or "", media_ref))
        # unknown kinds are dropped deterministically
    flush_html()
    return out, errors, n_bytes


def _reject_source_offsets(cfg: ExtractConfig) -> None:
    """EXTRACT_SCHEMA has no ``src`` column, so ``with_source_offsets``
    fails on the driver when the stage is built, not as a task failure
    outside the per-doc guard.  Provenance consumers use
    ``extract_html``/``extract_spans`` or a stage with a src-bearing
    schema (the ``extract_src_offsets`` gate query)."""
    if cfg.with_source_offsets:
        raise ValueError(
            "with_source_offsets is not supported by the fused extract "
            "stage (EXTRACT_SCHEMA has no src column); use "
            "extract_html/extract_spans or a custom Python stage"
        )


def extract_row(config: ExtractConfig | None):
    """The fused stage's per-row function: ``(doc_id, spans)`` → one
    ``EXTRACT_SCHEMA`` row.  Each document runs through
    :func:`extract_document_safe`, timed into ``wall_us``; the output
    spans are numbered 0..n-1 as ``offset``."""
    cfg = config or ExtractConfig()
    _reject_source_offsets(cfg)

    def row(doc_id, spans):
        t0 = time.perf_counter_ns()
        out, errs, n_bytes = extract_document_safe(spans or [], cfg)
        wall_us = (time.perf_counter_ns() - t0) // 1000
        return [(
            doc_id, [(k, t, m, i) for i, (k, t, m) in enumerate(out)],
            n_bytes, len(out), len(errs), list(Counter(errs).items()),
            wall_us,
        )]

    return row


def make_extract_arrow_udf(config: ExtractConfig | None = None):
    """The extraction stage as a batches → batches function (what
    ``pipeline.extract_documents`` runs as its one mapInArrow stage),
    for callers that drive record batches in-process."""
    return _row_batches(extract_row(config), EXTRACT_SCHEMA)


def _column_values(col) -> list:
    """One Arrow column as Python values, ``None`` for a null.  A
    ``list<struct>`` column is read as flat child arrays (one
    ``to_pylist`` per field) and cut into per-row lists of tuples in
    field order: building a dict per struct costs about 2.5 times as
    much (BENCH/NOTES.md).  A null struct reads as a tuple of
    ``None``s (``flatten`` carries the struct's nulls into its
    fields), so a per-tuple consumer never meets a bare ``None``.
    Every other type goes through ``to_pylist``."""
    import pyarrow as pa

    if not (
        pa.types.is_list(col.type) and pa.types.is_struct(col.type.value_type)
    ):
        return col.to_pylist()
    offsets = col.offsets.to_pylist()
    # a sliced column keeps ABSOLUTE offsets into its unsliced child:
    # rebase them, or every row reads another row's structs
    base = offsets[0]
    structs = col.values.slice(base, offsets[-1] - base)
    items = list(zip(*(f.to_pylist() for f in structs.flatten())))
    valid = col.is_valid().to_pylist()
    return [
        items[lo - base:hi - base] if ok else None
        for lo, hi, ok in zip(offsets, offsets[1:], valid)
    ]


def _row_batches(fn: Callable[..., Iterable[tuple]], schema: StructType):
    """The batches → batches function of a row stage: calls
    ``fn(*values)`` per row of each input batch (see
    :func:`_column_values`) and builds one output batch from the zero
    or more tuples each call returns, in ``schema`` field order, typed
    by ``to_arrow_schema(schema)``.  The one place a Python stage meets
    the batch format; error handling stays with ``fn``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(schema)

    def row_batches(batches):
        for batch in batches:
            values = [_column_values(col) for col in batch.columns]
            rows = [out for row in zip(*values) for out in fn(*row)]
            columns = list(zip(*rows)) or [()] * len(out_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(columns, out_schema)],
                schema=out_schema,
            )

    return row_batches


def map_rows(
    df: DataFrame, cols: list, fn: Callable[..., Iterable[tuple]],
    schema: StructType,
) -> DataFrame:
    """ONE mapInArrow stage that calls ``fn(*values)`` per row of
    ``df.select(*cols)`` and emits the tuples it returns as rows of
    ``schema`` (see :func:`_row_batches`)."""
    return df.select(*cols).mapInArrow(_row_batches(fn, schema), schema)


def extract_fragments(df: DataFrame, context: str = "div") -> DataFrame:
    """Fragment extraction as a distributed stage: rows ``(doc_id,
    fragment)`` → ``REPLAY_SCHEMA`` rows (spans + errors).
    innerHTML-shaped corpora (comment feeds, CMS exports, scraped
    widget payloads) ship fragments, not documents — this is the
    engine surface for them (spec §13.2.2.2 via
    ``tree.parse_fragment``)."""
    cfg = ExtractConfig()

    def row(doc_id, fragment):
        tree, root, errors = parse_fragment(fragment or "", context)
        spans = [
            (k, t, m, i)
            for i, (k, t, m) in enumerate(extract_spans(tree, cfg, root=root))
        ]
        return [(doc_id, spans, list(errors))]

    return map_rows(df, ["doc_id", "fragment"], row, REPLAY_SCHEMA)


def replay_tokenizer(df: DataFrame) -> DataFrame:
    """Tokenizer-corpus replay stage (the judged correctness path,
    SURVEY §3.3): input rows (doc_id, input, initial_state,
    last_start_tag) → character-run spans + error codes.

    Golden derivation per FIXTURES.md §3: maximal Character-token runs
    become kind='text' spans; tags/comments/doctypes shape nothing
    here.
    """

    def row(doc_id, text, state, last_start_tag):
        tokens, errors = tokenize(
            text, initial_state=state or "Data",
            last_start_tag=last_start_tag,
        )
        runs = [tok[1] for tok in tokens if tok[0] == "Character"]
        spans = [("text", t, None, i) for i, t in enumerate(runs)]
        return [(doc_id, spans, list(errors))]

    return map_rows(
        df, ["doc_id", "input", "initial_state", "last_start_tag"], row,
        REPLAY_SCHEMA,
    )
