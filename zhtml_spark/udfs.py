"""Fused tokenize→tree→extract mapInArrow stage.

One Python stage, one JVM↔Python Arrow crossing (SURVEY §4.2 "UDF
fusion": Catalyst cannot fuse across two Python stages, so we never
split the parse).  Input/output cross the boundary as Arrow record
batches; inside the batch we loop documents — the per-document DFA is
inherently sequential (SURVEY §7.2), parallelism comes from doc-level
batching across tasks.  ``make_extract_arrow_udf`` (mapInArrow) is the
one extraction engine.

``map_rows`` is the one row-at-a-time Arrow stage every other Python
decoder runs through (fragment extraction, tokenizer replay, the
PDF/feed/media decoders, the archive gunzip): the stage supplies a
per-row function, ``map_rows`` owns the batch format.

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
    """The fused stage's span schema (EXTRACT_SCHEMA — the driver/sink
    contract) has no ``src`` column, so ``with_source_offsets`` cannot
    ride through them: fail LOUDLY at stage-construction time on the
    driver (code-review r4c — the 4-tuple spans previously blew up as
    an unpack ValueError inside the executor, OUTSIDE the per-doc
    poison-pill guard, killing the task after 4 retries).  Provenance
    consumers use ``extract_html``/``extract_spans`` directly or a
    bespoke stage with a src-bearing schema (see the
    ``extract_src_offsets`` gate query)."""
    if cfg.with_source_offsets:
        raise ValueError(
            "with_source_offsets is not supported by the fused extract "
            "stage (EXTRACT_SCHEMA has no src column); use "
            "extract_html/extract_spans or a custom Python stage"
        )


def make_extract_arrow_udf(config: ExtractConfig | None = None):
    """Build the mapInArrow function for the extraction stage.

    Each document runs through :func:`extract_document_safe`.  The
    function consumes/produces ``pyarrow.RecordBatch`` directly: the
    spans ``list<struct>`` column is deconstructed into flat child
    arrays (one ``to_pylist`` per flat string column) instead of
    per-row lists of Python dicts, and the output is assembled as
    Arrow arrays.  This skips the pandas-object-dict round trip of a
    mapInPandas stage — the dominant Spark-side overhead at 32 cores
    (1.66×, see BENCH/NOTES.md step 3).
    """
    import pyarrow as pa

    cfg = config or ExtractConfig()
    _reject_source_offsets(cfg)

    out_span_type = pa.struct(
        [
            pa.field("kind", pa.string(), nullable=False),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32(), nullable=False),
        ]
    )
    out_schema = pa.schema(
        [
            pa.field("doc_id", pa.string(), nullable=False),
            pa.field("spans", pa.list_(out_span_type), nullable=False),
            pa.field("n_bytes", pa.int64(), nullable=False),
            pa.field("n_spans", pa.int64(), nullable=False),
            pa.field("n_errors", pa.int64(), nullable=False),
            pa.field(
                "error_codes", pa.map_(pa.string(), pa.int64()), nullable=False
            ),
            pa.field("wall_us", pa.int64(), nullable=False),
        ]
    )

    def extract_batches(batches):
        for batch in batches:
            doc_ids = batch.column("doc_id")
            spans_col = batch.column("spans")
            if isinstance(spans_col, pa.ChunkedArray):  # pragma: no cover
                spans_col = spans_col.combine_chunks()
            list_offsets = spans_col.offsets.to_numpy(zero_copy_only=False)
            # sliced arrays keep ABSOLUTE offsets while flatten()
            # rebases values to the slice start — rebase or every doc
            # reads another doc's spans
            base = int(list_offsets[0])
            flat = spans_col.flatten()
            kinds = flat.field("kind").to_pylist()
            texts = flat.field("text").to_pylist()
            refs = flat.field("media_ref").to_pylist()
            offs = flat.field("offset").to_pylist()

            out_kind: list[str] = []
            out_text: list[str | None] = []
            out_ref: list[str | None] = []
            out_off: list[int] = []
            out_list_offsets = [0]
            n_bytes_col = []
            n_spans_col = []
            n_errors_col = []
            codes_col = []
            wall_col = []
            for i in range(len(batch)):
                lo = int(list_offsets[i]) - base
                hi = int(list_offsets[i + 1]) - base
                t0 = time.perf_counter_ns()
                recs = list(
                    zip(kinds[lo:hi], texts[lo:hi], refs[lo:hi], offs[lo:hi])
                )
                spans, errs, nbytes = extract_document_safe(recs, cfg)
                wall_col.append((time.perf_counter_ns() - t0) // 1000)
                for j, (k, t, m) in enumerate(spans):
                    out_kind.append(k)
                    out_text.append(t)
                    out_ref.append(m)
                    out_off.append(j)
                out_list_offsets.append(out_list_offsets[-1] + len(spans))
                n_bytes_col.append(nbytes)
                n_spans_col.append(len(spans))
                n_errors_col.append(len(errs))
                codes_col.append(list(Counter(errs).items()))

            struct_arr = pa.StructArray.from_arrays(
                [
                    pa.array(out_kind, pa.string()),
                    pa.array(out_text, pa.string()),
                    pa.array(out_ref, pa.string()),
                    pa.array(out_off, pa.int32()),
                ],
                fields=list(out_span_type),
            )
            spans_out = pa.ListArray.from_arrays(
                pa.array(out_list_offsets, pa.int32()), struct_arr
            )
            yield pa.RecordBatch.from_arrays(
                [
                    doc_ids,
                    spans_out,
                    pa.array(n_bytes_col, pa.int64()),
                    pa.array(n_spans_col, pa.int64()),
                    pa.array(n_errors_col, pa.int64()),
                    pa.array(codes_col, pa.map_(pa.string(), pa.int64())),
                    pa.array(wall_col, pa.int64()),
                ],
                schema=out_schema,
            )

    return extract_batches


def map_rows(
    df: DataFrame, cols: list, fn: Callable[..., Iterable[tuple]],
    schema: StructType,
) -> DataFrame:
    """ONE mapInArrow stage that calls ``fn(*values)`` per row of
    ``df.select(*cols)`` (Arrow nulls arrive as ``None``) and emits
    the zero or more tuples it returns, in ``schema`` field order, as
    a ``pyarrow.RecordBatch`` typed by ``to_arrow_schema(schema)``.
    The one place a per-document Python stage meets the batch format;
    error handling stays with ``fn``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(schema)

    def row_batches(batches):
        for batch in batches:
            values = [col.to_pylist() for col in batch.columns]
            rows = [out for row in zip(*values) for out in fn(*row)]
            columns = list(zip(*rows)) or [()] * len(out_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(columns, out_schema)],
                schema=out_schema,
            )

    return df.select(*cols).mapInArrow(row_batches, schema)


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
