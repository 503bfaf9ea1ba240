"""zhtml_spark — a PySpark-native main-content extraction engine.

Re-expresses the capabilities of the reference HTML5 parser
(watzon/zhtml, WHATWG §13.2 tokenizer + tree construction; see
/root/reference/src/tokenizer.zig, src/parser.zig) as a Spark-first
pipeline: DataFrame shell, vectorized pandas/Arrow UDFs inside,
flat node arrays (no per-row Python objects crossing Spark rows),
ordered (kind, text, media_ref, offset) span output per document.

Modules
-------
entities    WHATWG named-character-reference table (stdlib data).
tokenizer   full 80-state WHATWG §13.2.5 tokenizer, batch-friendly.
tree        tree construction (insertion modes) over flat node arrays.
extract     span emission + text/link-density boilerplate stripping.
udfs        the fused tokenize→tree→extract mapInArrow stage.
pipeline    job shell: salted repartition, checkpoint resume,
            metrics + lineage sinks.
corpus      deterministic synthetic interleaved-document generator.
textops     training-data ops: dedup, similarity search, text analysis.
"""

__version__ = "0.1.0"
