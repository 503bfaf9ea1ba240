"""Job shell: IO, skew-defusing repartition, resume, metrics/lineage.

The Spark-side architecture (SURVEY §4.2): everything outside the
fused UDF is declarative DataFrame code — scans prune columns and push
filters (Catalyst), AQE handles runtime re-planning for the join/agg
stages, and the ONLY imperative stage is the single ``map_rows`` parse.

Skew: document sizes are heavy-tailed (giant pages), and a document is
one row — key-salting frequency tricks don't apply to row-size skew.
We therefore band rows by byte-length quantiles and spread each band
over hash cells sized ∝ the band's byte share (north rule: "repartition
with salted keys on document byte-length quantiles"), giving ~equal
bytes per partition at any parallelism; cells ≫ partitions so
balls-in-bins stays smooth.

Resume (north rule "resumable from any snapshot checkpoint"): each
run writes spans/metrics/lineage/checkpoint under a per-attempt
directory and publishes the attempt with an atomically-renamed commit
marker as the LAST step.  The four staged writes read the same pinned
extraction cache and run concurrently on driver threads, so their
driver-side planning, scheduling and commit overlap; the one commit
rename waits for all of them.  Readers (``read_spans`` / ``read_checkpoint``)
only see committed attempts, and resume anti-joins the committed
checkpoint — so a crash at ANY point leaves orphan uncommitted files,
never duplicate spans.  This is the sandbox analog of an Iceberg
single-snapshot commit (data files are invisible until the metadata
pointer swap); in production the four writes collapse into one
multi-table transaction / snapshot commit and the marker is the
snapshot itself.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import ExtractConfig
from .udfs import EXTRACT_SCHEMA, extract_row, map_rows

DEFAULT_ARROW_BATCH = 256  # docs per Arrow batch: ~4KB mean docs → ~1MB batches
# salted_repartition: a giant holds more than this share of a
# partition's byte budget; at most MAX_GIANTS are placed by the driver
GIANT_FRACTION = 0.25
MAX_GIANTS = 100_000


def build_session(
    app: str = "zhtml-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """local[N] session with the engine's standard knobs.

    On a real cluster the same configs ship via spark-submit --conf;
    AQE stays on (it re-plans joins/aggs but cannot see inside the
    UDF — that is what the explicit banding is for).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 32)
    # executor Python workers must import this package: local mode
    # inherits the driver env (production ships engine.zip via
    # spark-submit --py-files instead, jobs/extract_job.py)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}:{existing}" if existing else repo_root
        )
    # driver heap: 1/8 of RAM, clamped to [1g, 16g] — a fixed 16g
    # heap on a 15 GB host leaves no room for the Python workers and
    # the tmpfs shuffle files, which are RAM too
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap = f"{max(1024, min(ram_mb // 8, 16 * 1024))}m"
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DEFAULT_ARROW_BATCH),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", heap))
        # crawl-decoder hardening (sources.decode_sniffed): restore
        # the full Java charset repertoire (Spark 4 whitelists
        # encode/decode charsets otherwise — SPARK-46115) and
        # replacement-char behavior on malformed text (plain decode
        # throws MALFORMED_CHARACTER_CODING: one broken page must
        # never kill a 10^12-doc job).  The flagless sniff paths work
        # without these; they widen coverage to Shift_JIS/GBK/….
        .config("spark.sql.legacy.javaCharsets", "true")
        .config("spark.sql.legacy.codingErrorAction", "true")
    )
    # Shuffle spill on this sandbox's network disk is burst-throttled and
    # was the dominant run-to-run variance (2× swings); keep shuffle files
    # on tmpfs when available.  On a real cluster this maps to the
    # standard fast-local-SSD spark.local.dir provisioning.
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        local_dir = os.path.join(shm, "spark-local")
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Scan the interleaved-documents table.

    Production target is an Iceberg table
    (``spark.read.format("iceberg").load(path)``) with hidden
    bucket(doc_id) partitioning; the sandbox has no Iceberg runtime
    jar, so parquet directories stand in.  Column pruning/predicate
    pushdown behave identically for this 2-column schema.
    """
    if path.startswith("iceberg:"):
        return spark.read.format("iceberg").load(path[len("iceberg:"):])
    return spark.read.parquet(path)


def with_doc_bytes(df: DataFrame) -> DataFrame:
    """n_bytes = total span text length.

    When the table already carries an ``n_bytes`` column (written at
    ingest — the production pattern: size stats as a stored column so
    planning passes prune to a ~few-MB int column instead of decoding
    the span payload), use it; otherwise compute JVM-side via a
    higher-order aggregate."""
    if "n_bytes" in df.columns:
        return df
    return df.withColumn(
        "n_bytes",
        F.expr(
            "aggregate(spans, 0L, (acc, s) -> acc + length(coalesce(s.text, '')))"
        ),
    )


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Byte-balanced repartition that survives giant-page skew.

    A document is one indivisible row, so size skew cannot be fixed by
    key-frequency salting alone — two giants hashing together blows a
    partition.  Strategy (north rule: quantile-thresholded placement):

    * docs below the giant threshold — ``GIANT_FRACTION`` of a
      partition's byte budget, floored at the 99th byte quantile —
      balance by law of large numbers under a pure hash slot;
    * docs above it are few by construction (threshold scales with
      budget, count capped at ``MAX_GIANTS``): collect their
      (id, bytes) to the driver, greedy-LPT them onto the least-loaded
      slots, broadcast the assignment back;
    * one range shuffle on the final slot puts each slot in its own
      partition (exact placement — hash-of-slot would re-introduce
      balls-in-bins collisions).

    Driver cost is O(giants); at 10^12 docs the threshold keeps that
    bounded (a giant must be a macroscopic fraction of a multi-GB
    partition budget to matter).
    """
    df = with_doc_bytes(df)
    # ONE stats pass: totals + the 99th byte quantile together
    stats = df.agg(
        F.sum("n_bytes").alias("total"),
        F.count("*").alias("cnt"),
        F.expr("approx_percentile(n_bytes, 0.99, 1000)").alias("q99"),
    ).collect()[0]
    total = stats["total"] or 0
    if not total:
        return df.repartition(num_partitions, "doc_id")
    budget = total / num_partitions
    threshold = max(budget * GIANT_FRACTION, stats["q99"] or 0)

    giants = (
        df.where(F.col("n_bytes") > F.lit(threshold))
        .select("doc_id", "n_bytes")
        .orderBy(F.col("n_bytes").desc())
        .limit(MAX_GIANTS)
        .collect()
    )

    # greedy LPT over slots, seeded with the hash-balanced base load
    import heapq

    giant_bytes = sum(r["n_bytes"] for r in giants)
    base = (total - giant_bytes) / num_partitions
    heap = [(base, slot) for slot in range(num_partitions)]
    heapq.heapify(heap)
    assignment: dict[str, int] = {}
    for r in giants:  # already sorted desc
        load, slot = heapq.heappop(heap)
        assignment[r["doc_id"]] = slot
        heapq.heappush(heap, (load + r["n_bytes"], slot))

    hash_slot = F.pmod(F.xxhash64("doc_id"), F.lit(num_partitions))
    if assignment:
        # an Arrow table plans as a LocalTableScan; a Python list would
        # go through a pickled RDD and cost its own Spark job
        amap = df.sparkSession.createDataFrame(
            pa.table(
                {
                    "doc_id": pa.array(list(assignment), pa.string()),
                    "giant_slot": pa.array(list(assignment.values()), pa.int32()),
                }
            )
        )
        df = df.join(F.broadcast(amap), "doc_id", "left")
        slot = F.coalesce(F.col("giant_slot"), hash_slot)
    else:
        slot = hash_slot
    df = df.withColumn("slot", slot.cast("int"))
    # exact slot→partition placement: repartition() hashes its key, so
    # map each slot to a probe int whose Murmur3 lands in that exact
    # partition (range partitioning is row-count based and merges
    # sparse slots; hashing slots directly re-collides them)
    probes = _partition_probes(df.sparkSession, num_partitions)
    probe_col = F.element_at(
        F.array(*[F.lit(p) for p in probes]), F.col("slot") + 1
    )
    out = df.withColumn("slot_probe", probe_col).repartition(
        num_partitions, "slot_probe"
    ).drop("slot_probe")
    return out.drop("giant_slot") if assignment else out


_PROBE_CACHE: dict[int, list[int]] = {}


def _partition_probes(spark: SparkSession, num_partitions: int) -> list[int]:
    """For each partition p < num_partitions, an int x with
    pmod(murmur3(x), num_partitions) == p — computed once with Spark's
    own hash so it can never drift from the JVM implementation."""
    if num_partitions in _PROBE_CACHE:
        return _PROBE_CACHE[num_partitions]
    rows = (
        spark.range(0, max(num_partitions * 64, 4096))
        .select(
            F.col("id").cast("int").alias("x"),
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(num_partitions)).alias(
                "p"
            ),
        )
        .groupBy("p")
        .agg(F.min("x").alias("x"))
        .collect()
    )
    by_p = {r["p"]: r["x"] for r in rows}
    assert len(by_p) == num_partitions, "probe search space too small"
    probes = [by_p[p] for p in range(num_partitions)]
    _PROBE_CACHE[num_partitions] = probes
    return probes


def filter_done(input_df: DataFrame, checkpoint_df: DataFrame | None) -> DataFrame:
    """Resume: drop documents already in the checkpoint (anti-join —
    the relational EXCEPT, broadcast when small; see FIXTURES.md §5)."""
    if checkpoint_df is None:
        return input_df
    done = checkpoint_df.select("doc_id").distinct()
    return input_df.join(done, "doc_id", "left_anti")


def extract_documents(
    df: DataFrame,
    config: ExtractConfig | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """The core stage: salted repartition → fused parse/extract
    ``map_rows`` stage."""
    if num_partitions:
        df = salted_repartition(df, num_partitions)
    return map_rows(df, ["doc_id", "spans"], extract_row(config),
                    EXTRACT_SCHEMA)


def explode_spans(extracted: DataFrame) -> DataFrame:
    """One flat ``(doc_id, offset, kind, text, media_ref)`` row per
    span of an extraction result (``doc_id`` + ``spans``)."""
    return extracted.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def resolve_media_refs(extracted: DataFrame, media_meta: DataFrame) -> DataFrame:
    """Media-ref resolution join (SURVEY §2.3 joins row): enrich media
    spans with ``media_kind``/``resolved_url`` from a metadata table
    ``(media_ref, media_kind, resolved_url)`` (FIXTURES.md §4).

    Returns the flat enriched span table
    ``(doc_id, offset, kind, text, media_ref, media_kind, resolved_url)``
    — non-media spans pass through with null enrichment (left join).
    The metadata dimension is broadcast.
    """
    flat = explode_spans(extracted)
    meta = F.broadcast(media_meta.select("media_ref", "media_kind", "resolved_url"))
    return flat.join(meta, "media_ref", "left").select(
        "doc_id", "offset", "kind", "text", "media_ref",
        "media_kind", "resolved_url",
    )


def span_order_violations(extracted: DataFrame) -> DataFrame:
    """Span-ordering validation (SURVEY §2.3 window row): offsets per
    doc must be exactly 0..n-1 in order.  Returns violating rows
    (empty == valid) via a row_number window."""
    from pyspark.sql.window import Window

    flat = extracted.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", F.col("s.offset").alias("offset")
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    return (
        flat.withColumn("rn", F.row_number().over(w) - 1)
        .where(F.col("rn") != F.col("offset"))
    )


def metrics_table(extracted: DataFrame) -> DataFrame:
    """Per-partition metrics (FIXTURES.md §6): counts, bytes, spans,
    errors, error-code histogram, wall time."""
    part = extracted.withColumn("partition_id", F.spark_partition_id())
    exploded_codes = (
        part.select(
            "partition_id", F.explode_outer("error_codes").alias("code", "cnt")
        )
        .groupBy("partition_id", "code")
        .agg(F.sum("cnt").alias("cnt"))
        .where(F.col("code").isNotNull())
        .groupBy("partition_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("code", "cnt"))
            ).alias("error_codes")
        )
    )
    base = part.groupBy("partition_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("n_bytes"),
        F.sum("n_spans").alias("n_spans"),
        F.sum("n_errors").alias("n_errors"),
        F.ceil(F.sum("wall_us") / 1000).alias("wall_ms"),
    )
    return base.join(exploded_codes, "partition_id", "left")


def lineage_table(extracted: DataFrame, snapshot_id: int = 0) -> DataFrame:
    """Per-partition lineage (FIXTURES.md §6): doc-id range + count,
    for resume audits (no doc processed twice).  The ``attempt`` column
    of the sink comes from its ``attempt=<id>`` directory when the
    table root is read."""
    return (
        extracted.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.min("doc_id").alias("doc_ids_min"),
            F.max("doc_id").alias("doc_ids_max"),
            F.count("*").alias("n_docs"),
        )
        .withColumn("snapshot_id", F.lit(snapshot_id).cast("long"))
    )


def _committed_attempts(output_path: str) -> set[str]:
    """Attempt ids in the commit registry ``<output>/_commits/``.

    ONE registry file per attempt, published by a single atomic
    ``os.rename`` — the whole attempt (spans, metrics, lineage,
    checkpoint) becomes visible together or not at all.  There is no
    ordering window between tables because there is only one commit
    action (the Iceberg analog: the metadata-pointer swap)."""
    d = f"{output_path}/_commits"
    if not os.path.isdir(d):
        return set()
    return {n for n in os.listdir(d) if not n.startswith(".")}


def _attempt_dirs(base: str, committed: set[str]) -> list[str]:
    """Committed attempt directories under a sink table path."""
    if not os.path.isdir(base):
        return []
    out = []
    for name in sorted(os.listdir(base)):
        if name.startswith("attempt=") and name[len("attempt="):] in committed:
            out.append(os.path.join(base, name))
    return out


def read_spans(spark: SparkSession, output_path: str) -> DataFrame | None:
    """Read the spans sink — committed attempts only.  Uncommitted
    (crashed mid-write) attempt dirs are invisible, which is what makes
    the sink exactly-once: duplicates can never be published because
    publication IS the atomic registry rename."""
    dirs = _attempt_dirs(
        f"{output_path}/spans", _committed_attempts(output_path)
    )
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def list_snapshots(output_path: str) -> list[dict]:
    """Operational view of the sink: one entry per COMMITTED attempt
    (attempt id, snapshot_id, staged table dirs) in commit order —
    the sandbox analog of Iceberg's snapshot log, for resume audits
    and retention tooling."""
    d = f"{output_path}/_commits"
    out = []
    # one source of truth for "committed": the registry reader used by
    # read_spans/read_checkpoint
    for name in sorted(
        _committed_attempts(output_path),
        key=lambda n: os.path.getmtime(os.path.join(d, n)),
    ):
        entry: dict = {"attempt": name, "snapshot_id": None, "staged": []}
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("snapshot_id="):
                    entry["snapshot_id"] = int(line.split("=", 1)[1])
                elif line.startswith("staged="):
                    entry["staged"].append(line.split("=", 1)[1])
        out.append(entry)
    return out


def read_checkpoint(
    spark: SparkSession, checkpoint_path: str, output_path: str
) -> DataFrame | None:
    """Read the done-set for resume — committed attempts only (the
    registry lives with the job output, one registry per job)."""
    dirs = _attempt_dirs(checkpoint_path, _committed_attempts(output_path))
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def run_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str | None = None,
    num_partitions: int | None = None,
    snapshot_id: int = 0,
    _fault_injection: dict | None = None,
) -> dict:
    """End-to-end batch: read → resume-filter → extract → staged write
    of spans + metrics + lineage + checkpoint → atomic commit.  Returns
    counters for the caller (bench uses them instead of wall-clocking
    JVM boot).

    Crash-consistency protocol (sandbox analog of an Iceberg snapshot
    commit): every output goes under ``<table>/attempt=<uuid>/``; after
    ALL data writes succeed, the attempt id is published into the
    commit registry ``<output>/_commits/`` with a single write-to-temp
    + ``os.rename`` (atomic on POSIX).  Readers and resume see
    committed attempts only, so a crash in ANY window — including
    between table writes — leaves orphan bytes, never duplicate or
    phantom rows; there is no multi-marker ordering window because one
    rename commits all four tables.

    After the cache-pinning aggregate, the staged writes run
    concurrently on driver threads; each thread inherits the caller's
    local properties (job group, job tags), so every write job is
    attributed to the caller.  The commit waits for every write, lists
    the staged dirs in the fixed order spans, metrics, lineage,
    checkpoint, and is skipped if any write fails.
    ``_fault_injection={"after": <stage>}`` (stage ∈
    spans/metrics/lineage/checkpoint_data) aborts the job at that point
    — the checks fire in stage order once all writes have finished,
    just before the commit; the exactly-once pytest uses it.
    """
    import uuid

    num_partitions = num_partitions or spark.sparkContext.defaultParallelism * 2

    docs = read_documents(spark, input_path)
    ckpt = None
    if checkpoint_path is not None:
        ckpt = read_checkpoint(spark, checkpoint_path, output_path)
        if ckpt is not None:
            # materialize the done-set now (defensive: keeps the
            # anti-join stable no matter what the sink does later)
            ckpt = ckpt.select("doc_id").persist()
            ckpt.count()
        docs = filter_done(docs, ckpt)

    extracted = extract_documents(docs, num_partitions=num_partitions)
    extracted = extracted.persist()
    # first action: pin the cache before any sink writes start
    row = extracted.agg(
        F.count("*").alias("docs"),
        F.sum("n_bytes").alias("bytes"),
        F.sum("n_spans").alias("spans"),
        F.sum("n_errors").alias("errors"),
    ).collect()[0]

    attempt = uuid.uuid4().hex[:12]
    fault = _fault_injection or {}

    try:
        at = f"attempt={attempt}"
        # (fault point, table, staged dir) in the fixed stage order
        writes = [
            (
                "spans",
                extracted.select("doc_id", "spans"),
                f"{output_path}/spans/{at}",
            ),
            (
                "metrics",
                metrics_table(extracted).withColumn(
                    "snapshot_id", F.lit(snapshot_id).cast("long")
                ),
                f"{output_path}/metrics/{at}",
            ),
            (
                "lineage",
                lineage_table(extracted, snapshot_id),
                f"{output_path}/lineage/{at}",
            ),
        ]
        if checkpoint_path is not None:
            writes.append(
                (
                    "checkpoint_data",
                    extracted.select("doc_id")
                    .withColumn("snapshot_id", F.lit(snapshot_id).cast("long"))
                    .withColumn("partition_id", F.spark_partition_id()),
                    f"{checkpoint_path}/{at}",
                )
            )

        def _write(df: DataFrame, d: str) -> None:
            df.write.mode("overwrite").parquet(d)

        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            # decorated here, once per write: the wrapper copies the
            # caller's local properties (job group, job tags) when it is
            # built, and each thread needs a copy of its own — a shared
            # one would mix up the writes' SQL execution ids
            futures = [
                pool.submit(inheritable_thread_target(spark)(_write), df, d)
                for _, df, d in writes
            ]
        # leaving the pool joined every write; re-raise the first
        # failure in stage order
        for fut in futures:
            fut.result()
        for stage, _, _ in writes:
            if fault.get("after") == stage:
                raise RuntimeError(f"fault injection: crash after {stage}")

        # commit: ONE atomic rename publishes the whole attempt
        commits = f"{output_path}/_commits"
        os.makedirs(commits, exist_ok=True)
        tmp = os.path.join(commits, f".{attempt}.tmp")
        with open(tmp, "w") as f:
            f.write(
                f"snapshot_id={snapshot_id}\n"
                + "\n".join(f"staged={d}" for _, _, d in writes)
                + "\n"
            )
        os.rename(tmp, os.path.join(commits, attempt))
    finally:
        # release caches on success AND on any write/abort failure —
        # the crash-retry loop this protocol serves must not leak
        # executor storage across attempts (every write thread has
        # finished by now: the pool joins them even when one fails)
        extracted.unpersist()
        if ckpt is not None:
            ckpt.unpersist()
    return {
        "docs": row["docs"],
        "bytes": row["bytes"],
        "spans": row["spans"],
        "errors": row["errors"],
        "attempt": attempt,
    }
