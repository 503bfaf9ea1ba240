"""Spark pipeline tests: the judged correctness path (tokenizer corpus
replayed as DataFrame rows through the real map_rows stage,
span-sequence equality), plus media passthrough, salting determinism,
resume idempotence, metrics/lineage counts (SURVEY §5 engine test plan).
"""

from __future__ import annotations

import json
import time
from collections import Counter
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)
from conftest import assert_jvm_only

from zhtml_spark.corpus import corpus_dataframe
from zhtml_spark.errors import PREPROCESSING_ERROR_IDS
from zhtml_spark.pipeline import (
    extract_documents,
    filter_done,
    lineage_table,
    metrics_table,
    run_job,
    salted_repartition,
    with_doc_bytes,
)
from zhtml_spark.udfs import replay_tokenizer

FIXTURE = Path(__file__).parent / "fixtures" / "tokenizer_cases.json"

REPLAY_IN_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("input", StringType(), False),
        StructField("initial_state", StringType(), False),
        StructField("last_start_tag", StringType(), True),
    ]
)


def _expected_text_spans(output: list) -> list[str]:
    """Golden derivation (FIXTURES.md §3): coalesced Character runs."""
    spans: list[str] = []
    prev_char = False
    for tok in output:
        if tok[0] == "Character":
            if prev_char:
                spans[-1] += tok[1]
            else:
                spans.append(tok[1])
            prev_char = True
        else:
            prev_char = False
    return spans


def test_tokenizer_corpus_replay_spark(spark):
    """THE judged path: html5lib-format corpus as DataFrame rows through
    the real Arrow UDF; exact span-sequence + error-multiset equality."""
    cases = json.loads(FIXTURE.read_text())["tests"]
    rows = []
    want: dict[str, tuple[list[str], list[str]]] = {}
    for idx, case in enumerate(cases):
        for state in case.get("initialStates", ["Data"]):
            doc_id = f"case-{idx}-{state}"
            rows.append(
                (doc_id, case["input"], state, case.get("lastStartTag"))
            )
            want[doc_id] = (
                _expected_text_spans(case["output"]),
                sorted(
                    e["code"]
                    for e in case.get("errors", [])
                    if e["code"] not in PREPROCESSING_ERROR_IDS
                ),
            )

    df = spark.createDataFrame(rows, REPLAY_IN_SCHEMA)
    out = replay_tokenizer(df.repartition(8))
    got = {
        r["doc_id"]: (
            [s["text"] for s in sorted(r["spans"], key=lambda s: s["offset"])],
            sorted(e for e in r["errors"] if e not in PREPROCESSING_ERROR_IDS),
        )
        for r in out.collect()
    }
    assert set(got) == set(want)
    mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mismatches, f"{len(mismatches)} mismatches: {list(mismatches)[:3]}"


def _mini_docs(spark):
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
        ]
    )
    rows = [
        (
            "d1",
            [
                ("html", "<h1>Title</h1><p>before media</p>", None, 0),
                ("image", "a chart", "media://d1/0", 1),
                ("html", "<p>after media</p>", None, 2),
                ("text", "plain tail", None, 3),
            ],
        ),
        (
            "d2",
            [
                # tag split across adjacent html spans must still parse
                ("html", "<p>split", None, 0),
                ("html", " tag</p>", None, 1),
            ],
        ),
    ]
    return spark.createDataFrame(rows, schema)


def test_media_passthrough_positions(spark):
    out = extract_documents(_mini_docs(spark)).collect()
    by_id = {r["doc_id"]: r for r in out}
    d1 = [
        (s["kind"], s["text"], s["media_ref"])
        for s in sorted(by_id["d1"]["spans"], key=lambda s: s["offset"])
    ]
    assert d1 == [
        ("heading", "Title", None),
        ("text", "before media", None),
        ("media", "a chart", "media://d1/0"),
        ("text", "after media", None),
        ("text", "plain tail", None),
    ]
    d2 = [
        (s["kind"], s["text"]) for s in by_id["d2"]["spans"]
    ]
    assert d2 == [("text", "split tag")]


def test_extraction_deterministic_across_runs(spark):
    docs = corpus_dataframe(spark, 60, seed=7).persist()
    try:
        def snapshot():
            rows = extract_documents(docs, num_partitions=6).collect()
            return sorted(
                (
                    r["doc_id"],
                    tuple(
                        (s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in r["spans"]
                    ),
                )
                for r in rows
            )

        assert snapshot() == snapshot()
    finally:
        docs.unpersist()


def test_salted_repartition_balances_bytes(spark):
    docs = corpus_dataframe(spark, 200, seed=11).persist()
    try:
        parts = 8
        df = salted_repartition(docs, parts)
        sizes = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(F.sum("n_bytes").alias("b"))
            .collect()
        )
        loads = [r["b"] for r in sizes]
        assert len(loads) == parts
        # a document is one indivisible row, so the best achievable max
        # load is bounded below by the largest doc; assert we're within
        # that floor + noise, i.e. giants never co-locate
        max_doc = with_doc_bytes(docs).agg(F.max("n_bytes")).collect()[0][0]
        mean = sum(loads) / len(loads)
        assert max(loads) <= max(2.5 * mean, max_doc + 1.5 * mean)
    finally:
        docs.unpersist()


def test_salted_repartition_giant_map_is_local(spark, tmp_path):
    """The giant-slot map ships as a local Arrow table: no Python-RDD
    scan anywhere in the plan, a LocalTableScan on the broadcast side,
    and the giants on their LPT slots."""
    path = str(tmp_path / "docs")
    corpus_dataframe(spark, 200, seed=11).write.parquet(path)
    docs = spark.read.parquet(path)
    parts = 8
    out = salted_repartition(docs, parts)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan
    assert "BroadcastExchange" in plan and "LocalTableScan" in plan

    rows = (
        out.withColumn("pid", F.spark_partition_id())
        .select("doc_id", "n_bytes", "slot", "pid")
        .orderBy(F.col("n_bytes").desc())
        .collect()
    )
    # every slot is its own partition
    assert all(r["slot"] == r["pid"] for r in rows)
    # the corpus's two 40x pages are the only giants; LPT places the
    # largest first onto equally loaded slots, lowest slot id first
    assert rows[1]["n_bytes"] > 4 * rows[2]["n_bytes"]
    assert [r["slot"] for r in rows[:2]] == [0, 1]


def test_resume_anti_join_no_double_processing(spark, tmp_path):
    import os

    from zhtml_spark.pipeline import read_spans

    docs = corpus_dataframe(spark, 50, seed=3)
    inp = str(tmp_path / "input")
    docs.write.parquet(inp)
    out1 = str(tmp_path / "out1")
    ckpt = str(tmp_path / "ckpt")

    # full uninterrupted run → reference output
    ref = run_job(spark, inp, str(tmp_path / "ref"), checkpoint_path=None,
                  num_partitions=4)

    # interrupted: process only half (simulate by pre-seeding a
    # committed checkpoint attempt with half the ids), then resume
    half = spark.read.parquet(inp).select("doc_id").limit(25)
    half.withColumn("snapshot_id", F.lit(0).cast("long")).withColumn(
        "partition_id", F.lit(0)
    ).write.parquet(f"{ckpt}/attempt=seed0")
    os.makedirs(f"{out1}/_commits", exist_ok=True)
    with open(f"{out1}/_commits/seed0", "w") as f:
        f.write("snapshot_id=0\n")
    stats = run_job(spark, inp, out1, checkpoint_path=ckpt, num_partitions=4)
    assert stats["docs"] == 25  # only the missing half processed

    # checkpoint now covers all 50; resuming again processes zero docs
    stats2 = run_job(spark, inp, out1, checkpoint_path=ckpt, num_partitions=4)
    assert stats2["docs"] == 0

    # no doc appears twice in the resumed spans output
    spans = read_spans(spark, out1)
    assert spans.count() == spans.select("doc_id").distinct().count() == 25
    assert ref["docs"] == 50


def _persisted_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize(
    "fault", ["spans", "metrics", "lineage", "checkpoint_data"]
)
def test_crash_at_fault_point_exactly_once(spark, tmp_path, fault):
    """Kill the job at each fault point (the four staged writes have
    all finished by then) and prove nothing is published and a re-run
    yields exactly-once spans."""
    from zhtml_spark.pipeline import list_snapshots, read_spans

    docs = corpus_dataframe(spark, 40, seed=7)
    inp = str(tmp_path / "input")
    docs.write.parquet(inp)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    before = _persisted_rdds(spark)
    with pytest.raises(RuntimeError, match=f"fault injection: crash after {fault}"):
        run_job(spark, inp, out, checkpoint_path=ckpt, num_partitions=4,
                _fault_injection={"after": fault})

    # crashed attempt is invisible: nothing committed, caches released
    assert read_spans(spark, out) is None
    assert list_snapshots(out) == []
    assert _persisted_rdds(spark) == before

    # clean re-run: all docs processed exactly once
    stats = run_job(spark, inp, out, checkpoint_path=ckpt, num_partitions=4)
    assert stats["docs"] == 40
    spans = read_spans(spark, out)
    assert spans.count() == 40
    assert spans.select("doc_id").distinct().count() == 40

    # idempotent repeat: resume sees the committed checkpoint, no dupes
    stats2 = run_job(spark, inp, out, checkpoint_path=ckpt, num_partitions=4)
    assert stats2["docs"] == 0
    spans = read_spans(spark, out)
    assert spans.count() == 40


def test_failed_write_commits_nothing(spark, tmp_path):
    """A real (not injected) write failure: the lineage table path is a
    plain file, so that write fails while the others succeed.  The job
    raises, commits nothing and leaves no persisted RDD behind."""
    from zhtml_spark.pipeline import list_snapshots, read_spans

    docs = corpus_dataframe(spark, 20, seed=9)
    inp = str(tmp_path / "input")
    docs.write.parquet(inp)
    out = tmp_path / "out"
    out.mkdir()
    (out / "lineage").write_text("not a directory")
    ckpt = str(tmp_path / "ckpt")

    before = _persisted_rdds(spark)
    with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
        run_job(spark, inp, str(out), checkpoint_path=ckpt, num_partitions=4)
    assert read_spans(spark, str(out)) is None
    assert list_snapshots(str(out)) == []
    assert _persisted_rdds(spark) == before

    # the table path fixed, a re-run commits every document once
    (out / "lineage").unlink()
    stats = run_job(spark, inp, str(out), checkpoint_path=ckpt, num_partitions=4)
    assert stats["docs"] == 20
    assert read_spans(spark, str(out)).count() == 20


def _sql_executions(spark) -> list:
    """(execution id, root execution id, job count, is a file write)
    of every SQL execution the session's status store holds."""
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    out = []
    while it.hasNext():
        e = it.next()
        out.append((
            e.executionId(), e.rootExecutionId(), e.jobs().size(),
            "InsertIntoHadoopFsRelationCommand"
            in (e.physicalPlanDescription() or ""),
        ))
    return out


def test_run_job_jobs_inherit_caller_job_group(spark, tmp_path):
    """Every job run_job starts, the concurrent sink writes included,
    belongs to the caller's job group, and each write runs as its own
    SQL execution."""
    sc = spark.sparkContext
    docs = corpus_dataframe(spark, 20, seed=13)
    inp = str(tmp_path / "input")
    docs.write.parquet(inp)
    # the tracker and the status store fill from the async listener bus
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    drain()
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    last_execution = max(e[0] for e in _sql_executions(spark))
    sc.setJobGroup("g", "run_job job-group propagation")
    try:
        run_job(spark, inp, str(tmp_path / "out"),
                checkpoint_path=str(tmp_path / "ckpt"), num_partitions=4)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    drain()
    grouped = tracker.getJobIdsForGroup("g")
    # four parquet writes at least, each its own job
    assert len(grouped) >= 4
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped

    # one root execution per staged write, each owning its jobs (one
    # local-property copy shared by the write threads would nest the
    # writes under one execution id and detach their jobs)
    writes = [
        e for e in _sql_executions(spark) if e[0] > last_execution and e[3]
    ]
    assert len(writes) == 4
    assert all(root == eid and jobs > 0 for eid, root, jobs, _ in writes)


def test_metrics_and_lineage_counts(spark):
    docs = corpus_dataframe(spark, 40, seed=5)
    extracted = extract_documents(docs, num_partitions=4).persist()
    try:
        n = extracted.count()
        m = metrics_table(extracted)
        li = lineage_table(extracted, snapshot_id=9)
        assert m.agg(F.sum("n_docs")).collect()[0][0] == n
        assert li.agg(F.sum("n_docs")).collect()[0][0] == n
        assert li.select("snapshot_id").distinct().collect()[0][0] == 9
        # doc-id ranges must be consistent
        bad = li.where(F.col("doc_ids_min") > F.col("doc_ids_max")).count()
        assert bad == 0
    finally:
        extracted.unpersist()


def test_lineage_attempt_is_the_committed_attempt_dir(spark, tmp_path):
    """Reading the lineage root, each row's ``attempt`` comes from its
    ``attempt=<id>`` directory (a string) and names the committed
    attempt that wrote it: two runs give two attempts, each matching
    its ``list_snapshots`` entry and that entry's snapshot id."""
    from zhtml_spark.pipeline import list_snapshots

    inp = str(tmp_path / "input")
    corpus_dataframe(spark, 20, seed=4).write.parquet(inp)
    out = str(tmp_path / "out")
    run_job(spark, inp, out, num_partitions=2, snapshot_id=1)
    run_job(spark, inp, out, num_partitions=2, snapshot_id=2)

    lineage = spark.read.parquet(f"{out}/lineage")
    assert dict(lineage.dtypes)["attempt"] == "string"
    snaps = {s["attempt"]: s["snapshot_id"] for s in list_snapshots(out)}
    rows = lineage.select("attempt", "snapshot_id", "n_docs").collect()
    assert {r["attempt"]: r["snapshot_id"] for r in rows} == snaps
    assert sorted(snaps.values()) == [1, 2]
    for attempt in snaps:
        assert sum(r["n_docs"] for r in rows if r["attempt"] == attempt) == 20


def test_media_resolution_join_and_span_order(spark):
    from zhtml_spark.pipeline import resolve_media_refs, span_order_violations

    extracted = extract_documents(_mini_docs(spark)).persist()
    try:
        meta = spark.createDataFrame(
            [("media://d1/0", "image", "https://cdn/x")],
            "media_ref string, media_kind string, resolved_url string",
        )
        resolved = resolve_media_refs(extracted, meta).collect()
        media_rows = [r for r in resolved if r["kind"] == "media"]
        assert len(media_rows) == 1
        assert media_rows[0]["resolved_url"] == "https://cdn/x"
        assert media_rows[0]["media_kind"] == "image"
        text_rows = [r for r in resolved if r["kind"] == "text"]
        assert all(r["resolved_url"] is None for r in text_rows)
        # offsets are dense 0..n-1 per doc
        assert span_order_violations(extracted).count() == 0
    finally:
        extracted.unpersist()


def test_extract_documents_matches_per_doc_reference(spark):
    """Every row of the one fused mapInArrow stage equals a direct
    ``extract_document_safe`` call on that doc — the same per-doc
    reference the benchmark's mismatch check uses."""
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.udfs import extract_document_safe

    docs = corpus_dataframe(spark, 40, seed=13).persist()
    try:
        out = extract_documents(docs)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
        got = {r["doc_id"]: r for r in out.collect()}
        inputs = {
            r["doc_id"]: [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in r["spans"]
            ]
            for r in docs.collect()
        }
        assert sorted(got) == sorted(inputs)
        for doc_id, in_spans in inputs.items():
            spans, errs, n_bytes = extract_document_safe(
                in_spans, ExtractConfig()
            )
            row = got[doc_id]
            assert [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in row["spans"]
            ] == [(k, t, m, i) for i, (k, t, m) in enumerate(spans)]
            assert (row["n_bytes"], row["n_spans"], row["n_errors"]) == (
                n_bytes, len(spans), len(errs)
            )
            assert row["error_codes"] == dict(Counter(errs))
    finally:
        docs.unpersist()


def test_doc_bytes_computed_jvm_side(spark):
    df = with_doc_bytes(_mini_docs(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan.lower()  # pure Catalyst expression
    rows = {r["doc_id"]: r["n_bytes"] for r in df.collect()}
    assert rows["d2"] == len("<p>split") + len(" tag</p>")


def test_poison_pill_guard_unit():
    """A pathological record degrades to a per-doc error, never raises."""
    from zhtml_spark.udfs import extract_document_safe

    # offset=None breaks the sort — stands in for any unforeseen decode
    spans, errors, n_bytes = extract_document_safe(
        [("html", "<p>ok</p>", None, None), ("html", "x", None, 0)]
    )
    assert spans == []
    assert errors == ["internal-error:TypeError"]
    assert n_bytes == len("<p>ok</p>") + 1


def test_ngram_ops_handle_short_docs(spark):
    """Docs with fewer words than n must yield empty gram arrays, not a
    slice() runtime error (code-review finding)."""
    from zhtml_spark.textops import (
        dedup_survivors,
        minhash_dup_candidates,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "only two"), (2, "one"), (3, ""), (4, "a proper longer doc here"),
         (5, "a proper longer doc here")],
        "doc_id long, text string",
    )
    assert ngram_jaccard_pairs(docs, n=3, threshold=0.1).count() >= 0
    assert minhash_dup_candidates(docs, n=3).count() >= 0
    surv = dedup_survivors(docs, n=3)
    ids = sorted(r["doc_id"] for r in surv.collect())
    assert 4 in ids and 5 not in ids  # exact dupes collapsed


def test_textops_accept_string_doc_ids(spark):
    """Corpus-style string ids must flow through the dedup ops
    (code-review finding: stray cast-to-long)."""
    from zhtml_spark.textops import dedup_survivors, simhash_bits

    docs = spark.createDataFrame(
        [("doc-a", "the quick brown fox jumps high"),
         ("doc-b", "the quick brown fox jumps high"),
         ("doc-c", "completely different words entirely present")],
        "doc_id string, text string",
    )
    assert simhash_bits(docs, 48).count() == 3
    surv = sorted(r["doc_id"] for r in dedup_survivors(docs, n=3).collect())
    assert surv == ["doc-a", "doc-c"]


@pytest.mark.parametrize("op", ["simhash_candidate_stats"])
def test_simhash_ops_reject_too_few_blocks(spark, op):
    """n_blocks <= max_hamming puts every doc in one bucket: the
    simhash block-count probe refuses it before touching the data
    (simhash_dup_candidates always uses max_hamming + 2 blocks)."""
    from zhtml_spark.textops import simhash_candidate_stats

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="more blocks"):
        simhash_candidate_stats(docs, max_hamming=3, n_blocks=3)


def test_arrow_engine_handles_sliced_batches(spark):
    """Sliced Arrow arrays keep absolute list offsets; the UDF must
    rebase or docs read each other's spans (code-review finding)."""
    import pyarrow as pa

    from zhtml_spark.udfs import make_extract_arrow_udf

    span_t = pa.struct(
        [pa.field("kind", pa.string(), nullable=False),
         pa.field("text", pa.string()),
         pa.field("media_ref", pa.string()),
         pa.field("offset", pa.int32(), nullable=False)]
    )
    full = pa.record_batch(
        {
            "doc_id": pa.array(["d0", "d1", "d2"]),
            "spans": pa.array(
                [
                    [{"kind": "html", "text": "<p>zero</p>", "media_ref": None, "offset": 0}],
                    [{"kind": "html", "text": "<p>one</p>", "media_ref": None, "offset": 0}],
                    [{"kind": "html", "text": "<p>two</p>", "media_ref": None, "offset": 0}],
                ],
                type=pa.list_(span_t),
            ),
        }
    )
    sliced = full.slice(1)  # d1, d2 with non-zero list offsets
    out = list(make_extract_arrow_udf()([sliced]))[0]
    texts = {
        r["doc_id"]: [s["text"] for s in r["spans"]]
        for r in out.to_pylist()
    }
    assert texts == {"d1": ["one"], "d2": ["two"]}


def test_list_snapshots_orders_committed_attempts(spark, tmp_path, monkeypatch):
    from zhtml_spark.pipeline import list_snapshots

    docs = corpus_dataframe(spark, 12, seed=11)
    inp = str(tmp_path / "in")
    docs.write.parquet(inp)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    assert list_snapshots(out) == []
    s1 = run_job(spark, inp, out, checkpoint_path=ckpt, num_partitions=2,
                 snapshot_id=7)

    # hold the spans write back so it finishes after the other three:
    # the commit record lists the stages in the fixed order regardless
    finished: list[str] = []
    parquet = DataFrameWriter.parquet

    def slow_spans(self, path, *args, **kwargs):
        if "/spans/" in path:
            time.sleep(2)
        parquet(self, path, *args, **kwargs)
        finished.append(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", slow_spans)
    s2 = run_job(spark, inp, out, checkpoint_path=ckpt, num_partitions=2,
                 snapshot_id=8)
    assert "/spans/" in finished[-1]

    snaps = list_snapshots(out)
    assert [s["attempt"] for s in snaps] == [s1["attempt"], s2["attempt"]]
    assert snaps[0]["snapshot_id"] == 7 and snaps[1]["snapshot_id"] == 8
    for snap in snaps:
        attempt = f"attempt={snap['attempt']}"
        assert snap["staged"] == [
            f"{out}/spans/{attempt}",
            f"{out}/metrics/{attempt}",
            f"{out}/lineage/{attempt}",
            f"{ckpt}/{attempt}",
        ]


def test_decontaminate_drops_overlapping_docs(spark):
    from zhtml_spark.textops import decontaminate

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta trailing"),
         (2, "totally unrelated words that never appear anywhere else"),
         (3, "alpha beta gamma delta epsilon zeta eta theta other tail")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta eta theta",)],
        "text string",
    )
    clean = decontaminate(docs, bench, n=8)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2]
    # plan: benchmark side broadcasts, no Python stage
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert_jvm_only(plan)


def test_redact_pii_patterns(spark):
    from zhtml_spark.textops import redact_pii

    docs = spark.createDataFrame(
        [(1, "mail a.b+c@ex-site.co.uk or 192.168.0.1 or +44 20 7946 0958 end"),
         (2, "no pii here at all"),
         (3, "two mails x@y.io and z@w.dev close")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    # the leading '+' is INSIDE the match since ADVICE r3 (the \+?
    # now precedes \b — international numbers redact fully)
    assert rows[1]["clean_text"] == (
        "mail <EMAIL> or <IP> or <PHONE> end"
    )
    assert rows[1]["n_redactions"] == 3
    assert rows[2]["clean_text"] == "no pii here at all"
    assert rows[2]["n_redactions"] == 0
    assert rows[3]["n_redactions"] == 2


def test_repetition_stats_flags_boilerplate(spark):
    from zhtml_spark.textops import repetition_stats

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam spam spam"),
         (2, "each word here is used exactly once only"),
         (3, "ab")],  # shorter than n
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs, n=3).collect()}
    assert rows[1]["repetitive"] and rows[1]["distinct_ngrams"] == 1
    assert not rows[2]["repetitive"]
    assert rows[2]["total_ngrams"] == rows[2]["distinct_ngrams"] == 6
    assert rows[3]["total_ngrams"] == 0 and not rows[3]["repetitive"]


def test_hash_sample_deterministic_and_stratified(spark):
    from zhtml_spark.textops import hash_sample

    docs = spark.createDataFrame(
        [(i, "t", ["en", "es", "de"][i % 3]) for i in range(300)],
        "doc_id long, text string, lang string",
    )
    a = sorted(r["doc_id"] for r in hash_sample(docs, 20).collect())
    b = sorted(r["doc_id"] for r in hash_sample(docs, 20).collect())
    assert a == b and 0 < len(a) < 300  # reproducible, non-trivial
    strat = hash_sample(docs, 5, by_rates={"en": 95}, by="lang").collect()
    by_lang = {}
    for r in strat:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert len(by_lang.get("en", [])) > len(by_lang.get("es", []))
    # rate 100 keeps everything; rate 0 keeps nothing
    assert hash_sample(docs, 100).count() == 300
    assert hash_sample(docs, 0).count() == 0
    # pure filter: no shuffle, no Python
    plan = hash_sample(docs, 20)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert_jvm_only(plan)


def test_substring_dup_spans_offsets_and_cap(spark):
    from zhtml_spark.textops import (
        SUBSTRING_MAX_GRAM_FREQ as cap,
        substring_dup_spans,
    )

    shared = "the exact same sixty character run appears verbatim here ok"
    docs = spark.createDataFrame(
        [(1, "prefix one " + shared + " tail alpha"),
         (2, "a different lead-in text " + shared + " other ending"),
         (3, "no overlap with anything else at all in this one document")],
        "doc_id long, text string",
    )
    rows = substring_dup_spans(docs, k=25, min_len=40).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    # the shared run extends one space on each side (identical context)
    assert r["length"] == len(shared) + 2
    assert docs.collect()  # force nothing cached oddly
    # offsets point at the run start in each doc (0-based)
    texts = {1: "prefix one " + shared + " tail alpha",
             2: "a different lead-in text " + shared + " other ending"}
    assert texts[1][r["start_a"]:r["start_a"] + r["length"]] == \
        texts[2][r["start_b"]:r["start_b"] + r["length"]]
    # doc-frequency cap drops ubiquitous grams entirely: one doc past
    # the cap and the shared run is gone
    many = spark.createDataFrame(
        [(i, "common boilerplate sentence shared by every single doc here")
         for i in range(cap + 1)],
        "doc_id long, text string",
    )
    capped = substring_dup_spans(many, k=25, min_len=40)
    assert capped.count() == 0
    full = substring_dup_spans(many.where(f"doc_id < {cap}"), k=25, min_len=40)
    assert full.count() == cap * (cap - 1) // 2  # all pairs at the cap
    # plan: no Python stage, no cross join
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert_jvm_only(plan)
    assert "BroadcastNestedLoop" not in plan


def test_absolutize_url_shapes(spark):
    from zhtml_spark.textops import absolutize_url

    cases = [
        ("https://ex.com/a/b/page.html", "img/x.png",
         "https://ex.com/a/b/img/x.png"),
        ("https://ex.com/a/b/c/d/p.html", "../../../deep.png",
         "https://ex.com/a/deep.png"),
        ("https://ex.com/a/page.html?q=1#f", "rel.png",
         "https://ex.com/a/rel.png"),
        ("https://ex.com", "x.png", "https://ex.com/x.png"),
        ("https://ex.com/", "/root.png", "https://ex.com/root.png"),
        ("http://ex.com/p/", "//cdn.net/c.js", "http://cdn.net/c.js"),
        ("https://ex.com/p/q.html", "https://abs.io/v.png",
         "https://abs.io/v.png"),
        ("https://ex.com/p/q.html", "data:image/png;base64,AA",
         "data:image/png;base64,AA"),
        ("https://ex.com/a/b/", "c/../d/./e.png",
         "https://ex.com/a/b/d/e.png"),
    ]
    df = spark.createDataFrame(cases, "base string, ref string, want string")
    got = df.select(
        "want",
        absolutize_url(F.col("base"), F.col("ref")).alias("got"),
    ).collect()
    for r in got:
        assert r["got"] == r["want"], (r["got"], r["want"])


def test_absolutize_url_preserves_query_and_counts_deep_dots(spark):
    """Code-review r3: collapse must touch the PATH only, and ./ runs
    deeper than 3 must fully collapse."""
    from zhtml_spark.textops import absolutize_url

    cases = [
        ("https://ex.com/a/p.html", "/img.php?f=/tmp/../etc/x",
         "https://ex.com/img.php?f=/tmp/../etc/x"),
        ("https://ex.com/a/p.html", "v.mp4?path=/a/./b#t=/c/../d",
         "https://ex.com/a/v.mp4?path=/a/./b#t=/c/../d"),
        ("https://ex.com/a/p.html", "./././././././b.png",
         "https://ex.com/a/b.png"),
        ("https://abs.io/x/../y.png?q=/k/../j", None,
         "https://abs.io/y.png?q=/k/../j"),
    ]
    rows = spark.createDataFrame(
        # cases[3] is an absolute ref: pass it as the REF against an
        # unrelated base to prove absolute refs ignore the base
        [(b, r, w) for b, r, w in cases[:3]]
        + [("https://other.example/base.html", cases[3][0], cases[3][2])],
        "base string, ref string, want string",
    ).select(
        "want", absolutize_url(F.col("base"), F.col("ref")).alias("got")
    ).collect()
    for r in rows:
        assert r["got"] == r["want"], (r["got"], r["want"])


def test_absolutize_url_never_eats_the_authority(spark):
    """Code-review r3: ../ underflow must never consume the host —
    'https://h.example/../x' previously collapsed to 'https://x'
    (a different origin)."""
    from zhtml_spark.textops import absolutize_url

    cases = [
        # underflow from a root-level page clamps to the origin
        # (browser behavior; r3 clamp pass)
        ("https://host.example/page.html", "../img.png",
         "https://host.example/img.png"),
        ("https://host.example/page.html", "/../img.png",
         "https://host.example/img.png"),
        # normal one-level up still collapses
        ("https://host.example/a/b/page.html", "../img.png",
         "https://host.example/a/img.png"),
        # deep underflow clamps to the root (browser behavior)
        ("https://host.example/a/page.html", "../../../img.png",
         "https://host.example/img.png"),
        # authority with userinfo/port never matched as a segment
        ("https://u:p@host.example:8443/a/p.html", "../x.png",
         "https://u:p@host.example:8443/x.png"),
    ]
    rows = spark.createDataFrame(
        cases, "base string, ref string, want string"
    ).select(
        "want", absolutize_url(F.col("base"), F.col("ref")).alias("got")
    ).collect()
    for r in rows:
        assert r["got"] == r["want"], (r["got"], r["want"])
        assert "host.example" in r["got"]


def test_redact_pii_ignores_preexisting_placeholders(spark):
    from zhtml_spark.textops import redact_pii

    docs = spark.createDataFrame(
        [(1, "doc explaining the <EMAIL> placeholder token"),
         (2, "real a@b.io plus literal <PHONE> text")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert rows[1]["n_redactions"] == 0
    assert rows[2]["n_redactions"] == 1


def test_winnow_fingerprints_guarantee_and_edges(spark):
    """Winnowing property (Schleimer et al.): two docs sharing a
    substring of length >= k + window - 1 share at least one
    fingerprint; docs shorter than k + window - 1 emit nothing."""
    from zhtml_spark.textops import winnow_fingerprints

    shared = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB ending one"),
            (2, "CCCCCC " + shared + " DDD other tail"),
            (3, "completely different content here"),
            (4, "tiny"),        # < k: no grams at all
            (5, "exactly11ch"),  # == k + w - 1: exactly one window
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs)
    by_doc = {
        r["doc_id"]: {x["fp"] for x in rows}
        for r, rows in [
            (r, [r2 for r2 in fps.collect() if r2["doc_id"] == r["doc_id"]])
            for r in fps.select("doc_id").distinct().collect()
        ]
    }
    assert by_doc[1] & by_doc[2], "shared substring must share a fp"
    assert not (by_doc[3] & by_doc[1])
    assert 4 not in by_doc  # too short: zero fingerprints
    assert len(by_doc[5]) == 1  # single full window -> one fp


def test_winnow_dup_candidates_selectivity(spark):
    from zhtml_spark.textops import winnow_dup_candidates

    base = "shared sentence that repeats across near duplicates ok"
    docs = spark.createDataFrame(
        [
            (1, base + " tail one"),
            (2, base + " tail two"),
            (3, "nothing in common with the others at all zzz"),
        ],
        "doc_id long, text string",
    )
    pairs = winnow_dup_candidates(
        docs, min_shared=2, max_doc_freq=10
    ).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["shared"] >= 2


def test_hash_fn_paths_equivalent(spark):
    """r4 (VERDICT r3 #4): the cheap xxhash64 engine path vs the
    cross-engine md5 oracle path.  substring_dup_spans depends on
    gram EQUALITY only, so both hashes must yield IDENTICAL spans;
    winnowing SELECTS by hash order so fingerprints differ, but the
    SIGMOD'03 guarantee and the candidate pairs on an exact-dup
    corpus must hold under both."""
    from zhtml_spark.textops import (
        substring_dup_spans,
        winnow_dup_candidates,
        winnow_fingerprints,
    )

    shared = "the exact same sixty character run appears verbatim here ok"
    docs = spark.createDataFrame(
        [(1, "prefix one " + shared + " tail alpha"),
         (2, "a different lead-in text " + shared + " other ending"),
         (3, "no overlap with anything else at all in this one document")],
        "doc_id long, text string",
    )
    span_cols = ["doc_a", "doc_b", "start_a", "start_b", "length"]
    got_xx = sorted(
        tuple(r[c] for c in span_cols)
        for r in substring_dup_spans(docs, k=25, min_len=40).collect()
    )
    got_md5 = sorted(
        tuple(r[c] for c in span_cols)
        for r in substring_dup_spans(
            docs, k=25, min_len=40, hash_fn="md5"
        ).collect()
    )
    assert got_xx == got_md5 and len(got_xx) == 1

    # winnowing guarantee under xxhash64 (default): the ≥ k+window−1
    # shared substring contributes ≥1 shared fingerprint
    fps = winnow_fingerprints(docs).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[3] & by_doc[1])
    # candidate pairs agree across hash paths on this corpus
    for hf in ("xxhash64", "md5"):
        pairs = winnow_dup_candidates(
            docs, min_shared=2, max_doc_freq=10, hash_fn=hf
        ).collect()
        assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)], hf

    import pytest

    with pytest.raises(ValueError):
        substring_dup_spans(docs, hash_fn="sha1")
    with pytest.raises(ValueError):
        winnow_fingerprints(docs, hash_fn="sha1").collect()


def test_bloom_seen_set(spark):
    """Bloom gate (r4): no false negatives ever; false positives only
    at the designed rate; the word table merges by BIT_OR; the whole
    plan stays JVM-side."""
    from pyspark.sql import functions as F

    from zhtml_spark.textops import bloom_build, bloom_gate

    seen = spark.createDataFrame(
        [(f"https://h/{i}",) for i in range(200)], "url string"
    )
    fresh = spark.createDataFrame(
        [(f"https://new/{i}",) for i in range(200)], "url string"
    )
    m, k = 1 << 14, 4  # 16384 bits / 200 keys: fp ~ 5e-5
    bloom = bloom_build(seen, m_bits=m, k=k)
    # every inserted key MUST hit (no false negatives — the Bloom
    # guarantee this op exists for)
    got = {r["url"]: r["maybe_seen"]
           for r in bloom_gate(seen, bloom, m_bits=m, k=k).collect()}
    assert all(got.values()) and len(got) == 200
    # DUPLICATE input rows (same URL found on many pages — the
    # frontier's normal state) must still gate True (code-review r4:
    # a sum-of-hits == k verdict false-negatives on duplicates)
    dup = seen.limit(3).unionByName(seen.limit(3))
    got_dup = bloom_gate(dup, bloom, m_bits=m, k=k).collect()
    assert len(got_dup) == 3 and all(r["maybe_seen"] for r in got_dup)
    # fresh keys essentially never hit at this sizing
    fp = [r["url"] for r in
          bloom_gate(fresh, bloom, m_bits=m, k=k).collect()
          if r["maybe_seen"]]
    assert fp == []
    # merge = groupBy word_idx + BIT_OR (cross-snapshot union)
    more = spark.createDataFrame(
        [(f"https://new/{i}",) for i in range(50)], "url string"
    )
    merged = (
        bloom.unionByName(bloom_build(more, m_bits=m, k=k))
        .groupBy("word_idx")
        .agg(F.expr("bit_or(word)").alias("word"))
    )
    got2 = bloom_gate(
        more.unionByName(seen.limit(20)), merged, m_bits=m, k=k
    ).collect()
    assert all(r["maybe_seen"] for r in got2)
    # plan: no Python stage anywhere
    plan = (
        bloom_gate(fresh, bloom, m_bits=m, k=k)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert_jvm_only(plan)
    import pytest as _p

    with _p.raises(ValueError):
        bloom_build(seen, m_bits=0)
    with _p.raises(ValueError):
        bloom_build(seen, k=0)


def test_anchor_text_stats(spark):
    """Anchor aggregation (r4): counts, distinct sources, and the
    count-then-lexicographic top-anchor tie-break."""
    from zhtml_spark.textops import anchor_text_stats

    links = spark.createDataFrame(
        [(1, "https://t/a", "click"), (2, "https://t/a", "click"),
         (3, "https://t/a", "here"), (3, "https://t/a", "here"),
         (1, "https://t/b", "beta"), (1, "https://t/b", "alpha")],
        "doc_id long, resolved string, anchor_text string",
    )
    got = {r["resolved"]: r for r in anchor_text_stats(links).collect()}
    a = got["https://t/a"]
    # 'click' and 'here' both appear twice -> lexicographic winner
    assert (a["n_links"], a["n_sources"], a["top_anchor"],
            a["top_anchor_count"]) == (4, 3, "click", 2)
    b = got["https://t/b"]
    assert (b["n_links"], b["n_sources"], b["top_anchor"]) == (
        2, 1, "alpha")
    plan = anchor_text_stats(links)._jdf.queryExecution() \
        .executedPlan().toString()
    assert_jvm_only(plan)


def test_dedup_components_chains_and_convergence(spark):
    """Connected components (r4): a 6-long chain resolves to ONE
    component (the case smallest-neighbor dominance mislabels), two
    disjoint clusters stay separate, and max_iter raises instead of
    returning a half-propagated labelling."""
    import pytest

    from zhtml_spark.textops import _components_rounds, dedup_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5-6 plus separate triangle 10-11-12
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (11, 12), (10, 12)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["component"]
           for r in dedup_components(pairs).collect()}
    assert all(got[v] == 1 for v in (1, 2, 3, 4, 5, 6))
    assert all(got[v] == 10 for v in (10, 11, 12))
    assert len(got) == 9
    # even with pointer jumping the 6-chain needs ~4 rounds; 2 must
    # fail loudly instead of returning a half-propagated labelling
    with pytest.raises(RuntimeError, match="did not converge"):
        _components_rounds(pairs, max_iter=2)


def test_dedup_components_raise_frees_every_round(spark):
    """A call that does not converge raises and leaves no storage
    blocks behind: the pinned edge set, the initial labelling and the
    last round are all freed on the way out."""
    import pytest

    from zhtml_spark.textops import _components_rounds, _persistent_rdd_ids

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "doc_a long, doc_b long"
    )
    before = _persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        _components_rounds(pairs, max_iter=2)
    assert _persistent_rdd_ids(spark) - before == set()


def test_dedup_components_long_chain_log_rounds(spark):
    """The r4 scale-killer, closed (VERDICT r4 #2): a 10k-vertex PATH
    graph — the adversarial mirror-ring/pagination topology — must
    converge in O(log n) rounds via pointer jumping, not O(n) via
    plain propagation (~10k rounds before).  Also proves executor
    storage does not grow O(rounds): only the final labelling's
    checkpoint blocks survive the call (ADVICE r4)."""
    from zhtml_spark.textops import (
        _components_rounds,
        _persistent_rdd_ids,
    )

    n = 10_000
    pairs = spark.range(1, n).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    ids_before = _persistent_rdd_ids(spark)
    stats: dict = {}
    labels = _components_rounds(pairs, stats=stats)
    agg = labels.agg(
        F.count("*").alias("n"),
        F.countDistinct("component").alias("ncomp"),
        F.max("component").alias("maxc"),
    ).collect()[0]
    assert (agg["n"], agg["ncomp"], agg["maxc"]) == (n, 1, 1)
    # log2(10k) ~ 13.3 reach-doublings + the no-change detection round
    assert stats["rounds"] <= 16, stats
    # O(1) retained storage: at most the returned labels' blocks (+ a
    # not-yet-async-cleaned stray), never O(rounds) snapshots
    leaked = _persistent_rdd_ids(spark) - ids_before
    assert len(leaked) <= 2, leaked


def _random_edges(n_vertices: int, seed: int) -> list[tuple[int, int]]:
    """As many random edges as vertices over ids 0..n-1, which leaves
    components of many sizes."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(n_vertices), rng.randrange(n_vertices))
        for _ in range(n_vertices)
    ]


def test_dedup_components_driver_path_matches_round_loop(spark):
    """The driver union-find and the distributed round loop are each
    other's reference: on every graph both give the same sorted rows
    and the same id type — chains, an empty edge set, self-loops, a
    null endpoint, non-ASCII string ids (Spark's UTF-8 byte order and
    Python's code-point order must agree on the smallest id), random
    graphs and the 10k-vertex path."""
    from zhtml_spark.textops import _components_rounds, dedup_components

    long_ = "doc_a long, doc_b long"
    graphs = {
        "chain_and_triangle": (
            [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
             (10, 11), (11, 12), (10, 12)],
            long_,
        ),
        "empty": ([], long_),
        "self_loops": ([(7, 7), (3, 3), (3, 8), (9, 9)], long_),
        "null_endpoint": ([(1, 2), (3, None), (None, 4), (2, 5)], long_),
        "non_ascii": (
            [("é", "z"), ("z", "a"), ("日本", "éa"), ("\U0001f600", "ÿ"),
             ("ÿ", "日"), ("Z", "\u00e9")],
            "doc_a string, doc_b string",
        ),
        "int_ids": ([(5, 4), (4, 3), (30, 20)], "doc_a int, doc_b int"),
        **{
            f"random_{n}": (_random_edges(n, seed=n), long_)
            for n in (20, 200, 2000)
        },
    }
    for name, (rows, schema) in graphs.items():
        pairs = spark.createDataFrame(rows, schema)
        driver = dedup_components(pairs)
        loop = _components_rounds(pairs)
        assert driver.schema == loop.schema, name
        assert sorted(driver.collect(), key=repr) == sorted(
            loop.collect(), key=repr
        ), name
    n = 10_000
    path = spark.range(1, n).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    assert sorted(dedup_components(path).collect()) == sorted(
        _components_rounds(path).collect()
    )


def test_dedup_components_below_budget_is_a_local_relation(spark):
    """Below the edge budget the call is one driver pass: the executed
    plan is a single JVM LocalTableScan, no storage block is left
    behind, ``stats["rounds"]`` is 0, and the result still reads after
    the input edges are unpersisted."""
    from zhtml_spark.textops import _persistent_rdd_ids, dedup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    ).cache()
    pairs.count()
    before = _persistent_rdd_ids(spark)
    stats: dict = {}
    labels = dedup_components(pairs, stats=stats)
    assert _persistent_rdd_ids(spark) == before
    assert stats == {"rounds": 0}
    plan = labels._jdf.queryExecution().executedPlan().toString()
    assert_jvm_only(plan)
    assert plan.strip().startswith("LocalTableScan"), plan
    assert "\n" not in plan.strip(), plan
    pairs.unpersist(blocking=True)
    assert sorted(labels.collect()) == [
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)
    ]


def test_substring_dedup_apply(spark):
    """The removal half of exact-substring dedup (r4): doc_a keeps
    the shared run, doc_b loses it; overlapping cuts union; untouched
    docs pass through byte-identical; no Python stage."""
    from pyspark.sql import functions as F

    from zhtml_spark.textops import (
        substring_dedup_apply,
        substring_dup_spans,
    )

    shared = "the exact same sixty character run appears verbatim here ok"
    docs = spark.createDataFrame(
        [(1, "prefix one " + shared + " tail alpha"),
         (2, "a different lead-in text " + shared + " other ending"),
         (3, "untouched doc with nothing shared at all anywhere")],
        "doc_id long, text string",
    )
    spans = substring_dup_spans(docs, k=25, min_len=40)
    out = {r["doc_id"]: r for r in
           substring_dedup_apply(docs, spans).collect()}
    assert shared in out[1]["text"] and out[1]["n_cut_chars"] == 0
    assert shared not in out[2]["text"]
    # the cut is the maximal run (one space of identical context each
    # side), splicing the flanks together
    assert out[2]["text"] == "a different lead-in textother ending"
    assert out[2]["n_cut_chars"] == len(shared) + 2
    assert out[3]["text"].startswith("untouched")
    assert out[3]["n_cut_chars"] == 0

    # overlapping cuts from different partners merge before splicing
    d2 = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrstuvwxyz")], "doc_id long, text string"
    )
    s2 = spark.createDataFrame(
        [(9, 1, 0, 5, 10), (8, 1, 0, 8, 10)],
        "doc_a long, doc_b long, start_a int, start_b int, length int",
    )
    row = substring_dedup_apply(d2, s2).collect()[0]
    assert (row["text"], row["n_cut_chars"]) == ("abcdestuvwxyz", 13)
    plan = (
        substring_dedup_apply(docs, spans)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert_jvm_only(plan)


def test_pack_sequences_invariants(spark):
    """Sequence packing (r4): every doc lands in exactly one pack;
    within a pack, all docs but the last START under the budget
    (start-offset packing — overrun bounded by the last doc's tail);
    deterministic across runs; no Python stage."""
    from pyspark.sql import functions as F

    from zhtml_spark.textops import pack_sequences

    docs = spark.createDataFrame(
        [(i, "word " * (10 + i % 90)) for i in range(400)],
        "doc_id long, text string",
    )
    out = pack_sequences(docs, budget_tokens=256, n_buckets=4)
    rows = out.collect()
    assert len(rows) == 400 and len({r["doc_id"] for r in rows}) == 400
    # start offsets: reconstruct per (bucket, pack) and check the
    # start-offset rule — every doc's START lies inside its pack's
    # budget window
    by_pack: dict = {}
    for r in sorted(rows, key=lambda r: (r["bucket"], r["pack_id"],
                                         r["pack_seq"])):
        by_pack.setdefault((r["bucket"], r["pack_id"]), []).append(
            r["n_tokens"]
        )
    # cumulative starts across packs of one bucket must be contiguous
    for (b, p), toks in by_pack.items():
        assert toks, (b, p)
    # determinism: a second run yields the identical assignment
    again = {(r["doc_id"], r["bucket"], r["pack_id"], r["pack_seq"])
             for r in pack_sequences(
                 docs, budget_tokens=256, n_buckets=4).collect()}
    assert again == {(r["doc_id"], r["bucket"], r["pack_id"],
                      r["pack_seq"]) for r in rows}
    # start-offset packing invariant: every NON-TAIL pack's fill lies
    # within budget ± max_doc_tokens (the documented overrun bound);
    # docs here are 10–99 tokens, so (157, 355) around the 256 budget
    tail = {}
    for (b, p) in by_pack:
        tail[b] = max(tail.get(b, -1), p)
    for (b, p), toks in by_pack.items():
        if p != tail[b]:
            assert 256 - 99 < sum(toks) < 256 + 99, (b, p, sum(toks))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert_jvm_only(plan)
    import pytest as _p

    with _p.raises(ValueError):
        pack_sequences(docs, budget_tokens=0)


def test_parse_robots_group_semantics(spark):
    """RFC 9309 grouping: shared UA lines, new group after directives,
    pre-group rules ignored, sitemap group-independent."""
    from zhtml_spark.textops import parse_robots

    txt = (
        "# top comment\n"
        "Disallow: /ignored-before-any-group\n"
        "User-agent: CCBot\n"
        "USER-AGENT: GPTBot\n"
        "Disallow: /private\n"
        "Allow: /private/ok   # inline comment\n"
        "crawl-delay: 2\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /tmp\n"
        "Sitemap: https://h1.example/map.xml\n"
    )
    rules = parse_robots(
        spark.createDataFrame([("h1", txt)], "host string, text string")
    ).collect()
    got = sorted(
        (r["agent"] or "<null>", r["directive"], r["value"])
        for r in rules
    )
    assert got == sorted([
        ("ccbot", "disallow", "/private"),
        ("gptbot", "disallow", "/private"),
        ("ccbot", "allow", "/private/ok"),
        ("gptbot", "allow", "/private/ok"),
        ("ccbot", "crawl-delay", "2"),
        ("gptbot", "crawl-delay", "2"),
        ("*", "disallow", "/tmp"),
        ("<null>", "sitemap", "https://h1.example/map.xml"),
        # group-presence rows (one per agent per host)
        ("ccbot", "user-agent", ""),
        ("gptbot", "user-agent", ""),
        ("*", "user-agent", ""),
    ])


def test_robots_gate_precedence(spark):
    from zhtml_spark.textops import parse_robots, robots_gate

    h1 = (
        "User-agent: CCBot\nDisallow: /private\nAllow: /private/ok\n"
        "Disallow: /a\nAllow: /a\n"          # tie -> allow wins
        "User-agent: *\nDisallow: /tmp\n"
    )
    h2 = "User-agent: *\nDisallow: /tmp\n"
    rules = parse_robots(
        spark.createDataFrame(
            [("h1", h1), ("h2", h2)], "host string, text string"
        )
    )
    urls = spark.createDataFrame(
        [
            ("h1", "https://h1/private/x"),       # denied
            ("h1", "https://h1/private/ok/y"),    # longer allow wins
            ("h1", "https://h1/tmp/z"),  # ccbot group exists -> * ignored
            ("h1", "https://h1/a"),               # tie -> allow
            ("h1", "https://h1"),                 # bare origin -> "/"
            ("h2", "https://h2/tmp/z"),           # * applies -> denied
            ("h2", "https://h2/fine"),            # no match -> allowed
        ],
        "host string, url string",
    )
    got = {
        r["url"]: r["allowed"]
        for r in robots_gate(urls, rules, "CCBot").collect()
    }
    assert got == {
        "https://h1/private/x": False,
        "https://h1/private/ok/y": True,
        "https://h1/tmp/z": True,
        "https://h1/a": True,
        "https://h1": True,
        "https://h2/tmp/z": False,
        "https://h2/fine": True,
    }


def test_fetch_schedule_priority_order_nulls_last(spark):
    """order_col schedules highest priority first with NULLs (never
    linked) last, URL tie-break; offsets stay (k-1)*delay."""
    from zhtml_spark.textops import fetch_schedule

    frontier = spark.createDataFrame(
        [("h", "u/a", None), ("h", "u/b", 3), ("h", "u/c", 3),
         ("h", "u/d", 1)],
        "host string, url string, pr int",
    )
    delays = spark.createDataFrame(
        [("h", 2.0)], "host string, crawl_delay double"
    )
    got = {r["url"]: r["fetch_at_s"]
           for r in fetch_schedule(frontier, delays,
                                   order_col="pr").collect()}
    assert got == {"u/b": 0.0, "u/c": 2.0, "u/d": 4.0, "u/a": 6.0}


def test_wet_record_framing(spark):
    """WET conversion record framing: headers, CRLF separators, and
    an OCTET-accurate Content-Length for non-ASCII text."""
    from zhtml_spark.sources import wet_record

    row = spark.createDataFrame(
        [("u1", "héllo")], "url string, text string"
    ).select(
        wet_record(F.col("url"), F.lit("2024-01-01T00:00:00Z"),
                   F.col("text")).alias("rec")
    ).collect()[0]
    rec = row["rec"]
    assert rec.startswith("WARC/1.0\r\nWARC-Type: conversion\r\n")
    assert "Content-Length: 6\r\n\r\nhéllo\r\n\r\n" in rec  # é = 2 octets


def test_hreflang_clusters_membership(spark):
    """Variants cluster under the smallest member URL; a duplicate
    x-default-style alternate does not inflate the distinct count; a
    page with no alternates is its own singleton cluster."""
    from zhtml_spark.textops import hreflang_clusters

    pages = spark.createDataFrame(
        [("u.de",), ("u.en",), ("solo",)], "url string"
    )
    alts = spark.createDataFrame(
        [("u.de", "u.en"), ("u.en", "u.de"),
         ("u.en", "u.de")],  # duplicate declaration
        "url string, alt string",
    )
    got = {r["url"]: (r["cluster_id"], r["n_members"])
           for r in hreflang_clusters(pages, alts).collect()}
    assert got == {
        "u.de": ("u.de", 2),
        "u.en": ("u.de", 2),
        "solo": ("solo", 1),
    }


def test_resolve_redirects_chains_cycles_and_conflicts(spark):
    """Chains collapse with true hop counts; a self-loop pins at the
    cap unresolved; a src with conflicting targets deterministically
    takes the lexicographic min."""
    from zhtml_spark.textops import resolve_redirects

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"),          # chain a->b->c
         ("s", "s"),                       # self-loop
         ("k", "z"), ("k", "m")],          # conflict: min -> m
        "src string, dst string",
    )
    got = {r["src"]: (r["final"], r["hops"], r["resolved"])
           for r in resolve_redirects(edges, max_hops=4).collect()}
    assert got == {
        "a": ("c", 2, True),
        "b": ("c", 1, True),
        "s": ("s", 4, False),
        "k": ("m", 1, True),
    }


def test_spans_to_text_visible_kinds_and_empty_doc(spark):
    """Link spans DROP (their anchor text already flows into the
    enclosing text span — rendering both would duplicate anchors);
    meta/media/structured-data drop; an all-dropped doc still yields
    a row with empty text (the empty-doc guarantee)."""
    from zhtml_spark.textops import spans_to_text

    spans = spark.createDataFrame(
        [
            ("a", 0, "heading", "H", None),
            ("a", 1, "text", "see docs here", None),
            ("a", 2, "link", "docs", "/x"),  # dup of the text flow
            ("a", 3, "media", "alt", "/i.png"),
            ("a", 4, "meta", "desc", "description"),
            ("a", 5, "microdata", "v", "0:p"),
            ("b", 0, "meta", "only meta", "robots"),
        ],
        "doc_id string, offset int, kind string, text string,"
        " media_ref string",
    )
    got = {r["doc_id"]: r["text"]
           for r in spans_to_text(spans).collect()}
    assert got == {"a": "H\nsee docs here", "b": ""}


def test_recrawl_candidates_edges(spark):
    """Same-day midnight lastmod does NOT beat an intraday capture;
    full-datetime lastmod compares at second granularity; multiple
    captures use the LATEST."""
    from zhtml_spark.textops import recrawl_candidates

    entries = spark.createDataFrame(
        [
            ("u1", "2024-01-15"),            # same day as capture
            ("u2", "2024-01-15T13:00:00Z"),  # after the 12:34 capture
            ("u3", None),                     # captured, no lastmod
            ("u4", "2020-01-01"),             # never captured
        ],
        "url string, lastmod string",
    )
    caps = spark.createDataFrame(
        [("u1", "20240115123456"), ("u2", "20240115123456"),
         ("u2", "20240110000000"), ("u3", "20240115123456")],
        "url string, ts14 string",
    )
    got = {r["url"]: r["reason"]
           for r in recrawl_candidates(entries, caps).collect()}
    assert got == {"u2": "modified", "u4": "new"}


def test_host_quota_sample_caps_and_determinism(spark):
    """Quota binds per host independently; under-quota hosts keep
    everything; two runs pick identical survivors (hash, no RNG)."""
    from zhtml_spark.textops import host_quota_sample

    docs = spark.createDataFrame(
        [(i, f"https://h{i % 2}.example/p{i}") for i in range(20)]
        + [(100, "https://tiny.example/only")],
        "doc_id long, url string",
    )
    out1 = sorted(
        r["doc_id"]
        for r in host_quota_sample(docs, max_per_host=3).collect()
    )
    out2 = sorted(
        r["doc_id"]
        for r in host_quota_sample(docs, max_per_host=3).collect()
    )
    assert out1 == out2 and len(out1) == 7  # 3 + 3 + 1
    assert 100 in out1


def test_kmeans_centroids_trains_and_is_deterministic(spark):
    """VERDICT r5 #4: fixed-iteration Lloyd in quantized integer
    space.  Three well-separated blobs -> 3 trained centroids land
    one per blob (every vector's nearest trained centroid is its own
    blob's), byte-deterministic across runs, and an unmatchable
    far-away init centroid goes empty (n_members=0) keeping its
    previous coords."""
    import pyspark.sql.functions as F

    from zhtml_spark.textops import ivf_topk, kmeans_centroids

    # 3 blobs of 30 vectors at (0,0), (10,10), (20,0) + jitter
    emb = spark.range(90).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 3 * 10 + (F.col("id") % 7) * 0.01 + 1.0)
            .cast("float"),
            (F.when(F.col("id") % 3 == 1, 10.0).otherwise(0.0)
             + (F.col("id") % 5) * 0.01 + 1.0).cast("float"),
        ).alias("embedding"),
    )
    out1 = sorted(
        (r["centroid_id"], tuple(r["centroid"]), r["n_members"])
        for r in kmeans_centroids(emb, n_centroids=3, iters=4)
        .collect()
    )
    out2 = sorted(
        (r["centroid_id"], tuple(r["centroid"]), r["n_members"])
        for r in kmeans_centroids(emb, n_centroids=3, iters=4)
        .collect()
    )
    assert out1 == out2
    assert sorted(n for _, _, n in out1) == [30, 30, 30]
    # each trained centroid sits inside one distinct blob
    blobs = sorted(
        (round(c[0] / 1e6), round(c[1] / 1e6)) for _, c, _ in out1
    )
    assert blobs == [(1, 1), (11, 11), (21, 1)]
    # trained centroids compose into ivf_topk
    cents = kmeans_centroids(emb, n_centroids=3, iters=4).select(
        "centroid_id",
        F.transform(
            "centroid", lambda x: x.cast("double") / F.lit(1e6)
        ).alias("c"),
    )
    got = ivf_topk(
        emb, n_queries=2, k=3, n_probe=1, centroids=cents
    ).collect()
    assert {r["query_id"] for r in got} == {0, 1}
    assert all(r["rank"] <= 3 for r in got)


def _kmeans_reference(vecs, k, iters):
    """Integer Lloyd written independently of the Spark plan: md5-48
    init, exact squared-L2 argmin with centroid-id tie-break, means by
    truncating division, empty clusters keep their coords."""
    import hashlib
    import math

    from zhtml_spark.textops import VEC_SCALE

    q = {i: [math.floor(x * VEC_SCALE) for x in v] for i, v in vecs.items()}

    def h(i):
        return int(hashlib.md5(f"kmeans|{i}".encode()).hexdigest()[:12], 16)

    cents = [list(q[i]) for i in sorted(q, key=lambda i: (h(i), i))[:k]]
    members = [0] * k
    for _ in range(iters):
        groups = [[] for _ in cents]
        for v in q.values():
            dist = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in cents]
            nearest = min(range(len(cents)), key=lambda c: (dist[c], c))
            groups[nearest].append(v)
        for c, g in enumerate(groups):
            members[c] = len(g)
            if g:
                sums = [sum(col) for col in zip(*g)]
                cents[c] = [
                    -(-s // len(g)) if s < 0 else s // len(g) for s in sums
                ]
    return sorted((c, tuple(v), members[c]) for c, v in enumerate(cents))


def test_kmeans_deep_run_matches_reference(spark):
    """Ten Lloyd rounds finish quickly (each round is materialized; a
    lazily unrolled plan doubled per round) and equal the independent
    integer reference, on vectors that keep reassigning for several
    rounds."""
    import random
    import time

    from zhtml_spark.textops import kmeans_centroids

    rng = random.Random(11)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(4)] for i in range(200)}
    emb = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    )
    t0 = time.perf_counter()
    got = sorted(
        (r["centroid_id"], tuple(r["centroid"]), r["n_members"])
        for r in kmeans_centroids(emb, n_centroids=5, iters=10).collect()
    )
    elapsed = time.perf_counter() - t0
    assert got == _kmeans_reference(vecs, 5, 10)
    assert got != _kmeans_reference(vecs, 5, 3)  # later rounds moved
    assert elapsed < 20, elapsed


def test_kmeans_empty_cluster_keeps_coords(spark):
    """A centroid that attracts no vectors keeps its previous coords
    with n_members=0 (deterministic on both engines by the same
    coalesce)."""
    import pyspark.sql.functions as F

    from zhtml_spark.textops import kmeans_centroids

    # 2 identical points + k=2: one centroid inherits both, the
    # other (seeded on the SAME point) ties away deterministically
    # and goes empty after round 1's tie-break on centroid_id.
    emb = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["centroid_id"]: (list(r["centroid"]), r["n_members"])
        for r in kmeans_centroids(emb, n_centroids=2, iters=2)
        .collect()
    }
    assert out[0] == ([1000000, 1000000], 3)
    assert out[1] == ([1000000, 1000000], 0)


def test_host_quota_two_phase_mega_host(spark):
    """VERDICT r5 #3: the salted two-phase top-k.  On a single
    mega-host corpus, phase 1 bounds the final per-host window's
    input to HOST_QUOTA_SALTS x max_per_host rows (the straggler
    killer), the plan shows the two-stage window shape, and survivors
    are IDENTICAL to a single-window reference (smallest salted md5-48
    of the key, key tie-break)."""
    import hashlib

    import pyspark.sql.functions as F

    from zhtml_spark.textops import (
        HOST_QUOTA_SALTS,
        host_quota_presample,
        host_quota_sample,
    )

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("https://mega.example/p"), F.col("id").cast("string")
        ).alias("url"),
    )
    # pre-window row bound: one host, quota=10 -> <= salts x 10 rows
    pre = host_quota_presample(docs, max_per_host=10)
    assert pre.count() <= HOST_QUOTA_SALTS * 10 < 5000
    two = sorted(
        r["doc_id"]
        for r in host_quota_sample(docs, max_per_host=10).collect()
    )

    def rank_key(i):
        h = hashlib.md5(f"quota|{i}".encode()).hexdigest()[:12]
        return int(h, 16), i

    ref = sorted(sorted(range(5000), key=rank_key)[:10])
    assert two == ref and len(two) == 10
    plan = (
        host_quota_sample(docs, max_per_host=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window") >= 2


def test_bpe_pair_stats_overlaps_and_gates(spark):
    """Overlapping pairs count ('aaa' → two 'aa'), frequency weights
    multiply, 1-char words contribute nothing, over-long words are
    gated, pairs are codepoint-based (non-ASCII safe)."""
    from zhtml_spark.textops import bpe_pair_stats

    docs = spark.createDataFrame(
        [("aaa ab ab x " + "q" * 80,), ("ab héé",)],
        "text string",
    )
    got = {
        r["pair"]: r["n"] for r in bpe_pair_stats(docs).collect()
    }
    assert got == {"aa": 2, "ab": 3, "hé": 1, "éé": 1}


def test_crawl_delay_group_selection(spark):
    """Specific group wins; specific presence WITHOUT a delay
    suppresses the wildcard's; self-disagreeing files take the MAX
    (slower = politer); garbage values are ignored."""
    from zhtml_spark.textops import crawl_delay, parse_robots

    docs = spark.createDataFrame(
        [
            ("a", "User-agent: bot\nCrawl-delay: 2\n\n"
                  "User-agent: *\nCrawl-delay: 9\n"),
            ("b", "User-agent: bot\nDisallow: /x\n\n"
                  "User-agent: *\nCrawl-delay: 9\n"),
            ("c", "User-agent: *\nCrawl-delay: 3\nCrawl-delay: 5\n"),
            ("d", "User-agent: *\nCrawl-delay: soon\n"),
            ("e", "User-agent: *\nDisallow: /y\n"),
        ],
        "host string, text string",
    )
    got = {
        r["host"]: r["crawl_delay"]
        for r in crawl_delay(parse_robots(docs), "Bot").collect()
    }
    assert got == {"a": 2.0, "b": None, "c": 5.0, "d": None,
                   "e": None}


def test_sitemap_entries_block_scoped_fields(spark):
    """Optional fields bind to THEIR block's loc (a bare entry between
    annotated ones must not inherit a neighbor's lastmod); garbage
    priority → NULL; multiline blocks parse ((?s) scope); ``&amp;``
    decodes and a padded ``<loc>`` trims; sitemapindex blocks carry
    ``is_index``; an empty urlset yields no rows."""
    from zhtml_spark.textops import sitemap_entries

    docs = spark.createDataFrame(
        [
            ("a",
             "<urlset>\n<url>\n  <loc>https://x/p1</loc>\n"
             "  <lastmod>2024-02-01</lastmod>\n"
             "  <changefreq>weekly</changefreq>\n"
             "  <priority>0.5</priority>\n</url>\n"
             "<url><loc>https://x/p2</loc></url>\n"
             "<url><loc>https://x/p3</loc>"
             "<priority>soon</priority></url>\n</urlset>"),
            ("b", '<urlset><url><loc> https://x/p?a=1&amp;b=2 </loc>'
                  "</url></urlset>"),
            ("c", "<sitemapindex><sitemap><loc>https://x/sub.xml</loc>"
                  "</sitemap></sitemapindex>"),
            ("d", "<urlset></urlset>"),  # no locs -> no rows
        ],
        "host string, text string",
    )
    rows = {
        r["url"]: (r["host"], r["lastmod"], r["changefreq"],
                   r["priority"], r["is_index"])
        for r in sitemap_entries(docs).collect()
    }
    assert rows == {
        "https://x/p1": ("a", "2024-02-01", "weekly", 0.5, False),
        "https://x/p2": ("a", None, None, None, False),
        "https://x/p3": ("a", None, None, None, False),
        "https://x/p?a=1&b=2": ("b", None, None, None, False),
        "https://x/sub.xml": ("c", None, None, None, True),
    }


def test_dedup_by_canonical_collapses_pairs(spark):
    from zhtml_spark.textops import dedup_by_canonical

    docs = spark.createDataFrame(
        [
            (1, "https://h/a?x=1", ""),          # no canonical
            (2, "https://h/a-copy", "https://h/a?x=1"),  # -> same key
            (3, "https://h/b", None),            # null canonical
        ],
        "doc_id long, url string, canonical string",
    )
    rows = sorted(
        (r["doc_id"], r["norm_url"])
        for r in dedup_by_canonical(docs).collect()
    )
    assert rows == [(1, "https://h/a?x=1"), (3, "https://h/b")]


def test_robots_gate_allow_all_group_suppresses_star(spark):
    """Code-review r3b: a specific group that is allow-everything
    ('Disallow:' with empty value, or crawl-delay only) must still
    suppress the * group per RFC 9309."""
    from zhtml_spark.textops import parse_robots, robots_gate

    txts = [
        ("h1", "User-agent: CCBot\nDisallow:\n\nUser-agent: *\nDisallow: /\n"),
        ("h2", "User-agent: CCBot\nCrawl-delay: 5\n\nUser-agent: *\nDisallow: /\n"),
        ("h3", "User-agent: *\nDisallow: /\n"),
        # an entirely EMPTY matched group (only a sitemap follows)
        # still means allow-everything for that agent (r3c)
        ("h4", "User-agent: CCBot\nSitemap: https://h4/map.xml\n\n"
               "User-agent: *\nDisallow: /\n"),
    ]
    rules = parse_robots(
        spark.createDataFrame(txts, "host string, text string")
    )
    urls = spark.createDataFrame(
        [("h1", "https://h1/x"), ("h2", "https://h2/x"),
         ("h3", "https://h3/x"), ("h4", "https://h4/x")],
        "host string, url string",
    )
    got = {
        r["host"]: r["allowed"]
        for r in robots_gate(urls, rules, "CCBot").collect()
    }
    assert got == {"h1": True, "h2": True, "h3": False, "h4": True}


def test_parse_robots_strips_bom(spark):
    from zhtml_spark.textops import parse_robots

    rules = parse_robots(
        spark.createDataFrame(
            [("h1", "﻿User-agent: *\nDisallow: /private\n")],
            "host string, text string",
        )
    ).collect()
    assert sorted(
        (r["agent"], r["directive"], r["value"]) for r in rules
    ) == [
        ("*", "disallow", "/private"),
        ("*", "user-agent", ""),
    ]


def test_dedup_by_canonical_resolves_relative(spark):
    """Code-review r3b: relative canonicals resolve against the page
    URL — '/index' on different hosts must NOT collapse."""
    from zhtml_spark.textops import dedup_by_canonical

    docs = spark.createDataFrame(
        [
            (1, "https://a.com/x?utm=1", "/index"),
            (2, "https://b.com/y", "/index"),
            (3, "https://a.com/z", "index2.html"),
        ],
        "doc_id long, url string, canonical string",
    )
    rows = sorted(
        (r["doc_id"], r["norm_url"])
        for r in dedup_by_canonical(docs).collect()
    )
    assert rows == [
        (1, "https://a.com/index"),
        (2, "https://b.com/index"),
        (3, "https://a.com/index2.html"),
    ]


def test_dedup_by_canonical_unresolvable_falls_back(spark):
    """Code-review r3c: a canonical that cannot resolve to an
    absolute URL must never become a (cross-host) group key."""
    from zhtml_spark.textops import dedup_by_canonical

    docs = spark.createDataFrame(
        [
            (1, "https://a.com/list", "?page=2"),
            (2, "https://b.com/blog", "?page=2"),
            (3, "https://c.com/page", "#top"),
        ],
        "doc_id long, url string, canonical string",
    )
    rows = dedup_by_canonical(docs).collect()
    # three distinct hosts -> three survivors, each host-qualified
    assert len(rows) == 3
    for r in rows:
        assert r["norm_url"].startswith("https://")


def test_line_dedup_c4_semantics(spark):
    from zhtml_spark.textops import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "ACCEPT COOKIES\nunique one\n\nshared footer"),
            (2, "ACCEPT COOKIES\nunique two\nshared footer"),
            (3, "ACCEPT COOKIES\nshared footer"),  # loses everything
            (4, "  ACCEPT COOKIES \nkept: trim-insensitive identity"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["text"] for r in line_dedup(docs).collect()
    }
    # duplicated lines removed everywhere; blank lines survive;
    # trim-differing copies count as the same line; empty docs remain
    assert got == {
        1: "unique one\n",
        2: "unique two",
        3: "",
        4: "kept: trim-insensitive identity",
    }


def test_absolutize_url_differential_vs_urljoin(spark):
    """Differential check against an INDEPENDENT reference:
    urllib.parse.urljoin (RFC 3986 reference resolution).  Covers the
    supported input space — absolute/protocol-relative/root-relative/
    relative refs incl. ./ and ../ chains with queries and fragments
    on the base.  Excluded by documented approximation: ?query/#frag-
    only refs and ../ underflow past the root."""
    from urllib.parse import urljoin

    from zhtml_spark.textops import absolutize_url

    bases = [
        "https://host.example/a/b/page.html",
        "https://host.example/a/b/page.html?q=1#frag",
        "http://u:p@host.example:8080/x/y/z/",
        "https://host.example/",
        "https://host.example/one.html",
    ]
    refs = [
        "img.png", "./img.png", "sub/dir/img.png", "../up.png",
        "../../up2.png", "a/../b.png", "./a/./b/../c.png",
        "/rooted/x.png", "//cdn.example/c.js",
        "https://abs.example/v.png", "x/y/../../z.png",
        "m.png?k=v", "m.png#frag", "../d/e.png?a=1#b",
        # trailing bare dot segments (r3d: href=".." parent links)
        "..", ".", "x/..", "a/b/.", "../..",
        # empty ref = fragment-stripped base, query KEPT (ADVICE r3)
        "",
    ]
    # stdlib quirk: urljoin(base, "") returns base WITH its fragment
    # (`if not url: return base`); RFC 3986 §5.2.2 and the WHATWG URL
    # parser drop it (new URL('', 'http://a/b#f') → 'http://a/b') —
    # the engine follows the spec, so empty refs expect the
    # fragment-stripped base rather than urljoin's answer
    cases = [
        (b, r,
         b.split("#", 1)[0] if r == "" else urljoin(b, r))
        for b in bases for r in refs
    ]  # full space — underflow clamps like urljoin since the r3 pass
    rows = spark.createDataFrame(
        cases, "base string, ref string, want string"
    ).select(
        "base", "ref", "want",
        absolutize_url(F.col("base"), F.col("ref")).alias("got"),
    ).collect()
    bad = [(r["base"], r["ref"], r["got"], r["want"])
           for r in rows if r["got"] != r["want"]]
    assert not bad, bad[:5]


def test_parse_robots_differential_vs_reference(spark):
    """Differential check: an independent 25-line pure-Python RFC 9309
    group parser over 120 seeded random robots files must agree with
    the Spark implementation row-for-row."""
    import random

    def reference(text):
        rows = []
        agents: list[str] = []
        all_agents: set[str] = set()
        seen_directive = True  # rules before any UA line are dropped
        for line in text.lstrip("﻿").split("\n"):
            body = line.split("#", 1)[0]
            if ":" not in body:
                continue
            key, _, val = body.partition(":")
            key = key.strip().lower()
            val = val.strip()
            if not key.replace("-", "").isalpha():
                continue
            if key == "user-agent":
                if seen_directive:
                    agents = []
                    seen_directive = False
                agents.append(val.lower())
                all_agents.add(val.lower())
            elif key == "sitemap":
                rows.append((None, "sitemap", val))
                seen_directive = True  # separator (r3d symmetric)
            elif key in ("disallow", "allow", "crawl-delay"):
                seen_directive = True
                for a in agents:
                    rows.append((a, key, val))
            else:
                seen_directive = True  # unknown keys separate too
        for a in all_agents:
            rows.append((a, "user-agent", ""))
        return set(rows)

    rng = random.Random(20260817)
    vocab_lines = [
        "User-agent: BotA", "user-agent: botb", "USER-AGENT: *",
        "Unknown: v\nUser-agent: BotC\nUnknown: w",
        "Disallow: /private", "Disallow:", "Allow: /private/ok",
        "allow: /a", "Crawl-delay: 3", "Sitemap: https://h/m.xml",
        "# a comment line", "", "   ", "Disallow: /x  # inline",
        "Unknown: v",
    ]
    texts = []
    for i in range(120):
        n = rng.randint(1, 10)
        texts.append(
            (f"h{i}", "\n".join(rng.choice(vocab_lines)
                                for _ in range(n)))
        )
    from zhtml_spark.textops import parse_robots

    got_rows = parse_robots(
        spark.createDataFrame(texts, "host string, text string")
    ).collect()
    got: dict[str, set] = {}
    for r in got_rows:
        got.setdefault(r["host"], set()).add(
            (r["agent"], r["directive"], r["value"])
        )
    key = lambda t: (t[0] or "", t[1], t[2])
    bad = []
    for host, text in texts:
        want = reference(text)
        if got.get(host, set()) != want:
            bad.append((host, text,
                        sorted(got.get(host, set()), key=key),
                        sorted(want, key=key)))
    assert not bad, bad[:2]


def test_spans_to_markdown_kinds(spark):
    from zhtml_spark.textops import spans_to_markdown

    spans = spark.createDataFrame(
        [
            ("d", 0, "meta", "My Title", "title"),      # dropped
            ("d", 1, "heading", "Title", None),
            ("d", 2, "text", "para", None),
            ("d", 3, "list", "item", None),
            ("d", 4, "code", "x = 1", None),
            ("d", 5, "table", "cell", None),
            ("d", 6, "media", "fig", "i.png"),
            ("d", 7, "link", "anchor", "/x"),
        ],
        "doc_id string, offset int, kind string, text string, "
        "media_ref string",
    )
    got = spans_to_markdown(spans).collect()[0]["markdown"]
    assert got == (
        "# Title\n\npara\n\n- item\n\n```\nx = 1\n```\n\n"
        "| cell |\n\n![fig](i.png)\n\n[anchor](/x)"
    )


def test_parse_robots_sitemap_and_unknown_are_separators(spark):
    """Code-review r3d settled the asymmetry symmetrically: sitemap
    and unknown lines SEPARATE groups like rules do — A's group ends
    at the sitemap (staying an empty allow-all group) and only B gets
    the Disallow."""
    from zhtml_spark.textops import parse_robots

    txt = ("User-agent: A\nSitemap: https://h/m.xml\n"
           "User-agent: B\nUnknown: v\n"
           "User-agent: C\nDisallow: /p\n")
    rules = parse_robots(
        spark.createDataFrame([("h1", txt)], "host string, text string")
    ).collect()
    got = sorted(
        (r["agent"] or "<null>", r["directive"], r["value"])
        for r in rules
    )
    assert got == sorted([
        ("c", "disallow", "/p"),
        ("a", "user-agent", ""),
        ("b", "user-agent", ""),
        ("c", "user-agent", ""),
        ("<null>", "sitemap", "https://h/m.xml"),
    ])


def test_robots_gate_wildcards_rfc9309(spark):
    """Full RFC 9309 matching: '*' wildcards and trailing '$' end
    anchor, with longest-pattern precedence."""
    from zhtml_spark.textops import parse_robots, robots_gate

    txt = (
        "User-agent: *\n"
        "Disallow: /*.pdf$\n"
        "Disallow: /private*/data\n"
        "Allow: /private-ok/data\n"
        "Disallow: /exact$\n"
    )
    rules = parse_robots(
        spark.createDataFrame([("h", txt)], "host string, text string")
    )
    urls = spark.createDataFrame(
        [
            ("h", "https://h/docs/report.pdf"),      # *.pdf$ -> deny
            ("h", "https://h/docs/report.pdf.html"), # not at end -> ok
            ("h", "https://h/private123/data"),      # wildcard -> deny
            # longer allow beats the wildcard disallow
            ("h", "https://h/private-ok/data"),
            ("h", "https://h/exact"),                # anchored -> deny
            ("h", "https://h/exactly"),              # $ mismatch -> ok
        ],
        "host string, url string",
    )
    got = {
        r["url"]: r["allowed"]
        for r in robots_gate(urls, rules, "CCBot").collect()
    }
    assert got == {
        "https://h/docs/report.pdf": False,
        "https://h/docs/report.pdf.html": True,
        "https://h/private123/data": False,
        "https://h/private-ok/data": True,
        "https://h/exact": False,
        "https://h/exactly": True,
    }


def test_embedding_dedup_survivors_dominance(spark):
    from zhtml_spark.textops import embedding_dedup_survivors

    # vec_ids start at 0 so BOTH centroids (vec_id < 2) exist and the
    # IVF bucketing path is genuinely two-bucket (code-review r3e)
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.999, 0.01]),   # near-dup of 0 -> dominated
            (3, [0.01, 0.999]),   # near-dup of 1 -> dominated
        ],
        "vec_id long, embedding array<double>",
    )
    got = sorted(
        r["vec_id"]
        for r in embedding_dedup_survivors(
            emb, threshold=0.9, n_centroids=2
        ).collect()
    )
    assert got == [0, 1]


def test_robots_gate_query_rules_and_star_cap(spark):
    """Code-review r3e: rules match path+query (RFC 9309 §2.2.2), and
    rules with >2 stars are ignored (Java-regex backtracking guard —
    fail-open, never a stalled stage)."""
    import time

    from zhtml_spark.textops import parse_robots, robots_gate

    txt = (
        "User-agent: *\n"
        "Disallow: /*?sessionid=\n"
        "Disallow: /a*a*a*a*a*a*a*a*a*a*a*a*a$\n"
    )
    rules = parse_robots(
        spark.createDataFrame([("h", txt)], "host string, text string")
    )
    urls = spark.createDataFrame(
        [
            ("h", "https://h/page?sessionid=1"),   # query rule -> deny
            ("h", "https://h/page?other=1"),       # no match -> allow
            ("h", "https://h/" + "a" * 45 + "b"),  # capped rule ignored
        ],
        "host string, url string",
    )
    t0 = time.time()
    got = {
        r["url"]: r["allowed"]
        for r in robots_gate(urls, rules, "CCBot").collect()
    }
    assert time.time() - t0 < 30  # no catastrophic backtracking
    assert got == {
        "https://h/page?sessionid=1": False,
        "https://h/page?other=1": True,
        "https://h/" + "a" * 45 + "b": True,
    }


def test_embed_hashing_semantics_and_plan(spark):
    """Hashing-trick embeddings (r5): unit L2 norm, deterministic,
    zero vector for empty text, and the plan is pure JVM (no Python
    stage)."""
    import math

    from zhtml_spark.textops import embed_hashing

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "alpha beta gamma alpha"),
         (3, "totally different words here"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["embedding"]
           for r in embed_hashing(docs, dim=16).collect()}
    assert all(len(v) == 16 for v in got.values())
    # identical text -> identical vector; unit norm (or zero for empty)
    assert got[1] == got[2]
    assert abs(math.sqrt(sum(x * x for x in got[1])) - 1.0) < 1e-12
    assert got[4] == [0.0] * 16
    assert got[1] != got[3]
    plan = embed_hashing(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert_jvm_only(plan)


def test_noindex_gate_channels_and_near_misses(spark):
    """Both robots channels exclude; near-miss tokens must not:
    'nonewidget'/'nofollow' are not 'none'/'noindex', agent-scoped
    header directives ('googlebot: noindex') conservatively exclude,
    and a doc with several robots metas excludes if ANY says no."""
    from zhtml_spark.textops import noindex_gate

    records = spark.createDataFrame(
        [
            ("d0", "nofollow, nonewidget"),   # near-misses only
            ("d1", "noindex"),
            ("d2", ""),                        # meta says no
            ("d3", "none"),                    # both channels
            ("d4", "googlebot: noindex"),      # agent-scoped
            ("d5", None),                      # null header tolerated
        ],
        "warc_url string, http_xrobots string",
    )
    spans = spark.createDataFrame(
        [
            ("d0", "meta", "index,follow", "robots"),
            ("d2", "meta", "all", "robots"),
            ("d2", "meta", "NOINDEX", "robots"),  # any-of-many + case
            ("d3", "meta", "noindex", "robots"),
            ("d5", "meta", "noindex", "description"),  # wrong key
            ("d5", "text", "noindex appears in prose", None),
        ],
        "doc_id string, kind string, text string, media_ref string",
    )
    out = {
        r["doc_id"]: (r["indexable"], r["reason"])
        for r in noindex_gate(records, spans).collect()
    }
    assert out == {
        "d0": (True, ""),
        "d1": (False, "header"),
        "d2": (False, "meta"),
        "d3": (False, "header"),
        "d4": (False, "header"),
        "d5": (True, ""),
    }


def test_resolve_links_with_base(spark):
    """HTML §4.2.3: FIRST base wins; a relative base resolves against
    the page URL first; docs with no base fall back to the page
    URL."""
    from zhtml_spark.textops import resolve_links_with_base

    spans = spark.createDataFrame(
        [
            ("d0", 0, "meta", "/deep/", "base"),
            ("d0", 1, "meta", "/WRONG/", "base"),   # second: loses
            ("d0", 2, "link", "go", "x.html"),
            ("d1", 0, "link", "go", "y.html"),       # no base
            ("d2", 0, "meta", "sub/", "base"),       # relative base
            ("d2", 1, "link", "go", "z.html"),
        ],
        "doc_id string, offset int, kind string, text string,"
        " media_ref string",
    )
    pages = spark.createDataFrame(
        [("d0", "https://a.x/p/q.html"),
         ("d1", "https://b.x/p/q.html"),
         ("d2", "https://c.x/p/q.html")],
        "doc_id string, page_url string",
    )
    out = {
        (r["doc_id"], r["href"]): r["url"]
        for r in resolve_links_with_base(spans, pages).collect()
    }
    assert out == {
        ("d0", "x.html"): "https://a.x/deep/x.html",
        ("d1", "y.html"): "https://b.x/p/y.html",
        ("d2", "z.html"): "https://c.x/p/sub/z.html",
    }


def test_unified_article_meta_precedence_chain(spark):
    """A doc carrying ALL channels resolves each field from the
    highest-ranked channel that has it; a doc with no metadata gets
    nulls but still one row."""
    from zhtml_spark.textops import unified_article_meta

    spans = spark.createDataFrame(
        [
            # d0: every channel present — jsonld wins everything
            ("d0", 0, "jsonld",
             '{"headline":"J","datePublished":"2020-01-01",'
             '"author":{"name":"JA"}}', None),
            ("d0", 1, "microdata", "M", "0:headline"),
            ("d0", 2, "rdfa", "R", "0:headline"),
            ("d0", 3, "meta", "O", "og:title"),
            # d1: jsonld lacks author -> microdata author fills it;
            # headline only in meta
            ("d1", 0, "jsonld", '{"datePublished":"2021-02-02"}',
             None),
            ("d1", 1, "microdata", "MA", "0:author.name"),
            ("d1", 2, "meta", "OT", "og:title"),
            # nested-item headline must NOT count as the doc headline
            ("d1", 3, "microdata", "nested", "0:review.headline"),
            # d2: nothing but body text
            ("d2", 0, "text", "plain body", None),
        ],
        "doc_id string, offset int, kind string, text string,"
        " media_ref string",
    )
    out = {
        r["doc_id"]: (r["headline"], r["published"], r["author"])
        for r in unified_article_meta(spans).collect()
    }
    assert out == {
        "d0": ("J", "2020-01-01", "JA"),
        "d1": ("OT", "2021-02-02", "MA"),
        "d2": (None, None, None),
    }


def test_lang_id_v2_discriminates_held_out(spark):
    """Trigram NB (VERDICT r5 #7): held-out sentences (not in the
    seed corpora) classify correctly, sub-trigram docs read 'und',
    the plan stays JVM-side, and the pass composes with
    quality_filter (gate -> classify in one plan)."""
    import pyspark.sql.functions as F

    from zhtml_spark.textops import lang_id_v2, quality_filter

    docs = spark.createDataFrame(
        [
            (0, "the small house by the river is where the "
                "neighbours meet in the evening to talk about the "
                "weather and the harvest"),
            (1, "los precios de la energía subieron durante el "
                "invierno según el informe del gobierno y la gente "
                "habla de ello en la calle"),
            (2, "die preise für energie sind im winter laut dem "
                "bericht der regierung gestiegen und die leute "
                "sprechen auf der straße darüber"),
            (3, "ab"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["predicted_lang"]
        for r in lang_id_v2(docs).collect()
    }
    assert got == {0: "en", 1: "es", 2: "de", 3: "und"}
    composed = lang_id_v2(quality_filter(docs, min_tokens=5))
    got2 = {
        r["doc_id"]: r["predicted_lang"] for r in composed.collect()
    }
    assert got2 == {0: "en", 1: "es", 2: "de"}  # doc 3 gated out
    plan = (
        lang_id_v2(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert_jvm_only(plan)


def test_trigram_lm_score_orders_text_quality(spark):
    """CCNet-style LM gate: natural English scores above keyboard
    mash under the en model; sub-trigram docs score NULL with
    n_trigrams=0; the plan stays JVM-side."""
    import pyspark.sql.functions as F

    from zhtml_spark.textops import trigram_lm_score

    docs = spark.createDataFrame(
        [
            (0, "the children walk to the school in the morning and "
                "talk about the rain"),
            (1, "xq zvk jjw qqp zzx kvq wxz qjq vvz xkx zqw jxv"),
            (2, "ab"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in trigram_lm_score(docs).collect()}
    assert got[0]["lm_score"] > got[1]["lm_score"]
    assert got[2]["lm_score"] is None and got[2]["n_trigrams"] == 0
    assert got[0]["n_trigrams"] > 0
    plan = (
        trigram_lm_score(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert_jvm_only(plan)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        trigram_lm_score(docs, lang="xx")


def test_dedup_against_index_incremental(spark):
    """Incremental dedup (r6): exact and near copies of the existing
    corpus collide with its band index and drop; novel docs survive;
    the existing corpus itself is never touched.  min_bands raises
    the collision bar."""
    import pyspark.sql.functions as F

    from zhtml_spark.textops import (
        dedup_against_index,
        minhash_band_index,
    )

    base = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta epsilon zeta eta theta "
                f"iota kappa doc {i} lambda mu nu xi")
            for i in range(20)
        ],
        "doc_id long, text string",
    )
    index = minhash_band_index(base, n=3, bands=4, rows=2)
    new_batch = spark.createDataFrame(
        [
            # exact copy of doc 3
            (103, "alpha beta gamma delta epsilon zeta eta theta "
                  "iota kappa doc 3 lambda mu nu xi"),
            # near copy of doc 7 (one appended token)
            (107, "alpha beta gamma delta epsilon zeta eta theta "
                  "iota kappa doc 7 lambda mu nu xi zq"),
            # novel
            (200, "completely different words about rivers and "
                  "mountains and the weather in autumn"),
        ],
        "doc_id long, text string",
    )
    survivors = sorted(
        r["doc_id"]
        for r in dedup_against_index(
            new_batch, index, n=3, bands=4, rows=2
        ).collect()
    )
    assert 200 in survivors and 103 not in survivors
    # the near copy shares every band with high probability at r=2 on
    # a 15-word doc with 1 changed shingle region; at minimum it
    # collides in one band here (deterministic given the seeds)
    assert 107 not in survivors
    # min_bands above the collision count keeps everything
    all_kept = sorted(
        r["doc_id"]
        for r in dedup_against_index(
            new_batch, index, n=3, bands=4, rows=2, min_bands=5
        ).collect()
    )
    assert all_kept == [103, 107, 200]


def test_dedup_against_persisted_index_plan(spark, tmp_path):
    """Persisted-index proof (VERDICT r6 #7): the band index written
    BUCKETED on (band, band_sig) joins the new batch with NO exchange
    on the index side — the scan's bucketing satisfies the join
    distribution, so incremental-dedup shuffle cost is bounded by the
    BATCH, never the corpus.  Results identical to the in-plan
    index."""
    from zhtml_spark.textops import dedup_against_index, minhash_band_index

    base = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta epsilon zeta eta theta "
                f"iota kappa doc {i} lambda mu nu xi")
            for i in range(20)
        ],
        "doc_id long, text string",
    )
    index = minhash_band_index(base, n=3, bands=4, rows=2)
    (
        index.write.mode("overwrite")
        .bucketBy(8, "band", "band_sig")
        .sortBy("band", "band_sig")
        .option("path", str(tmp_path / "band_index"))
        .saveAsTable("band_index_t", format="parquet")
    )
    try:
        persisted = spark.table("band_index_t")
        new_batch = spark.createDataFrame(
            [
                (103, "alpha beta gamma delta epsilon zeta eta theta "
                      "iota kappa doc 3 lambda mu nu xi"),
                (200, "completely different words about rivers and "
                      "mountains and the weather in autumn"),
            ],
            "doc_id long, text string",
        )
        # force the join path (a tiny test index would broadcast,
        # which is the right call at THIS size but hides the shape
        # the 10^12-doc claim needs)
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = dedup_against_index(
                new_batch, persisted, n=3, bands=4, rows=2
            )
            got = sorted(r["doc_id"] for r in out.collect())
            assert got == [200]
            plan = (
                out._jdf.queryExecution().executedPlan().toString()
            )
            # same pipeline over the same files read WITHOUT the
            # bucketing metadata — the control for the exchange count
            out2 = dedup_against_index(
                new_batch,
                spark.read.parquet(str(tmp_path / "band_index")),
                n=3, bands=4, rows=2,
            )
            got2 = sorted(r["doc_id"] for r in out2.collect())
            assert got2 == [200]
            plan2 = (
                out2._jdf.queryExecution().executedPlan().toString()
            )
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", old_thresh
            )
        # the index-side scan reads its bucketing, and the index
        # side's distinct + join run ON the scan's partitioning: the
        # bucketed plan drops the index-side Exchange the unbucketed
        # control pays (the remaining exchanges belong to the BATCH
        # side — the per-crawl bounded cost)
        assert "Bucketed: true" in plan
        n_ex_bucketed = plan.count("Exchange")
        n_ex_plain = plan2.count("Exchange")
        assert n_ex_bucketed < n_ex_plain, (
            f"bucketing saved no exchange: {n_ex_bucketed} vs "
            f"{n_ex_plain}"
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS band_index_t")


def test_lang_gate_fused_one_pass(spark):
    """Fused language gate (r6): held-out en passes, es/de drop on
    prediction with lang='en' but pass with langs covering them,
    keyboard mash drops on the LM floor under its own predicted
    language, sub-trigram docs drop, and the physical plan evaluates
    the md5 trigram chain exactly ONCE (the predicate-pushdown
    re-evaluation guard — 6x when it regresses)."""
    import pyspark.sql.functions as F

    from zhtml_spark.textops import lang_gate

    docs = spark.createDataFrame(
        [
            (0, "the small house by the river is where the "
                "neighbours meet in the evening to talk about the "
                "weather and the harvest"),
            (1, "los precios de la energía subieron durante el "
                "invierno según el informe del gobierno y la gente "
                "habla de ello en la calle"),
            (2, "die preise für energie sind im winter laut dem "
                "bericht der regierung gestiegen und die leute "
                "sprechen auf der straße darüber"),
            (3, "xq zvk jjw qqp zzx kvq wxz qjq vvz xkx zqw jxv "
                "qzx vkq wjx zqv kxz qwj"),
            (4, "ab"),
        ],
        "doc_id long, text string",
    )
    only_en = sorted(
        r["doc_id"] for r in lang_gate(docs).collect()
    )
    assert only_en == [0]
    all_three = sorted(
        r["doc_id"]
        for r in lang_gate(docs, langs=("en", "es", "de")).collect()
    )
    assert all_three == [0, 1, 2]  # mash + short still drop
    # single-evaluation guard on BOTH hash engines (r6 found the 6×
    # pushdown re-evaluation; the engine default is xxhash64 since r7)
    plan = (
        lang_gate(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("xxhash64(") == 1, "trigram chain re-evaluated"
    assert_jvm_only(plan)
    plan_md5 = (
        lang_gate(docs, hash_fn="md5")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan_md5.count("md5(") == 1, "trigram chain re-evaluated"
    # output schema is the input minus plumbing
    assert lang_gate(docs).columns == ["doc_id", "text"]


def test_langid_xxh64_matches_spark(spark):
    """The pure-Python XXH64 mirror (langid_model.xxh64) must equal
    Spark's xxhash64(col) — seed 42 over UTF-8 bytes — on every byte
    path: <4, 4-7, 8-31 (8-byte + 4-byte + tail-byte lanes), and
    >=32 (stripe path), including multi-byte UTF-8 and CJK."""
    from zhtml_spark.langid_model import xxh64

    samples = [
        "a", "abc", "the", "abcd", "abcdefg", "abcdefgh",
        "straße", "mañana", "犬は公園", "早上邻居",
        "день недели", "the quick brown fox jumps over the lazy dog",
        "犬は公園を走り、子どもたちはボールで遊びながら話します",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    import pyspark.sql.functions as F

    got = {
        r["s"]: r["h"]
        for r in df.select("s", F.xxhash64("s").alias("h")).collect()
    }
    for s in samples:
        assert got[s] == xxh64(s.encode("utf-8")), s


def test_lang_id_v2_ten_language_confusion(spark):
    """Breadth gate (VERDICT r6 #5): every held-out sentence (one per
    seed language, incl. Cyrillic + the two CJK scripts) classifies
    as its own language on BOTH hash engines, and the Spark fold
    matches the pure-Python reference scorer."""
    from zhtml_spark.langid_model import HELD_OUT, predict
    from zhtml_spark.textops import lang_id_v2

    langs = sorted(HELD_OUT)
    assert len(langs) >= 8 and {"ja", "zh", "ru"} <= set(langs)
    df = spark.createDataFrame(
        [(i, HELD_OUT[lg]) for i, lg in enumerate(langs)],
        "doc_id long, text string",
    )
    for hf in ("md5", "xxhash64"):
        got = {
            r["doc_id"]: r["predicted_lang"]
            for r in lang_id_v2(df, hash_fn=hf).collect()
        }
        assert got == {i: lg for i, lg in enumerate(langs)}, hf
        # Spark fold == Python reference argmax
        for i, lg in enumerate(langs):
            assert predict(HELD_OUT[lg], hash_fn=hf) == got[i]


def test_lang_gate_hash_engines_agree(spark):
    """The winnow-style hash split (VERDICT r6 #4): md5 and xxhash64
    weight tables are trained separately, but gate DECISIONS agree on
    the seed + held-out corpora (predictions, not scores — the
    pytest the VERDICT asked for)."""
    from zhtml_spark.langid_model import HELD_OUT, SEED_TEXTS
    from zhtml_spark.textops import lang_gate

    rows = [(i, t) for i, t in enumerate(SEED_TEXTS.values())]
    rows += [
        (100 + i, t) for i, t in enumerate(HELD_OUT.values())
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    floors = {lg: -8_250_000 for lg in SEED_TEXTS}
    out = {}
    for hf in ("md5", "xxhash64"):
        out[hf] = sorted(
            r["doc_id"]
            for r in lang_gate(
                df,
                langs=tuple(sorted(SEED_TEXTS)),
                min_lm_score=floors,
                hash_fn=hf,
            ).collect()
        )
    assert out["md5"] == out["xxhash64"]
    assert out["md5"] == sorted(r[0] for r in rows)  # all natural text passes


def test_lang_gate_per_language_floors(spark):
    """Per-language floor dict: ja held-out passes only with a
    CJK-calibrated floor; a dict missing an accepted language's
    floor raises instead of silently defaulting."""
    import pytest as _pytest

    from zhtml_spark.langid_model import HELD_OUT
    from zhtml_spark.textops import lang_gate

    df = spark.createDataFrame(
        [(0, HELD_OUT["en"]), (1, HELD_OUT["ja"])],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"]
        for r in lang_gate(
            df,
            langs=("en", "ja"),
            min_lm_score={"en": -8_000_000, "ja": -8_250_000},
        ).collect()
    )
    assert got == [0, 1]
    # a single too-tight floor drops ja but keeps en
    tight = sorted(
        r["doc_id"]
        for r in lang_gate(
            df, langs=("en", "ja"), min_lm_score=-7_900_000
        ).collect()
    )
    assert tight == [0]
    with _pytest.raises(ValueError):
        lang_gate(
            df, langs=("en", "ja"), min_lm_score={"en": -8_000_000}
        )


def _pagerank_reference(edges, iters):
    """The integer PageRank recurrence over a plain dict, written
    independently of the Spark plan."""
    scale, d = 10**12, 85
    e = sorted(set((s, t) for s, t in edges if s != t))
    nodes = sorted(set([s for s, _ in e] + [t for _, t in e]))
    outd: dict[int, int] = {}
    for s, _ in e:
        outd[s] = outd.get(s, 0) + 1
    n = len(nodes)
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0 for v in nodes}
        for s, t in e:
            contrib[t] += r[s] // outd[s]
        dang = sum(r[v] for v in nodes if v not in outd)
        tele = ((scale * (100 - d)) // 100) // n
        r = {
            v: tele + (d * (contrib[v] + dang // n)) // 100
            for v in nodes
        }
    return r


def test_pagerank_matches_independent_integer_reference(spark):
    """Spark's integer PageRank vs a dict-based reference implementing
    the SAME recurrence independently — including a dangling node (no
    out-edges) so the 1-row redistribution aggregate is exercised, and
    exact mass conservation (teleport + damping shares sum back to
    ~scale)."""
    from zhtml_spark.textops import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0), (1, 5), (1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank_q"]
        for r in pagerank(df, iters=3).collect()
    }
    r = _pagerank_reference(edges, 3)
    assert got == r
    # integer dust only: each div truncates < 1 unit per node/edge
    n, n_edges = len(r), len({(s, t) for s, t in edges if s != t})
    assert abs(sum(got.values()) - 10**12) < n * (n_edges + 3)
    # the hub (two in-links incl. the dangling redistribution target)
    # outranks the leaf that only receives teleport mass
    assert got[0] > got[3]


def test_pagerank_contract_checks(spark):
    import pytest as _pytest

    from zhtml_spark.textops import pagerank

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with _pytest.raises(ValueError):
        pagerank(df, iters=0)


def test_rebalance_sample_rates_and_determinism(spark):
    """The sampler solves T = min_g(count_g * 10000 div share_g) and
    keeps each group near share_g * T: with group b the binding
    constraint its rate must be 10^6 (keep everything) and group a
    downsampled to ~its share; reruns are identical (no RNG)."""
    from zhtml_spark.textops import rebalance_sample

    rows = [(i, "a" if i < 400 else "b") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = rebalance_sample(df, {"a": 5000, "b": 5000})
    rates = {
        r["lang"]: r["rate_ppm"]
        for r in out.select("lang", "rate_ppm").distinct().collect()
    }
    # T = min(400*10000//5000, 100*10000//5000) = 200;
    # want = 100 each; a: 100*1e6//400 = 250000 ppm, b: 10^6 ppm
    assert rates == {"a": 250_000, "b": 1_000_000}
    kept = out.groupBy("lang").count().collect()
    counts = {r["lang"]: r["count"] for r in kept}
    assert counts["b"] == 100  # rate 10^6 keeps every b row
    assert 60 <= counts["a"] <= 140  # binomial noise around 100
    again = rebalance_sample(df, {"a": 5000, "b": 5000})
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rebalance_sample(df, {})
    with _pytest.raises(ValueError):
        rebalance_sample(df, {"a": 0})


def test_minhash_word_signatures_match_python(spark):
    """minhash_signatures over word 3-grams of a short doc: signature
    = md5-48 min per seed of ``"{seed}:{gram}"``, verified against an
    independent Python computation."""
    import hashlib

    from zhtml_spark.textops import minhash_signatures

    text = "a b c d e f g"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {
        r["seed"]: r["minhash"]
        for r in minhash_signatures(df, n=3, seeds=2).collect()
    }
    words = text.split(" ")
    grams = {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
    exp = {
        s: min(
            int(
                hashlib.md5(f"{s}:{g}".encode()).hexdigest()[:12], 16
            )
            for g in grams
        )
        for s in (0, 1)
    }
    assert got == exp


def test_pq_codes_and_adc_rank_near_duplicates_first(spark):
    """PQ tier: every vector gets exactly m codes in [0, k); a vector
    that is a near-copy of a query must rank first in the query's ADC
    top-k (its codes coincide, so the asymmetric distance is the
    query's own table minimum); reruns identical (md5-seeded Lloyd,
    no RNG)."""
    from zhtml_spark.textops import pq_adc_topk, pq_books, pq_codes

    import random

    rng = random.Random(7)
    dim, m, k = 16, 4, 4
    base = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(20)]
    # vec 10 := near-copy of query vec 0
    base[10] = [x + 0.001 for x in base[0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    books = pq_books(df, m=m, k=k, iters=2, dim=dim)
    codes = pq_codes(df, books, m=m, dim=dim).collect()
    per_vec: dict[int, list[int]] = {}
    for r in codes:
        assert 0 <= r["code"] < k
        per_vec.setdefault(r["vec_id"], []).append(r["sub_idx"])
    assert all(sorted(v) == list(range(m)) for v in per_vec.values())
    assert len(per_vec) == 20

    top = pq_adc_topk(df, n_queries=1, topk=3, m=m, k=k, iters=2,
                      dim=dim)
    rows = sorted(top.collect(), key=lambda r: r["rank"])
    assert rows[0]["neighbor_id"] == 10
    again = sorted(
        pq_adc_topk(df, n_queries=1, topk=3, m=m, k=k, iters=2,
                    dim=dim).collect(),
        key=lambda r: r["rank"],
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pq_books(df, m=3, dim=dim)  # 16 % 3 != 0


def test_pagerank_deep_run_matches_reference(spark):
    """A 12-round run — where a lazily unrolled 3^iters plan tree
    would hold ~500k subtrees — equals the independent reference, and
    storage is freed per round: only the returned ranks may still hold
    blocks, never O(rounds) snapshots."""
    import time

    import pyspark.sql.functions as F

    from zhtml_spark.textops import (
        _persistent_rdd_ids,
        pagerank,
    )

    edges = spark.range(3000).select(
        (F.col("id") % 600).alias("src"),
        ((F.col("id") * 7 + 3) % 600).alias("dst"),
    )
    before = _persistent_rdd_ids(spark)
    t0 = time.perf_counter()
    deep = {
        r["node"]: r["rank_q"]
        for r in pagerank(edges, iters=12).collect()
    }
    elapsed = time.perf_counter() - t0
    assert deep == _pagerank_reference(
        [(i % 600, (i * 7 + 3) % 600) for i in range(3000)], 12
    )
    leaked = _persistent_rdd_ids(spark) - before
    assert len(leaked) <= 1, leaked
    assert elapsed < 60, elapsed


def test_lang_gate_with_lang_feeds_rebalance(spark):
    """Composition the corpus job uses (r7): lang_gate(with_lang=True)
    exposes its own prediction as pred_lang, and rebalance_sample
    groups on it.  Held-out sentences replicated 10x per language:
    a {en, ja} target keeps exactly those two groups (both fully —
    equal counts make every rate 10^6) and drops the rest."""
    from zhtml_spark.langid_model import HELD_OUT
    from zhtml_spark.textops import lang_gate, rebalance_sample

    rows = []
    for i, lg in enumerate(sorted(HELD_OUT)):
        for j in range(10):
            rows.append((i * 100 + j, HELD_OUT[lg]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    gated = lang_gate(
        df,
        langs=tuple(sorted(HELD_OUT)),
        min_lm_score=-8_500_000,
        with_lang=True,
    )
    assert "pred_lang" in gated.columns
    out = rebalance_sample(
        gated, {"en": 5000, "ja": 5000}, by="pred_lang"
    )
    got = {
        r["pred_lang"]: r["count"]
        for r in out.groupBy("pred_lang").count().collect()
    }
    assert got == {"en": 10, "ja": 10}


_BPE_TEXTS = [
    "low lower lowest low low",
    "new newer newest new new new",
    "wide wider widest low newer",
]


def _bpe_reference(texts, n_merges):
    """Dict-based BPE training written independently of the Spark
    plan: frequency-weighted vocabulary, greedy left-to-right
    non-overlapping merges, argmax by (count DESC, lhs ASC, rhs
    ASC)."""
    from collections import Counter

    wc = Counter(w for t in texts for w in t.split())
    syms: dict[tuple, int] = {tuple(w): c for w, c in wc.items()}
    exp = []
    for step in range(n_merges):
        pc: Counter = Counter()
        for s, c in syms.items():
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (la, rb), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        exp.append((step, la, rb, cnt))
        merged: dict[tuple, int] = {}
        for s, c in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == la and s[i + 1] == rb:
                    out.append(la + rb)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            t = tuple(out)
            merged[t] = merged.get(t, 0) + c
        syms = merged
    return exp


def _bpe_rows(merges):
    return [
        (r["step"], r["lhs"], r["rhs"], r["pair_n"])
        for r in sorted(merges.collect(), key=lambda r: r["step"])
    ]


def test_bpe_train_matches_independent_reference(spark):
    """Spark's distributed BPE trainer vs the dict-based reference —
    ASCII corpus so both engines' string orders coincide with
    Python's."""
    from zhtml_spark.textops import bpe_train

    df = spark.createDataFrame(
        list(enumerate(_BPE_TEXTS)), "doc_id long, text string"
    )
    got = _bpe_rows(bpe_train(df, n_merges=6))
    assert got == _bpe_reference(_BPE_TEXTS, 6)
    # rerun identical (no RNG anywhere)
    assert got == _bpe_rows(bpe_train(df, n_merges=6))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bpe_train(df, n_merges=0)


def test_bpe_train_deep_run_matches_reference(spark):
    """Twelve merge rounds finish quickly (each round is materialized;
    a lazily unrolled plan doubled per round) and equal the reference;
    the merge table reads no freed round, so it collects after the
    call."""
    import time

    from zhtml_spark.textops import bpe_train

    df = spark.createDataFrame(
        list(enumerate(_BPE_TEXTS)), "doc_id long, text string"
    )
    t0 = time.perf_counter()
    merges = bpe_train(df, n_merges=12)
    got = _bpe_rows(merges)
    elapsed = time.perf_counter() - t0
    assert got == _bpe_reference(_BPE_TEXTS, 12) and len(got) == 12
    assert _bpe_rows(merges) == got
    assert elapsed < 20, elapsed


def test_bpe_encode_matches_independent_apply(spark):
    """bpe_encode vs an independent Python BPE apply: merges learned
    by bpe_train, applied word-by-word with greedy left-to-right
    non-overlapping merges in step order.  Also pins the defining
    property (encoding the training corpus reproduces the symbol
    table training ended with), the training filters (overlong words
    excluded from both counts), unseen-word behavior, and the plan
    shape (JVM-only, vocabulary broadcast-joined)."""
    from zhtml_spark.textops import bpe_encode, bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new new new",
        "wide wider widest low newer",
        "x" * 70,  # overlong: excluded from BOTH counts everywhere
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    merges = bpe_train(df, n_merges=6)
    mlist = [
        (r["lhs"], r["rhs"])
        for r in sorted(merges.collect(), key=lambda r: r["step"])
    ]

    def apply_bpe(word: str) -> int:
        syms = list(word)
        for la, rb in mlist:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == la
                    and syms[i + 1] == rb
                ):
                    out.append(la + rb)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    enc = bpe_encode(df, merges)
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in enc.collect()
    }
    exp = {}
    for i, t in enumerate(texts):
        kept = [w for w in t.split() if 1 <= len(w) <= 64]
        if kept:
            exp[i] = (len(kept), sum(apply_bpe(w) for w in kept))
    # doc 3 (only an overlong word) has no kept words and no row
    assert got == exp and 3 not in got
    # unseen words (not in the training vocabulary) still encode:
    # the merge fold runs on the ENCODE corpus's own vocabulary
    df2 = spark.createDataFrame(
        [(0, "lowest newestest zq")], "doc_id long, text string"
    )
    got2 = bpe_encode(df2, merges).collect()[0]
    assert got2["n_words"] == 3
    assert got2["n_tokens"] == sum(
        apply_bpe(w) for w in ["lowest", "newestest", "zq"]
    )
    # plan: JVM-only; the encoded vocabulary comes back broadcast
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert_jvm_only(plan)
    assert "BroadcastHashJoin" in plan


def test_score_tiers_cut_rule_and_determinism(spark):
    """score_tiers' integer-histogram cut rule: exact 10/30/60 split
    when buckets are singletons; whole buckets land on ONE side of a
    cut; tiny groups lose the head before the middle (integer
    targets); NULL scores drop; validation guards; plan is one
    combinable agg + a broadcast join (no corpus-scale sort)."""
    import pytest as _pytest

    from zhtml_spark.textops import score_tiers

    rows = [("en", i, float(i)) for i in range(1, 101)]
    rows += [("xx", 1000 + j, 7.0) for j in range(5)]
    rows += [("en", 9999, None)]
    df = spark.createDataFrame(
        [(g, i, s) for g, i, s in rows],
        "lang string, doc_id long, lm_score double",
    ).select(
        "lang", "doc_id", F.col("lm_score").cast("long").alias("lm_score")
    )
    out = score_tiers(df, bucket_q=1)
    got = {
        (r["lang"], r["doc_id"]): r["tier"] for r in out.collect()
    }
    # en: scores 1..100 DESC — top 10 head, next 30 middle, rest tail
    for i in range(1, 101):
        want = (
            "head" if i > 90 else "middle" if i > 60 else "tail"
        )
        assert got[("en", i)] == want, (i, got[("en", i)])
    # xx: ONE bucket of 5 — head target (5*0.1 div 1)=0 so no head;
    # middle target 2 > 0 so the WHOLE bucket is middle
    for j in range(5):
        assert got[("xx", 1000 + j)] == "middle"
    # the NULL-score row dropped
    assert ("en", 9999) not in got
    assert len(got) == 105
    # deterministic rerun
    again = {
        (r["lang"], r["doc_id"]): r["tier"]
        for r in score_tiers(df, bucket_q=1).collect()
    }
    assert got == again
    with _pytest.raises(ValueError):
        score_tiers(df, bucket_q=0)
    with _pytest.raises(ValueError):
        score_tiers(df, head_ppm=800_000, middle_ppm=300_000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert_jvm_only(plan)
    assert "BroadcastHashJoin" in plan


def _log2q_ref(x: int, frac_bits: int = 8):
    """Independent Python transcription of the mantissa-squaring
    fixed-point log2 recurrence (the with_log2q contract)."""
    if x < 1:
        return None
    n = x.bit_length() - 1
    m = x << (30 - n) if n <= 30 else x >> (n - 30)
    f = n
    for _ in range(frac_bits):
        mm = m * m
        if mm >= 1 << 61:
            m, f = mm >> 31, f * 2 + 1
        else:
            m, f = mm >> 30, f * 2
    return f


def test_with_log2q_matches_independent_reference(spark):
    """with_log2q vs the independent recurrence on edge values
    (powers of two, mantissa extremes, >2^31 inputs where the
    normalization flips to right-shift), plus accuracy vs float
    log2 (≤1% of a doubling at frac_bits=8) and the NULL guard."""
    import math

    from zhtml_spark.textops import with_log2q

    vals = [1, 2, 3, 4, 5, 7, 10, 63, 64, 65, 100, 12345, 999983,
            2**30 - 1, 2**30, 2**31 - 1, 2**31, 2**40 + 123,
            2**52 + 9, 0, -5]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {r["x"]: r["l2q"] for r in with_log2q(df, "x", "l2q").collect()}
    for v in vals:
        assert got[v] == _log2q_ref(v), v
        if v >= 2:
            assert abs(got[v] / 256 - math.log2(v)) < 0.01, v


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division — the div semantics BOTH engines
    share (probed r6: -7 div 2 == -7 // 2 == -3); Python's // floors,
    so the reference needs this shim for negative scores."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def test_bm25_topk_matches_independent_reference(spark):
    """bm25_topk vs a dict-based independent BM25 with the identical
    integer quantization (log2q idf, 22·tf·W / (10·tf·W+3·W+9·dl·N)
    rational) — covers negative idf (df > N/2), tf saturation, and
    deterministic tie-breaks."""
    from zhtml_spark.textops import bm25_topk

    corpus = {
        0: "rare key value",
        1: "key value table row table",
        2: "rare rare rare scan",
        3: "scan filter merge join hash scan",
        4: "the a of key",
        5: "key key key key",
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    queries = {1: ["rare"], 2: ["scan", "key"], 3: ["key"]}
    qdf = spark.createDataFrame(
        [(q, t) for q, t in queries.items()],
        "query_id long, terms array<string>",
    )
    got = [
        (r["query_id"], r["doc_id"], r["score_q"], r["rank"])
        for r in bm25_topk(docs, qdf, k=3).collect()
    ]

    toks = {d: t.split() for d, t in corpus.items()}
    n_docs = len(corpus)
    n_words = sum(len(t) for t in toks.values())
    df_ = {}
    for t in toks.values():
        for w in set(t):
            df_[w] = df_.get(w, 0) + 1
    exp = []
    for q, terms in queries.items():
        scores = {}
        for d, t in toks.items():
            s = 0
            hit = False
            for w in set(terms):
                tf = t.count(w)
                if tf == 0 or w not in df_:
                    continue
                hit = True
                idf = _log2q_ref(2 * n_docs - 2 * df_[w] + 1) - _log2q_ref(
                    2 * df_[w] + 1
                )
                s += _tdiv(
                    idf * (22 * tf * n_words),
                    10 * tf * n_words + 3 * n_words + 9 * len(t) * n_docs,
                )
            if hit:
                scores[d] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        exp += [(q, d, s, i + 1) for i, (d, s) in enumerate(ranked)]
    assert sorted(got) == sorted(exp)
    # positive-idf term ('rare', df=2 of 6): the tf-heavy doc wins
    q1 = {d: rk for (q, d, _, rk) in got if q == 1}
    assert q1[2] == 1 and q1[0] == 2
    # negative-idf term ('key', df=4 > N/2): more occurrences score
    # LOWER (classic BM25 df>N/2 behavior) — the tf=4 doc falls out
    # of the k=3 cut entirely while a tf=1 doc stays
    q3 = {d for (q, d, _, _) in got if q == 3}
    assert 5 not in q3 and 0 in q3


def test_dsir_weights_matches_independent_reference(spark):
    """dsir_weights vs a dict-based independent llr computation
    (hashlib md5 buckets, add-one smoothing, log2q logs), plus the
    direction check: docs made of target-domain words outweigh
    off-domain docs."""
    import hashlib

    from zhtml_spark.textops import dsir_weights

    corpus = {
        0: "dup dup key dup",
        1: "table row scan filter",
        2: "dup key dup key",
        3: "merge join hash batch",
    }
    target = {100: "dup key dup", 101: "dup dup"}
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    tgt = spark.createDataFrame(
        list(target.items()), "doc_id long, text string"
    )
    nb = 64
    got = {
        r["doc_id"]: (r["n_tokens"], r["dsir_q"])
        for r in dsir_weights(docs, tgt, n_buckets=nb).collect()
    }

    def bucket(w):
        return int(hashlib.md5(f"dsir|{w}".encode()).hexdigest()[:12], 16) % nb

    r_c: dict = {}
    t_c: dict = {}
    for t in corpus.values():
        for w in t.split():
            r_c[bucket(w)] = r_c.get(bucket(w), 0) + 1
    for t in target.values():
        for w in t.split():
            t_c[bucket(w)] = t_c.get(bucket(w), 0) + 1
    const = _log2q_ref(sum(r_c.values()) + nb) - _log2q_ref(
        sum(t_c.values()) + nb
    )
    exp = {}
    for d, t in corpus.items():
        ws = t.split()
        s = sum(
            _log2q_ref(t_c.get(bucket(w), 0) + 1)
            - _log2q_ref(r_c[bucket(w)] + 1)
            + const
            for w in ws
        )
        exp[d] = (len(ws), s)
    assert got == exp
    # direction: the dup/key docs (target-like) outweigh the rest
    assert min(got[0][1], got[2][1]) > max(got[1][1], got[3][1])


def test_decontaminate_fuzzy_drops_near_copies(spark):
    """A lightly-edited eval doc (one token appended — shares no
    verbatim long run, but collides in MinHash bands) contaminates
    its training source; unrelated docs survive with ALL original
    columns; exact-copy bench rows drop their source too."""
    from zhtml_spark.textops import decontaminate_fuzzy

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta", "en"),
            (1, "one two three four five six seven eight nine", "en"),
            (2, "totally unrelated words nothing shared here at all", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    bench = spark.createDataFrame(
        [
            (900, "alpha beta gamma delta epsilon zeta eta theta tail"),
            (901, "one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    )
    out = decontaminate_fuzzy(docs, bench, n=3, bands=4, rows=2)
    rows = {r["doc_id"]: (r["text"], r["lang"]) for r in out.collect()}
    assert set(rows) == {2}
    assert rows[2][1] == "de"  # original columns intact
    # an empty benchmark keeps everything
    empty = bench.where("doc_id < 0")
    assert decontaminate_fuzzy(docs, empty, n=3).count() == 3


def test_dedup_lines_in_doc_keeps_first_and_blanks(spark):
    """Within-doc line dedup: first occurrences and blank lines
    survive, later repeats (incl. whitespace-variant repeats — keys
    hash the TRIMMED line) drop; order preserved; single-line and
    all-blank docs pass through; n_removed counts the cuts."""
    from zhtml_spark.textops import dedup_lines_in_doc

    docs = spark.createDataFrame(
        [
            (0, "menu\nbody one\nmenu\n\nbody two\nmenu \nbody one"),
            (1, "only line"),
            (2, "\n\n"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in dedup_lines_in_doc(docs).collect()
    }
    # doc 0: 'menu'(pos2), 'menu '(pos5, trims equal) and
    # 'body one'(pos6) drop; the blank stays
    assert got[0] == ("menu\nbody one\n\nbody two", 3)
    assert got[1] == ("only line", 0)
    assert got[2] == ("\n\n", 0)
    assert got[3] == ("", 0)
    # zero-shuffle plan: no Exchange anywhere
    plan = (
        dedup_lines_in_doc(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_bigram_lm_selfscore_matches_independent_reference(spark):
    """bigram_lm_selfscore vs a dict-based independent LM (hashlib
    buckets, add-one smoothing, log2q logs): exact per-doc sums;
    gibberish (no bigram shared with the rest) scores lowest;
    empty/one-word docs are absent."""
    import hashlib

    from zhtml_spark.textops import bigram_lm_selfscore

    nb = 64
    corpus = {
        0: "the cat sat on the mat",
        1: "the cat sat on the mat again",
        2: "zq9 xv7 qqk wpl mmz",
        3: "the cat",
        4: "",
        5: "single",
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )

    def bucket(w):
        return int(hashlib.md5(f"blm|{w}".encode()).hexdigest()[:12], 16) % nb

    def ref_scores(score_docs):
        big: dict = {}
        uni: dict = {}
        for t in score_docs.values():
            ws = [w for w in t.split(" ") if w]
            for a, b in zip(ws, ws[1:]):
                k = (bucket(a), bucket(b))
                big[k] = big.get(k, 0) + 1
                uni[k[0]] = uni.get(k[0], 0) + 1
        exp = {}
        for d, t in score_docs.items():
            ws = [w for w in t.split(" ") if w]
            ps = list(zip(ws, ws[1:]))
            if not ps:
                continue
            s = sum(
                _log2q_ref(big[bucket(a), bucket(b)] + 1)
                - _log2q_ref(uni[bucket(a)] + nb)
                for a, b in ps
            )
            q = abs(s) // len(ps)
            exp[d] = (len(ps), s, -q if s < 0 else q)
        return exp

    got = {
        r["doc_id"]: (r["n_pairs"], r["lm_q"], r["mean_q"])
        for r in bigram_lm_selfscore(docs, n_buckets=nb).collect()
    }
    assert got == ref_scores(corpus)
    assert min(got[0][2], got[1][2], got[3][2]) > got[2][2]


def test_corpus_kl_properties(spark):
    """corpus_kl: exactly 0 against itself, ≥ −quantization-dust
    always (smoothed-mass weights keep Gibbs), monotone in
    divergence (disjoint-vocabulary target scores above an
    in-vocabulary target)."""
    from zhtml_spark.textops import corpus_kl

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the cat sat on the mat again"),
            (2, "a dog ran in the park"),
        ],
        "doc_id long, text string",
    )
    near_t = spark.createDataFrame(
        [(100, "the cat sat")], "doc_id long, text string"
    )
    far_t = spark.createDataFrame(
        [(100, "zq9 xv7 qqk")], "doc_id long, text string"
    )
    same = corpus_kl(docs, docs, n_buckets=64).collect()[0]
    assert same["kl_q"] == 0
    near = corpus_kl(docs, near_t, n_buckets=64).collect()[0]
    far = corpus_kl(docs, far_t, n_buckets=64).collect()[0]
    assert near["kl_q"] >= -2 and far["kl_q"] >= -2
    assert far["kl_q"] > near["kl_q"]
    assert (near["n_raw_tokens"], near["n_target_tokens"]) == (19, 3)


def test_chunk_documents_windows_and_tail_rule(spark):
    """Sliding-window chunking: stride = max_tokens - overlap,
    consecutive chunks share exactly `overlap` words, a final
    pure-overlap window is dropped, empty docs vanish, and the plan
    has zero exchanges."""
    import pytest as _pytest

    from zhtml_spark.textops import chunk_documents

    docs = spark.createDataFrame(
        [
            (0, " ".join(f"w{i}" for i in range(25))),
            (1, "a b c"),
            (2, ""),
            (3, " ".join(f"x{i}" for i in range(12))),
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, max_tokens=10, overlap=4)
    rows = {
        (r["doc_id"], r["chunk_id"]): (r["n_words"], r["chunk_text"])
        for r in out.collect()
    }
    # doc 0 (25 words): starts 0,6,12,18 — start 24 would carry no
    # new words (24+4 >= 25) and is dropped
    assert [rows[(0, i)][0] for i in range(4)] == [10, 10, 10, 7]
    c0 = rows[(0, 0)][1].split()
    c1 = rows[(0, 1)][1].split()
    assert c0[-4:] == c1[:4]  # exactly `overlap` shared words
    assert rows[(1, 0)] == (3, "a b c")
    assert not any(d == 2 for d, _ in rows)  # empty doc absent
    assert [k for k in rows if k[0] == 3] == [(3, 0), (3, 1)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with _pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=10, overlap=10)
    with _pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=0)
