"""Focused guards for the r8 optimization internals: the rewritten
plans must stay result-identical AND keep the shapes the round's
evidence claims (OPTIMIZATION_r08.md)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from conftest import assert_jvm_only


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fan_out_widens_narrow_scans_and_passes_wide_inputs(spark, tmp_path):
    from zhtml_spark.textops import fan_out

    # narrow: a single-file parquet scan arrives as one partition and
    # must be repartitioned to the session's parallelism
    p = str(tmp_path / "one_file")
    spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    narrow = spark.read.parquet(p)
    assert narrow.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism
    widened = fan_out(narrow)
    assert widened.rdd.getNumPartitions() == target
    assert widened.count() == 100

    # wide: an input at (or beyond) session width passes through with
    # an UNCHANGED plan — no exchange is added (the 100 TB no-op)
    wide = spark.range(100).repartition(target).select(
        F.col("id").alias("doc_id")
    )
    assert fan_out(wide) is wide


def test_substring_hybrid_branches_agree_across_crossover(spark):
    """The positioned-gram pass routes docs by the 48·k length
    crossover: short docs through codegen row expressions, giants
    through the interpreted zip build.  Both branches must emit
    identical (doc_id, pos, gh) rows — proven here by forcing the
    SAME text down both branches (padding a second doc past the
    crossover with a prefix, then comparing the shared suffix's
    grams via hash multiset)."""
    from zhtml_spark.textops import substring_dup_spans

    import hashlib

    k = 25
    # non-repeating body (md5 chain) so exactly ONE shared run exists
    chunks, seed = [], b"r8"
    while sum(len(c) for c in chunks) < 300:
        seed = hashlib.md5(seed).digest()
        chunks.append(seed.hex())
    body = "".join(chunks)[:300]
    pad = "z" * (48 * k)  # pushes doc 2 into the giant branch
    docs = spark.createDataFrame(
        [(1, body + " tail one"), (2, pad + body + " tail two")],
        "doc_id long, text string",
    )
    # the shared `body` must be found as a cross-doc span regardless
    # of which branch built each side's grams, with doc-2 offsets
    # shifted by exactly the pad length
    spans = substring_dup_spans(docs, k=k, min_len=60).collect()
    assert len(spans) == 1
    s = spans[0]
    assert (s["doc_a"], s["doc_b"]) == (1, 2)
    assert s["start_b"] - s["start_a"] == len(pad)
    assert s["length"] >= len(body)
    # and the md5 engine path (the oracle form) agrees with xxhash64
    spans_md5 = substring_dup_spans(
        docs, k=k, min_len=60, hash_fn="md5"
    ).collect()
    assert [tuple(r) for r in spans_md5] == [tuple(r) for r in spans]


@pytest.mark.parametrize("hash_fn", [None, "sha1"])
def test_hashed_gram_ops_reject_non_hash(spark, hash_fn):
    """The hashed gram ops accept only ``xxhash64``/``md5`` and fail
    when the plan is built: ``None`` is the gram-string form of the
    shared builder, never a public hash choice."""
    from zhtml_spark.textops import substring_dup_spans, winnow_fingerprints

    docs = spark.createDataFrame([(1, "text")], "doc_id long, text string")
    for op in (winnow_fingerprints, substring_dup_spans):
        with pytest.raises(ValueError, match="'xxhash64' or 'md5'"):
            op(docs, hash_fn=hash_fn)


def test_minhash_band_signatures_single_exchange(spark):
    """r8 plan claim: the banded signature side runs ONE aggregation
    exchange (the per-doc min partial agg) — the old per-(doc,seed)
    and per-(doc,band) double shuffle must not come back."""
    from zhtml_spark.textops import minhash_band_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon w{i} x{i} y{i}") for i in range(40)],
        "doc_id long, text string",
    )
    plan = _plan(minhash_band_index(docs, n=3, bands=4, rows=2))
    # count Exchange OPERATORS, not ReusedExchange references
    n_ex = plan.count("+- Exchange") + plan.count("   Exchange") + (
        1 if plan.startswith("Exchange") else 0
    )
    assert n_ex == 1, f"expected exactly 1 exchange, plan:\n{plan}"
    assert_jvm_only(plan)


def test_simhash_zero_shuffle_signatures(spark):
    """r8 plan claim: simhash signatures are a pure per-row map — no
    exchange anywhere before a consumer aggregates/joins them."""
    from zhtml_spark.textops import simhash_bits

    docs = spark.createDataFrame(
        [(i, f"one two three w{i} v{i}") for i in range(20)],
        "doc_id long, text string",
    )
    df = simhash_bits(docs, bits=48)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    # values: sign of the ±1 balance per bit over distinct words —
    # spot-check one doc against an independent python computation
    import hashlib

    row = {r["doc_id"]: r["simhash"] for r in df.collect()}
    words = set("one two three w7 v7".split())
    expected = 0
    for s in range(48):
        bal = 0
        for w in words:
            h = int(hashlib.md5(w.encode()).hexdigest()[:12], 16)
            bal += 1 if (h >> s) & 1 else -1
        if bal > 0:
            expected |= 1 << s
    assert row[7] == expected
