"""The near-dup tier's shared blocking skeleton: plan shape for every
candidate generator, the bucket-volume stats against a brute-force
count on a hand-built corpus, and ``dedup_survivors`` hashing its
signatures once."""

from __future__ import annotations

import hashlib
import re
from itertools import combinations

import pyspark.sql.functions as F
import pytest
from conftest import assert_jvm_only

from zhtml_spark import textops
from zhtml_spark.corpus import adversarial_web_corpus

TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "the quick brown fox jumps over the lazy cat"),
    (4, "a completely different sentence about spark joins"),
    (5, "a completely different sentence about spark joins today"),
    (6, "tiny doc"),
]

# generator → (bucket join keys, joins in the whole plan) for the
# _bucket_pairs users; ngram_jaccard_pairs adds two per-side size
# lookups on doc_a / doc_b
BUCKET_PAIR_USERS = {
    "ngram_jaccard_pairs": (["gram"], 3),
    "minhash_dup_candidates": (["seed", "minhash"], 1),
    "minhash_banded_candidates": (["band", "band_sig"], 1),
    "simhash_dup_candidates": (["bkey"], 1),
}
GENERATORS = [
    *BUCKET_PAIR_USERS,
    "winnow_dup_candidates",
    "substring_dup_spans",
    "embedding_dup_candidates",
    "dedup_against_index",
    "decontaminate_fuzzy",
]
JOIN_RE = re.compile(
    r"(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) "
    r"\[([^\]]*)\], \[([^\]]*)\]"
)


def _initial_plan(df) -> str:
    # not executed yet: AQE prints the initial physical plan only, so
    # each operator appears once
    return df._jdf.queryExecution().executedPlan().toString()


def _join_keys(plan: str) -> list[list[str]]:
    """Left-side key names of every equi-join in ``plan``."""
    return [
        [re.sub(r"#\d+L?$", "", k.strip()) for k in left.split(",")]
        for left, _ in JOIN_RE.findall(plan)
    ]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def _generator_df(spark, docs, name):
    if name == "embedding_dup_candidates":
        emb = spark.createDataFrame(
            [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(12)],
            "vec_id long, embedding array<double>",
        )
        return textops.embedding_dup_candidates(emb, n_centroids=2)
    if name == "dedup_against_index":
        index = textops.minhash_band_index(docs.where("doc_id <= 3"))
        return textops.dedup_against_index(docs, index)
    if name == "decontaminate_fuzzy":
        return textops.decontaminate_fuzzy(docs, docs.where("doc_id = 4"))
    return getattr(textops, name)(docs)


@pytest.mark.parametrize("name", GENERATORS)
def test_generator_plan_shape(spark, docs, name):
    df = _generator_df(spark, docs, name)
    plan = _initial_plan(df)
    assert_jvm_only(plan)
    assert "CartesianProduct" not in plan, plan
    if name == "embedding_dup_candidates":
        # the only nested-loop joins are nearest_centroid's probes (one
        # per self-join side) of the broadcast n_centroids-row centroid
        # table; the vector pairs come from the centroid-bucket equi-join
        loops = re.findall(r"BroadcastNestedLoopJoin (\w+), (\w+)", plan)
        centroid_tables = re.findall(r"AS centroid_id#\d+L?, \w+#\d+ AS c#", plan)
        assert loops and set(loops) == {("BuildRight", "Cross")}, plan
        assert len(loops) == len(centroid_tables), plan
        assert ["centroid_id"] in _join_keys(plan), plan
    else:
        assert "BroadcastNestedLoopJoin" not in plan, plan
    if name in BUCKET_PAIR_USERS:
        keys, n_joins = BUCKET_PAIR_USERS[name]
        joins = _join_keys(plan)
        assert joins.count(keys) == 1, joins
        assert len(joins) == n_joins, joins
    df.collect()  # the plan also runs


def _md5_48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _volume(sizes) -> tuple:
    sizes = list(sizes)
    return max(sizes), sum(n * (n - 1) // 2 for n in sizes)


def test_minhash_band_stats_match_brute_force(docs):
    n, bands, rows = 3, 4, 2
    buckets: dict = {}
    for _, text in TEXTS:
        words = text.split(" ")
        grams = {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}
        if not grams:
            continue
        mh = [min(_md5_48(f"{s}:{g}") for g in grams) for s in range(bands * rows)]
        for b in range(bands):
            sig = ",".join(str(mh[b * rows + r]) for r in range(rows))
            key = (b, hashlib.md5(sig.encode()).hexdigest())
            buckets[key] = buckets.get(key, 0) + 1
    max_bucket, pairs = _volume(buckets.values())
    assert textops.minhash_band_stats(docs, n, bands, rows) == {
        "bands": bands,
        "rows": rows,
        "max_bucket": max_bucket,
        "candidate_pairs": pairs,
    }


def _simhash48(text: str) -> int:
    hashes = [_md5_48(w) for w in set(text.split(" "))]
    out = 0
    for s in range(48):
        if sum(1 if h >> s & 1 else -1 for h in hashes) > 0:
            out |= 1 << s
    return out


@pytest.mark.parametrize("n_blocks", [None, 4])
def test_simhash_candidate_stats_match_brute_force(docs, n_blocks):
    k, bits = 3, 48
    nb = n_blocks or k + 2
    width = bits // nb
    combos = list(combinations(range(nb), nb - k))
    buckets: dict = {}
    for _, text in TEXTS:
        h = _simhash48(text)
        blocks = [
            h >> (c * width) if c == nb - 1 else h >> (c * width) & ((1 << width) - 1)
            for c in range(nb)
        ]
        for ci, combo in enumerate(combos):
            key = ":".join([str(ci), *(str(blocks[b]) for b in combo)])
            buckets[key] = buckets.get(key, 0) + 1
    max_bucket, pairs = _volume(buckets.values())
    assert textops.simhash_candidate_stats(docs, k, bits, n_blocks) == {
        "n_blocks": nb,
        "n_combos": len(combos),
        "max_bucket": max_bucket,
        "candidate_pairs": pairs,
    }


def test_winnow_candidate_stats_match_brute_force(docs):
    """Engine path: xxhash64 k-gram hashes, mirrored in pure Python by
    ``langid_model.xxh64``."""
    from zhtml_spark.langid_model import xxh64

    k, window, cap = textops.WINNOW_K, textops.WINNOW_WINDOW, 2
    df: dict = {}
    for _, text in TEXTS:
        h = [xxh64(text[i:i + k].encode()) for i in range(len(text) - k + 1)]
        fps = {
            min(h[i:i + window])
            for i in range(len(text) - (k + window - 1) + 1)
        }
        for fp in fps:
            df[fp] = df.get(fp, 0) + 1
    max_df, pairs = _volume(df.values())
    capped_max, capped_pairs = _volume(v for v in df.values() if v <= cap)
    assert max_df > cap  # the cap really bites on this corpus
    assert textops.winnow_candidate_stats(docs, max_doc_freq=cap) == {
        "k": k,
        "window": window,
        "max_doc_freq": cap,
        "max_df": max_df,
        "uncapped_candidate_pairs": pairs,
        "capped_max_df": capped_max,
        "capped_candidate_pairs": capped_pairs,
    }


def test_substring_gram_stats_match_brute_force(docs):
    k, cap = 5, 2
    positions: dict = {}
    doc_sets: dict = {}
    for doc_id, text in TEXTS:
        for i in range(len(text) - k + 1):
            gh = _md5_48(text[i:i + k])
            positions[gh] = positions.get(gh, 0) + 1
            doc_sets.setdefault(gh, set()).add(doc_id)
    max_bucket, pairs = _volume(positions.values())
    capped_max, capped_pairs = _volume(
        n for gh, n in positions.items() if len(doc_sets[gh]) <= cap
    )
    max_df = max(len(d) for d in doc_sets.values())
    assert max_df > cap
    assert textops.substring_gram_stats(docs, k=k, max_gram_freq=cap) == {
        "k": k,
        "max_gram_freq": cap,
        "max_df": max_df,
        "uncapped_max_bucket": max_bucket,
        "uncapped_candidate_pairs": pairs,
        "capped_max_bucket": capped_max,
        "capped_candidate_pairs": capped_pairs,
    }


def test_bucket_pairs_carries_columns_per_side(spark):
    keyed = spark.createDataFrame(
        [(1, "x", 10), (2, "x", 20), (2, "y", 20), (1, "y", 10), (3, "y", 30),
         (3, "z", 30)],
        "doc_id long, k string, v long",
    )
    got = sorted(tuple(r) for r in textops._bucket_pairs(keyed, "k", "v").collect())
    assert got == [(1, 2, 10, 20, 2), (1, 3, 10, 30, 1), (2, 3, 20, 30, 1)]
    assert textops._bucket_pairs(keyed, "k", "v").columns == [
        "doc_a", "doc_b", "v_a", "v_b", "shared"
    ]
    kept = textops._shared_keys(keyed.where(F.col("doc_id") < 3), "k", 2)
    assert sorted(r["k"] for r in kept.collect()) == ["x", "y"]
    assert textops._shared_keys(keyed, "k", 2).collect() == [("x",)]


def test_dedup_survivors_builds_signatures_once(spark):
    """The executed plan hashes the MinHash signature (the md5 ``min``
    aggregation) in one place.  The input is a ``localCheckpoint``, as
    in the crawl chain: exchange reuse cannot merge two reads of it, so
    a plan that reads the signature table twice computes it twice."""
    docs = (
        adversarial_web_corpus(spark, 40, seed=7, n_partitions=2)
        .select("doc_id", "text")
        .localCheckpoint()
    )
    df = textops.dedup_survivors(docs)
    assert df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    hashing = [
        ln for ln in final.splitlines()
        if "HashAggregate" in ln and "partial_min(" in ln and "md5(" in ln
    ]
    assert len(hashing) == 1, final
