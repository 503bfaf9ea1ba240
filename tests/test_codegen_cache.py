"""The whole-stage codegen cache holds a whole near-dup pass: once a
chain of more than the default 100 distinct classes has run, running it
again compiles nothing (``build_session`` sizes the cache)."""

from __future__ import annotations

from zhtml_spark import textops
from zhtml_spark.corpus import adversarial_web_corpus
from zhtml_spark.langid_model import SEED_TEXTS
from zhtml_spark.pipeline import codegen_compiles

# AQE re-plans a stage from runtime statistics and can pick another
# join layout on a later pass (seen: one 2-class substring variant in
# about one pass of five); each variant compiles once, so a pass with
# every variant cached compiles nothing within a few repeats
REPEATS = 3


def _chain(docs) -> list[int]:
    return [
        textops.lang_gate(
            docs, langs=tuple(sorted(SEED_TEXTS)), max_chars=2000,
            min_lm_score=-8_400_000,
        ).count(),
        textops.minhash_banded_candidates(docs).count(),
        textops.winnow_dup_candidates(
            docs, min_shared=5, max_doc_freq=20
        ).count(),
        textops.substring_dup_spans(docs, k=25, min_len=60).count(),
        textops.dedup_survivors(docs).count(),
    ]


def test_repeated_chain_hits_the_codegen_cache(spark):
    docs = (
        adversarial_web_corpus(spark, 40, seed=7, n_partitions=2)
        .select("doc_id", "text")
        .localCheckpoint()
    )
    c0 = codegen_compiles(spark)
    first = _chain(docs)
    warm = codegen_compiles(spark) - c0
    # a fresh session compiles ~145 classes here; a session that ran
    # other tests first has some of them cached already
    repeats = []
    for _ in range(REPEATS):
        c0 = codegen_compiles(spark)
        assert _chain(docs) == first
        repeats.append(codegen_compiles(spark) - c0)
        if repeats[-1] == 0:
            break
    assert repeats[-1] == 0, (warm, repeats)
