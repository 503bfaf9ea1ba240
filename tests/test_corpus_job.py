"""Smoke test for the composed frontier-to-packs job (VERDICT r4 #7):
every stage runs over a small adversarial crawl, stage metrics are
sane, and the composition preserves the invariants the unit gates
check individually (survivor monotonicity, robots blocking, packs
covering survivors)."""

from __future__ import annotations


def test_corpus_job_stages_compose(spark):
    from jobs.corpus_job import run

    out = run(spark, n_docs=800, cores=4, substring=True,
              host_quota=50, pagerank_iters=3)
    st = out["stages"]
    # host-graph PageRank stage (r7): ranks the crawl's own hosts
    assert len(st["pagerank_hosts"]["top"]) == 3
    assert all(r > 0 for _, r in st["pagerank_hosts"]["top"])
    assert st["warc_parse"]["rows"] == 800
    assert st["extract"]["docs"] == 800
    assert st["extract"]["spans"] > 800  # multiple spans per page
    # frontier: every page's next-link resolves; all .png media and
    # /private links are robots-blocked, so allowed < urls
    assert 0 < st["frontier"]["allowed"] < st["frontier"]["urls"]
    # tiers only ever shrink the corpus
    n_q = st["quality_filter"]["rows"]
    n_l = st["lang_gate"]["rows"]
    assert 0 < n_l <= n_q  # en-ish corpus: the gate passes real text
    n_u = st["dedup_url"]["rows"]
    n_h = st["host_quota"]["rows"]
    n_s = st["dedup_exact_banded"]["rows"]
    assert 0 < n_s <= n_h <= n_u <= n_l <= 800
    # the power-law host skew makes the quota tier BIND (not a no-op)
    assert n_h < n_u
    # chains guarantee the banded tier actually removes docs
    assert n_s < n_h
    # substring tier ran and cut the chain-shared runs
    assert st["substring_apply"]["cut_chars"] > 0
    # line dedup kept every surviving doc, packs cover all of them
    assert st["pack_sequences"]["docs"] == n_s
    assert 0 < st["pack_sequences"]["packs"] <= n_s
    assert st["markdown"]["rows"] == n_s
    assert out["total_sec"] > 0
    # every stage record counts the classes its stage compiled
    for name, rec in st.items():
        assert isinstance(rec["compiles"], int), name
        assert rec["compiles"] >= 0, name
