"""One-job frontier-to-packs demo (VERDICT r4 #7) — the product story.

Composes the full training-corpus pipeline in a single Spark job over
a synthetic web-shaped crawl (the adversarial corpus rendered as HTML
pages inside WARC response records):

    WARC read → extract (links + head meta, salted repartition) →
    crawl frontier (absolutize + robots gate) → quality filter →
    dedup tiers (URL → exact → banded-minhash survivors → optional
    substring apply) → corpus line dedup → sequence packing →
    spans-to-markdown render

and reports per-stage rows/seconds/docs-per-sec and codegen compile
counts (``pipeline.codegen_compiles`` deltas) as ONE JSON line
(BENCH/NOTES.md records the 2M-doc run).  Every stage is the same
public operator the oracle gates individually — this job exists to
surface CROSS-op schema friction and to measure the composition, not
to re-verify semantics.

Usage:
    python jobs/corpus_job.py [--docs 2000000] [--cores 32]
                              [--substring / --no-substring]

The substring-apply tier defaults OFF above 100k docs (its candidate
volume on the chain-heavy adversarial corpus is the most expensive
tier; it is bench-measured separately at 20k) and ON below.
Smoke-tested in pytest at ~800 docs (tests/test_corpus_job.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(
    spark,
    n_docs: int,
    cores: int,
    substring: bool,
    host_quota: int | None = None,
    rebalance_bp: dict[str, int] | None = None,
    pagerank_iters: int | None = None,
) -> dict:
    from pyspark.sql import functions as F

    from zhtml_spark.corpus import adversarial_web_corpus
    from zhtml_spark.extract import ExtractConfig
    from zhtml_spark.pipeline import (
        codegen_compiles,
        explode_spans,
        extract_documents,
    )
    from zhtml_spark.sources import (
        parse_warc_records,
        warc_record,
        warc_to_documents,
    )
    from zhtml_spark.textops import (
        absolutize_url,
        dedup_survivors,
        line_dedup,
        pack_sequences,
        parse_robots,
        quality_filter,
        robots_gate,
        spans_to_markdown,
        substring_dedup_apply,
        substring_dup_spans,
        url_normalize,
    )

    stages: dict[str, dict] = {}

    def timed(name: str, fn):
        c0, t0 = codegen_compiles(spark), time.time()
        out = fn()
        stages[name] = {
            "sec": round(time.time() - t0, 2),
            "compiles": codegen_compiles(spark) - c0,
        }
        return out

    # ---- 0. synthetic crawl: adversarial corpus → HTML → WARC -----
    # (pure JVM; page URL doubles as the doc identity downstream)
    adv = adversarial_web_corpus(spark, n_docs)
    url = F.concat(
        F.lit("https://"), F.col("host"), F.lit("/page"),
        F.col("doc_id").cast("string"), F.lit(".html"),
    )
    para = F.array_join(
        F.transform(
            F.split(F.col("text"), "\n"),
            lambda ln: F.concat(F.lit("<p>"), ln, F.lit("</p>")),
        ),
        "",
    )
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>page "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><nav><ul>"
              '<li><a href="/">home</a></li>'
              '<li><a href="/private/admin">admin</a></li>'
              "</ul></nav>"),
        para,
        F.lit('<p>next: <a href="page'),
        (F.col("doc_id") + 1).cast("string"),
        F.lit('.html">more</a> <img src="/img/'),
        F.col("doc_id").cast("string"),
        # cross-host link so the crawl's host graph has real edges
        # (every other link is same-host, which PageRank drops as
        # self-loops after host collapse)
        F.lit('.png" alt="fig"> see <a href="https://host'),
        ((F.col("doc_id") % 97) + 1).cast("string"),
        F.lit('/">partner</a></p></body></html>'),
    )
    archives = adv.select(
        warc_record(
            url, F.lit("2026-01-01T00:00:00Z"), html, http_headers=True
        ).alias("content")
    )

    # ---- 1. WARC parse → interleaved documents --------------------
    docs = warc_to_documents(parse_warc_records(archives))
    n_in = timed("warc_parse", docs.count)
    stages["warc_parse"]["rows"] = n_in

    # ---- 2. extraction (the heavy stage): salted repartition +
    # fused parse UDF; checkpoint because frontier, text rebuild, and
    # the final markdown render all reuse it
    cfg = ExtractConfig(emit_links=True, emit_head_meta=True)
    def _extract():
        out = explode_spans(
            extract_documents(docs, config=cfg, num_partitions=2 * cores)
        ).localCheckpoint()
        return out, out.count()

    spans, n_spans = timed("extract", _extract)
    stages["extract"].update(
        docs=n_in,
        spans=n_spans,
        docs_per_sec=round(n_in / stages["extract"]["sec"], 1),
    )

    # ---- 3. crawl frontier: links/media → absolutize → robots -----
    hosts = adv.select("host").distinct()
    robots = hosts.select(
        "host",
        F.lit(
            "User-agent: *\nDisallow: /private\nDisallow: /*.png$"
        ).alias("text"),
    )
    rules = parse_robots(robots)
    links = spans.where(F.col("kind").isin("link", "media")).select(
        "doc_id", F.col("media_ref").alias("href")
    )
    resolved = links.select(
        absolutize_url(F.col("doc_id"), F.col("href")).alias("url")
    ).select(
        F.regexp_extract("url", r"^https://([^/]+)/", 1).alias("host"),
        "url",
    )
    frontier = robots_gate(resolved, rules, "trainbot")

    def _frontier():
        row = frontier.agg(
            F.count("*").alias("n"),
            F.count_if(F.col("allowed")).alias("allowed"),
        ).collect()[0]
        return row["n"], row["allowed"]

    n_urls, n_allowed = timed("frontier", _frontier)
    stages["frontier"].update({"urls": n_urls, "allowed": n_allowed})

    # ---- 3b. host-graph PageRank (optional, r7): quality weights
    # from the crawl's OWN link structure — the Common Crawl-style
    # host ranking a curation pipeline joins against its quota/
    # sampling tiers.
    if pagerank_iters:
        from zhtml_spark.textops import pagerank

        def _pagerank():
            edges = links.select(
                F.regexp_extract(
                    "doc_id", r"^https://([^/]+)/", 1
                ).alias("src"),
                F.regexp_extract(
                    absolutize_url(F.col("doc_id"), F.col("href")),
                    r"^https://([^/]+)/",
                    1,
                ).alias("dst"),
            ).where((F.col("src") != "") & (F.col("dst") != ""))
            pr = pagerank(edges, iters=pagerank_iters)
            top = pr.orderBy(
                F.col("rank_q").desc(), "node"
            ).limit(3).collect()
            return [[r["node"], int(r["rank_q"])] for r in top]

        top_hosts = timed("pagerank_hosts", _pagerank)
        stages["pagerank_hosts"]["top"] = top_hosts

    # ---- 4. text rebuild + quality gate ---------------------------
    text_tbl = (
        spans.where(F.col("kind").isin("text", "heading", "list"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("offset", "text"))
                ).getField("text"),
                "\n",
            ).alias("text")
        )
        .localCheckpoint()
    )
    quality = timed(
        "quality_filter", lambda: quality_filter(text_tbl, min_tokens=8)
    )
    n_quality = quality.count()
    stages["quality_filter"]["rows"] = n_quality

    # ---- 4b. language gate (r6): trigram-NB language id + the
    # CCNet-style light-LM score, both zero-shuffle JVM folds — keep
    # English docs whose mean trigram log-prob clears a permissive
    # floor (unseen-trigram weight is ~-7.3e6; natural en sits around
    # -5e6).  Runs BEFORE dedup: wrong-language and gibberish pages
    # should never pay the near-dup tiers.
    def _lang_tier():
        from zhtml_spark.langid_model import SEED_TEXTS
        from zhtml_spark.textops import lang_gate

        # full target-language set (ALL model languages — 10 since
        # r7): the synthetic corpus is word salad whose trigram
        # stats tilt arbitrarily between the seed languages (a real
        # crawl gates to its target set the same way), so the
        # binding signal here is the LM floor + evidence gate, and
        # the stage measures the fused one-pass cost (one hash per
        # trigram serves id + LM — the split two-op form was 2x the
        # hashing plus a 6x predicate-pushdown re-evaluation; see
        # lang_gate's barrier comment).  hash_fn defaults to
        # xxhash64 since r7 (VERDICT r6 #4 — md5 was 31% of the
        # 2M-doc job).
        # permissive floor: the synthetic corpus is markov word
        # salad and scores in the gibberish band of the 4096-bucket
        # model (~-8.3e6); a real crawl uses the default -8.0e6
        return lang_gate(
            quality, langs=tuple(sorted(SEED_TEXTS)),
            max_chars=2000, min_lm_score=-8_400_000,
            with_lang=rebalance_bp is not None,
        ).localCheckpoint()

    quality = timed("lang_gate", _lang_tier)
    n_lang = quality.count()
    stages["lang_gate"]["rows"] = n_lang

    # ---- 4b. target-mix rebalance (optional, r7): the gate's own
    # prediction feeds rebalance_sample — one tiny count agg +
    # broadcast rates + scan filter, so the stage costs ~a scan even
    # at full corpus scale
    if rebalance_bp:
        from zhtml_spark.textops import rebalance_sample

        def _rebalance():
            return (
                rebalance_sample(
                    quality, rebalance_bp, by="pred_lang"
                )
                .drop("rate_ppm", "pred_lang")
                .localCheckpoint()
            )

        quality = timed("rebalance", _rebalance)
        stages["rebalance"]["rows"] = quality.count()

    # ---- 5. dedup tiers: URL → exact → banded near-dup ------------
    def _url_tier():
        keep = (
            quality.withColumn("norm_url", url_normalize(F.col("doc_id")))
            .groupBy("norm_url")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        return quality.join(keep, "doc_id").localCheckpoint()

    after_url = timed("dedup_url", _url_tier)
    stages["dedup_url"]["rows"] = after_url.count()

    # ---- 5b. per-domain quota (optional): cap host mass BEFORE the
    # expensive near-dup tier — on power-law crawls the capped rows
    # are exactly the ones that blow up banded candidate volume
    if host_quota:
        from zhtml_spark.textops import host_quota_sample

        after_url = timed(
            "host_quota",
            lambda: host_quota_sample(
                after_url, max_per_host=host_quota,
                url_col="doc_id", key_col="doc_id",
            ).localCheckpoint(),
        )
        stages["host_quota"]["rows"] = after_url.count()

    survivors = timed(
        "dedup_exact_banded",
        lambda: dedup_survivors(
            after_url, n=3, bands=4, rows=2
        ).localCheckpoint(),
    )
    n_surv = survivors.count()
    stages["dedup_exact_banded"]["rows"] = n_surv

    if substring:
        def _apply():
            cut = substring_dedup_apply(
                survivors, substring_dup_spans(survivors, k=25, min_len=60)
            ).localCheckpoint()
            row = cut.agg(
                F.count("*").alias("n"), F.sum("n_cut_chars").alias("c")
            ).collect()[0]
            return cut.select("doc_id", "text"), row["c"]

        survivors, cut_chars = timed("substring_apply", _apply)
        stages["substring_apply"]["cut_chars"] = int(cut_chars or 0)

    # ---- 6. corpus line dedup (C4 pass) ---------------------------
    def _lines():
        out = line_dedup(survivors).localCheckpoint()
        return out

    lined = timed("line_dedup", _lines)
    stages["line_dedup"]["chars"] = int(
        lined.agg(F.sum(F.length("text"))).collect()[0][0] or 0
    )

    # ---- 7. sequence packing --------------------------------------
    def _packs():
        packed = pack_sequences(lined, budget_tokens=2048)
        return packed.agg(
            F.count("*").alias("docs"),
            F.count_distinct("bucket", "pack_id").alias("packs"),
        ).collect()[0]

    prow = timed("pack_sequences", _packs)
    stages["pack_sequences"].update(
        {"docs": prow["docs"], "packs": prow["packs"]}
    )

    # ---- 8. final form: markdown render of surviving docs ---------
    def _markdown():
        surv_spans = spans.join(
            lined.select("doc_id"), "doc_id"
        )
        return spans_to_markdown(surv_spans).count()

    n_md = timed("markdown", _markdown)
    stages["markdown"]["rows"] = n_md

    total = round(sum(s["sec"] for s in stages.values()), 2)
    return {
        "metric": "corpus_job_stages",
        "docs": n_docs,
        "cores": cores,
        "total_sec": total,
        "end_to_end_docs_per_sec": round(n_in / total, 1),
        "stages": stages,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument(
        "--substring",
        action=argparse.BooleanOptionalAction,
        default=None,
        help="substring-apply tier (default: on below 100k docs)",
    )
    ap.add_argument(
        "--host-quota", type=int, default=None,
        help="max docs kept per host (default: tier off)",
    )
    ap.add_argument(
        "--rebalance", default=None,
        help="target language mix as lang=bp pairs, e.g. "
        "'en=4000,de=2000,fr=2000,es=2000' (default: tier off)",
    )
    ap.add_argument(
        "--pagerank-iters", type=int, default=None,
        help="host-graph PageRank rounds (default: tier off)",
    )
    args = ap.parse_args()
    rebalance_bp = None
    if args.rebalance:
        rebalance_bp = {
            kv.split("=")[0]: int(kv.split("=")[1])
            for kv in args.rebalance.split(",")
        }
    substring = (
        args.substring
        if args.substring is not None
        else args.docs <= 100_000
    )
    if args.docs >= 500_000:
        os.environ.setdefault("SPARK_DRIVER_MEM", "48g")

    from zhtml_spark.pipeline import build_session

    spark = build_session(app="corpus-job", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    out = run(
        spark, args.docs, args.cores, substring,
        host_quota=args.host_quota, rebalance_bp=rebalance_bp,
        pagerank_iters=args.pagerank_iters,
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
