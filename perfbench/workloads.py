"""The workloads: inputs, the timed operation, and the output check.
perfbench/NOTES.md says why each one exists.

Every workload follows one protocol, driven by ``run.py``:

* ``prepare()`` -- generate the seeded input once into the cache (or
  load it) and assert its pinned file and row counts;
* ``run(tracer)`` -- the timed operation; each call into the engine
  sits in a tracer span named after the layer metric it feeds;
* ``check(result, first)`` -- documents attempted / failed and
  documents whose output differs from the reference computation;
  ``first`` marks the warm-up run, whose output sets the references
  every timed iteration must repeat;
* ``release(result)`` -- drop what the run left behind;
* ``trace_extras(rest)`` -- per-layer numbers that need extra calls,
  made only in traced runs and never inside a timed operation.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
from dataclasses import dataclass

from pyspark.sql import functions as F

from harness import CORES, SparkRest, Tracer
import layers

SAMPLE_DOCS = 40  # documents compared against the in-process reference
# documents in the traced run's in-process layer split: 40 give each
# layer ~0.04 s, too little to time steadily
SPLIT_DOCS = 200


class LayoutError(RuntimeError):
    pass


@dataclass
class Check:
    attempted: int
    failed: int = 0
    mismatched: int = 0


def cached_input(spark, cache_root: str, key: str, n_rows: int, parts: int, build) -> str:
    """Path of the parquet input ``key``, built by ``build()`` on first
    use and then loaded.  The file count is pinned: an input written
    with another layout changes every downstream scan width, so a cache
    holding any other file or row count is refused."""
    path = os.path.join(cache_root, f"{key}-n{n_rows}-p{parts}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        build().write.mode("overwrite").parquet(tmp)
        os.rename(tmp, path)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    rows = spark.read.parquet(path).count()
    if len(files) != parts or rows != n_rows:
        raise LayoutError(
            f"{path}: {len(files)} files / {rows} rows, expected {parts} / {n_rows}"
        )
    return path


def digest(df) -> tuple[int, int, int]:
    """Row count plus two order-independent hashes of every row (a map
    column hashes as its sorted entries: Spark refuses to hash maps)."""
    from pyspark.sql.types import MapType

    h = F.xxhash64(
        *[
            F.array_sort(F.map_entries(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
            for f in df.schema.fields
        ]
    )
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(h, F.lit(2_147_483_647))).alias("s"),
        F.bit_xor(h).alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["s"] or 0), int(row["x"] or 0)


def seeded_ids(df, seed: int, k: int) -> list:
    ids = sorted(r[0] for r in df.select("doc_id").collect())
    return random.Random(seed).sample(ids, min(k, len(ids)))


def sample_docs(docs, seed: int, k: int) -> dict:
    """``span_rows`` of ``k`` seeded documents of ``docs``."""
    return span_rows(docs.where(F.col("doc_id").isin(seeded_ids(docs, seed, k))).collect())


def span_rows(rows) -> dict:
    """doc_id -> [(kind, text, media_ref, offset), ...] from Spark rows."""
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }


def sample_mismatches(spark_out: dict, inputs: dict, config) -> int:
    """Sample documents whose Spark-path spans differ from
    ``udfs.extract_document_safe`` run in-process with the same config
    (a document missing from the Spark output differs)."""
    from zhtml_spark.udfs import extract_document_safe

    bad = 0
    for doc_id, in_spans in inputs.items():
        want, _errs, _n = extract_document_safe(in_spans, config)
        got = spark_out.get(doc_id)
        got = None if got is None else [s[:3] for s in sorted(got, key=lambda s: s[3])]
        bad += got != [tuple(s) for s in want]
    return bad


def byte_spread(df, n_parts: int) -> float:
    """max/mean per-partition byte mass after ``salted_repartition``."""
    from zhtml_spark.pipeline import salted_repartition

    row = (
        salted_repartition(df, n_parts)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum("n_bytes").alias("b"))
        .agg((F.max("b") / F.avg("b")).alias("spread"))
        .collect()[0]
    )
    return float(row["spread"])


def wall_quantiles_ms(extracted) -> tuple[float, float]:
    """p50 and p99.9 of the fused stage's per-document ``wall_us``."""
    q = extracted.agg(
        F.percentile_approx("wall_us", [0.5, 0.999], 10000).alias("q")
    ).collect()[0]["q"]
    return q[0] / 1000.0, q[1] / 1000.0


class Workload:
    name = ""
    default_docs = 0
    parts = 8

    def __init__(self, spark, cache_root: str, out_root: str, seed: int, n_docs: int | None):
        self.spark = spark
        self.cache_root = cache_root
        self.out_root = out_root
        self.seed = seed
        self.n_docs = n_docs or self.default_docs
        self.iteration = 0


# ----------------------------------------------------------- extract_job


# corpus seeds tried per benchmark seed by typical_corpus_seed
CORPUS_SEED_CANDIDATES = 24


def size_targets(corpus_seed: int, n: int) -> list[int]:
    """Target byte size of each of the ``n`` documents that
    ``corpus_dataframe(spark, n, seed=corpus_seed)`` draws: a mirror of
    its per-document draw (log-normal size, 1% giants at 40x), which
    ``check_size_targets`` holds against the generated table."""
    out = []
    for i in range(n):
        rng = random.Random((corpus_seed << 20) ^ i)
        target = int(rng.lognormvariate(0, 0.8) * 4000) + 300
        if rng.random() < 0.01:
            target *= 40
        out.append(target)
    return out


def typical_corpus_seed(seed: int, n: int) -> int:
    """The ``corpus_dataframe`` seed for benchmark seed ``seed``.

    At a few thousand documents the giant-page tail makes the byte mass
    and the largest page (a task no partitioning can split) swing from
    seed to seed, and run time with them.  Of the candidate seeds
    derived from ``seed``, take the one whose (total, largest) target
    size lies closest to the candidates' median: every benchmark seed
    still gets its own documents, all with a typical size mix."""
    k = CORPUS_SEED_CANDIDATES
    prof = {}
    for s in range(seed * k, seed * k + k):
        targets = size_targets(s, n)
        prof[s] = (sum(targets), max(targets))
    med_total = statistics.median(p[0] for p in prof.values())
    med_max = statistics.median(p[1] for p in prof.values())

    def distance(s: int) -> float:
        total, largest = prof[s]
        return abs(math.log(total / med_total)) + abs(math.log(largest / med_max))

    return min(prof, key=distance)


def check_size_targets(docs, corpus_seed: int, n: int) -> None:
    """The mirrored draw must still match the generator: each of the
    three largest targets is met by its document, which overshoots by at
    most one html block plus interleaved text spans."""
    targets = size_targets(corpus_seed, n)
    top = sorted(range(n), key=targets.__getitem__)[-3:]
    ids = {f"doc-{corpus_seed}-{i:08d}": targets[i] for i in top}
    got = {
        r["doc_id"]: r["n_bytes"]
        for r in docs.where(F.col("doc_id").isin(list(ids))).select("doc_id", "n_bytes").collect()
    }
    for doc_id, target in ids.items():
        if not target <= got.get(doc_id, -1) <= 1.1 * target + 2000:
            raise LayoutError(
                f"{doc_id}: {got.get(doc_id)} bytes, mirrored target {target}: "
                "size_targets no longer mirrors corpus_dataframe"
            )


class ExtractJob(Workload):
    """``pipeline.run_job`` with a checkpoint over ``corpus_dataframe``."""

    name = "extract_job"
    default_docs = 1000
    corpus_seed = None

    def prepare(self) -> None:
        from zhtml_spark.corpus import corpus_dataframe

        n = self.n_docs
        first = self.corpus_seed is None
        if first:
            self.corpus_seed = typical_corpus_seed(self.seed, n)
        self.input = cached_input(
            self.spark,
            self.cache_root,
            f"corpus-s{self.corpus_seed}",
            n,
            self.parts,
            lambda: corpus_dataframe(self.spark, n, seed=self.corpus_seed).repartition(
                self.parts
            ),
        )
        if first:
            check_size_targets(self.spark.read.parquet(self.input), self.corpus_seed, n)

    def run(self, tracer: Tracer):
        from zhtml_spark.pipeline import run_job

        self.iteration += 1
        out = os.path.join(self.out_root, f"extract-{self.iteration}")
        with tracer.span("pipeline.run_job", composite=True):
            res = run_job(self.spark, self.input, out, checkpoint_path=out + "-ckpt")
        return res, out

    def check(self, result, first: bool) -> Check:
        from zhtml_spark.extract import ExtractConfig
        from zhtml_spark.pipeline import read_spans, span_order_violations

        res, out = result
        c = Check(attempted=self.n_docs, failed=max(0, self.n_docs - res["docs"]))
        metrics = self.spark.read.parquet(f"{out}/metrics/attempt={res['attempt']}")
        c.failed += int(
            metrics.select(F.explode("error_codes"))
            .where(F.col("key").startswith("internal-error:"))
            .agg(F.sum("value"))
            .collect()[0][0]
            or 0
        )
        self.spec_errors = res["errors"]
        if first:
            spans = read_spans(self.spark, out)
            c.mismatched += span_order_violations(spans).select("doc_id").distinct().count()
            inputs = sample_docs(self.spark.read.parquet(self.input), self.seed, SAMPLE_DOCS)
            got = span_rows(spans.where(F.col("doc_id").isin(list(inputs))).collect())
            c.mismatched += sample_mismatches(got, inputs, ExtractConfig())
        return c

    def release(self, result) -> None:
        _res, out = result
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(out + "-ckpt", ignore_errors=True)

    def trace_extras(self, rest: SparkRest) -> dict:
        from zhtml_spark.extract import ExtractConfig
        from zhtml_spark.pipeline import extract_documents, read_documents

        docs = read_documents(self.spark, self.input)
        p50, p999 = wall_quantiles_ms(
            extract_documents(docs, num_partitions=2 * CORES)
        )
        sample = list(sample_docs(docs, self.seed, SPLIT_DOCS).items())
        return {
            "udfs.doc_ms_p50": p50,
            "udfs.doc_ms_p999": p999,
            "pipeline.byte_spread": byte_spread(
                docs.select("doc_id", "n_bytes"), 2 * CORES
            ),
            **layers.split(sample, ExtractConfig()),
        }


# ----------------------------------------------------------- crawl_packs


def warc_archives(spark, n: int, seed: int, parts: int):
    """One WARC response record per seeded adversarial page: the render
    of ``jobs/corpus_job.py``'s synthetic crawl (step 0)."""
    from zhtml_spark.corpus import adversarial_web_corpus
    from zhtml_spark.sources import warc_record

    adv = adversarial_web_corpus(spark, n, seed=seed, n_partitions=parts)
    doc_id = F.col("doc_id").cast("string")
    url = F.concat(F.lit("https://"), F.col("host"), F.lit("/page"), doc_id, F.lit(".html"))
    para = F.array_join(
        F.transform(
            F.split(F.col("text"), "\n"),
            lambda ln: F.concat(F.lit("<p>"), ln, F.lit("</p>")),
        ),
        "",
    )
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>page "),
        doc_id,
        F.lit(
            "</title></head><body><nav><ul>"
            '<li><a href="/">home</a></li>'
            '<li><a href="/private/admin">admin</a></li>'
            "</ul></nav>"
        ),
        para,
        F.lit('<p>next: <a href="page'),
        (F.col("doc_id") + 1).cast("string"),
        F.lit('.html">more</a> <img src="/img/'),
        doc_id,
        F.lit('.png" alt="fig"> see <a href="https://host'),
        ((F.col("doc_id") % 97) + 1).cast("string"),
        F.lit('/">partner</a></p></body></html>'),
    )
    return adv.select(
        warc_record(url, F.lit("2026-01-01T00:00:00Z"), html, http_headers=True).alias("content")
    )


def internal_error_docs(extracted) -> int:
    """Documents whose error codes include an ``internal-error:*`` one."""
    return extracted.where(
        F.exists(F.map_keys("error_codes"), lambda k: k.startswith("internal-error:"))
    ).count()


class CrawlPacks(Workload):
    """WARC archives through extraction, language gate, the near-dup
    tier, dedup, line dedup, packing and markdown: ``jobs/corpus_job.py``'s
    chain without its frontier and quality tiers, plus the near-dup
    candidate generators over the gated pages."""

    name = "crawl_packs"
    default_docs = 400
    # corpus_job's permissive LM floor: the synthetic pages are word
    # salad, which scores in the gibberish band of the language model
    min_lm_score = -8_400_000

    @staticmethod
    def config():
        from zhtml_spark.extract import ExtractConfig

        return ExtractConfig(emit_links=True, emit_head_meta=True)

    def prepare(self) -> None:
        self.input = cached_input(
            self.spark,
            self.cache_root,
            f"warc-s{self.seed}",
            self.n_docs,
            self.parts,
            lambda: warc_archives(self.spark, self.n_docs, self.seed, self.parts),
        )
        self.reference = None

    def documents(self):
        from zhtml_spark.sources import parse_warc_records, warc_to_documents

        return warc_to_documents(parse_warc_records(self.spark.read.parquet(self.input)))

    def run(self, tracer: Tracer) -> dict:
        from zhtml_spark.langid_model import SEED_TEXTS
        from zhtml_spark.pipeline import extract_documents
        from zhtml_spark.textops import (
            dedup_components,
            dedup_survivors,
            lang_gate,
            line_dedup,
            minhash_banded_candidates,
            pack_sequences,
            spans_to_markdown,
            substring_dup_spans,
            winnow_dup_candidates,
        )

        r: dict = {}
        with tracer.span("sources.warc"):
            r["docs"] = self.documents().localCheckpoint()
            r["records"] = r["docs"].count()
        with tracer.span("pipeline.extract_documents", composite=True):
            r["extracted"] = extract_documents(
                r["docs"], config=self.config(), num_partitions=2 * CORES
            ).localCheckpoint()
        with tracer.span("crawl.text_rebuild"):
            spans = r["extracted"].select("doc_id", F.explode("spans").alias("s")).select(
                "doc_id",
                F.col("s.offset").alias("offset"),
                F.col("s.kind").alias("kind"),
                F.col("s.text").alias("text"),
                F.col("s.media_ref").alias("media_ref"),
            )
            text = (
                spans.where(F.col("kind").isin("text", "heading", "list"))
                .groupBy("doc_id")
                .agg(
                    F.array_join(
                        F.array_sort(F.collect_list(F.struct("offset", "text"))).getField("text"),
                        "\n",
                    ).alias("text")
                )
                .localCheckpoint()
            )
        with tracer.span("textops.lang_gate"):
            gated = r["gated"] = lang_gate(
                text, langs=tuple(sorted(SEED_TEXTS)), max_chars=2000,
                min_lm_score=self.min_lm_score,
            ).localCheckpoint()
        # the near-dup tier: JVM-only shuffles and joins, no Python
        with tracer.span("textops.minhash"):
            pairs = minhash_banded_candidates(gated, n=3, bands=4, rows=2).localCheckpoint()
            r["minhash"] = digest(pairs)
        with tracer.span("textops.winnow"):
            r["winnow"] = digest(winnow_dup_candidates(gated, min_shared=5, max_doc_freq=20))
        with tracer.span("textops.substring"):
            r["substring"] = digest(substring_dup_spans(gated, k=25, min_len=60))
        stats: dict = {}
        with tracer.span("textops.components"):
            r["components"] = digest(dedup_components(pairs, stats=stats))
        r["rounds"] = stats.get("rounds", 0)
        with tracer.span("textops.survivors"):
            survivors = dedup_survivors(gated, n=3, bands=4, rows=2).localCheckpoint()
        with tracer.span("textops.line_dedup"):
            lined = line_dedup(survivors).localCheckpoint()
        with tracer.span("textops.pack"):
            r["packs"] = digest(pack_sequences(lined, budget_tokens=2048))
        with tracer.span("textops.markdown"):
            r["markdown"] = digest(spans_to_markdown(spans.join(lined.select("doc_id"), "doc_id")))
        return r

    def check(self, r: dict, first: bool) -> Check:
        """Every document extracted without an internal error; on the
        first run the extraction reference; on every run the counts and
        digests of the extraction, of each near-dup generator and of the
        two final outputs equal to the first run's (one that differs
        counts all its rows as mismatched).  The final outputs depend on
        every step between."""
        from zhtml_spark.pipeline import span_order_violations

        extracted = r["extracted"]
        c = Check(attempted=self.n_docs)
        c.failed = max(0, self.n_docs - extracted.count()) + internal_error_docs(extracted)
        out = {
            "records": (r["records"],),
            "extracted": digest(extracted.select("doc_id", "spans", "error_codes")),
            **{k: r[k] for k in ("minhash", "winnow", "substring", "components", "packs", "markdown")},
        }
        if first:
            c.mismatched += abs(r["records"] - self.n_docs)
            c.mismatched += span_order_violations(extracted).select("doc_id").distinct().count()
            inputs = sample_docs(r["docs"], self.seed, SAMPLE_DOCS)
            got = span_rows(extracted.where(F.col("doc_id").isin(list(inputs))).collect())
            c.mismatched += sample_mismatches(got, inputs, self.config())
            self.reference = out
        for step, ref in self.reference.items():
            if out[step] != ref:
                c.mismatched += max(out[step][0], ref[0])
        self.last = out
        self.last_rounds = r["rounds"]
        self.last_gated = r["gated"]
        return c

    def release(self, r: dict) -> None:
        r.clear()

    def trace_extras(self, rest: SparkRest) -> dict:
        from zhtml_spark.pipeline import extract_documents
        from zhtml_spark.textops import substring_gram_stats, winnow_candidate_stats

        def kept(st):
            return st["capped_candidate_pairs"] / max(st["uncapped_candidate_pairs"], 1)

        gated = self.last_gated
        docs = self.documents().localCheckpoint()
        p50, p999 = wall_quantiles_ms(
            extract_documents(docs, config=self.config(), num_partitions=2 * CORES)
        )
        # the pages are ~1 KB: four times extract_job's sample gives each
        # layer a comparable share of a second
        sample = list(sample_docs(docs, self.seed, 4 * SPLIT_DOCS).items())
        return {
            **{f"textops.{op}.pairs": float(self.last[op][0]) for op in ("minhash", "winnow", "substring")},
            "textops.components.rows": float(self.last["components"][0]),
            "textops.components.rounds": float(self.last_rounds),
            "textops.winnow.kept_frac": kept(winnow_candidate_stats(gated, max_doc_freq=20)),
            "textops.substring.kept_frac": kept(substring_gram_stats(gated, k=25, max_gram_freq=20)),
            "sources.records": float(self.last["records"][0]),
            "udfs.doc_ms_p50": p50,
            "udfs.doc_ms_p999": p999,
            **layers.split(sample, self.config()),
        }


WORKLOADS = {w.name: w for w in (ExtractJob, CrawlPacks)}
