"""Two-parallelism scaling evidence (north rule: ≥0.8 efficiency from
N to 4N executors; sandbox proxy: taskset-pinned local[4] vs local[16]
on the same input, fresh JVM per configuration.

Why 4→16 and why pinned: an UNPINNED local[N] borrows the other 32-N
cores for JVM helper threads (parquet decode, shuffle, Arrow IPC),
flattering the small config; and at local[32] the JVM plus 32 Python
workers oversubscribe the host, measuring the machine instead of the
engine (observed: 2x run-to-run swings at 32-wide, stable +-5% at
4/16 pinned, steal=0 throughout).  Pinning the whole process tree to
exactly N cores is the faithful model of a cluster with N total cores.

Usage:  python jobs/scaling_bench.py [--docs 80000] [--timed-runs 2]
Writes: BENCH/BASELINE.md + prints a JSON summary line.

Measurement rules (BASELINE.md): corpus generated once (seed=42),
byte-identical for both configs; per config one warmup + N timed runs,
median docs/sec from job-recorded counters; efficiency =
(thr@32 / thr@8) / 4.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUN_SNIPPET = r"""
import sys, time, json
sys.path.insert(0, {repo!r})
import pyspark.sql.functions as F
from zhtml_spark.pipeline import build_session, extract_documents
from zhtml_spark.langid_model import SEED_TEXTS
from zhtml_spark.textops import lang_gate, minhash_banded_candidates

spark = build_session(app="zx-scaling", cores={cores})
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet({corpus!r})
# identical plan at every parallelism: fixed partition count, only the
# core count differs (BASELINE.md protocol)
PARTS = 256
# the 2M-job's post-extract stages (VERDICT r6 #8): the language gate
# and one near-dup tier run over the same corpus's text (JVM span
# join — the gate's 2000-char head cap bounds per-doc cost)
txt = docs.select(
    "doc_id",
    F.array_join(
        F.transform("spans", lambda s: F.coalesce(s["text"], F.lit(""))),
        " ",
    ).alias("text"),
)


# the dedup stage runs over a DETERMINISTIC quarter of the corpus
# (xxhash64 slice — byte-identical at both parallelism levels): the
# full-corpus banded tier needs ~15 min/run at 4 pinned cores, which
# blew the first C15 campaign's per-config timeout; a fixed slice
# measures the same scaling ratio at a quarter the wall clock
txt_q = txt.where(F.expr("pmod(xxhash64(doc_id), 4) = 0"))

def one_run():
    t0 = time.time()
    row = (extract_documents(docs, num_partitions=PARTS)
           .agg(F.count("*").alias("d"), F.sum("n_bytes").alias("b"),
                F.sum("n_spans").alias("s")).collect()[0])
    t1 = time.time()
    n_gate = lang_gate(
        txt, langs=tuple(sorted(SEED_TEXTS)), min_lm_score=-8_400_000
    ).count()
    t2 = time.time()
    n_cand = minhash_banded_candidates(txt_q, n=3, bands=4, rows=2).count()
    t3 = time.time()
    return {{"sec": t1 - t0, "gate_sec": t2 - t1,
             "dedup_sec": t3 - t2, "docs": row["d"],
             "bytes": row["b"], "spans": row["s"],
             "gate_rows": n_gate, "cand_pairs": n_cand}}

one_run()  # full warmup pass: worker forks + page cache + JIT
results = [one_run() for _ in range({timed_runs})]
print("RESULT " + json.dumps(results))
spark.stop()
"""


CANARY_SNIPPET = r"""
import time, numpy as np
a = np.arange(50_000_000, dtype=np.int64)  # 400 MB, bandwidth-bound
t0 = time.time()
s = 0
for _ in range(8):
    s += int(a.sum())
print("CANARY %.3f" % (time.time() - t0))
"""


def run_canary(n_procs: int) -> float:
    """Fixed memory-bandwidth workload: n_procs pinned processes each
    sum a 400 MB int64 array 8 times; returns max wall seconds.

    Purpose (BENCH/BASELINE.md campaign history): round-1 scaling
    campaigns drifted 0.76-1.01 with identical code; the 16-wide config
    degraded while 4-wide did not, implicating shared-VM memory
    bandwidth.  The canary quantifies host contention at measurement
    time so an efficiency number can be accepted (quiet host) or
    attributed (loaded host).  Run at 1 and at 16 procs: the 16/1
    ratio is the bandwidth-contention factor (1.0 = no contention).
    """
    procs = []
    for i in range(n_procs):
        prefix = []
        if os.path.exists("/usr/bin/taskset"):
            prefix = ["taskset", "-c", str(i)]
        procs.append(
            subprocess.Popen(
                prefix + [sys.executable, "-c", CANARY_SNIPPET],
                stdout=subprocess.PIPE,
                text=True,
            )
        )
    times = []
    for p in procs:
        out, _ = p.communicate(timeout=600)
        for line in out.splitlines():
            if line.startswith("CANARY "):
                times.append(float(line.split()[1]))
    if not times:
        # canary processes died (OOM kill / import failure): report
        # not-a-number rather than discarding the campaign's results
        return float("nan")
    return max(times)


def run_config(cores: int, corpus: str, timed_runs: int) -> list[dict]:
    code = RUN_SNIPPET.format(
        repo=REPO, cores=cores, corpus=corpus, timed_runs=timed_runs
    )
    # Pin the WHOLE process tree (JVM + python workers) to `cores`
    # CPUs: without this, local[8]'s JVM helper threads (parquet
    # decode, shuffle, Arrow IPC) borrow the other 24 cores for free
    # and the small config is flattered — a cluster 1/4 the size has
    # 1/4 the cores for everything (verified: unpinned local[8] ran
    # ~25% faster than pinned).
    prefix = []
    if os.path.exists("/usr/bin/taskset"):
        prefix = ["taskset", "-c", f"0-{cores - 1}"]
    out = subprocess.run(
        prefix + [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd="/tmp",
        timeout=10800,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"local[{cores}] run produced no RESULT:\n{out.stdout[-2000:]}\n"
        f"{out.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=80000)
    ap.add_argument("--timed-runs", type=int, default=5)
    ap.add_argument("--configs", default="4,16")
    args = ap.parse_args()

    corpus = f"/tmp/zx-scaling-corpus-{args.docs}-42"
    if not os.path.exists(corpus):
        code = (
            f"import sys; sys.path.insert(0, {REPO!r})\n"
            "from zhtml_spark.pipeline import build_session\n"
            "from zhtml_spark.corpus import corpus_dataframe\n"
            "spark = build_session(app='zx-gen', cores=32)\n"
            "spark.sparkContext.setLogLevel('ERROR')\n"
            f"corpus_dataframe(spark, {args.docs}, seed=42).write.mode('overwrite').parquet({corpus!r})\n"
            "spark.stop()\n"
        )
        subprocess.run(
            [sys.executable, "-c", code], check=True, cwd="/tmp", timeout=3600
        )

    report: dict[int, dict] = {}
    canary: dict[str, float] = {}
    canary["pre_1p"] = round(run_canary(1), 3)
    canary["pre_16p"] = round(run_canary(16), 3)
    for cores in [int(c) for c in args.configs.split(",")]:
        runs = run_config(cores, corpus, args.timed_runs)
        med_sec = statistics.median(r["sec"] for r in runs)
        med_gate = statistics.median(r["gate_sec"] for r in runs)
        med_dedup = statistics.median(r["dedup_sec"] for r in runs)
        docs = runs[0]["docs"]
        nbytes = runs[0]["bytes"]
        report[cores] = {
            "runs_sec": [round(r["sec"], 2) for r in runs],
            "gate_runs_sec": [round(r["gate_sec"], 2) for r in runs],
            "dedup_runs_sec": [round(r["dedup_sec"], 2) for r in runs],
            "median_sec": round(med_sec, 2),
            "gate_median_sec": round(med_gate, 2),
            "dedup_median_sec": round(med_dedup, 2),
            "docs_per_sec": round(docs / med_sec, 1),
            "mb_per_sec": round(nbytes / med_sec / 1e6, 1),
            "docs": docs,
            "bytes": nbytes,
            "gate_rows": runs[0]["gate_rows"],
            "cand_pairs": runs[0]["cand_pairs"],
        }

    canary["post_1p"] = round(run_canary(1), 3)
    canary["post_16p"] = round(run_canary(16), 3)

    cores_list = sorted(report)
    lo, hi = cores_list[0], cores_list[-1]
    speedup = report[hi]["docs_per_sec"] / report[lo]["docs_per_sec"]
    efficiency = speedup / (hi / lo)
    stage_eff = {
        "extract": round(efficiency, 3),
        "gate": round(
            (report[lo]["gate_median_sec"] / report[hi]["gate_median_sec"])
            / (hi / lo),
            3,
        ),
        "dedup": round(
            (
                report[lo]["dedup_median_sec"]
                / report[hi]["dedup_median_sec"]
            )
            / (hi / lo),
            3,
        ),
    }
    tot_lo = (
        report[lo]["median_sec"]
        + report[lo]["gate_median_sec"]
        + report[lo]["dedup_median_sec"]
    )
    tot_hi = (
        report[hi]["median_sec"]
        + report[hi]["gate_median_sec"]
        + report[hi]["dedup_median_sec"]
    )
    stage_eff["combined"] = round((tot_lo / tot_hi) / (hi / lo), 3)
    summary = {
        "metric": "scaling_efficiency",
        "value": stage_eff["combined"],
        "unit": f"(thr@{hi}/thr@{lo})/{hi // lo}",
        "speedup": round(speedup, 2),
        "stage_efficiency": stage_eff,
        "configs": {str(c): report[c] for c in cores_list},
        "canary": canary,
        "docs": args.docs,
    }
    print(json.dumps(summary))

    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    lines = [
        "# BENCH/BASELINE.md — measured engine numbers",
        "",
        "Protocol (BASELINE.md): deterministic corpus seed=42, byte-identical",
        f"input for all configs ({args.docs} interleaved docs,",
        f"{report[lo]['bytes'] / 1e6:.0f} MB of span text); fresh JVM per",
        "config; 1 warmup + timed runs; median docs/sec from job counters.",
        "",
        "| config | extract runs (s) | median | gate runs (s) | median | dedup runs (s) | median | extract docs/sec | MB/sec |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for c in cores_list:
        r = report[c]
        lines.append(
            f"| local[{c}] | {', '.join(str(x) for x in r['runs_sec'])} "
            f"| {r['median_sec']} "
            f"| {', '.join(str(x) for x in r['gate_runs_sec'])} "
            f"| {r['gate_median_sec']} "
            f"| {', '.join(str(x) for x in r['dedup_runs_sec'])} "
            f"| {r['dedup_median_sec']} "
            f"| {r['docs_per_sec']} | {r['mb_per_sec']} |"
        )
    lines += [
        "",
        f"**Scaling efficiency (local[{lo}] → local[{hi}], {hi // lo}× cores):"
        f" extract {stage_eff['extract']}, lang_gate {stage_eff['gate']},"
        f" banded-minhash dedup {stage_eff['dedup']} — combined"
        f" {stage_eff['combined']}** (north-rule target ≥ 0.8;"
        " per-stage medians, fresh JVM per config).",
        "",
        "Load canary (fixed 400 MB int64 8×-sum per proc, max wall s):",
        f"pre-campaign 1-proc {canary['pre_1p']} s / 16-proc"
        f" {canary['pre_16p']} s (contention ×"
        f"{canary['pre_16p'] / canary['pre_1p']:.2f});"
        f" post-campaign 1-proc {canary['post_1p']} s / 16-proc"
        f" {canary['post_16p']} s (contention ×"
        f"{canary['post_16p'] / canary['post_1p']:.2f}).",
        "A quiet host shows 16/1 contention near 1.0x; shared-VM",
        "neighbor load inflates it and degrades the wide config first.",
        "",
        "Skew evidence: giant pages (top ~1%, up to ~40× mean size) are",
        "LPT-placed onto explicit slots (zhtml_spark/pipeline.py::"
        "salted_repartition); without placement two giants hash-colliding",
        "in one partition put ~3.6× the mean byte load there (observed in",
        "tests/test_pipeline_spark.py::test_salted_repartition_balances_bytes",
        "before the fix); with placement max partition load stays within",
        "the indivisible-largest-doc floor.",
    ]
    # the generated block ends at the first "## " section: the
    # adjudication + campaign-history sections below it are
    # hand-maintained and must survive the rewrite (a plain "w" of
    # the whole file clobbered them once in r7)
    path = f"{REPO}/BENCH/BASELINE.md"
    tail = ""
    if os.path.exists(path):
        old = open(path).read()
        idx = old.find("\n## ")
        if idx != -1:
            tail = old[idx:]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n" + tail)


if __name__ == "__main__":
    main()
