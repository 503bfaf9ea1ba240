"""Repository benchmark: closed-loop workloads on ``local[4]``.

Run from the repository root:

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 5 --trace 0

One driver process, one job at a time.  The run

1. sets up: launches the JVM and the Spark session, loads the seeded
   input ``SETUP_ROUNDS`` times (generated into the cache on first use,
   its file and row counts asserted on every load), then runs the
   workload once untimed; ``setup_s`` is launch + the median load +
   warm-up;
2. repeats the workload's timed operation for ``--seconds`` (at least
   ``MIN_ITERATIONS`` times), checking every result, the warm-up's
   included, outside the timer;
3. prints, as the last line of stdout, one JSON object: ``correct``,
   ``attempted`` and ``failed`` documents, and ``metrics`` -- the
   ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
   ``per_layer`` metrics with ``--trace 1``.

With ``--trace 1`` every other iteration is traced (at least three
iterations, untraced first and last): spans around each
engine call, Spark stage metrics per span from the local REST API, and
afterwards the in-process layer split over the seeded sample.  The
untraced iterations of the same run give the tracing overhead.  A
per-run summary (samples, steal, set-up rounds) goes to stderr.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
MIN_ITERATIONS = 1


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--docs", type=int, default=None,
        help="input size override (the smoke test uses a tiny one)",
    )
    return ap.parse_args(argv)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def fused_split(rest, span_info: dict) -> dict:
    """udfs / pipeline layer numbers from the SQL executions under an
    extraction span: the MapInArrow execution's heaviest stage is the
    fused stage, executions that write are the sink, and the rest are
    ``salted_repartition``'s planning actions (stats, giant collect)."""
    m = {"udfs.stage_s": 0.0, "pipeline.sink_s": 0.0, "pipeline.salt_s": 0.0,
         "pipeline.task_skew": 0.0}
    charged = {j["jobId"]: j["charged"] for j in span_info["jobs"]}
    for ex in span_info["sql"]:
        stages = [s for j in ex["jobs"] for s in charged.get(j, [])]
        nodes = {n["nodeName"] for n in ex.get("nodes", [])}
        if any("InsertIntoHadoopFsRelationCommand" in n for n in nodes):
            m["pipeline.sink_s"] += sum(s["executorRunTime"] for s in stages) / 1000
        elif "MapInArrow" in nodes and stages:
            fused = max(stages, key=lambda s: s["executorRunTime"])
            m["udfs.stage_s"] += fused["executorRunTime"] / 1000
            med, mx = rest.task_run_quantiles(fused)
            m["pipeline.task_skew"] = max(m["pipeline.task_skew"], mx / med if med else 0.0)
        else:
            m["pipeline.salt_s"] += ex.get("duration", 0) / 1000
    return m


def union_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


def iteration_layers(tracer, rest, sids: list[int], wall: float) -> dict:
    """Per-layer numbers of one traced iteration.

    ``trace.coverage`` is the share of the iteration's wall time spent
    in leaf layer calls.  A leaf span is one engine call, except a
    ``composite`` span, which wraps several layers in one call
    (``run_job``: salting, fused stage, sink): it covers only the wall
    time of the Spark SQL executions it started, so its driver-side
    gaps count as unattributed."""
    info = rest.span_stages(tracer, sids)
    spans = [tracer.spans[i] for i in sids]
    m: dict = {}
    for s in spans:
        key = s["name"] + "_s"
        m[key] = m.get(key, 0.0) + s["end"] - s["start"]
    parents = {s["parent"] for s in spans}
    covered = 0.0
    for s in spans:
        if s["id"] in parents:
            continue
        if s.get("composite"):
            covered += union_s(rest.sql_interval(ex) for ex in info[s["id"]]["sql"])
        else:
            covered += s["end"] - s["start"]
    m["trace.coverage"] = covered / wall
    stages = [st for i in sids for st in info[i]["stages"]]
    m["spark.executor_s"] = sum(s["executorRunTime"] for s in stages) / 1000
    m["spark.gc_s"] = sum(s["jvmGcTime"] for s in stages) / 1000
    m["spark.shuffle_mb"] = sum(s["shuffleWriteBytes"] for s in stages) / 1e6
    m["spark.spill_mb"] = sum(s["diskBytesSpilled"] for s in stages) / 1e6
    for s in spans:
        if s.get("composite"):
            m.update(fused_split(rest, info[s["id"]]))
    return m


def run(args) -> dict:
    from harness import (
        PeakMemory,
        SparkRest,
        Tracer,
        WorkArea,
        cpu_times,
        jvm_pid,
        start_session,
        steal_frac,
        stop_session,
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = WorkArea(ROOT)
    work.open()
    spark = None
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", False)
    summary: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        # ---- set-up: JVM and session launch, then SETUP_ROUNDS input
        # loads (the first generates a missing input; the median is
        # reported), then one untimed warm-up run.  Launch and warm-up
        # happen once per process by nature: the JIT state and compiled
        # plans they leave cannot be reset short of a new process.
        t0 = time.perf_counter()
        spark = start_session(work)
        launch_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work.cache, work.out, args.seed, args.docs)
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            wl.prepare()
            rounds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = wl.run(Tracer("warm-up", False))
        warmup_s = time.perf_counter() - t0
        setups = [launch_s, *rounds, warmup_s]
        # the warm-up's output is checked too: it sets the references
        # every timed iteration must repeat exactly
        total = wl.check(warm, True)
        wl.release(warm)
        del warm
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        rest = SparkRest(spark.sparkContext) if args.trace else None
        tracer.sc = spark.sparkContext

        # ---- closed loop over the timed operation
        untraced: list[float] = []
        traced: list[float] = []
        layer_runs: list[dict] = []
        steal0 = cpu_times()
        with PeakMemory(jvm_pid(), work.local) as mem:
            t_start = time.perf_counter()
            it = 0
            # traced runs alternate untraced / traced / untraced: the mean
            # of the untraced pair brackets the traced one, so the JIT
            # still warming over the loop does not bias the overhead
            min_its = 3 if args.trace else MIN_ITERATIONS
            while it < min_its or time.perf_counter() - t_start < args.seconds:
                tracer.enabled = bool(args.trace) and it % 2 == 1
                n_spans = len(tracer.spans)
                t0 = time.perf_counter()
                try:
                    result = wl.run(tracer)
                except Exception as exc:  # noqa: BLE001 -- counted, reported
                    print(f"[perfbench] {args.workload} failed: {exc!r}", file=sys.stderr)
                    total.attempted += wl.n_docs
                    total.failed += wl.n_docs
                    break
                dt = time.perf_counter() - t0
                (traced if tracer.enabled else untraced).append(dt)
                c = wl.check(result, False)
                total.attempted += c.attempted
                total.failed += c.failed
                total.mismatched += c.mismatched
                if tracer.enabled:
                    layer_runs.append(
                        iteration_layers(tracer, rest, list(range(n_spans, len(tracer.spans))), dt)
                    )
                wl.release(result)
                del result
                gc.collect()
                spark.sparkContext._jvm.System.gc()
                it += 1
            tracer.enabled = False
        steal = steal_frac(steal0, cpu_times())

        times = untraced
        docs_per_s = wl.n_docs / median(times) if times else 0.0
        attempted = max(total.attempted, 1)
        metrics = {
            "docs_per_s": docs_per_s,
            "setup_s": launch_s + median(rounds) + warmup_s,
            "served_frac": 1.0 - total.failed / attempted,
            "matched_frac": 1.0 - min(total.mismatched, attempted) / attempted,
            "peak_rss_mb": mem.peak / (1 << 20),
        }
        summary.update(
            samples=len(times), op_s=times, setup_parts_s=setups, peak_rss_mb=metrics["peak_rss_mb"],
            steal_frac=steal, mismatch_docs=total.mismatched,
            failed_frac=total.failed / attempted,
            spec_errors=getattr(wl, "spec_errors", None),
        )
        if args.trace:
            layer = {
                k: median([r.get(k, 0.0) for r in layer_runs])
                for k in {k for r in layer_runs for k in r}
            }
            layer.update(wl.trace_extras(rest))
            layer["host.steal_frac"] = steal
            layer["loop.samples"] = float(len(untraced) + len(traced))
            layer["trace.overhead_frac"] = (
                median(traced) / median(untraced) - 1.0 if traced and untraced else 0.0
            )
            metrics = layer
            summary["traced_op_s"] = traced
            trace_dir = os.path.join(work.root, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{tracer.run_id}.json"), "w") as f:
                json.dump(tracer.spans, f)
        return {
            "correct": total.failed == 0 and total.mismatched == 0 and bool(times),
            "attempted": total.attempted,
            "failed": total.failed,
            "metrics": metrics,
            "summary": summary,
        }
    finally:
        stop_session(spark)
        work.close()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import zhtml_spark.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"[perfbench] engine not importable here: {exc}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from harness import StaleShuffleError

    try:
        out = run(args)
    except StaleShuffleError as exc:
        print(f"[perfbench] refusing to start: {exc}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 3
    print(json.dumps(out.pop("summary")), file=sys.stderr)
    if args.trace:
        # a layer the workload never calls did no work on it: 0
        values = {m["name"]: out["metrics"].get(m["name"], 0.0) for m in spec["per_layer"]}
        wanted = spec["per_layer"]
    else:
        values = out["metrics"]
        wanted = spec["end_to_end"]
    out["metrics"] = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
