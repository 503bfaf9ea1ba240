"""Process, memory, host and tracing plumbing for the benchmark.

Nothing here knows a workload.  The pieces are:

* :class:`WorkArea` -- the benchmark's scratch tree inside the checkout
  (input caches, per-run Spark local dirs and outputs), with the stale
  shuffle-dir guard;
* :func:`start_session` / :func:`stop_session` -- a ``local[4]`` session
  built by ``pipeline.build_session`` with every file Spark writes kept
  inside the work area, and a shutdown that waits for the JVM and its
  Python workers to end;
* :class:`PeakMemory` -- sampled peak RSS of the JVM process tree plus
  shuffle bytes when the local dir lives on tmpfs;
* :class:`Tracer` and :class:`SparkRest` -- benchmark-side spans around
  each public call, each span tagging the Spark jobs it starts, and the
  per-span stage metrics read back from the local Spark REST API.
"""

from __future__ import annotations

import datetime
import json
import os
import shlex
import shutil
import signal
import threading
import time
import urllib.request
from contextlib import contextmanager

CORES = 4


# ---------------------------------------------------------------- host


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """Driver heap sized from the host: 1/8 of RAM, clamped to [1g, 16g].

    ``build_session``'s 16g default got the JVM kernel-OOM-killed on a
    15 GB host during adversarial dedup; the heap must leave room for
    the Python workers and for tmpfs shuffle files, which are RAM too.
    The benchmark's inputs need far less, and a heap G1 fills early
    keeps the JVM's peak RSS steady from run to run.
    """
    mb = mem_total_bytes() // 8 // (1 << 20)
    return f"{max(1024, min(mb, 16 * 1024))}m"


def cpu_times() -> list[int]:
    """Aggregate ``/proc/stat`` cpu jiffies (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def tmpfs_mount(path: str) -> bool:
    """True when ``path`` lies on a tmpfs mount (its bytes are RAM)."""
    path = os.path.realpath(path)
    best, fstype = "", ""
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(
                mnt
            ) >= len(best):
                best, fstype = mnt, typ
    return fstype == "tmpfs"


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass  # shuffle files come and go while we walk
    return total


def _pid_alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"perfbench" in f.read()
    except OSError:
        return False


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants (one ``/proc`` scan)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


# ----------------------------------------------------------- work area


class StaleShuffleError(RuntimeError):
    pass


# build_session's spark.local.dir when /dev/shm is writable
PROGRAM_SHM_DIR = "/dev/shm/spark-local"


def spark_jvm_running() -> bool:
    """True when some process on the host is a Spark driver JVM."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/cmdline", "rb") as f:
                    if b"org.apache.spark.deploy.SparkSubmit" in f.read():
                        return True
            except OSError:
                continue
    return False


def check_program_shm() -> None:
    """Refuse to start while ``build_session``'s tmpfs local dir holds
    bytes that no live Spark JVM owns: shuffle files a killed driver
    left behind, which are RAM the run would silently lose (a kernel-OOM
    kill during adversarial dedup once left 1.3 GB there).  Read only."""
    if not os.path.isdir(PROGRAM_SHM_DIR) or not tmpfs_mount(PROGRAM_SHM_DIR):
        return
    held = tree_bytes(PROGRAM_SHM_DIR)
    if held and not spark_jvm_running():
        raise StaleShuffleError(
            f"{PROGRAM_SHM_DIR} holds {held} bytes of tmpfs with no Spark JVM "
            "alive; remove its contents and retry"
        )


class WorkArea:
    """``<checkout>/.perfbench-work``: input caches plus one directory
    per run (Spark local dir, temp dir, warehouse, job outputs).

    A run directory whose owner died (a JVM OOM kill takes the driver's
    cleanup with it) is stale.  On disk it is deleted; on tmpfs its
    bytes are RAM that the next run would silently lose, so the
    benchmark refuses to start until someone removes it.
    """

    def __init__(self, root: str):
        self.root = os.path.join(root, ".perfbench-work")
        self.cache = os.path.join(self.root, "cache")
        self.run = os.path.join(self.root, f"run-{os.getpid()}")
        self.local = os.path.join(self.run, "local")
        self.tmp = os.path.join(self.run, "tmp")
        self.warehouse = os.path.join(self.run, "warehouse")
        self.out = os.path.join(self.run, "out")

    def open(self) -> None:
        check_program_shm()
        os.makedirs(self.cache, exist_ok=True)
        self._reclaim_stale()
        for d in (self.local, self.tmp, self.out):
            os.makedirs(d, exist_ok=True)

    def _reclaim_stale(self) -> None:
        for name in os.listdir(self.root):
            if not name.startswith("run-") or not name[4:].isdigit():
                continue
            path = os.path.join(self.root, name)
            if _pid_alive(int(name[4:])):
                continue
            if tmpfs_mount(path) and tree_bytes(path):
                raise StaleShuffleError(
                    f"stale tmpfs shuffle dir: {path} holds {tree_bytes(path)} bytes "
                    "of RAM left by a dead run; remove it and retry"
                )
            shutil.rmtree(path, ignore_errors=True)

    def close(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


# ------------------------------------------------------------- session


def start_session(work: WorkArea):
    """``build_session(cores=4)`` with every Spark file inside ``work``.

    The environment is read when the JVM launches (first call); later
    calls reuse the JVM and build a fresh SparkContext, which re-forks
    the Python workers.
    """
    os.environ["SPARK_DRIVER_MEM"] = driver_memory()
    # SPARK_LOCAL_DIRS overrides build_session's spark.local.dir even in
    # local mode, so shuffle and broadcast files stay in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = work.local
    os.environ["TMPDIR"] = work.tmp
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work.tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf {shlex.quote('spark.sql.warehouse.dir=' + work.warehouse)}",
            f"--driver-java-options {shlex.quote(java_opts)}",
            "pyspark-shell",
        ]
    )
    from zhtml_spark.pipeline import build_session

    # two shuffle partitions per core, as run_job sizes its repartition:
    # build_session's floor of 32 leaves most partitions of these
    # few-thousand-document inputs empty and triples per-job overhead
    spark = build_session(app="perfbench", cores=CORES, shuffle_partitions=2 * CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark, close the gateway, and wait until the JVM and every
    Python worker it forked have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    tree = process_tree(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 -- any wait failure ends in a kill
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -------------------------------------------------------------- memory


class PeakMemory:
    """Peak of (RSS of the JVM process tree + tmpfs shuffle bytes),
    sampled every ``period`` seconds while running."""

    def __init__(self, root_pid: int, local_dir: str, period: float = 0.25):
        self.root_pid = root_pid
        self.local_dir = local_dir if tmpfs_mount(local_dir) else None
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        rss = sum(rss_bytes(p) for p in process_tree(self.root_pid))
        shm = tree_bytes(self.local_dir) if self.local_dir else 0
        self.peak = max(self.peak, rss + shm)
        return rss + shm

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "PeakMemory":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


# ------------------------------------------------------------- tracing


class Tracer:
    """Spans (name, start, end, parent, run id) around the benchmark's
    calls into the engine.  A span also tags every Spark job started
    inside it, so :class:`SparkRest` can charge stage metrics to it.
    Disabled, ``span`` costs one attribute test."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None

    def tag(self, sid: int) -> str:
        return f"pb-{self.run_id}-{sid}"

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.addJobTag(self.tag(sid))
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            if self.sc is not None:
                self.sc.removeJobTag(self.tag(sid))
            self._stack.pop()


class SparkRest:
    """Stage metrics from the driver's own Spark REST API, on loopback,
    with proxies disabled."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )
        self.opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def get(self, path: str):
        with self.opener.open(self.base + path, timeout=60) as r:
            return json.load(r)

    def span_stages(self, tracer: Tracer, sids: list[int]) -> dict:
        """For each span id: its jobs, completed stages and SQL
        executions.  A job is charged to the innermost span that tagged
        it; a stage to the first job that ran it."""
        tags = {tracer.tag(s): s for s in sids}
        jobs = sorted(self.get("/jobs"), key=lambda j: j["jobId"])
        stages = {
            s["stageId"]: s
            for s in self.get("/stages")
            if s["status"] == "COMPLETE"
        }
        out = {s: {"jobs": [], "stages": [], "sql": []} for s in sids}
        job_span: dict[int, int] = {}
        seen: set[int] = set()
        for job in jobs:
            mine = [tags[t] for t in job.get("jobTags", []) if t in tags]
            if not mine:
                continue
            sid = max(mine)
            job_span[job["jobId"]] = sid
            job["charged"] = []
            out[sid]["jobs"].append(job)
            for st in job["stageIds"]:
                if st in stages and st not in seen:
                    seen.add(st)
                    job["charged"].append(stages[st])
                    out[sid]["stages"].append(stages[st])
        for ex in self.get("/sql?details=true&planDescription=false&length=100000"):
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            owners = {job_span[j] for j in ids if j in job_span}
            if owners:
                ex["jobs"] = set(ids)
                out[max(owners)]["sql"].append(ex)
        return out

    @staticmethod
    def sql_interval(ex: dict) -> tuple[float, float]:
        """(start, end) epoch seconds of one SQL execution."""
        start = datetime.datetime.strptime(
            ex["submissionTime"], "%Y-%m-%dT%H:%M:%S.%fGMT"
        ).replace(tzinfo=datetime.timezone.utc).timestamp()
        return start, start + ex.get("duration", 0) / 1000

    def task_run_quantiles(self, stage: dict) -> tuple[float, float]:
        """(median, max) task executorRunTime of one stage, in ms."""
        q = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["executorRunTime"]
        return float(med), float(mx)
