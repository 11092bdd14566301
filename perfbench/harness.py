"""Process-level plumbing shared by every workload: where the benchmark
may write, how the Spark session is built, the peak-memory reader, the
span recorder and the Spark event-log reader.

Everything here treats destor_spark as a black box: sessions come from
``session.build_session`` and per-layer numbers come from spans the
benchmark records around public calls plus Spark's own event log.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager

MB = 1024 * 1024


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Work:
    """All paths the benchmark touches, under ``<checkout>/.perfbench_work``.

    ``cache`` survives runs: corpora, oracle goldens and the seeded
    re-crawl store, keyed by seed, size and layout, under a directory
    named after the hash of ``destor_spark/`` so that a code change never
    reuses them.  ``run`` is private to one process and removed when the
    run ends."""

    def __init__(self, root: str):
        self.root = root
        self.base = os.path.join(root, ".perfbench_work")
        self.cache = os.path.join(self.base, "cache", code_fingerprint(root))
        self.results = os.path.join(self.base, "results")
        self.run = os.path.join(self.base, f"run-{os.getpid()}")
        for d in (self.cache, self.results, self.run):
            os.makedirs(d, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run, *parts)

    def configure_env(self) -> None:
        """Keep Spark, the JVM and Python's tempfile inside the checkout,
        and let forked Python workers import destor_spark (without
        PYTHONPATH every Arrow stage fails with ModuleNotFoundError)."""
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = self.root + (os.pathsep + pp if pp else "")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_MAT_DIR"] = tmp
        # -UsePerfData: HotSpot otherwise writes /tmp/hsperfdata_<user>
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        )
        import tempfile

        tempfile.tempdir = tmp

    def cleanup(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


def build_spark(work: Work, event_dir: str | None = None):
    """One ``build_session`` call on ``local[nproc]``; returns (spark, s)."""
    from destor_spark.session import build_session

    extra = {"spark.sql.warehouse.dir": work.path("warehouse")}
    if event_dir:
        os.environ["SPARK_GRAFT_EVENT_DIR"] = event_dir
        extra["spark.eventLog.compress"] = "false"
    else:
        os.environ.pop("SPARK_GRAFT_EVENT_DIR", None)
    t0 = time.perf_counter()
    spark = build_session(
        app="perfbench", master=f"local[{nproc()}]", extra=extra
    )
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def shutdown_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait until the JVM
    and every process it forked (Spark's Python daemon and workers) have
    exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def _descendants(pid: int) -> list[int]:
    children, out, stack = _children_map(), [], [pid]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dp, n))
    return total


def code_fingerprint(root: str) -> str:
    """sha256 over destor_spark/**/*.py: a checkout exported without
    .git has no commit SHA, so this stands in for it."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "destor_spark")
    for dp, dirs, names in os.walk(pkg):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(dp, n)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def host_info(root: str) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    sha = None
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            rp = os.path.join(root, ".git", ref[5:])
            if os.path.exists(rp):
                with open(rp) as f:
                    sha = f.read().strip()
        else:
            sha = ref
    return {
        "nproc": nproc(),
        "mem_gb": round(mem_kb / MB, 1),
        "loadavg": os.getloadavg(),
        "cpu_probe_ms": cpu_probe_ms(),
        "git_sha": sha,
        "code_sha256": code_fingerprint(root),
    }


def cpu_probe_ms() -> float:
    """Median of five timings of a fixed single-threaded loop: the
    speed of one vCPU when the run started.  On a shared host it moves
    with the neighbours' load, so two runs whose timings differ can be
    checked for a host that got slower."""
    out = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        out.append(time.perf_counter() - t0)
    return round(statistics.median(out) * 1e3, 3)


class PeakRss:
    """Peak resident memory of this process and all its descendants
    (driver Python, the JVM, Spark's Python daemon and workers) over
    timed calls: each process's peak resident set (``VmHWM``) is reset
    when a call starts (``clear_refs`` 5) and read when it ends, and the
    peaks are summed.  That sum bounds the tree's peak from above and
    counts a page that forked workers share once per worker.

    There is no sampling thread: summing PSS from ``smaps_rollup`` walks
    the page tables of the 8 GB driver heap, 50-75 ms per pass on 4
    cores, and sampling it every 0.2 s made warm calls ~40% slower."""

    def __init__(self):
        self.peak = 0

    @staticmethod
    def _tree() -> list[int]:
        return [os.getpid(), *_descendants(os.getpid())]

    @contextmanager
    def armed(self):
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                continue
        try:
            yield
        finally:
            total = 0
            for pid in self._tree():
                try:
                    with open(f"/proc/{pid}/status") as f:
                        for line in f:
                            if line.startswith("VmHWM:"):
                                total += int(line.split()[1]) * 1024
                                break
                except OSError:
                    continue
            self.peak = max(self.peak, total)


class Tracer:
    """In-memory spans (id, name, parent, start/end on the perf_counter
    and epoch clocks), written out once when the run ends.  Each span
    also labels its Spark jobs with ``setJobGroup`` so the event log
    reads by layer; attribution below goes by time, because streaming
    micro-batches run under their own job group."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench:{name}", name)
        rec["epoch0"] = time.time()
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["epoch1"] = time.time()
            self._stack.pop()
            if parent is not None:
                pname = self.spans[parent]["name"]
                sc.setJobGroup(f"perfbench:{pname}", pname)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wall(self, rec: dict) -> float:
        return rec["t1"] - rec["t0"]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "t1" in s]


def read_event_log(event_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """(jobs, tasks by stage id) from an uncompressed Spark event log.

    jobs: {id, start_ms, end_ms, stages}; tasks: {run_s, gc_s, dur_s,
    shuffle_read, shuffle_write, spill} per finished task."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for dp, _, names in os.walk(event_dir):
        for n in sorted(names):
            if not n.startswith("events_"):
                continue
            with open(os.path.join(dp, n)) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    e = ev.get("Event")
                    if e == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = {
                            "id": ev["Job ID"],
                            "start_ms": ev["Submission Time"],
                            "end_ms": None,
                            "stages": ev.get("Stage IDs", []),
                        }
                    elif e == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
                    elif e == "SparkListenerTaskEnd":
                        tm = ev.get("Task Metrics") or {}
                        ti = ev.get("Task Info") or {}
                        sr = tm.get("Shuffle Read Metrics") or {}
                        sw = tm.get("Shuffle Write Metrics") or {}
                        tasks.setdefault(ev["Stage ID"], []).append(
                            {
                                "run_s": tm.get("Executor Run Time", 0) / 1e3,
                                "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                                "dur_s": max(
                                    0,
                                    ti.get("Finish Time", 0)
                                    - ti.get("Launch Time", 0),
                                ) / 1e3,
                                "shuffle_read": sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0),
                                "shuffle_write": sw.get(
                                    "Shuffle Bytes Written", 0
                                ),
                                "spill": tm.get("Disk Bytes Spilled", 0),
                            }
                        )
    return sorted(jobs.values(), key=lambda j: j["start_ms"]), tasks


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> dict[int, list[dict]]:
    """span id -> the jobs submitted inside it (innermost span wins)."""
    out: dict[int, list[dict]] = {}
    done = [s for s in tracer.spans if "epoch1" in s]
    for j in jobs:
        t = j["start_ms"] / 1e3
        inside = [s for s in done if s["epoch0"] <= t <= s["epoch1"]]
        if inside:
            s = max(inside, key=lambda s: s["epoch0"])
            out.setdefault(s["id"], []).append(j)
    return out


def span_counters(
    tracer: Tracer,
    sid: int,
    by_span: dict[int, list[dict]],
    tasks: dict[int, list[dict]],
) -> dict:
    """Spark counters over the jobs of span ``sid`` and its descendants."""
    want = {sid}
    frontier = {sid}
    while frontier:
        frontier = {s["id"] for s in tracer.spans if s["parent"] in frontier}
        want |= frontier
    js = [j for s in want for j in by_span.get(s, [])]
    ts = [t for j in js for st in j["stages"] for t in tasks.get(st, [])]
    busy = _union_s([(j["start_ms"], j["end_ms"] or j["start_ms"]) for j in js])
    durs = [t["dur_s"] for t in ts]
    return {
        "jobs": len(js),
        "job_busy_s": busy,
        "tasks": len(ts),
        "task_s": sum(t["run_s"] for t in ts),
        "gc_s": sum(t["gc_s"] for t in ts),
        "shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / MB,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / MB,
        "spill_mb": sum(t["spill"] for t in ts) / MB,
        "max_task_s": max(durs, default=0.0),
        "median_task_s": statistics.median(durs) if durs else 0.0,
    }


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, cur = 0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total / 1e3
