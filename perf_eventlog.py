#!/usr/bin/env python
"""Spark event-log analyzer for scaling diagnosis.

Reads the JSON event log(s) a perf_scaling run writes when
SPARK_GRAFT_EVENT_DIR is set and prints, per stage: wall, summed task
run/CPU/GC time, scheduler delay, shuffle bytes, and the achieved
parallelism (task-time / wall).  The two ratios that matter on this
host (BENCH.md):

  * gc/run high on one leg only -> GC parallelism mismatch;
  * parallelism << cores on the WIDE leg only -> under-partitioned
    stage (AQE coalesced below the core count, or a single-partition
    sink) — exactly the class of defect that caps 2->8-core scaling
    while leaving the narrow leg looking healthy.

Usage: python perf_eventlog.py <event_dir_or_file> [top_n]
"""
import json
import os
import sys
from collections import defaultdict


def analyze(path: str, top_n: int = 12) -> list[dict]:
    # Spark 4 event logs are DIRECTORIES (eventlog_v2 rolling format:
    # events_N_<app> files + an appstatus_ marker) — walk recursively,
    # keep only the event shards.
    files = []
    if os.path.isdir(path):
        for dirp, _dirs, names in os.walk(path):
            for f in sorted(names):
                if f.startswith(".") or f.startswith("appstatus_"):
                    continue
                files.append(os.path.join(dirp, f))
    else:
        files = [path]
    intervals: list[tuple[int, int]] = []  # (launch, finish) of every task
    stages: dict[tuple, dict] = defaultdict(
        lambda: {
            "tasks": 0, "run_ms": 0, "cpu_ms": 0, "gc_ms": 0,
            "sched_ms": 0, "shuf_r": 0, "shuf_w": 0,
            "submit": None, "complete": None, "name": "",
        }
    )
    cores = None

    def app_key(p: str) -> str:
        # Rolling logs (eventlog_v2, the format session.py enables)
        # split ONE application across events_N_<app> shard files: a
        # stage's TaskEnd events can land in a different shard than its
        # StageCompleted.  Keying stages by shard path would split such
        # a stage into a completed-but-empty row plus a discarded
        # metrics-only row, silently understating run/gc/par/shuffle.
        # Key by the application (the eventlog_v2_* dir) instead; a
        # single-file log keeps its own path as the key.
        d = os.path.dirname(p)
        if os.path.basename(d).startswith("eventlog_v2"):
            return d
        return p

    # ONE application per analysis: a reused event dir accumulates an
    # eventlog_v2_<app> dir per run (perf_heap_ab reuses a
    # deterministic dir), and merging apps would count the hours
    # BETWEEN runs as driver idle, sum stage walls across runs, and
    # take `cores` from whichever app parsed last.  Keep the newest.
    app_dirs = {app_key(f) for f in files}
    if len(app_dirs) > 1:
        newest = max(app_dirs, key=os.path.getmtime)
        files = [f for f in files if app_key(f) == newest]

    for fp in files:
        app = app_key(fp)
        # Spark compresses rolling shards (spark.eventLog.compress
        # default codec zstd); pyarrow ships a zstd decompressor.
        if fp.endswith(".zstd"):
            import io

            import pyarrow as pa

            with pa.CompressedInputStream(pa.OSFile(fp, "rb"), "zstd") as zs:
                raw = zs.read()
            f = io.StringIO(raw.decode("utf-8", errors="replace"))
        else:
            f = open(fp)
        with f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerEnvironmentUpdate":
                    m = ev.get("Spark Properties", {}).get("spark.master", "")
                    if m.startswith("local["):
                        cores = m[6:-1]
                elif e == "SparkListenerStageSubmitted":
                    si = ev["Stage Info"]
                    key = (app, si["Stage ID"], si["Stage Attempt ID"])
                    stages[key]["name"] = si.get("Stage Name", "")[:60]
                    stages[key]["submit"] = si.get("Submission Time")
                elif e == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    key = (app, si["Stage ID"], si["Stage Attempt ID"])
                    stages[key]["submit"] = si.get("Submission Time")
                    stages[key]["complete"] = si.get("Completion Time")
                    stages[key]["name"] = si.get("Stage Name", "")[:60]
                elif e == "SparkListenerTaskEnd":
                    key = (app, ev["Stage ID"], ev["Stage Attempt ID"])
                    tm = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    s = stages[key]
                    s["tasks"] += 1
                    run = tm.get("Executor Run Time", 0)
                    s["run_ms"] += run
                    s["cpu_ms"] += tm.get("Executor CPU Time", 0) // 1_000_000
                    s["gc_ms"] += tm.get("JVM GC Time", 0)
                    launch = ti.get("Launch Time", 0)
                    finish = ti.get("Finish Time", 0)
                    if finish and launch:
                        intervals.append((launch, finish))
                        s["sched_ms"] += max(
                            0,
                            finish - launch - run
                            - tm.get("Executor Deserialize Time", 0)
                            - tm.get("Result Serialization Time", 0),
                        )
                    sr = tm.get("Shuffle Read Metrics") or {}
                    s["shuf_r"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    s["shuf_w"] += sw.get("Shuffle Bytes Written", 0)
    rows = []
    for (_app, sid, att), s in stages.items():
        if s["complete"] is None or s["submit"] is None:
            continue
        wall = (s["complete"] - s["submit"]) / 1000.0
        rows.append(
            {
                "stage": sid,
                "name": s["name"],
                "wall_s": round(wall, 2),
                "tasks": s["tasks"],
                "run_s": round(s["run_ms"] / 1000, 2),
                "cpu_s": round(s["cpu_ms"] / 1000, 2),
                "gc_s": round(s["gc_ms"] / 1000, 2),
                "sched_s": round(s["sched_ms"] / 1000, 2),
                "par": round(s["run_ms"] / 1000 / wall, 2) if wall > 0 else 0,
                "shuf_mb": round((s["shuf_r"] + s["shuf_w"]) / 1e6, 1),
            }
        )
    rows.sort(key=lambda r: -r["wall_s"])
    total_wall = sum(r["wall_s"] for r in rows)
    total_run = sum(r["run_s"] for r in rows)
    total_gc = sum(r["gc_s"] for r in rows)
    # Driver-idle time: union the task (launch, finish) intervals and
    # measure the gaps — wall-clock where ZERO tasks ran.  This is the
    # job's serial share C (driver planning, AQE re-plans, barrier
    # commits, result fetch), the quantity that caps N->4N scaling:
    # eff = (C + 4x)/(C + x)/4 at 2->8 cores.  Executor-side idleness
    # (a stage running 1 task on 8 cores) is NOT counted here — that
    # shows up in the per-stage `par` column instead.
    busy_ms = 0
    span_ms = 0
    if intervals:
        intervals.sort()
        span_ms = intervals[-1][1] - intervals[0][0]
        cur_s, cur_e = intervals[0]
        for s, e in intervals[1:]:
            if s > cur_e:
                busy_ms += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        busy_ms += cur_e - cur_s
        # guard span against clock weirdness
        span_ms = max(span_ms, busy_ms)
    print(
        json.dumps(
            {
                "cores": cores,
                "stages": len(rows),
                "sum_stage_wall_s": round(total_wall, 1),
                "sum_task_run_s": round(total_run, 1),
                "sum_gc_s": round(total_gc, 1),
                "task_span_s": round(span_ms / 1000, 1),
                "driver_idle_s": round((span_ms - busy_ms) / 1000, 1),
            }
        )
    )
    for r in rows[:top_n]:
        print(json.dumps(r))
    return rows


if __name__ == "__main__":
    analyze(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 12)
