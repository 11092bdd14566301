"""destor_spark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  ``--trace 0`` times the workload's public
entry point for S seconds and prints the end-to-end metrics; ``--trace 1``
runs it once with a span around every entry-point call, then the
forced-barrier layer composition and the kernel microbenchmarks, and
prints the per-layer metrics.  Every run checks its outputs against the
pandas oracle.  The last stdout line is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Host facts, spans and the per-layer table go to
.perfbench_work/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def untraced(wl, work, seconds: float) -> tuple[dict, int, int]:
    """Returns (metrics, attempted, failed)."""
    from harness import MB, PeakRss, build_spark, shutdown_spark

    # set-up time is this process's build_session: JVM launch plus
    # Python-worker prewarm, cold as every cli.py run pays it.  A cold
    # build takes 11-29 s on 4 cores, so a run holds one: a second, in
    # a fresh process, would push a run well past a minute.
    spark, setup = build_spark(work)
    rss = PeakRss()
    ops, attempted, failed = [], 0, 0
    try:
        log(f"cold session build {setup:.2f}s")
        t0 = time.perf_counter()
        while not attempted or time.perf_counter() - t0 < seconds:
            attempted += 1
            try:
                res = wl.op(spark, rss.armed)
            except Exception:
                traceback.print_exc()
                failed += 1
                break
            ops.append(res)
            log(f"op {attempted}: wall {res.wall_s:.2f}s")
            for f in res.failures:
                print(f"perfbench check failed: {f}", file=sys.stderr)
            failed += bool(res.failures)
    finally:
        shutdown_spark(spark)
    if not ops:
        return {}, attempted, failed
    wall = statistics.median(r.wall_s for r in ops)
    metrics = {
        "setup_s": (setup, "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (ops[0].docs / wall, "docs/s"),
        "peak_rss_mb": (rss.peak / MB, "MB"),
        "durable_mb_per_input_mb": (
            statistics.median(r.durable_bytes / r.input_bytes for r in ops),
            "ratio",
        ),
        "pair_recall": (min(r.pair_recall for r in ops), "fraction"),
    }
    return metrics, attempted, failed


def traced(wl, work, cfg) -> tuple[dict, list[str], dict]:
    """One traced pass; returns (metrics, failures, record for the
    results file)."""
    import corpora
    from harness import (
        Tracer, attribute_jobs, build_spark, read_event_log, shutdown_spark,
    )
    from kernels import run_kernels
    from layers import LAYERS, compose_layers, layer_counts

    event_dir = work.path("events")
    spark, cold = build_spark(work, event_dir=event_dir)
    tracer = Tracer(spark)
    try:
        log(f"session built {cold:.2f}s")
        paths, gkey = wl.compose_inputs()
        golden_assign, _ = corpora.golden(
            work.cache, gkey, paths, cfg, True, True
        )
        log("composition golden ready")
        # the traced wall runs from the entry pass to the kernels; output
        # checks and row counts come after it, outside every span
        finish = wl.traced(spark, tracer)
        log("entry pass done")
        got, frames = compose_layers(
            spark, tracer, paths, cfg, work.path("layers")
        )
        log("layer composition done")
        with tracer.span("kernels"):
            kern = run_kernels(paths, cfg)
        entry = finish()
        counts = layer_counts(frames, cfg)
    finally:
        shutdown_spark(spark)
    fails = list(entry["result"].failures)
    if not corpora.same_assignments(got, golden_assign):
        fails.append("traced layer composition assignments differ from the oracle")

    jobs, tasks = read_event_log(event_dir)
    by_span = attribute_jobs(tracer, jobs)
    layer_spans = {n: tracer.named(n)[0] for n in LAYERS}
    m, table = _layer_metrics(tracer, layer_spans, by_span, tasks, counts)
    for row in table:
        if row["jobs"] == 0:
            fails.append(f"layer {row['layer']} ran no Spark job")
    m.update(_entry_metrics(tracer, entry, by_span, tasks))
    for k, v in kern.items():
        m[k] = (v, "us/" + k.rsplit("_per_", 1)[1])

    # coverage: how much of a wall the layer spans inside it explain.
    # The entry pass is explained by its child spans (ckpt.<stage> or
    # stream.batch), never by the entry span itself; the traced wall,
    # gaps between spans included, by those child spans, the composed
    # layers and the kernels.
    calls = entry["calls"]
    entry_ids = {r["id"] for r in calls}
    inner = [s for s in tracer.spans if s["parent"] in entry_ids]
    entry_wall = sum(tracer.wall(r) for r in calls)
    entry_cov = sum(tracer.wall(s) for s in inner) / entry_wall
    kspan = tracer.named("kernels")[0]
    leaves = inner + list(layer_spans.values()) + [kspan]
    span_sum = sum(tracer.wall(s) for s in leaves)
    traced_wall = kspan["t1"] - calls[0]["t0"]
    m["trace.entry_wall_s"] = (entry_wall, "s")
    m["trace.entry_coverage"] = (entry_cov, "fraction")
    m["trace.composed_wall_s"] = (
        sum(tracer.wall(s) for s in layer_spans.values()), "s")
    m["trace.traced_wall_s"] = (traced_wall, "s")
    m["trace.span_sum_s"] = (span_sum, "s")
    m["trace.coverage"] = (span_sum / traced_wall, "fraction")
    m["session.cold_build_s"] = (cold, "s")
    if not inner:
        fails.append("the entry pass recorded no layer span")
    if span_sum / traced_wall < 0.9:
        fails.append(f"layer spans cover {span_sum / traced_wall:.3f} < 0.9 "
                     "of the traced wall")
    # each entry-pass layer's share of the entry wall, summed per name,
    # nested spans (stream.<tag> inside stream.batch) included
    below = set(entry_ids)
    for s in tracer.spans:  # a parent is always recorded before its child
        if s["parent"] in below:
            below.add(s["id"])
    shares: dict[str, float] = {}
    for s in tracer.spans:
        if s["id"] not in below or s["id"] in entry_ids:
            continue
        shares[s["name"]] = shares.get(s["name"], 0.0) + tracer.wall(s)
    for name, wall in shares.items():
        table.append({"layer": name, "wall_s": round(wall, 3),
                      "share_of_entry": round(wall / entry_wall, 3)})
    table.append({"layer": "kernels", "wall_s": round(tracer.wall(kspan), 3)})
    for row in table:
        if row["layer"] in layer_spans or row["layer"] == "kernels":
            row["share_of_traced"] = round(row["wall_s"] / traced_wall, 3)
    if "manifest_stage_s" in entry:
        # StageRunner's manifest bills each stage up to its durable write;
        # the rest of the stage span is checkpoint bookkeeping (re-read,
        # per-partition row counts, manifest write)
        stage_s = sum(w for n, w in shares.items()
                      if n != "ckpt.collect")
        book = stage_s - entry["manifest_stage_s"]
        table.append({"layer": "ckpt.bookkeeping", "wall_s": round(book, 3),
                      "share_of_entry": round(book / entry_wall, 3)})
    spans = [
        {k: s.get(k) for k in ("id", "name", "parent", "epoch0", "epoch1")}
        | {"wall_s": tracer.wall(s)}
        for s in tracer.spans
    ]
    return m, fails, {"spans": spans, "layers": table}


def _layer_metrics(tracer, layer_spans, by_span, tasks, counts):
    from harness import nproc, span_counters

    m: dict[str, tuple[float, str]] = {}
    table = []
    for name, rec in layer_spans.items():
        c = span_counters(tracer, rec["id"], by_span, tasks)
        wall = tracer.wall(rec)
        table.append({"layer": name, "wall_s": round(wall, 3),
                      **{k: round(v, 3) for k, v in c.items()}})
        m[f"{name}.wall_s"] = (wall, "s")
        m[f"{name}.tasks"] = (c["tasks"], "count")
        m[f"{name}.task_s"] = (c["task_s"], "s")
        m[f"{name}.shuffle_read_mb"] = (c["shuffle_read_mb"], "MB")
        m[f"{name}.shuffle_write_mb"] = (c["shuffle_write_mb"], "MB")
        m[f"{name}.spill_mb"] = (c["spill_mb"], "MB")
        m[f"{name}.max_task_s"] = (c["max_task_s"], "s")
        if name == "signatures":
            m["signatures.gc_s"] = (c["gc_s"], "s")
            m["signatures.parallelism"] = (
                c["task_s"] / (wall * nproc()), "ratio")
            m["signatures.docs_per_s"] = (counts["docs"] / wall, "docs/s")
        elif name == "lsh":
            med = c["median_task_s"]
            m["lsh.task_skew"] = (c["max_task_s"] / med if med else 1.0, "ratio")
        elif name == "cc":
            m["cc.jobs"] = (c["jobs"], "count")
    for k, v in counts.items():
        if k != "docs":
            m[k] = (v, "count")
    m["verify.keep_ratio"] = (
        counts["verify.pairs"] / max(counts["lsh.candidate_pairs"], 1), "ratio")
    m["substring.keep_ratio"] = (
        counts["substring.pairs"] / max(counts["substring.candidates"], 1),
        "ratio")
    return m, table


def _entry_metrics(tracer, entry, by_span, tasks):
    from harness import span_counters

    calls = entry["calls"]
    cs = [span_counters(tracer, r["id"], by_span, tasks) for r in calls]
    walls = [tracer.wall(r) for r in calls]
    return {
        "entry.calls": (len(calls), "count"),
        "entry.call_s": (statistics.median(walls), "s"),
        "entry.idle_s": (
            sum(w - c["job_busy_s"] for w, c in zip(walls, cs)), "s"),
        "entry.jobs_per_call": (statistics.mean(c["jobs"] for c in cs), "count"),
        "entry.shuffle_mb_per_call": (statistics.mean(
            c["shuffle_read_mb"] + c["shuffle_write_mb"] for c in cs), "MB"),
        "entry.pairs_per_call": (entry["result"].pairs / len(calls), "count"),
        "entry.written_mb": (entry["written_mb"], "MB"),
    }


def _missing_metrics(root: str, trace: int, metrics: dict) -> set[str]:
    """Names BENCHMARK.json lists for this kind of run that the run did
    not report: every layer must report on every workload."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return set()
    with open(path) as f:
        spec = json.load(f)
    want = spec["per_layer" if trace else "end_to_end"]
    return {m["name"] for m in want} - set(metrics)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "destor_spark", "__init__.py")):
        print(
            "perfbench: no destor_spark package under the working directory; "
            "run from the repository root",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [root, HERE]

    from destor_spark.config import DedupConfig
    from harness import Work, host_info
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = Work(root)
    work.configure_env()
    cfg = DedupConfig()
    wl = WORKLOADS[args.workload](work, args.seed, cfg)
    record = {"args": vars(args), "host": host_info(root)}
    metrics, attempted, failed = {}, 1, 1
    try:
        wl.prepare()
        log("inputs and goldens ready")
        if args.trace:
            metrics, fails, extra = traced(wl, work, cfg)
            record.update(extra)
            for f in fails:
                print(f"perfbench check failed: {f}", file=sys.stderr)
            for row in extra["layers"]:
                print("perfbench-layer " + json.dumps(row))
            failed = int(bool(fails))
        else:
            metrics, attempted, failed = untraced(wl, work, args.seconds)
    except Exception:
        # reported as a failed attempt below, never dropped
        traceback.print_exc()
    finally:
        work.cleanup()
    missing = _missing_metrics(root, args.trace, metrics)
    if metrics and missing:
        print(f"perfbench check failed: no value for {sorted(missing)}",
              file=sys.stderr)
        failed = max(failed, 1)
    record["metrics"] = metrics
    out = os.path.join(
        work.results,
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json",
    )
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("perfbench-host " + json.dumps(record["host"]))
    result = {
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed if metrics else max(failed, 1),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
