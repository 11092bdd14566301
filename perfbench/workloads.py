"""The benchmark's workloads.  Each one is closed loop with one client:
one driver process on ``local[nproc]``, and the next public call starts
only when the previous one has returned.

Each timed call is the first pipeline call of its session, as a
``cli.py`` run or a cron-driven incremental job pays it: JIT and Spark
code generation are inside the timed window.  A warm-up call would cost
about as much again, and each run, set-up included, has to stay near a
minute on 4 cores.

A workload object offers
  * ``prepare()``      - inputs and oracle goldens (cached, untimed);
  * ``op(spark, timed)`` - one timed unit of work inside the ``timed()``
                         context, then its untimed output check;
                         returns an OpResult;
  * ``traced(spark, tracer)`` - the traced run's entry-point pass, with
                         spans around the layers inside it; returns
                         its untimed output check;
  * ``compose_inputs()`` - what the forced-barrier layer composition
                         (``compose_layers``) runs over.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd

from destor_spark.config import DedupConfig

import corpora
from harness import MB, Tracer, build_spark, dir_bytes, shutdown_spark


@dataclass
class OpResult:
    wall_s: float
    docs: int
    durable_bytes: int
    input_bytes: int
    pair_recall: float
    pairs: int
    failures: list[str] = field(default_factory=list)


def _recall(found: set, want: set) -> float:
    return len(found & want) / len(want) if want else 1.0


class CrawlSubstringCkpt:
    """``run_checkpointed(..., use_substring=True)`` over a synth crawl into
    a fresh checkpoint dir - the path ``cli.py --substring`` takes."""

    name = "crawl_substring_ckpt"
    n_docs = 1000

    def __init__(self, work, seed: int, cfg: DedupConfig):
        self.work, self.seed, self.cfg = work, seed, cfg

    def prepare(self) -> None:
        cache = self.work.cache
        self.pages_path = corpora.crawl_corpus(cache, self.seed, self.n_docs)
        self.golden_assign, gp = corpora.golden(
            cache, self.compose_inputs()[1],
            [self.pages_path], self.cfg, True, True,
        )
        self.golden_pairs = corpora.pair_set(gp["url_a"], gp["url_b"])

    def _run(self, spark, pages_path: str, ckpt: str) -> pd.DataFrame:
        from destor_spark.plans.pipeline import run_checkpointed

        pages = spark.read.parquet(pages_path)
        return run_checkpointed(
            spark, pages, self.cfg, ckpt, use_substring=True
        ).toPandas()

    def op(self, spark, timed) -> OpResult:
        ckpt = self.work.path("ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        with timed():
            t0 = time.perf_counter()
            got = self._run(spark, self.pages_path, ckpt)
            wall = time.perf_counter() - t0
        return self._check(spark, ckpt, got, wall)

    def _check(self, spark, ckpt: str, got: pd.DataFrame, wall: float) -> OpResult:
        fails = []
        durable = dir_bytes(ckpt)
        if not corpora.same_assignments(got, self.golden_assign):
            fails.append("assignments differ from the oracle golden")
        if not corpora.same_assignments(
            self._run(spark, self.pages_path, ckpt), got
        ):
            fails.append("resume on the completed dir differs from fresh")
        edges = pd.read_parquet(os.path.join(ckpt, "edges"))
        found = corpora.pair_set(edges["url_a"], edges["url_b"])
        recall = _recall(found, self.golden_pairs)
        if recall < 0.99:
            fails.append(f"pair_recall {recall:.4f} < 0.99")
        res = OpResult(
            wall_s=wall,
            docs=self.n_docs,
            durable_bytes=durable,
            input_bytes=os.path.getsize(self.pages_path),
            pair_recall=recall,
            pairs=len(found),
            failures=fails,
        )
        shutil.rmtree(ckpt, ignore_errors=True)
        return res

    def traced(self, spark, tracer: Tracer):
        """run_checkpointed in an ``entry`` span, with a ``ckpt.<stage>``
        span around every StageRunner.run and ``ckpt.collect`` around
        the collect to the driver.  Returns the untimed output check, to
        be called once the traced part of the run is over."""
        from destor_spark.plans.checkpoint import StageRunner
        from destor_spark.plans.pipeline import run_checkpointed

        ckpt = self.work.path("ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        orig = StageRunner.run

        def run(runner, stage, fn, *a, **kw):
            with tracer.span(f"ckpt.{stage}"):
                return orig(runner, stage, fn, *a, **kw)

        StageRunner.run = run
        try:
            with tracer.span("entry") as rec:
                out = run_checkpointed(
                    spark, spark.read.parquet(self.pages_path), self.cfg,
                    ckpt, use_substring=True,
                )
                with tracer.span("ckpt.collect"):
                    got = out.toPandas()
        finally:
            StageRunner.run = orig

        def finish() -> dict:
            with open(os.path.join(ckpt, "metrics.jsonl")) as f:
                manifest_s = sum(
                    json.loads(line)["wall_s"] for line in f if line.strip()
                )
            res = self._check(spark, ckpt, got, tracer.wall(rec))
            return {
                "result": res,
                "calls": [rec],
                "written_mb": res.durable_bytes / MB,
                "manifest_stage_s": manifest_s,
            }

        return finish

    def compose_inputs(self) -> tuple[list[str], str]:
        return [self.pages_path], f"crawl_s{self.seed}_n{self.n_docs}_sub"


class RecrawlDeltas:
    """A store seeded with a fixed base crawl, built once and copied fresh
    for every run; one re-crawl delta drawn from the seed then goes
    through ``run_incremental_dedup``."""

    name = "recrawl_deltas"
    n_base = 2000
    delta_docs = 400

    def __init__(self, work, seed: int, cfg: DedupConfig):
        self.work, self.seed, self.cfg = work, seed, cfg
        # the stream checkpoint records input files by absolute path, so
        # the store is always restored to this one place
        self.live = os.path.join(work.base, "recrawl-live")
        self.snap = os.path.join(
            work.cache, f"recrawl_store_{corpora.LAYOUT}_b{self.n_base}"
        )

    def prepare(self) -> None:
        cache = self.work.cache
        self.base_path, self.delta_path = corpora.recrawl_corpus(
            cache, self.seed, self.n_base, self.delta_docs
        )
        paths = [self.base_path, self.delta_path]
        _, gp = corpora.golden(
            cache, f"recrawl_s{self.seed}_b{self.n_base}_m{self.delta_docs}_minhash",
            paths, self.cfg, False, False,
        )
        mh = gp[gp["modality"] == "minhash"]
        self.golden_pairs = corpora.pair_set(mh["url_a"], mh["url_b"])
        self.delta_urls = set(pd.read_parquet(self.delta_path, columns=["url"])["url"])
        self.golden_delta_pairs = self._delta_pairs(self.golden_pairs)
        self.input_bytes = sum(os.path.getsize(p) for p in paths)
        if not os.path.isdir(self.snap):
            # seeding runs in its own JVM, which exits before the measured
            # session starts, so every timed delta starts equally cold
            spark, _ = build_spark(self.work)
            try:
                shutil.rmtree(self.live, ignore_errors=True)
                os.makedirs(os.path.join(self.live, "in"))
                shutil.copy(
                    self.base_path, os.path.join(self.live, "in", "d000.parquet")
                )
                self._call(spark)
            finally:
                shutdown_spark(spark)
            tmp = f"{self.snap}.tmp.{os.getpid()}"
            shutil.copytree(self.live, tmp)
            os.replace(tmp, self.snap)

    def _delta_pairs(self, pairs: set) -> set:
        d = self.delta_urls
        return {p for p in pairs if p[0] in d or p[1] in d}

    def _call(self, spark) -> None:
        from destor_spark.streaming.dedup_stream import run_incremental_dedup

        run_incremental_dedup(
            spark,
            os.path.join(self.live, "in"),
            os.path.join(self.live, "state"),
            self.cfg,
        )

    def _restore(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.snap, self.live)
        shutil.copy(self.delta_path, os.path.join(self.live, "in", "d001.parquet"))

    def _check(self, wall: float) -> OpResult:
        fails = []
        state = os.path.join(self.live, "state")
        pairs = pd.read_parquet(os.path.join(state, "pairs"))
        got = corpora.pair_set(pairs["url_a"], pairs["url_b"])
        if got != self.golden_pairs:
            fails.append(
                f"pair store != oracle MinHash pairs "
                f"(missing {len(self.golden_pairs - got)}, "
                f"extra {len(got - self.golden_pairs)})"
            )
        found = self._delta_pairs(got)
        recall = _recall(found, self.golden_delta_pairs)
        res = OpResult(
            wall_s=wall,
            docs=self.delta_docs,
            durable_bytes=dir_bytes(state),
            input_bytes=self.input_bytes,
            pair_recall=recall,
            pairs=len(found),
            failures=fails,
        )
        shutil.rmtree(self.live, ignore_errors=True)
        return res

    def op(self, spark, timed) -> OpResult:
        self._restore()
        with timed():
            t0 = time.perf_counter()
            self._call(spark)
            wall = time.perf_counter() - t0
        return self._check(wall)

    def traced(self, spark, tracer: Tracer):
        """run_incremental_dedup in an ``entry`` span, with a
        ``stream.batch`` span around each foreachBatch call and, inside
        it, a ``stream.<tag>`` span around each barrier and a
        ``stream.store_write`` span around each write into the state
        dir.  Returns the untimed output check, to be called once the
        traced part of the run is over."""
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.streaming import DataStreamWriter

        from destor_spark.plans import pipeline

        self._restore()
        state = os.path.join(self.live, "state")
        store0 = dir_bytes(state)
        orig_fb, orig_mat = DataStreamWriter.foreachBatch, pipeline._materialize
        orig_write = DataFrameWriter.parquet

        def foreach_batch(writer, func):
            def traced_func(batch, batch_id):
                with tracer.span("stream.batch"):
                    return func(batch, batch_id)

            return orig_fb(writer, traced_func)

        def materialize(df, tag, root):
            # tags are b<batch id>_<name>
            with tracer.span("stream." + tag.split("_", 1)[1]):
                return orig_mat(df, tag, root)

        def write(writer, path, *a, **kw):
            if not str(path).startswith(state):
                return orig_write(writer, path, *a, **kw)
            with tracer.span("stream.store_write"):
                return orig_write(writer, path, *a, **kw)

        DataStreamWriter.foreachBatch = foreach_batch
        pipeline._materialize = materialize
        DataFrameWriter.parquet = write
        try:
            with tracer.span("entry") as rec:
                self._call(spark)
        finally:
            DataStreamWriter.foreachBatch = orig_fb
            pipeline._materialize = orig_mat
            DataFrameWriter.parquet = orig_write

        def finish() -> dict:
            res = self._check(tracer.wall(rec))
            return {
                "result": res,
                "calls": [rec],
                "written_mb": (res.durable_bytes - store0) / MB,
            }

        return finish

    def compose_inputs(self) -> tuple[list[str], str]:
        """The batch re-dedup of base + delta that the incremental path
        replaces, with every modality on."""
        return (
            [self.base_path, self.delta_path],
            f"recrawl_s{self.seed}_b{self.n_base}_m{self.delta_docs}_sub",
        )


WORKLOADS = {w.name: w for w in (CrawlSubstringCkpt, RecrawlDeltas)}
