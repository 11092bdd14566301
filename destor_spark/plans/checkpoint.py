"""Stage checkpointing with per-partition lineage + metrics.

destor analogue: the recipe + destor.stat pair — every backup persists
its fingerprint sequence and global counters so later jobs (restore,
delete, the next backup) resume from durable state
(/root/reference/src/recipe/recipestore.c:285-400,
/root/reference/src/destor.c:78-213).

Spark restatement: a durable stage writes its output as parquet plus a
manifest json carrying (run_id, stage, rows, per-write-partition row
counts, wall seconds).  The manifest is filled from the footers of the
part files just written, on the driver: a stage costs its parquet
write and no other Spark job.  A re-entrant run loads any stage whose
manifest says complete instead of recomputing, with the schema the
manifest recorded, so loading runs no Spark job either —
resume-equals-fresh is pinned by tests/test_resume.py.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class StageRunner:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        run_id: str,
        context_fp: str | None = None,
    ):
        """context_fp: fingerprint of everything OUTSIDE the checkpoint
        that determines a stage's output (DedupConfig values, pipeline
        flags).  When set, a completed stage resumes only if its
        manifest recorded the same fingerprint — a rerun against the
        same ckpt_dir with a different tau / band config / modality
        switch recomputes instead of silently returning results
        computed under the old parameters.  required_cols guards the
        column LAYOUT; this guards the PARAMETERS."""
        self.spark = spark
        self.base_dir = base_dir
        self.run_id = run_id
        self.context_fp = context_fp
        os.makedirs(base_dir, exist_ok=True)

    def _paths(self, stage: str) -> tuple[str, str]:
        d = os.path.join(self.base_dir, stage)
        return d, d + ".manifest.json"

    def _manifest(self, stage: str) -> dict | None:
        """The stage's manifest if the stage can be resumed, else None."""
        _, mpath = self._paths(stage)
        try:
            with open(mpath) as f:
                m = json.load(f)
        except (json.JSONDecodeError, OSError):
            # absent, or truncated by a crash mid-write (pre-atomic
            # layouts): the stage is incomplete, not the run broken
            return None
        if m.get("status") != "complete":
            return None
        if self.context_fp is not None and m.get("context_fp") != self.context_fp:
            # stage was computed under different parameters (or a
            # pre-fingerprint layout) — recompute rather than resume
            return None
        if "schema" not in m:
            # pre-schema layout: recompute once rather than pay a
            # schema-inference job on every resume
            return None
        return m

    def completed(self, stage: str) -> bool:
        return self._manifest(stage) is not None

    def run(
        self,
        stage: str,
        fn,
        required_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """fn() -> DataFrame; materialized once, loaded on resume.

        required_cols guards resume across code versions: a checkpoint
        written by an older layout (e.g. a signatures stage from before
        content_sha rode in the same scan) loads fine but breaks the
        FIRST downstream select — recompute it instead of resuming."""
        data_dir, mpath = self._paths(stage)
        m = self._manifest(stage)
        if m is not None:
            schema = StructType.fromJson(m["schema"])
            if set(required_cols) <= set(schema.fieldNames()):
                # the recorded schema: loading runs no inference job
                return self.spark.read.schema(schema).parquet(data_dir)
        t0 = time.time()
        df = fn()
        # invalidate BEFORE the data overwrite: mode('overwrite')
        # deletes the old parquet first, so a crash mid-recompute must
        # not leave a stale 'complete' manifest (written under an
        # earlier config) pointing at destroyed/partial data — a later
        # run under that earlier config would resume from garbage.
        # Atomic replace, same pattern as the commit below.
        if os.path.exists(mpath):
            tmp = mpath + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {"status": "recomputing", "run_id": self.run_id}, f
                )
            os.replace(tmp, mpath)
        df.write.mode("overwrite").parquet(data_dir)
        # wall stops at the durable write: reading the footers below is
        # bookkeeping, not stage work
        wall = time.time() - t0
        # jcr restore-report analogue (destor's src/do_restore.c:243-277):
        # data size, throughput MB/s, and the speed factor — destor
        # normalizes restored bytes by containers READ; the parquet
        # restatement normalizes stage bytes by files written (the unit
        # a downstream stage must open), same packing-density meaning.
        # Rows come from each part file's footer, keyed by the write
        # task number in part-NNNNN-...: no Spark job.
        part_rows: dict[str, int] = {}
        data_size = 0
        n_files = 0
        for dp, _, fns in os.walk(data_dir):
            for name in sorted(fns):
                if name.endswith(".parquet"):
                    path = os.path.join(dp, name)
                    data_size += os.path.getsize(path)
                    n_files += 1
                    task = str(int(name.split("-")[1]))
                    part_rows[task] = part_rows.get(task, 0) + (
                        pq.read_metadata(path).num_rows
                    )
        manifest = {
            "status": "complete",
            "run_id": self.run_id,
            "context_fp": self.context_fp,
            "stage": stage,
            "schema": df.schema.jsonValue(),
            "rows": int(sum(part_rows.values())),
            "n_partitions": len(part_rows),
            "partition_rows": part_rows,
            "wall_s": round(wall, 3),
            "data_size": data_size,
            "n_files": n_files,
            "throughput_mb_s": round(data_size / (1024 * 1024 * wall), 3)
            if wall > 0
            else None,
            "speed_factor": round(data_size / (1024 * 1024 * n_files), 4)
            if n_files
            else None,
        }
        # atomic: a crash mid-dump must leave either no manifest or the
        # previous complete one, never a truncated file — the manifest
        # IS the stage's commit record
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, mpath)
        self._append_metrics(manifest)
        # the write's own schema: reading it back runs no inference job
        return self.spark.read.schema(df.schema).parquet(data_dir)

    def _append_metrics(self, manifest: dict) -> None:
        """jcr-equivalent metrics log (/root/reference/src/jcr.h:19-61)."""
        with open(os.path.join(self.base_dir, "metrics.jsonl"), "a") as f:
            slim = {
                k: v
                for k, v in manifest.items()
                if k not in ("partition_rows", "schema")
            }
            f.write(json.dumps(slim) + "\n")

    def metrics(self) -> list[dict]:
        p = os.path.join(self.base_dir, "metrics.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]
