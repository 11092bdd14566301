"""Checkpoint/resume: kill-after-stage-k resume must equal a fresh run
(destor recipe + destor.stat semantics, SURVEY.md section 5.2)."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest

from destor_spark.plans.pipeline import run_checkpointed


@pytest.fixture()
def ckpt_dir(tmp_path):
    return str(tmp_path / "ckpt")


def _assign_pdf(df):
    return df.toPandas().sort_values("url").reset_index(drop=True)


def test_resume_equals_fresh(spark, cfg, smoke_corpus, ckpt_dir):
    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)

    fresh = _assign_pdf(
        run_checkpointed(spark, pages, cfg, ckpt_dir + "_fresh", "rA")
    )

    # simulate a job killed after the signature+pairs stages: run fully,
    # then delete the later stages and resume
    run_checkpointed(spark, pages, cfg, ckpt_dir, "rB")
    for stage in ("edges", "components", "assignments"):
        os.remove(os.path.join(ckpt_dir, f"{stage}.manifest.json"))
        shutil.rmtree(os.path.join(ckpt_dir, stage))
    resumed = _assign_pdf(run_checkpointed(spark, pages, cfg, ckpt_dir, "rC"))

    pd.testing.assert_frame_equal(fresh, resumed, check_dtype=False)

    # a rerun on the now-complete dir loads all five stages with their
    # recorded schemas: no Spark job before its result is consumed
    sc = spark.sparkContext
    sc.setJobGroup("resume-jobs", "rerun on a completed checkpoint")
    try:
        again = run_checkpointed(spark, pages, cfg, ckpt_dir, "rD")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("resume-jobs")) == []
    pd.testing.assert_frame_equal(fresh, _assign_pdf(again), check_dtype=False)


def test_metrics_lineage(spark, cfg, smoke_corpus, ckpt_dir):
    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)
    run_checkpointed(spark, pages, cfg, ckpt_dir, "rM")
    metrics = [
        json.loads(line)
        for line in open(os.path.join(ckpt_dir, "metrics.jsonl"))
    ]
    stages = [m["stage"] for m in metrics]
    # content_hashes no longer a separate stage: sha2 rides in the
    # signatures text scan (r3 single-scan fusion); the single-consumer
    # exact/candidate/verified pair links are planned inside edges
    assert stages == [
        "signatures",
        "bucket_stats",
        "edges",
        "components",
        "assignments",
    ]
    for m in metrics:
        assert m["rows"] >= 0 and m["wall_s"] > 0 and m["run_id"] == "rM"
    # per-partition lineage present in the stage manifest
    with open(os.path.join(ckpt_dir, "signatures.manifest.json")) as f:
        man = json.load(f)
    assert sum(man["partition_rows"].values()) == man["rows"] == len(pages_pd)


def test_resume_recomputes_old_layout_signatures(spark, cfg, smoke_corpus,
                                                 ckpt_dir):
    """A checkpoint whose signatures stage predates the fused
    content_sha layout must be recomputed on resume, not loaded and
    crashed into at the exact pass's select (AnalysisException)."""
    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)

    fresh = _assign_pdf(
        run_checkpointed(spark, pages, cfg, ckpt_dir + "_f2", "rD")
    )

    # simulate the pre-r3 layout: complete signatures stage WITHOUT
    # content_sha, in its data and in the schema its manifest records,
    # all later stages absent
    run_checkpointed(spark, pages, cfg, ckpt_dir, "rE")
    sig_dir = os.path.join(ckpt_dir, "signatures")
    old = spark.read.parquet(sig_dir).drop("content_sha")
    old.write.mode("overwrite").parquet(sig_dir + "_old")
    shutil.rmtree(sig_dir)
    os.rename(sig_dir + "_old", sig_dir)
    with open(sig_dir + ".manifest.json") as f:
        man = json.load(f)
    man["schema"] = old.schema.jsonValue()
    with open(sig_dir + ".manifest.json", "w") as f:
        json.dump(man, f)
    for stage in ("bucket_stats", "edges", "components", "assignments"):
        os.remove(os.path.join(ckpt_dir, f"{stage}.manifest.json"))
        shutil.rmtree(os.path.join(ckpt_dir, stage))

    resumed = _assign_pdf(run_checkpointed(spark, pages, cfg, ckpt_dir, "rF"))
    pd.testing.assert_frame_equal(fresh, resumed, check_dtype=False)


def test_checkpointed_equals_batch_pipeline(spark, cfg, smoke_corpus,
                                            ckpt_dir):
    """Both paths barrier the same links (signatures, edges) over the
    same edge relation: their assignments must not drift apart."""
    from destor_spark.plans.pipeline import run_pipeline

    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)
    cols = ["url", "cluster_id", "is_canonical"]
    res = run_pipeline(pages, cfg, use_substring=True)
    batch = _assign_pdf(res.assignments.select(*cols))
    # the batch policy writes only its two barrier links
    assert sorted(os.listdir(res.mat_root)) == ["edges", "signatures"]
    res.cleanup()
    assert not os.path.exists(res.mat_root)
    ckpt = _assign_pdf(
        run_checkpointed(spark, pages, cfg, ckpt_dir, use_substring=True)
        .select(*cols)
    )
    assert len(ckpt) == len(pages_pd)
    pd.testing.assert_frame_equal(batch, ckpt, check_dtype=False)


def test_resume_recomputes_on_config_change(spark, smoke_corpus, ckpt_dir):
    """A rerun against the same ckpt_dir under a DIFFERENT DedupConfig
    must recompute, not resume: the stage manifests record a config
    fingerprint and completed() requires a match.  Regression: resume
    was config-blind, so --tau 0.5 after a killed --tau 0.71 run
    silently returned stale results."""
    from destor_spark.config import DedupConfig

    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)
    a = run_checkpointed(
        spark, pages, DedupConfig(num_hashes=32, bands=8, rows=4, tau=0.6),
        ckpt_dir,
    ).toPandas()
    with open(os.path.join(ckpt_dir, "signatures.manifest.json")) as f:
        fp1 = json.load(f)["context_fp"]
    assert fp1

    # different tau: every stage fingerprint mismatches -> recompute;
    # observable via the manifest's recorded fingerprint changing
    run_checkpointed(
        spark, pages, DedupConfig(num_hashes=32, bands=8, rows=4, tau=0.9),
        ckpt_dir,
    ).toPandas()
    with open(os.path.join(ckpt_dir, "signatures.manifest.json")) as f:
        fp2 = json.load(f)["context_fp"]
    assert fp2 != fp1
    assert len(a) == len(pages_pd)


def test_corrupt_manifest_recomputes_not_crashes(
    spark, cfg, smoke_corpus, ckpt_dir
):
    """A manifest truncated by a crash mid-write marks its stage
    incomplete — the next run recomputes it instead of dying on
    JSONDecodeError at startup (the exact kill/resume path the module
    exists to survive)."""
    pages_pd, _ = smoke_corpus
    pages = spark.createDataFrame(pages_pd)
    a = _assign_pdf(run_checkpointed(spark, pages, cfg, ckpt_dir))
    # truncate one manifest as a mid-write crash would
    mpath = os.path.join(ckpt_dir, "edges.manifest.json")
    with open(mpath, "w") as f:
        f.write('{"status": "comp')
    b = _assign_pdf(run_checkpointed(spark, pages, cfg, ckpt_dir))
    pd.testing.assert_frame_equal(a, b)


def test_stage_manifest_from_footers_one_job(spark, tmp_path):
    """A durable stage costs its parquet write and nothing else: the
    manifest's row counts come from the part files' footers (no re-read
    job, no schema-inference job), keyed by write partition."""
    from pyspark.sql import functions as F

    from destor_spark.plans.checkpoint import StageRunner

    sc = spark.sparkContext
    base = str(tmp_path / "ck")
    sr = StageRunner(spark, base, run_id="rJ")
    sc.setJobGroup("stage-runner-jobs", "StageRunner.run bookkeeping")
    try:
        out = sr.run("r", lambda: spark.range(10))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("stage-runner-jobs")) == 1

    with open(os.path.join(base, "r.manifest.json")) as f:
        man = json.load(f)
    per_task = {
        str(r["pid"]): r["n"]
        for r in spark.range(10)
        .groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert man["partition_rows"] == per_task
    assert man["rows"] == sum(man["partition_rows"].values()) == out.count()
    assert man["rows"] == 10 and man["n_partitions"] == len(per_task)

    # an empty frame commits rows == 0 and resumes without recomputing
    sr.run("empty", lambda: spark.range(0))
    with open(os.path.join(base, "empty.manifest.json")) as f:
        man = json.load(f)
    assert man["status"] == "complete" and man["rows"] == 0

    def _never():
        raise AssertionError("completed stage recomputed")

    resumed = StageRunner(spark, base, run_id="rK").run("empty", _never)
    assert resumed.count() == 0 and resumed.columns == ["id"]


def test_recompute_invalidates_manifest_before_overwrite(
    spark, tmp_path
):
    """A crash mid-recompute must not leave the PREVIOUS 'complete'
    manifest pointing at destroyed data: run() flips the manifest to
    'recomputing' before the data overwrite, so the old config's
    resume path recomputes instead of reading garbage."""
    from destor_spark.plans.checkpoint import StageRunner

    base = str(tmp_path / "ck")
    r1 = StageRunner(spark, base, run_id="r1", context_fp="cfgA")
    df = spark.createDataFrame([(1,), (2,)], "doc_id long")
    r1.run("s", lambda: df)
    assert r1.completed("s")

    # recompute under cfgB whose write FAILS mid-execution (a UDF
    # that raises on the first row — the crash-during-overwrite shape)
    from pyspark.sql import functions as F

    def _boom(x):
        raise RuntimeError("simulated crash mid-write")

    r2 = StageRunner(spark, base, run_id="r2", context_fp="cfgB")
    bad = spark.range(2).select(
        F.udf(_boom, "long")("id").alias("doc_id")
    )
    try:
        r2.run("s", lambda: bad)
    except Exception:
        pass
    # the stale cfgA manifest must be gone (status=recomputing)
    _, mpath = r2._paths("s")
    with open(mpath) as f:
        m = json.load(f)
    assert m.get("status") != "complete"
    assert not StageRunner(
        spark, base, run_id="r3", context_fp="cfgA"
    ).completed("s")
