"""End-to-end dedup pipeline orchestration.

destor's backup job is 6 pipelined phases over bounded queues
(/root/reference/src/do_backup.c:32-41); here each phase is a Spark
stage group with an optional durable checkpoint between them
(SURVEY.md section 3.1 "Spark restatement"):

  read/extract -> exact pass -> signatures -> LSH pairs -> verify
     -> [simhash pass] -> union-find -> assignments

`run_pipeline` is the in-memory composition (tests, benchmarks), with
ephemeral parquet barriers at the signatures and edges links;
`run_checkpointed` makes five stages durable through a StageRunner, so a
killed job resumes from the last complete one with lineage + metrics.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from destor_spark.config import DedupConfig
from destor_spark.operators import assign as assign_op
from destor_spark.operators import cluster as cluster_op
from destor_spark.operators import exact as exact_op
from destor_spark.operators import lsh as lsh_op
from destor_spark.operators import minhash as minhash_op
from destor_spark.operators import simhash as simhash_op
from destor_spark.operators import substring as substring_op
from destor_spark.operators import verify as verify_op
from destor_spark.plans.checkpoint import StageRunner


@dataclass
class PipelineResult:
    signatures: DataFrame
    exact_edges: DataFrame
    candidate_pairs: DataFrame
    verified_pairs: DataFrame
    bucket_stats: DataFrame
    assignments: DataFrame
    mat_root: str | None = field(default=None, repr=False)

    def cleanup(self) -> None:
        """Delete this run's stage-barrier parquet dirs.  Call once every
        member DataFrame is fully consumed — they read from these files.
        (Long-lived processes invoking run_pipeline repeatedly would
        otherwise accumulate intermediates until interpreter exit.)"""
        if self.mat_root:
            shutil.rmtree(self.mat_root, ignore_errors=True)


def _materialize(df: DataFrame, tag: str, root: str) -> DataFrame:
    """Stage barrier: parquet round-trip instead of .persist().

    Spark's in-memory columnar cache is pathological for this data
    shape — array<bigint> columns (128-long signatures, band keys) go
    through per-element generic encoders on BOTH the build and every
    read.  Measured at 100k docs / local[32], signature table + one
    LSH consumer pass (min of 3 alternating repeats): persist 125 s,
    localCheckpoint 111 s, parquet round-trip 68 s.  Parquet's
    vectorized array codec wins on both sides, and the barrier
    semantics (destor's bounded inter-phase queues,
    /root/reference/src/do_backup.c:32-41) are identical.

    On a multi-executor cluster the same pattern holds with a shared
    root (set SPARK_GRAFT_MAT_DIR to a cluster-visible path), and the
    durable variant of this barrier is StageRunner (run_checkpointed).
    """
    path = os.path.join(root, tag)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


_SESSION_ROOTS: dict[str, str] = {}
_RUN_IDS = itertools.count()


def _session_base(spark: SparkSession) -> str:
    app_id = spark.sparkContext.applicationId
    base = _SESSION_ROOTS.get(app_id)
    if base is None:
        base = tempfile.mkdtemp(
            prefix="destor_mat_", dir=os.environ.get("SPARK_GRAFT_MAT_DIR")
        )
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        _SESSION_ROOTS[app_id] = base
    return base


def _mat_root(spark: SparkSession) -> str:
    """Per-run barrier dir under ONE base dir per SparkSession (removed
    at interpreter exit; individual runs via PipelineResult.cleanup())."""
    root = os.path.join(_session_base(spark), f"run{next(_RUN_IDS)}")
    os.makedirs(root, exist_ok=True)
    return root


def _query_mat_root(spark: SparkSession) -> str:
    """Stable barrier dir for the driver-query surface: one fixed dir
    per session.  Unlike _mat_root's run{N} counter, repeated
    invocations of the same query REUSE the same per-tag slot (via
    _materialize_gen's generation counter), so a long-lived driver
    calling q_ngram_jaccard_pairs in a loop holds one barrier's worth
    of disk per tag instead of accumulating run dirs until exit."""
    root = os.path.join(_session_base(spark), "queries")
    os.makedirs(root, exist_ok=True)
    return root


_TAG_GENS: dict[tuple[str, str], int] = {}
_TAG_INFLIGHT: set[tuple[str, str]] = set()
_TAG_LOCK = threading.Lock()


def _materialize_gen(df: DataFrame, tag: str, root: str) -> DataFrame:
    """Generation-versioned barrier for the reusable query root.

    Writing mode=overwrite IN PLACE would break sequential
    re-invocation: a DataFrame returned by an EARLIER invocation of the
    same query reads deleted files after a re-invocation.  Here every
    invocation writes a fresh `<tag>_g<N>` dir (the counter is
    session-global and lock-guarded) and the PREVIOUS generation is
    deleted only after the new write commits, so disk held per tag
    stays bounded at one generation.

    Contract — SEQUENTIAL single consumer per tag: a barrier DataFrame
    from invocation N-1 becomes unreadable once invocation N commits,
    so fully consume (or re-run) a query's result before re-invoking
    it.  CONCURRENT invocations of the same query in one session are
    NOT supported: invocation N's post-commit cleanup removes gen N-1
    while a still-running invocation N-1 may be writing or reading it.
    Overlap is detected under the lock and logged rather than silently
    corrupting.
    """
    app_id = df.sparkSession.sparkContext.applicationId
    key = (app_id, tag)
    with _TAG_LOCK:
        gen = _TAG_GENS.get(key, 0) + 1
        _TAG_GENS[key] = gen
        if key in _TAG_INFLIGHT:
            import warnings

            warnings.warn(
                f"concurrent invocations of query barrier '{tag}' in one "
                "session are unsupported (sequential single-consumer "
                "contract); the overlapping run may fail on a removed "
                f"generation dir ({tag}_g{gen - 1})",
                RuntimeWarning,
                stacklevel=2,
            )
        _TAG_INFLIGHT.add(key)
    try:
        path = os.path.join(root, f"{tag}_g{gen}")
        df.write.mode("overwrite").parquet(path)
        # sweep EVERY older generation, not just gen-1: a failed write
        # at gen N leaves g{N-1} behind (the retry then runs as N+1 and
        # its gen-1 cleanup would only remove the failed g{N}), so a
        # long-lived driver with transient write failures would
        # accumulate one orphaned barrier dir per failure per tag
        for name in os.listdir(root):
            if name.startswith(f"{tag}_g") and name != f"{tag}_g{gen}":
                tail = name[len(tag) + 2:]
                if tail.isdigit() and int(tail) < gen:
                    shutil.rmtree(
                        os.path.join(root, name), ignore_errors=True
                    )
        return df.sparkSession.read.parquet(path)
    finally:
        with _TAG_LOCK:
            _TAG_INFLIGHT.discard(key)


def signatures_stage(
    pages: DataFrame, cfg: DedupConfig, with_sha: bool = False
) -> DataFrame:
    """with_sha=True additionally computes content_sha in the SAME text
    scan (sha2 is JVM codegen alongside tokenize), so the exact pass
    needs no second pass over the raw text — at 100 TB that second
    scan is the single largest avoidable IO in the job."""
    keyed = pages.select("url", "warc_ts", "text")
    # the Arrow UDF is the CPU-bound stage: if the input arrives in
    # fewer FILES than the cluster has slots (small local files, or a
    # freshly compacted table), spread it with an explicit round-robin
    # repartition; on a well-partitioned 100 TB table (thousands of
    # files) this is a no-op.
    #
    # Why file count and NOT an estimated split count (bytes /
    # maxPartitionBytes): parquet can only split at row-group
    # boundaries, so "this 2 GB file yields 250 8-MB splits" is a
    # fiction — with ~15 MB row groups half the scheduled splits read
    # nothing and the scan's real task layout is skewed to row-group
    # starts; the CPU-bound UDF stage inherits that skew.  Measured
    # A/B at local[8], 1M docs, single 2 GB file (alternating order,
    # both heap sizes): no-repartition 243.7 / 232.4 s vs repartition
    # 176.7 / 201.0 s — the bounded one-time shuffle of the (url, ts,
    # text) projection wins by 15-30%.
    spark = pages.sparkSession
    want = spark.sparkContext.defaultParallelism * 2
    if len(keyed.inputFiles()) < want:
        keyed = keyed.repartition(want)
    if with_sha:
        keyed = exact_op.with_content_hash(keyed)
    # fused text -> signatures in one Arrow stage (r5): the former
    # split + F.transform(xxhash64) JVM path was interpreted (no
    # codegen for higher-order functions) and boxed every token hash —
    # event-log profile at 1M docs billed 30-50% of the stage's run
    # time to GC.  Signatures are bit-identical (parity-gated).
    return minhash_op.with_signatures_from_text(keyed, cfg)


def run_pipeline(
    pages: DataFrame,
    cfg: DedupConfig,
    use_simhash: bool = True,
    use_substring: bool = False,
) -> PipelineResult:
    # Materialize the reused stages eagerly (parquet barrier, see
    # _materialize).  Eagerness matters: a lazy stage consumed by
    # several subtrees of one action recomputes the whole lineage per
    # subtree, which multiplied the wall time ~2x measured at 50k docs.
    # destor's phases are hard barriers between queues
    # (/root/reference/src/do_backup.c:32-41); these are the same
    # barriers.
    root = _mat_root(pages.sparkSession)

    # ONE text scan for the whole job: content_sha (exact pass) is
    # computed in the same pass as tokenize + signatures (JVM sha2
    # beside the Arrow UDF), and the sigs barrier then feeds both the
    # exact self-join and every LSH/simhash consumer.  Before r3 the
    # exact pass had its own barrier and its own full scan of the raw
    # text — at 100 TB the single largest avoidable IO.
    sigs = _materialize(
        signatures_stage(pages, cfg, with_sha=True), "sigs", root
    )
    exact_edges = exact_op.exact_pairs(
        sigs.select("url", "warc_ts", "content_sha")
    )
    pairs, _ = lsh_op.candidate_pairs(sigs, cfg)
    # stats via the count-only aggregate: row-identical to the tuple's
    # second element but a consumer touching res.bucket_stats pays one
    # lean (band,key,count) shuffle instead of re-running the
    # collect_list groupBy — the job's largest shuffle — from the sigs
    # barrier a second time.
    bucket_stats = lsh_op.bucket_stats_only(lsh_op.explode_bands(sigs), cfg)
    # pairs and verified are SINGLE-consumer links in the chain
    # sigs -> pairs -> verified -> edges (the edges barrier below
    # materializes the whole chain once): barriering them bought no
    # recompute protection and cost two parquet write+read cycles —
    # measured r6 A/B (min of 2 alternating): 4.68 -> 3.47 s at 5k
    # docs, 8.55 -> 6.91 s at 50k.  The sigs barrier stays: it feeds
    # exact + LSH + verify + simhash (4 consumers).  PipelineResult
    # still exposes both lazily; a caller consuming them recomputes
    # from the sigs barrier (same lazy contract as exact_edges).
    verified = verify_op.verify_pairs(pairs, sigs, cfg)

    all_edges = _edge_union(
        pages, sigs, exact_edges, verified, cfg, use_simhash, use_substring
    )
    # Barrier the union BEFORE connected components: large-star
    # references the edge relation 4x (sym union + m-join), and
    # without a barrier each reference drags the full upstream —
    # measured at 4M docs/local[8]: the ~6.3 GB simhash key-table
    # exchange ran THREE times as concurrent AQE query stages
    # (exchange-reuse canonicalization that held at 2M broke at 4M),
    # ~90 s of the 8-core leg's wall.  A ~100 B/edge parquet barrier
    # makes the fan-out O(edges), deterministically, at every scale.
    # (run_checkpointed barriers the same link via sr.run("edges").)
    all_edges = _materialize(all_edges, "edges", root)

    comps = cluster_op.connected_components(all_edges, cfg.max_cc_rounds)
    assignment = assign_op.assignments(pages, comps)
    return PipelineResult(
        signatures=sigs,
        exact_edges=exact_edges,
        candidate_pairs=pairs,
        verified_pairs=verified,
        bucket_stats=bucket_stats,
        assignments=assignment,
        mat_root=root,
    )


def _edge_union(
    pages: DataFrame,
    sigs: DataFrame,
    exact_edges: DataFrame,
    verified: DataFrame,
    cfg: DedupConfig,
    use_simhash: bool,
    use_substring: bool,
) -> DataFrame:
    """The exact ∪ verified ∪ [simhash] ∪ [substring] edge relation,
    deduplicated.  ONE definition for both run_pipeline and
    run_checkpointed — the two paths previously carried drift-prone
    copies of this block, and batch-vs-checkpointed parity depends on
    them staying identical."""
    frames = [exact_edges, verified.select("url_a", "url_b")]
    if use_simhash:
        # one cheap count over the materialized barrier (n_shingles
        # column only) picks the candidate-index physics; pair
        # semantics identical either way (auto_index_config docstring)
        n_live = sigs.filter(F.col("n_shingles") > 0).count()
        sim_cfg = simhash_op.auto_index_config(cfg, n_live)
        frames.append(simhash_op.simhash_pairs(sigs, sim_cfg))
    if use_substring:
        frames.append(
            substring_op.substring_pairs(
                pages.select("url", "warc_ts", "text"), cfg
            )
        )
    out = frames[0]
    for e in frames[1:]:
        out = out.unionByName(e)
    return out.distinct()


def config_fingerprint(
    cfg: DedupConfig, use_simhash: bool, use_substring: bool
) -> str:
    """Stable fingerprint of every parameter that determines stage
    outputs, recorded in each stage manifest: resuming a checkpoint
    under a DIFFERENT config must recompute, not silently return
    results computed under the old parameters."""
    import dataclasses
    import hashlib
    import json

    payload = json.dumps(
        {
            "cfg": dataclasses.asdict(cfg),
            "use_simhash": bool(use_simhash),
            "use_substring": bool(use_substring),
        },
        sort_keys=True,
        default=list,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig,
    ckpt_dir: str,
    run_id: str = "r0",
    use_simhash: bool = True,
    use_substring: bool = False,
) -> DataFrame:
    """Checkpointed variant: five durable stages, resume from the last
    complete one (destor recipe semantics).  A stage is durable where a
    second consumer or resume needs it; destor itself keeps only the
    recipe and containers, its inter-phase queues stay in memory
    (do_backup.c:32-41)."""
    sr = StageRunner(
        spark,
        ckpt_dir,
        run_id,
        context_fp=config_fingerprint(cfg, use_simhash, use_substring),
    )

    # signatures: the Arrow UDF stage, read by the exact, LSH, verify
    # and simhash passes.  ONE text scan: content_sha rides in it (see
    # signatures_stage docstring), so the exact pass re-reads no text.
    sigs = sr.run(
        "signatures",
        lambda: signatures_stage(pages, cfg, with_sha=True),
        # pre-r3 checkpoints have a complete signatures stage WITHOUT
        # content_sha (it lived in a separate content_hashes stage);
        # resuming one would fail at the exact pass's select below
        required_cols=("url", "warc_ts", "content_sha"),
    )
    # bucket_stats: persisted per run, the destor-HAR pattern — this
    # run's hot-bucket inventory informs the next run's salting and is
    # part of the per-partition lineage (har_rewrite.c:17-180 inherits
    # the previous backup's sparse-container list the same way).
    # bucket_stats_only, not candidate_pairs(...)[1]: the tuple form
    # would re-run the whole collect_list explode/groupBy — the job's
    # largest shuffle — a second time just to persist this small table.
    sr.run(
        "bucket_stats",
        lambda: lsh_op.bucket_stats_only(lsh_op.explode_bands(sigs), cfg),
    )

    # edges: CC references the relation 4x (see run_pipeline), and it is
    # the pair-level output a caller audits.  The exact, candidate and
    # verified pair relations each feed only this stage, so they are
    # planned inside it: no write of their own, and a resume past edges
    # never plans them (same single-consumer audit as run_pipeline).
    def edge_union() -> DataFrame:
        exact_edges = exact_op.exact_pairs(
            sigs.select("url", "warc_ts", "content_sha")
        )
        pairs, _ = lsh_op.candidate_pairs(sigs, cfg)
        verified = verify_op.verify_pairs(pairs, sigs, cfg)
        return _edge_union(
            pages, sigs, exact_edges, verified, cfg,
            use_simhash, use_substring,
        )

    edges = sr.run("edges", edge_union)
    # components: the union-find result; a resume with it complete skips
    # every star round.  assignments: the job's output, which a rerun on
    # a completed dir returns without recomputing anything.
    comps = sr.run(
        "components",
        lambda: cluster_op.connected_components(edges, cfg.max_cc_rounds),
    )
    return sr.run("assignments", lambda: assign_op.assignments(pages, comps))
