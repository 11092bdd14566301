"""End-to-end dedup pipeline: one plan, three barrier policies.

destor defines its backup job once, as 6 phases over bounded queues
(do_backup.c:32-41); jobs differ only in where they keep state.  `_plan`
is that one definition here (SURVEY.md section 3.1):

  signatures -> exact + LSH pairs -> verify -> [simhash] -> [substring]
     -> edges -> union-find -> assignments

barrier(stage, fn, required_cols=()) decides what each of its five named
links costs.  `run_pipeline` round-trips the `_BATCH_BARRIERS` links
through parquet and leaves the rest lazy (`_ephemeral`).
`run_checkpointed` makes all five durable (`StageRunner.run`), so a
killed job resumes from the last complete one.  The flagship driver
query `q_dedup_pipeline_assignments` is `_ephemeral` over the query
barrier, with the portable md5 signature stage its DuckDB oracle
reproduces.
"""

from __future__ import annotations

import atexit
import functools
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


# The links the in-memory policy writes; every other link stays lazy.
# A lazy link read by several subtrees of one action recomputes its
# lineage per subtree (~2x wall at 50k docs), so these are the links
# with several consumers:
# - signatures: the one text scan, read by exact, LSH, verify, simhash;
# - edges: large-star CC references it 4x.  Unbarriered, at 4M
#   docs/local[8] the ~6.3 GB simhash key-table exchange ran THREE
#   times (~90 s of the 8-core leg); ~100 B/edge of parquet makes the
#   fan-out O(edges) at every scale.
# Candidate and verified pairs have one consumer each: barriering them
# cost two round-trips for no recompute saved (r6 A/B, min of 2
# alternating: 4.68 -> 3.47 s at 5k docs, 8.55 -> 6.91 s at 50k).
_BATCH_BARRIERS = ("signatures", "edges")


def _ephemeral(write):
    """In-memory barrier policy: write(df, tag) -> DataFrame for the
    links in _BATCH_BARRIERS, the rest lazy.  required_cols guards only
    a durable resume, so it is ignored here."""

    def barrier(stage, fn, required_cols=()):
        df = fn()
        return write(df, stage) if stage in _BATCH_BARRIERS else df

    return barrier


def _plan(
    pages: DataFrame,
    cfg: DedupConfig,
    barrier,
    use_simhash: bool,
    use_substring: bool,
    signatures: DataFrame | None = None,
) -> PipelineResult:
    """The dedup DAG, defined once (module docstring).  signatures
    replaces the signature stage's plan (the flagship query's portable
    md5 stage).  content_sha rides in that stage: one text scan."""
    sigs = barrier(
        "signatures",
        lambda: signatures_stage(pages, cfg, with_sha=True)
        if signatures is None
        else signatures,
        # pre-r3 checkpoints have a complete signatures stage WITHOUT
        # content_sha; resuming one would fail at the exact pass's select
        required_cols=("url", "warc_ts", "content_sha"),
    )
    pairs, stats = lsh_op.candidate_pairs(sigs, cfg)
    # bucket_stats: this run's hot-bucket inventory informs the next
    # run's salting (destor-HAR, har_rewrite.c:17-180)
    bucket_stats = barrier("bucket_stats", lambda: stats)
    # the pair relations feed only edges: lazy under every policy, never
    # run by a resume past edges; a caller consuming one from
    # PipelineResult recomputes it from the signatures link
    exact_edges = exact_op.exact_pairs(
        sigs.select("url", "warc_ts", "content_sha")
    )
    verified = verify_op.verify_pairs(pairs, sigs, cfg)

    def edge_union() -> DataFrame:
        frames = [exact_edges, verified.select("url_a", "url_b")]
        if use_simhash:
            # a cheap count picks the candidate-index physics; pair
            # semantics identical either way (auto_index_config)
            n_live = sigs.filter(F.col("n_shingles") > 0).count()
            sim_cfg = simhash_op.auto_index_config(cfg, n_live)
            frames.append(simhash_op.simhash_pairs(sigs, sim_cfg))
        if use_substring:
            frames.append(
                substring_op.substring_pairs(
                    pages.select("url", "warc_ts", "text"), cfg
                )
            )
        return functools.reduce(DataFrame.unionByName, frames).distinct()

    edges = barrier("edges", edge_union)
    comps = barrier(
        "components",
        lambda: cluster_op.connected_components(edges, cfg.max_cc_rounds),
    )
    return PipelineResult(
        signatures=sigs,
        exact_edges=exact_edges,
        candidate_pairs=pairs,
        verified_pairs=verified,
        bucket_stats=bucket_stats,
        assignments=barrier(
            "assignments", lambda: assign_op.assignments(pages, comps)
        ),
    )


def run_pipeline(
    pages: DataFrame,
    cfg: DedupConfig,
    use_simhash: bool = True,
    use_substring: bool = False,
) -> PipelineResult:
    """In-memory run: the _BATCH_BARRIERS links go through parquet under
    a per-run dir; call PipelineResult.cleanup() once every frame of
    the result is consumed."""
    root = _mat_root(pages.sparkSession)
    res = _plan(
        pages,
        cfg,
        _ephemeral(lambda df, tag: _materialize(df, tag, root)),
        use_simhash,
        use_substring,
    )
    res.mat_root = root
    return res


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
    """Checkpointed run: each of _plan's five links is a durable
    StageRunner stage, and a rerun resumes from the last complete one
    (destor recipe semantics) — with components complete it skips every
    star round, and on a completed dir it returns the assignments
    without recomputing anything.  destor itself keeps only the recipe
    and containers; its inter-phase queues stay in memory
    (do_backup.c:32-41)."""
    sr = StageRunner(
        spark,
        ckpt_dir,
        run_id,
        context_fp=config_fingerprint(cfg, use_simhash, use_substring),
    )
    return _plan(pages, cfg, sr.run, use_simhash, use_substring).assignments
