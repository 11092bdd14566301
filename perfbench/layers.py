"""Forced-barrier composition of the batch layers, for the traced run.

Calls each layer's public function in pipeline order and writes its
output through a parquet barrier inside the layer's span, so each span
holds exactly that layer's work.  The union and the connected
components run on the same inputs as ``plans.pipeline``; the traced
assignments are checked against the oracle golden, so a drift between
this composition and the pipeline shows as a failed run.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from destor_spark.operators import assign as assign_op
from destor_spark.operators import cluster as cluster_op
from destor_spark.operators import exact as exact_op
from destor_spark.operators import lsh as lsh_op
from destor_spark.operators import simhash as simhash_op
from destor_spark.operators import substring as substring_op
from destor_spark.operators import verify as verify_op
from destor_spark.plans.pipeline import signatures_stage

from harness import Tracer

LAYERS = (
    "signatures", "exact", "lsh", "verify", "simhash", "substring",
    "edges", "cc", "assign",
)


def compose_layers(spark, tracer: Tracer, paths: list[str], cfg, root: str):
    """Returns (assignments pandas frame, each layer's output frame)."""

    def barrier(df, tag):
        path = os.path.join(root, tag)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    pages = spark.read.parquet(*paths)
    texts = pages.select("url", "warc_ts", "text")
    out = {"texts": texts}
    with tracer.span("signatures"):
        out["sigs"] = sigs = barrier(
            signatures_stage(pages, cfg, with_sha=True), "sigs")
    with tracer.span("exact"):
        out["exact"] = exact = barrier(
            exact_op.exact_pairs(sigs.select("url", "warc_ts", "content_sha")),
            "exact",
        )
    with tracer.span("lsh"):
        out["cand"] = cand = barrier(
            lsh_op.candidate_pairs(sigs, cfg)[0], "cand")
    with tracer.span("verify"):
        out["verified"] = verified = barrier(
            verify_op.verify_pairs(cand, sigs, cfg), "verified")
    with tracer.span("simhash"):
        n_live = sigs.filter(F.col("n_shingles") > 0).count()
        sim_cfg = simhash_op.auto_index_config(cfg, n_live)
        out["sim"] = sim = barrier(
            simhash_op.simhash_pairs(sigs, sim_cfg), "simhash")
    with tracer.span("substring"):
        out["sub"] = sub = barrier(
            substring_op.substring_pairs(texts, cfg), "substring")
    with tracer.span("edges"):
        out["edges"] = edges = barrier(
            exact.unionByName(verified.select("url_a", "url_b"))
            .unionByName(sim)
            .unionByName(sub)
            .distinct(),
            "edges",
        )
    with tracer.span("cc"):
        out["comps"] = comps = barrier(
            cluster_op.connected_components(edges, cfg.max_cc_rounds), "cc"
        )
    with tracer.span("assign"):
        got = (
            assign_op.assignments(pages, comps)
            .select("url", "cluster_id", "is_canonical")
            .toPandas()
        )
    return got, out


def layer_counts(out: dict, cfg) -> dict[str, int]:
    """Row counts of the composed layers' outputs; run after the traced
    part of the run, outside every span."""
    return {
        "docs": out["sigs"].count(),
        "exact.pairs": out["exact"].count(),
        "lsh.candidate_pairs": out["cand"].count(),
        "verify.pairs": out["verified"].count(),
        "simhash.pairs": out["sim"].count(),
        "substring.candidates": substring_op.candidate_substring_pairs(
            out["texts"], cfg
        ).count(),
        "substring.pairs": out["sub"].count(),
        "edges.rows": out["edges"].count(),
        "cc.components": out["comps"].select("cluster_id").distinct().count(),
    }
