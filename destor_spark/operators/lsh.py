"""LSH banding -> bucket join -> candidate pairs, with explicit skew
handling.

destor analogue: the feature kv index + similarity lookup
(/root/reference/src/index/kvstore_htable.c:156-168,
/root/reference/src/index/similarity_detection.c:49-217).  destor does a
point lookup per feature; at Spark scale the "index" is the exploded
(band, bucket_key) relation itself and lookup becomes one shuffle that
co-locates every bucket's members (SURVEY.md J1-J3).

Skew strategy (SURVEY.md section 4 custom item 1; destor analogue:
segment-size bounds segmenting_method.c:88-109 and capping
cap_rewrite.c:44-107), decided per bucket inside the one operator — no
config switch picks a physical path (the hot-key-in-the-operator
argument of "Rock you like a hurricane", EuroSys'18):

  * bucket size 1 .......... emits nothing (no later member to pair)
  * 2 <= size <= bucket_cap  all-pairs inside the bucket: each member
                             pairs with the members after it in
                             (warc_ts, url) order, collected over a
                             row frame of at most bucket_cap - 1 rows
                             (max cap*(cap-1)/2 pairs per bucket)
  * size > bucket_cap ...... STAR pairing: every member pairs with the
                             bucket head (min (warc_ts, url)).  Linear
                             in bucket size, never materializes a giant
                             array, and keeps the cluster connected via
                             union-find transitivity.  The pandas
                             oracle applies the identical rule, so
                             assignment parity is preserved.

No array ever holds more than bucket_cap urls; a bucket's rows live in
the Window operator's spillable row buffer, not in one in-task array.

bucket_stats (band, key, size, strategy), the run's hot-bucket
inventory (destor jcr analogue), comes from bucket_stats_only alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from destor_spark.config import DedupConfig


def explode_bands(sigs: DataFrame) -> DataFrame:
    """(url, warc_ts, band_keys) -> (url, warc_ts, band, key).

    Empty documents (n_shingles == 0) carry sentinel signatures and are
    excluded here — destor's empty-segment sentinel feature
    (/root/reference/src/index/sampling_method.c:68-74) exists so that
    empties never match each other; we get the same effect by filtering.
    """
    return (
        sigs.filter(F.col("n_shingles") > 0)
        .select(
            "url",
            "warc_ts",
            F.posexplode("band_keys").alias("band", "key"),
        )
    )


def bucket_pairs(ex: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Generic bucketed pair generation with the cap/star skew strategy.

    ex: (url, warc_ts, band, key) membership relation.
    Returns pairs(url_a, url_b), distinct across buckets and
    url-normalized (url_a < url_b lexicographic — see _norm_pair;
    in-bucket ordering and star-head selection remain by
    (warc_ts, url), first-copy-wins).

    One shuffle on (band, key), ordered by (warc_ts, url).  A
    whole-group frame gives every row its bucket's size and head; the
    star branch (size > cap) emits (head, url), the all-pairs branch
    keeps only 2 <= size <= cap rows BEFORE its sliding frame, so an
    over-cap bucket never pays O(size * cap) for it.  Both branches read
    the same exchange (ReusedExchange), so the input's plan — an
    anchored-gram UDF, say — runs once.

    Shared by the MinHash band pass, the SimHash block pass, the
    substring pass, SRP near-dup and the streaming delta — all
    instances of destor's feature->segment-list index lookup
    (/root/reference/src/index/kvstore_htable.c:156-168).
    """
    ordered = Window.partitionBy("band", "key").orderBy("warc_ts", "url")
    whole = ordered.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    members = ex.select(
        "url",
        "warc_ts",
        "band",
        "key",
        F.count(F.lit(1)).over(whole).alias("size"),
        F.first("url").over(whole).alias("head"),
    )
    star = members.filter(F.col("size") > cfg.bucket_cap).select(
        F.col("head").alias("url_a"), F.col("url").alias("url_b")
    )
    later = ordered.rowsBetween(1, max(cfg.bucket_cap - 1, 1))
    all_pairs = (
        members.filter(F.col("size").between(2, cfg.bucket_cap))
        .select("url", F.collect_list("url").over(later).alias("later"))
        .select(
            F.col("url").alias("url_a"), F.explode("later").alias("url_b")
        )
    )
    return (
        star.unionByName(all_pairs)
        # a url present TWICE in one bucket (streaming store + re-crawl
        # of the same page, or duplicate input rows) would otherwise
        # emit the degenerate self-pair (X, X) — the rows differ on
        # warc_ts, so the i<j frame does not exclude it; the star head
        # pairs with itself the same way
        .filter(F.col("url_a") != F.col("url_b"))
        .select(*_norm_pair())
        .distinct()
    )


def _strategy(size_col, cfg: DedupConfig):
    """Per-bucket strategy label for bucket_stats: all_pairs below the
    cap, star above it, star_hot above cfg.bucket_hard_cap.  star_hot
    buckets are PAIRED identically to star (linear, head-connected) —
    the label is the promised hot-bucket log line, persisted with the
    run's bucket_stats lineage so the next run can salt or pre-split
    those keys (the destor-HAR pattern, har_rewrite.c:17-180)."""
    return (
        F.when(size_col <= cfg.bucket_cap, F.lit("all_pairs"))
        .when(size_col > cfg.bucket_hard_cap, F.lit("star_hot"))
        .otherwise(F.lit("star"))
    )


def bucket_stats_only(ex: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The bucket_stats relation (band, key, size, strategy) of the
    buckets with >= 2 members — its one producer.

    The shuffle carries (band, key, partial_count), not members (a
    map-side combine on a plain count), so persisting the bucket
    inventory (run_checkpointed's HAR lineage stage) never repeats the
    pair pass's shuffle."""
    sizes = (
        ex.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("size"))
        .filter(F.col("size") >= 2)
    )
    return sizes.withColumn("strategy", _strategy(F.col("size"), cfg))


# Final pair orientation is URL-lexicographic (url_a < url_b),
# applied before distinct: per-bucket ordering is by (warc_ts, url),
# so a re-crawled url (two warc_ts values) could otherwise emit the
# SAME unordered pair in both orientations from different buckets —
# mirrored rows that distinct() cannot collapse (double verify work,
# inflated pair counts).  Star HEAD selection stays (warc_ts, url) —
# the oldest copy anchors the star (destor first-copy-wins) — only
# the emitted pair's column order is normalized.
def _norm_pair():
    # built lazily: F.least/greatest need an active SparkContext, so a
    # module-level tuple would break plain `import destor_spark...`
    return (
        F.least("url_a", "url_b").alias("url_a"),
        F.greatest("url_a", "url_b").alias("url_b"),
    )


def candidate_pairs(
    sigs: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame, DataFrame]:
    """MinHash-LSH candidates and the band buckets' bucket_stats:
    explode bands once, then bucketed pair generation."""
    ex = explode_bands(sigs)
    return bucket_pairs(ex, cfg), bucket_stats_only(ex, cfg)
