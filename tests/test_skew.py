"""Skew handling: oversized LSH buckets must switch to the star
strategy (bounded work), and the result must still match the oracle —
the hot-bucket adversary from FIXTURES.md."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from destor_spark.config import DedupConfig
from destor_spark.oracle import run_oracle
from destor_spark.plans.pipeline import run_pipeline
from destor_spark.synth import BASE_TS, render_html


@pytest.fixture(scope="module")
def hot_corpus() -> pd.DataFrame:
    """150 near-identical docs (one giant dup family -> every band
    bucket has ~150 members > bucket_cap=64) + 50 unique docs."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i:03d}" for i in range(500)]
    base = [vocab[int(i)] for i in rng.integers(0, 500, size=300)]
    rows = []
    for i in range(150):
        toks = list(base)
        # one token tweak per doc keeps Jaccard ~0.99
        toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, 500))]
        rows.append((f"https://hot.test/{i:04d}", " ".join(toks)))
    for i in range(50):
        toks = [vocab[int(j)] for j in rng.integers(0, 500, size=200)]
        rows.append((f"https://uniq.test/{i:04d}", " ".join(toks)))
    df = pd.DataFrame(rows, columns=["url", "text"])
    df["warc_ts"] = pd.to_datetime(BASE_TS) + pd.to_timedelta(
        np.arange(len(df)), unit="s"
    )
    df["html"] = [render_html(t) for t in df["text"]]
    df["lang"] = "en"
    return df[["url", "warc_ts", "html", "text", "lang"]]


def test_star_strategy_engages_and_matches_oracle(spark, hot_corpus):
    cfg = DedupConfig()
    sdf = spark.createDataFrame(hot_corpus)
    res = run_pipeline(sdf, cfg, use_simhash=True)
    stats = res.bucket_stats.toPandas()
    assert (stats["strategy"] == "star").any(), "star strategy never engaged"
    assert stats.loc[stats["strategy"] == "star", "size"].max() >= 100

    # no quadratic blowup: pair count bounded by
    # sum(all_pairs: n*(n-1)/2) + sum(star: n-1) per bucket, across bands
    n_pairs = res.candidate_pairs.count()
    bound = int(
        (stats["size"] * (stats["size"] - 1) // 2)[
            stats["strategy"] == "all_pairs"
        ].sum()
        + (stats["size"] - 1)[stats["strategy"] == "star"].sum()
    )
    assert n_pairs <= bound

    o = run_oracle(hot_corpus, cfg, use_simhash=True)
    sa = (
        res.assignments.select("url", "cluster_id", "is_canonical")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    oa = o["assignments"][["url", "cluster_id", "is_canonical"]]
    pd.testing.assert_frame_equal(sa, oa, check_dtype=False)
    # the whole hot family must end up in ONE cluster (star keeps it connected)
    hot = sa[sa["url"].str.startswith("https://hot.test/")]
    assert hot["cluster_id"].nunique() == 1


def test_star_hot_flag_and_stats_only_parity(spark, hot_corpus):
    """bucket_hard_cap: buckets beyond it are flagged strategy=
    'star_hot' in bucket_stats while the PAIR rule stays identical to
    star; and bucket_stats_only (the count-only aggregate, the one
    producer of bucket_stats) counts every >= 2-member bucket with a
    fixed schema."""
    from destor_spark.operators import lsh as lsh_op
    from destor_spark.plans.pipeline import signatures_stage

    sdf = spark.createDataFrame(hot_corpus)
    cfg = DedupConfig()
    sigs = signatures_stage(sdf, cfg)
    ex = lsh_op.explode_bands(sigs).localCheckpoint()

    hot = DedupConfig(bucket_hard_cap=100)
    pairs_b = lsh_op.bucket_pairs(ex, cfg)
    pairs_h = lsh_op.bucket_pairs(ex, hot)
    # pair semantics unchanged by the flag
    assert pairs_b.exceptAll(pairs_h).count() == 0
    assert pairs_h.exceptAll(pairs_b).count() == 0

    so_df = lsh_op.bucket_stats_only(ex, hot)
    # checkpointed stats tables get restored and compared across runs:
    # the types are part of the contract, not just the values
    assert [(f.name, f.dataType.simpleString()) for f in so_df.schema] == [
        ("band", "int"),
        ("key", "bigint"),
        ("size", "bigint"),
        ("strategy", "string"),
    ]
    # candidate_pairs hands the pipeline this same relation
    assert lsh_op.candidate_pairs(sigs, hot)[1].exceptAll(so_df).count() == 0
    so = so_df.toPandas()
    assert (so["strategy"] == "star_hot").any(), "flag never engaged"
    assert set(so["strategy"]) <= {"all_pairs", "star", "star_hot"}
    want = ex.toPandas().groupby(["band", "key"]).size()
    want = want[want >= 2]
    got = so.set_index(["band", "key"])["size"]
    pd.testing.assert_series_equal(
        got.sort_index(), want.sort_index(), check_names=False,
        check_dtype=False,
    )
    expect = np.where(
        got <= hot.bucket_cap,
        "all_pairs",
        np.where(got > hot.bucket_hard_cap, "star_hot", "star"),
    )
    assert (so["strategy"].to_numpy() == expect).all()


def _window_bound_membership():
    """(url, warc_ts, band, key) with every bucket-shape edge case: an
    over-cap bucket whose head url appears at two warc_ts values, a
    bucket of exactly cap members and one of cap + 1, small buckets
    holding a url twice (different and identical warc_ts), and a
    singleton."""
    cap = DedupConfig().bucket_cap
    rows = [(f"big/{i:03d}", i, 0, 1) for i in range(200)]
    rows.append(("big/000", 900, 0, 1))
    rows += [(f"cap/{i:03d}", i, 0, 2) for i in range(cap)]
    rows += [(f"cap1/{i:03d}", i, 0, 3) for i in range(cap + 1)]
    rows += [
        ("s/a", 1, 1, 7), ("s/a", 2, 1, 7), ("s/b", 3, 1, 7),
        ("s/c", 4, 1, 8), ("s/c", 4, 1, 8), ("s/d", 5, 1, 8),
        ("s/e", 6, 1, 9), ("s/e", 7, 1, 9),
        ("s/f", 8, 2, 7),
        # the same key in another band is a different bucket
        ("s/a", 1, 2, 8), ("s/f", 8, 2, 8),
    ]
    return rows


def test_bucket_pairs_matches_oracle_bucket_rule(spark):
    """bucket_pairs == oracle._bucket_pairs on a synthetic membership
    relation, and again with the Window row buffer forced to spill."""
    from destor_spark.operators.lsh import bucket_pairs
    from destor_spark.oracle import _bucket_pairs

    cfg = DedupConfig()
    rows = _window_bound_membership()
    buckets: dict = {}
    order: dict = {}
    for url, ts, band, key in rows:
        buckets.setdefault((band, key), []).append(url)
        if url not in order or (ts, url) < order[url]:
            order[url] = (ts, url)
    want = _bucket_pairs(buckets, order, cfg.bucket_cap)
    assert ("big/000", "big/199") in want, "over-cap bucket not starred"
    assert len(want) > cfg.bucket_cap * (cfg.bucket_cap - 1) // 2

    ex = spark.createDataFrame(
        rows, "url string, warc_ts long, band int, key long"
    )

    def pairs():
        got = [(r.url_a, r.url_b) for r in bucket_pairs(ex, cfg).collect()]
        assert len(got) == len(set(got)), "duplicate pair rows"
        return set(got)

    assert pairs() == want
    knobs = {
        "spark.sql.windowExec.buffer.in.memory.threshold": "2",
        "spark.sql.windowExec.buffer.spill.threshold": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in knobs}
    try:
        for k, v in knobs.items():
            spark.conf.set(k, v)
        assert pairs() == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucket_pairs_plan_is_window_bounded(spark):
    """No bucket is ever held as one collect_list array: the executed
    plan has no aggregate collect_list, and its only collect_list is a
    Window over a row frame ending bucket_cap - 1 rows ahead."""
    from destor_spark.operators.lsh import bucket_pairs

    cfg = DedupConfig()
    ex = spark.createDataFrame(
        _window_bound_membership(),
        "url string, warc_ts long, band int, key long",
    )
    df = bucket_pairs(ex, cfg)
    df.collect()  # the final adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = [ln for ln in plan.splitlines() if "collect_list" in ln]
    assert lines, plan
    frame = f"specifiedwindowframe(RowFrame, 1, {cfg.bucket_cap - 1})"
    for ln in lines:
        assert "ObjectHashAggregate" not in ln and "SortAggregate" not in ln, ln
        node = ln.lstrip(" :+-|*()0123456789")
        assert node.startswith("Window ["), ln
        assert frame in ln, ln
