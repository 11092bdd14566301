"""In-process microbenchmarks of the numpy kernels the Arrow stages call,
on one 4096-document batch of the workload's own corpus.  Each figure
is the median of ``REPEATS`` timings (``time.perf_counter``), per
document, per candidate pair or per message."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from destor_spark import hashing as H
from destor_spark import md5np
from destor_spark.operators.substring import ANCHOR_W, _anchor_win, _gram_len

BATCH = 4096
REPEATS = 3


def _median_s(fn) -> float:
    out = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def run_kernels(paths: list[str], cfg) -> dict[str, float]:
    import pyarrow as pa

    texts = pd.concat(
        [pd.read_parquet(p, columns=["text"]) for p in paths]
    )["text"].fillna("").tolist()
    texts = (texts * (BATCH // len(texts) + 1))[:BATCH]
    arr = pa.array(texts, type=pa.large_string())
    off = np.frombuffer(arr.buffers()[1], dtype=np.int64, count=BATCH + 1)
    buf = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    a, b = H.minhash_params(cfg.num_hashes, cfg.seed)

    th, counts = H.tokenize_xxh64(buf, off)
    tok_off = np.concatenate([[0], np.cumsum(counts)])
    per_doc = [th[tok_off[i]:tok_off[i + 1]] for i in range(BATCH)]
    shingles = [H.shingle_hashes(t, cfg.shingle_size) for t in per_doc]
    sigs = [H.minhash_signature(s, a, b) for s in shingles]
    glen, win = _gram_len(cfg), _anchor_win(cfg)
    pair_a, pair_b = texts[0::2], texts[1::2]
    # md5np digests substring-length grams, so each message is the first
    # substring_len bytes of a document
    lengths = np.minimum(np.diff(off), cfg.substring_len)

    us = 1e6
    return {
        "kernel.tokenize_xxh64_us_per_doc": _median_s(
            lambda: H.tokenize_xxh64(buf, off)
        ) * us / BATCH,
        "kernel.shingle_us_per_doc": _median_s(
            lambda: [H.shingle_hashes(t, cfg.shingle_size) for t in per_doc]
        ) * us / BATCH,
        "kernel.minhash_us_per_doc": _median_s(
            lambda: [H.minhash_signature(s, a, b) for s in shingles]
        ) * us / BATCH,
        "kernel.band_keys_us_per_doc": _median_s(
            lambda: [H.band_keys(s, cfg.bands, cfg.rows) for s in sigs]
        ) * us / BATCH,
        "kernel.simhash_us_per_doc": _median_s(
            lambda: [H.simhash64(s) for s in shingles]
        ) * us / BATCH,
        "kernel.anchored_grams_us_per_doc": _median_s(
            lambda: [H.anchored_gram_keys(t, glen, win, ANCHOR_W) for t in texts]
        ) * us / BATCH,
        "kernel.common_substring_us_per_pair": _median_s(
            lambda: H.common_substring_flags(pair_a, pair_b, cfg.substring_len)
        ) * us / len(pair_a),
        "kernel.md5_us_per_msg": _median_s(
            lambda: md5np.md5_digests(buf, off[:-1].copy(), lengths)
        ) * us / BATCH,
    }
