"""Seeded inputs and oracle goldens, cached under the work dir by
(seed, size, layout).

* crawl corpora come from ``synth.make_corpus`` through
  ``synth.ensure_corpus`` (its file name already carries seed, size and
  row-group layout);
* the re-crawl base is a crawl corpus; the delta re-crawls stored pages
  under new URLs, exactly or with small token edits, plus some fresh
  pages.  Every source page is re-crawled at most once, so no duplicate
  family (and no LSH bucket) reaches ``bucket_cap``: both engines then
  pair all members of every bucket and the streaming store must equal
  the batch oracle exactly.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from destor_spark import oracle
from destor_spark.config import DedupConfig
from destor_spark.synth import BASE_TS, ensure_corpus

# bump when the generator or the golden format changes: old caches then
# stop matching instead of being trusted
LAYOUT = "v1"
BASE_SEED = 0


def crawl_corpus(cache: str, seed: int, n_docs: int) -> str:
    pages_path, _truth = ensure_corpus(cache, seed, n_docs)
    return pages_path


def _edit_tokens(rng: np.random.Generator, text: str) -> str:
    toks = text.split(" ")
    n_edit = max(1, int(len(toks) * rng.uniform(0.003, 0.02)))
    for p in rng.choice(len(toks), size=min(n_edit, len(toks)), replace=False):
        toks[p] = toks[int(rng.integers(0, len(toks)))]
    return " ".join(toks)


def recrawl_corpus(
    cache: str, seed: int, n_base: int, delta_docs: int
) -> tuple[str, str]:
    """(base parquet, delta parquet).  The base crawl is the same for
    every seed, so its seeded store is built once per checkout; the delta
    comes from ``seed``: 40% exact re-crawls and 40% token-edited
    re-crawls of distinct base pages under new URLs, 20% fresh pages."""
    base_path = crawl_corpus(cache, BASE_SEED, n_base)
    path = os.path.join(
        cache, f"recrawl_{LAYOUT}_s{seed}_b{n_base}_m{delta_docs}.parquet"
    )
    if os.path.exists(path):
        return base_path, path
    texts = pd.read_parquet(base_path, columns=["text"])["text"]
    rng = np.random.default_rng([seed, 7919])
    live = np.flatnonzero((texts.str.strip().str.len() > 0).to_numpy())
    n_exact = n_near = int(delta_docs * 0.4)
    sources = rng.choice(live, size=n_exact + n_near, replace=False)
    rows = [texts.iat[int(i)] for i in sources[:n_exact]]
    rows += [_edit_tokens(rng, texts.iat[int(i)]) for i in sources[n_exact:]]
    while len(rows) < delta_docs:
        toks = texts.iat[int(rng.choice(live))].split(" ")
        rng.shuffle(toks)
        rows.append(" ".join(toks))
    ts = BASE_TS + np.arange(n_base, n_base + delta_docs).astype("timedelta64[s]")
    delta = pd.DataFrame(
        {
            "url": [f"https://recrawl.test/{seed}/{i:06d}" for i in range(delta_docs)],
            "warc_ts": ts.astype("datetime64[us]"),
            "html": [t.encode() for t in rows],
            "text": rows,
            "lang": "en",
        }
    )
    tmp = f"{path}.tmp.{os.getpid()}"
    delta.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return base_path, path


def golden(
    cache: str,
    key: str,
    paths: list[str],
    cfg: DedupConfig,
    use_simhash: bool,
    use_substring: bool,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(assignments[url, cluster_id, is_canonical] sorted by url,
    dup_pairs[url_a, url_b, modality]) from ``oracle.run_oracle``."""
    ga = os.path.join(cache, f"golden_{LAYOUT}_{key}_assign.parquet")
    gp = os.path.join(cache, f"golden_{LAYOUT}_{key}_pairs.parquet")
    if not (os.path.exists(ga) and os.path.exists(gp)):
        pages = pd.concat([pd.read_parquet(p) for p in paths], ignore_index=True)
        o = oracle.run_oracle(
            pages, cfg, use_simhash=use_simhash, use_substring=use_substring
        )
        for df, path in (
            (o["assignments"][["url", "cluster_id", "is_canonical"]], ga),
            (o["dup_pairs"][["url_a", "url_b", "modality"]], gp),
        ):
            tmp = f"{path}.tmp.{os.getpid()}"
            df.to_parquet(tmp, index=False)
            os.replace(tmp, path)
    return pd.read_parquet(ga), pd.read_parquet(gp)


def pair_set(a, b) -> set[tuple[str, str]]:
    return {(min(x, y), max(x, y)) for x, y in zip(a, b)}


def same_assignments(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    cols = ["url", "cluster_id", "is_canonical"]
    g = got[cols].sort_values("url").reset_index(drop=True)
    w = want[cols].sort_values("url").reset_index(drop=True)
    g["is_canonical"] = g["is_canonical"].astype(bool)
    w["is_canonical"] = w["is_canonical"].astype(bool)
    return g.equals(w)
