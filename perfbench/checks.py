"""Output checks: url coverage and dup-pair recall against the exhaustive
NumPy loop in ``rkmh_spark.oracle``.

The oracle is O(n^2) in pure Python (~150 us a pair here), so recall is
scored on a seeded sample: every page of ``SAMPLE_CLUSTERS`` planted
clusters that have duplicates, plus ``SAMPLE_MIRRORS`` of the mirror copies.
"""

from __future__ import annotations

import random

import pandas as pd

from rkmh_spark.oracle import oracle_pairs

from perfbench.inputs import CONFIG, MIRROR_URL

SAMPLE_CLUSTERS = 40
SAMPLE_MIRRORS = 12
MIN_RECALL = 0.99


def sample(pages: pd.DataFrame, seed: int) -> pd.DataFrame:
    rng = random.Random(seed * 7919 + 1)
    mirror = pages.url.str.startswith(MIRROR_URL.split("{")[0])
    sizes = pages[~mirror].groupby("true_cluster_id").size()
    dup = sorted(sizes[sizes > 1].index)
    chosen = set(rng.sample(dup, min(SAMPLE_CLUSTERS, len(dup))))
    mirrors = sorted(pages.index[mirror])
    picked = set(rng.sample(mirrors, min(SAMPLE_MIRRORS, len(mirrors))))
    keep = (pages.true_cluster_id.isin(chosen) & ~mirror) | pages.index.isin(picked)
    return pages[keep]


def oracle_url_pairs(pages: pd.DataFrame) -> set[tuple[str, str]]:
    urls = pages.url.tolist()
    out = set()
    for i, j in oracle_pairs(pages.text.tolist(), CONFIG):
        a, b = urls[i], urls[j]
        out.add((a, b) if a < b else (b, a))
    return out


def coverage_ok(urls: list[str], expected: pd.Series) -> bool:
    """Every input url assigned exactly once, and nothing else."""
    return len(urls) == len(expected) and set(urls) == set(expected)


def pair_recall(truth: set, found: set) -> float:
    return len(truth & found) / len(truth) if truth else 1.0


def coclustered(truth: set, cluster_of: dict[str, str]) -> set:
    """The truth pairs whose two pages share a cluster id."""
    return {(a, b) for a, b in truth if cluster_of.get(a) == cluster_of.get(b)}
