"""Correctness gate, run on every measured operation outside the timed region.

- ``dup_pair_recall``: of the generator-declared dup pairs whose exact
  shingle Jaccard is at least ``cfg.jaccard_thresh`` (or whose normalized
  texts are identical), the share that end up in one cluster.
- ``edge_precision``: of a seeded sample of the program's ``near`` edges,
  the share whose exact Jaccard, recomputed from the generated text with
  the oracle's helpers, is at least the threshold.
- partition equality between two runs that must agree.

Pure Python: no Spark, so the gate can be exercised on its own.
"""

from __future__ import annotations

import random

import pandas as pd

from dedup.config import DedupConfig
from dedup.text import normalize_text_py
from tests.oracle import jaccard, shingle_set

MIN_RECALL = 0.99
MIN_PRECISION = 1.0
PRECISION_SAMPLE = 400


def eligible_pairs(pages: pd.DataFrame, truth: pd.DataFrame, cfg: DedupConfig) -> list[tuple[str, str]]:
    """Truth pairs (both urls among ``pages``) the program must co-cluster."""
    norm = dict(zip(pages["url"], (normalize_text_py(t) for t in pages["text"])))
    out = []
    for a, b in zip(truth["url"], truth["dup_of_url"]):
        if a not in norm or b not in norm:
            continue
        na, nb = norm[a], norm[b]
        if na == nb:
            out.append((a, b))
        elif (
            min(len(na), len(nb)) >= cfg.min_text_len
            and jaccard(shingle_set(na, cfg.k), shingle_set(nb, cfg.k)) >= cfg.jaccard_thresh
        ):
            out.append((a, b))
    return out


def recall(pairs: list[tuple[str, str]], cluster_of: dict[str, int]) -> float:
    if not pairs:
        return 1.0
    hit = sum(
        1 for a, b in pairs if cluster_of.get(a) is not None and cluster_of.get(a) == cluster_of.get(b)
    )
    return hit / len(pairs)


def precision(
    near: list[tuple[str, str]], pages: pd.DataFrame, cfg: DedupConfig, seed: int
) -> float:
    if not near:
        return 1.0
    sample = sorted(near)
    random.Random(seed).shuffle(sample)
    sample = sample[:PRECISION_SAMPLE]
    text = dict(zip(pages["url"], pages["text"]))
    ok = 0
    for a, b in sample:
        sa = shingle_set(normalize_text_py(text[a]), cfg.k)
        sb = shingle_set(normalize_text_py(text[b]), cfg.k)
        ok += jaccard(sa, sb) >= cfg.jaccard_thresh
    return ok / len(sample)


def partition(cluster_of: dict[str, int]) -> set[frozenset[str]]:
    groups: dict[int, set[str]] = {}
    for url, c in cluster_of.items():
        groups.setdefault(c, set()).add(url)
    return {frozenset(g) for g in groups.values()}


def gate(
    label: str,
    cluster_of: dict[str, int],
    urls: set[str],
    rec: float,
    prec: float,
    reference: dict[str, int] | None = None,
) -> list[str]:
    """Failure messages for one operation's outputs (empty = correct)."""
    fails = []
    if set(cluster_of) != urls:
        fails.append(f"{label}: clustered {len(cluster_of)} urls, expected {len(urls)}")
    if rec < MIN_RECALL:
        fails.append(f"{label}: dup_pair_recall {rec:.4f} < {MIN_RECALL}")
    if prec < MIN_PRECISION:
        fails.append(f"{label}: edge_precision {prec:.4f} < {MIN_PRECISION}")
    if reference is not None and partition(cluster_of) != partition(reference):
        fails.append(f"{label}: cluster partition differs from the reference run")
    return fails
