"""The one k-means behind every quantizer here (IVF cells, PQ codebooks,
SemDeDup clusters), trained on one machine over a bounded sample — the
FAISS / Jegou et al. (TPAMI 2011) recipe: at most ``PER_CENTROID``
points per centroid carry all the signal a quantizer needs, so only the
assignment pass over the full corpus is distributed.

- ``training_sample``: the rows with the smallest ``xxhash64(seed,
  vector)``, in hash order. It depends only on row values, never on how
  the input is partitioned, so centroids are bit-identical at any
  partition count.
- ``kmeans``: ``RESTARTS`` runs of greedy k-means++ seeding plus at most
  ``MAX_ITER`` Lloyd rounds; the run with the lowest inertia wins. All
  randomness comes from ``np.random.default_rng(seed)``. On the clustered
  k-NN join test fixture (nlist=16, nprobe=3), one run left the candidate
  fraction at or above 0.25 for 13 of 36 seed x sample-order draws, 10
  restarts for 1 of 36.
  Always returns exactly ``k`` rows, duplicates allowed when the input
  has fewer than ``k`` distinct points.
- ``nearest`` / ``probe_cells``: the argmin assignment and the
  ``nprobe``-nearest-centroid ranking every probe path shares.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PER_CENTROID = 256
SAMPLE_BYTES = 64 << 20
RESTARTS = 10
MAX_ITER = 20


def training_sample(df: DataFrame, vec_col: str, k: int, seed: int) -> np.ndarray:
    """At most ``PER_CENTROID * k`` rows (fewer if they would exceed
    ``SAMPLE_BYTES`` of float64) as an (n, dim) matrix, ordered by hash."""
    first = df.select(F.size(vec_col)).first()
    if first is None:
        raise ValueError(f"no vectors to train on in column {vec_col!r}")
    cap = max(1, min(PER_CENTROID * k, SAMPLE_BYTES // (8 * max(first[0], 1))))
    rows = (
        df.select(
            F.xxhash64(F.lit(seed), F.col(vec_col)).alias("_h"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy("_h", "_v")
        .limit(cap)
        .collect()
    )
    return np.array([r["_v"] for r in rows], dtype=np.float64)


def nearest(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Index of the nearest row of ``C`` for every row of ``X``:
    argmin of ``|c|^2 - 2 x.c`` (``|x|^2`` is constant per row)."""
    d = X @ C.T
    d *= -2.0
    d += (C * C).sum(axis=1)[None, :]
    return np.argmin(d, axis=1)


def _seed_centroids(X: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """Greedy k-means++: each step draws ``2 + log k`` candidates by
    squared distance and keeps the one that lowers the potential most."""
    trials = 2 + int(math.log(k))
    xx = (X * X).sum(axis=1)

    def sqdist(rows: np.ndarray) -> np.ndarray:  # (len(rows), n), clipped at 0
        return np.maximum(xx[rows, None] - 2.0 * (X[rows] @ X.T) + xx[None, :], 0.0)

    idx = [int(rng.integers(len(X)))]
    d2 = sqdist(np.array(idx))[0]
    for _ in range(1, k):
        pot = d2.sum()
        if pot > 0:
            cand = np.searchsorted(np.cumsum(d2), rng.random(trials) * pot, side="right")
            cand = np.minimum(cand, len(X) - 1)
        else:  # every point already chosen: duplicates are the only option
            cand = rng.integers(len(X), size=trials)
        cand_d2 = np.minimum(d2[None, :], sqdist(cand))
        best = int(np.argmin(cand_d2.sum(axis=1)))
        idx.append(int(cand[best]))
        d2 = cand_d2[best]
    return X[idx].copy()


def kmeans(X: np.ndarray, k: int, seed: int) -> np.ndarray:
    """``k`` x dim centroids of ``X`` (see module docstring)."""
    X = np.asarray(X, dtype=np.float64)
    if len(X) == 0:
        raise ValueError("k-means needs at least one vector")
    rng = np.random.default_rng(seed)
    best, best_inertia = None, math.inf
    for _ in range(RESTARTS):
        C = _lloyd(X, _seed_centroids(X, k, rng))
        inertia = ((X - C[nearest(X, C)]) ** 2).sum()
        if inertia < best_inertia:
            best, best_inertia = C, inertia
    return best


def _lloyd(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """At most ``MAX_ITER`` Lloyd rounds on ``C`` in place; stops early
    once no assignment changes."""
    labels = None
    for _ in range(MAX_ITER):
        new = nearest(X, C)
        if labels is not None and np.array_equal(new, labels):
            break
        labels = new
        counts = np.bincount(labels, minlength=len(C))
        filled = counts > 0  # an empty cell keeps its previous centroid
        starts = (np.cumsum(counts) - counts)[filled]
        sums = np.add.reduceat(X[np.argsort(labels, kind="stable")], starts)
        C[filled] = sums / counts[filled, None]
    return C


def probe_cells(centroids: list[list[float]], vec: list[float], nprobe: int) -> list[int]:
    """The ``nprobe`` centroids nearest ``vec`` (exact ``fsum`` squared
    distance, stable sort: ties go to the lower cell id)."""

    def sqdist(c: list[float]) -> float:
        return math.fsum((x - y) ** 2 for x, y in zip(c, vec))

    return sorted(range(len(centroids)), key=lambda i: sqdist(centroids[i]))[:nprobe]
