"""The numpy vector kernel shared by every ANN operator.

Each function replays, op for op, the IEEE-754 double arithmetic of the
Spark Column folds it replaced and of the DuckDB oracles (ascending-index
left folds from 0.0, ``d*d`` for the correctly-rounded ``pow(d, 2)``,
division after the whole fold), so a value computed here is the same
double the JVM or the oracle computes. numpy's own ``sum``/``@``
associate differently, so the kernel does not use them.

The same code runs at the driver (centroids, probe lists, ADC lookup
tables) and inside ``mapInPandas`` batches on the executors.
"""

from __future__ import annotations

import numpy as np


def as_matrix(ids, vecs, what: str, dim: int | None = None) -> np.ndarray:
    """Stack vectors into a float64 (n, dim) matrix. A null vector, one
    whose length differs from ``dim`` (default: the first vector's), or
    one holding a NaN or null element raises ``ValueError`` naming the
    ``what`` id of the offending row."""
    ids, rows = list(ids), []
    for i, v in zip(ids, vecs):
        if v is None:
            raise ValueError(f"{what} {i!r}: vector is null")
        x = np.asarray(v, dtype=np.float64)
        if dim is None:
            dim = len(x)
        if len(x) != dim:
            raise ValueError(f"{what} {i!r}: vector has length {len(x)}, expected {dim}")
        rows.append(x)
    X = np.stack(rows) if rows else np.empty((0, dim or 0))
    nan = np.flatnonzero(np.isnan(X).any(axis=1))
    if len(nan):
        raise ValueError(f"{what} {ids[nan[0]]!r}: vector contains NaN or null elements")
    return X


def dots(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, c) matrix of dot(X[i], C[j]), each an ascending-index left fold."""
    acc = np.zeros((len(X), len(C)))
    for i in range(C.shape[1]):
        acc = acc + X[:, i, None] * C[None, :, i]
    return acc


def norms(ids, X: np.ndarray, what: str) -> np.ndarray:
    """Euclidean norm per row, sqrt of the ascending-index fold of x*x.
    Every caller divides by it, so a zero norm raises ``ValueError``
    naming the ``what`` id of its row."""
    acc = np.zeros(len(X))
    for i in range(X.shape[1]):
        acc = acc + X[:, i] * X[:, i]
    n = np.sqrt(acc)
    zero = np.flatnonzero(n == 0.0)
    if len(zero):
        raise ValueError(
            f"{what} {ids[zero[0]]!r}: zero-norm vector, cosine divides by its norm"
        )
    return n


def top(S: np.ndarray, k: int) -> np.ndarray:
    """Column indices of each row's ``k`` largest scores, highest first;
    equal scores keep the lower index first (``ORDER BY s DESC, id``)."""
    return np.argsort(-S, axis=1, kind="stable")[:, :k]


def nearest(X: np.ndarray, C: np.ndarray, cnorms: np.ndarray) -> np.ndarray:
    """Index of each row's nearest centroid by dot(x, c)/|c| — cosine
    without the constant |x| — FIRST max on ties (lowest centroid)."""
    return np.argmax(dots(X, C) / cnorms, axis=1)


def subdist(X: np.ndarray, CB: np.ndarray, m: int) -> np.ndarray:
    """(n, m, k) table of squared L2 distances between row ``i``'s
    subspace-``j`` slice and codebook entry ``c``'s same slice. Its argmin
    over ``c`` is the PQ code; a query's (m, k) slab is its ADC lookup
    table."""
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    out = np.empty((n, m, len(CB)))
    for j in range(m):
        acc = np.zeros((n, len(CB)))
        for t in range(j * sub, (j + 1) * sub):
            d = X[:, t, None] - CB[None, :, t]
            acc = acc + d * d
        out[:, j, :] = acc
    return out


def pq_codes(X: np.ndarray, CB: np.ndarray, m: int) -> np.ndarray:
    """PQ codes: per subspace the FIRST nearest codebook entry."""
    return np.argmin(subdist(X, CB, m), axis=2).astype(np.int32)
