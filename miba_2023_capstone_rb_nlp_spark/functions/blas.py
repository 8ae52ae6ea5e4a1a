"""Arrow-batched float64 kernels for the similarity / near-dup hot
paths (engine additions, SURVEY §7 phase 6).

Why not pure Catalyst expressions: a dim-expanded dot product is a
~2*dim-node expression tree; at dim=64 the fused WholeStageCodegen
method exceeds the JVM's 64 KB bytecode limit, Janino fails, and the
whole stage falls back to per-row interpreted evaluation — O(dim)
virtual calls per *pair* inside an O(n²) pair join. These kernels move
the inner loop into numpy (one fused vector op per dimension,
vectorized across an entire Arrow batch of rows/pairs) while keeping
the *accumulation order* identical to the left-folded expression chain
``a0*b0 + a1*b1 + …`` that the DuckDB oracles mirror:

  - every element is widened float32→float64 *before* multiplying;
  - sums accumulate sequentially over dimensions (never pairwise /
    BLAS reassociation), so each scalar result is the bit-identical
    IEEE sequence the SQL ``list_sum`` fold produces.

All helpers take/return plain numpy arrays; Spark plumbing lives in
``similarity/`` and ``dedup/``.
"""

from __future__ import annotations

import numpy as np


def to_matrix(series, dim: int) -> np.ndarray:
    """pandas Series of array<float> → (n, dim) float64 matrix."""
    if len(series) == 0:
        return np.empty((0, dim), dtype=np.float64)
    return np.stack(
        [np.asarray(v, dtype=np.float64) for v in series.to_numpy()]
    )


def seq_dot_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(na,d)×(nb,d) → (na,nb) dot products, sequential fold over d.

    c_ij = ((0 + a_i0*b_j0) + a_i1*b_j1) + … — same IEEE op sequence
    as the expression chain / SQL list_sum, vectorized across pairs.
    """
    out = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for d in range(a.shape[1]):
        out += np.multiply.outer(a[:, d], b[:, d])
    return out


def seq_norm(a: np.ndarray) -> np.ndarray:
    """Row-wise L2 norm with sequential accumulation over dims."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for d in range(a.shape[1]):
        acc += a[:, d] * a[:, d]
    return np.sqrt(acc)


def cos_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(na,nb) cosine-similarity matrix; zero-norm rows → NaN (the
    engine's ``when(denom != 0)`` → NULL semantics: NaN fails every
    threshold/rank comparison downstream, like SQL NULL)."""
    denom = np.multiply.outer(seq_norm(a), seq_norm(b))
    with np.errstate(divide="ignore", invalid="ignore"):
        out = seq_dot_matrix(a, b) / denom
    out[denom == 0.0] = np.nan
    return out


def fixed_np(x: np.ndarray, scale: int) -> np.ndarray:
    """numpy mirror of functions.numeric.fixed: floor(x*10^s)/10^s."""
    factor = float(10**scale)
    return np.floor(x * factor) / factor

