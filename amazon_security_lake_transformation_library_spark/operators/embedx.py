"""Embedding-matrix analytics: distributed covariance / Gram matrix and
PCA projection over an ``array<float>`` column.

The similarity module (similarity.py) treats embeddings row-at-a-time
(dot products, cells); this module computes *matrix-level* statistics a
training pipeline needs before/while indexing: the d×d covariance (for
whitening, drift monitoring, and PCA dimensionality reduction ahead of
ANN — the standard FAISS ``PCAR`` pre-transform).

Scale design
------------
* **Partial Gram per Arrow batch** (:func:`gram_partials`): one
  ``mapInPandas`` pass emits, per input batch, the batch's d×d Gram
  matrix ``XᵀX`` (one numpy matmul — BLAS, not per-row Python), the
  column sums, and the row count, flattened to ``(i, j, v)`` triples.
  The fold-back is ONE hash aggregate over ``d²·n_batches`` rows — the
  shuffled volume scales with the number of partitions, not the number
  of rows, the same shape as Spark's own ``RowMatrix.computeGramian``
  tree-aggregate.
* **Covariance stays a DataFrame** (:func:`covariance`): ``cov_ij =
  (Σxᵢxⱼ − n·μᵢ·μⱼ)/(n−1)`` assembled by joining the d²-sized Gram table
  with the d-sized mean table — never a driver matrix until the caller
  asks (:func:`pca_components` collects exactly d² bounded rows, the
  same justified-collect class as k-means centroids, similarity.py).
* **PCA projection is a JVM fold** (:func:`pca_project`): by linearity,
  ``(x−μ)·c = x·c − μ·c``, so each component costs one
  ``zip_with``/``aggregate`` dot product against a broadcast literal
  array plus a scalar subtract — zero Python in the row path, identical
  plan shape to similarity.cosine_topk.

Determinism: eigendecomposition is driver-side ``numpy.linalg.eigh``
(symmetric, deterministic); component sign is normalized so the
largest-|value| element (lowest index on ties) is positive. Partial-sum
order varies with partitioning at the 1e-13 level; outputs are rounded
to 4 decimals like every float surface in this repo.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["gram_partials", "covariance", "pca_components", "pca_project"]


def _dim_of(df: DataFrame, vec_col: str) -> int:
    row = df.where(F.col(vec_col).isNotNull()).select(
        F.size(vec_col).alias("d")
    ).head(1)
    if not row:
        raise ValueError("no non-null vectors to infer dimension from")
    return int(row[0]["d"])


def _fit_rows(df: DataFrame, vec_col: str, d: int) -> DataFrame:
    """The vectors a fit reads: non-NULL and of length ``d``."""
    return df.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == F.lit(d))
    ).select(vec_col)


def gram_partials(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """``(i, j, v)`` triples holding the global Gram matrix
    (``i>=0, j>=0``), column sums (``j == -1``), and row count
    (``i == -1, j == -1``) — already reduced by one hash aggregate."""
    d = dim if dim is not None else _dim_of(df, vec_col)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            G = X.T @ X
            s = X.sum(axis=0)
            ii, jj = np.indices((d, d))
            yield pd.DataFrame({
                "i": np.concatenate([ii.ravel(), np.arange(d), [-1]]),
                "j": np.concatenate([jj.ravel(), np.full(d, -1), [-1]]),
                "v": np.concatenate([G.ravel(), s, [float(len(pdf))]]),
            })

    parts = _fit_rows(df, vec_col, d).mapInPandas(
        gen, schema="i int, j int, v double")
    return parts.groupBy("i", "j").agg(F.sum("v").alias("v"))


def covariance(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Sample covariance matrix as a ``(i, j, cov)`` DataFrame (d² rows).
    No vectors give no rows; a single vector raises ``ValueError`` (the
    ``n - 1`` divisor is zero), at the cost of one two-row count job."""
    d = dim if dim is not None else _dim_of(df, vec_col)
    if _fit_rows(df, vec_col, d).limit(2).count() == 1:
        raise ValueError("covariance: one vector has no sample covariance "
                         "(needs at least two)")
    g = gram_partials(df, vec_col, d)
    n = g.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("v").alias("n"))
    means = (
        g.where((F.col("i") >= 0) & (F.col("j") == -1))
        .crossJoin(F.broadcast(n))
        .select("i", (F.col("v") / F.col("n")).alias("mu"))
    )
    gram = g.where((F.col("i") >= 0) & (F.col("j") >= 0))
    mi = means.select(F.col("i").alias("_mi_i"), F.col("mu").alias("mu_i"))
    mj = means.select(F.col("i").alias("_mj_j"), F.col("mu").alias("mu_j"))
    return (
        gram.crossJoin(F.broadcast(n))
        .join(F.broadcast(mi), F.col("i") == F.col("_mi_i"))
        .join(F.broadcast(mj), F.col("j") == F.col("_mj_j"))
        .select(
            "i", "j",
            ((F.col("v") - F.col("n") * F.col("mu_i") * F.col("mu_j"))
             / (F.col("n") - F.lit(1.0))).alias("cov"),
        )
    )


def pca_components(
    df: DataFrame, p: int, vec_col: str = "embedding",
    dim: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Top-``p`` principal components. Returns ``(means[d], comps[p, d],
    eigvals[p])``. Collects exactly d² + d + 1 rows (bounded by the
    embedding dimension, not the corpus — the justified-collect class)."""
    d = dim if dim is not None else _dim_of(df, vec_col)
    n = 0.0
    s = np.zeros(d)
    G = np.zeros((d, d))
    for r in gram_partials(df, vec_col, d).collect():
        if r["i"] == -1:
            n = r["v"]
        elif r["j"] == -1:
            s[r["i"]] = r["v"]
        else:
            G[r["i"], r["j"]] = r["v"]
    if n < 2:
        raise ValueError(f"pca_components: {int(n)} vectors to fit; a sample "
                         "covariance needs at least two (callers should "
                         "guard empty corpora)")
    mu = s / n
    C = (G - n * np.outer(mu, mu)) / (n - 1.0)
    C = 0.5 * (C + C.T)  # exact symmetry for eigh
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:p]
    comps = V[:, order].T  # (p, d)
    # sign convention: largest-|value| element positive (first on ties)
    for k in range(comps.shape[0]):
        m = np.argmax(np.abs(comps[k]))
        if comps[k, m] < 0:
            comps[k] = -comps[k]
    return mu, comps, w[order]


def pca_project(
    df: DataFrame,
    means: np.ndarray,
    comps: np.ndarray,
    vec_col: str = "embedding",
    out_prefix: str = "pc",
) -> DataFrame:
    """Project each vector onto the components: ``pc_k = x·c_k − μ·c_k``
    (linearity — the mean subtraction folds to one scalar constant per
    component). One JVM fold per component, zero shuffle, zero Python."""
    v = F.col(vec_col).cast("array<double>")
    cols = []
    for k in range(comps.shape[0]):
        comp = F.array(*[F.lit(float(x)) for x in comps[k]])
        offset = float(np.dot(means, comps[k]))
        dot = F.aggregate(
            F.zip_with(v, comp, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append((dot - F.lit(offset)).alias(f"{out_prefix}{k + 1}"))
    return df.select("*", *cols)
