"""PCA whitening for embedding columns (EXTENSION — no reference analog).

Embedding preprocessing for the similarity stack: semantic-dedup and
ANN pipelines routinely whiten (decorrelate + unit-variance) vectors
before indexing — it evens out dominant directions so LSH buckets and
IVF cells split the corpus instead of one principal axis soaking up
all the variance.

Split exactly like the IVF quantizer (operators/similarity.
train_ivf_centroids + contract_ivf_centroids):

- **Training** (``train_pca``): ONE distributed pass accumulates the
  d-vector sum and d×d outer-product sum per partition behind an
  Arrow ``mapInPandas`` seam (numpy does the per-batch BLAS work;
  each partition emits ONE (count, Σx, Σxxᵀ) row, so the driver
  transfer is #partitions × d² doubles — bounded, never corpus-
  sized). The driver assembles the covariance and runs ``eigh``
  (d×d — trivial). Deterministic sign convention: each component's
  largest-|coefficient| entry is made positive.
- **Serving** (``pca_whiten_project``): components/mean/scales ride
  as LITERALS — projection is a pure whole-plan column expression
  (k sequential folds per row), no join, no shuffle, no UDF; an
  external SQL engine replays it exactly, which is what makes the
  contract query fully value-oracled against frozen components.

A PCA basis is trained once and serves the corpus for months; the
frozen-artifact contract shape IS the steady state.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.parity import PARITY_DP
from ..session import ensure_min_partitions


def train_pca(
    df: DataFrame, vec_col: str, k: int, dim: int
) -> tuple[list[float], list[list[float]], list[float]]:
    """Exact covariance PCA over the full frame (one distributed pass).

    Returns ``(mean, components, scales)``: the d-vector column mean,
    the top-``k`` eigenvectors of the population covariance (rows of
    length ``dim``, eigenvalue-descending, sign-normalized so each
    row's largest-|x| coefficient is positive), and the per-component
    whitening scales ``sqrt(eigenvalue)``.

    Unlike pyspark.ml's PCA transform (which projects UNcentered data
    — a long-standing quirk), the serving path here centers by the
    frozen mean, so whitened outputs are zero-mean by construction.
    """
    import numpy as np
    import pandas as pd

    if k < 1 or k > dim:
        raise ValueError(f"k must be in [1, {dim}], got {k}")

    out_schema = (
        "n long, s array<double>, o array<double>"
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = np.zeros(dim, dtype=np.float64)
        o = np.zeros((dim, dim), dtype=np.float64)
        for b in batches:
            if not len(b):
                continue
            m = np.stack(b["__v"].to_numpy()).astype(np.float64)
            if m.shape[1] != dim:
                raise ValueError(f"expected dim {dim}, got {m.shape[1]}")
            n += m.shape[0]
            s += m.sum(axis=0)
            o += m.T @ m
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "o": [o.reshape(-1).tolist()]}
        )

    rows = (
        ensure_min_partitions(df)
        .select(F.col(vec_col).cast("array<double>").alias("__v"))
        .mapInPandas(partials, out_schema)
        .collect()
    )
    n = sum(r["n"] for r in rows)
    if n < 2:
        raise ValueError("need at least 2 vectors to train PCA")
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    o = np.sum([np.asarray(r["o"]).reshape(dim, dim) for r in rows], axis=0)
    mean = s / n
    cov = o / n - np.outer(mean, mean)  # population covariance
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = []
    scales = []
    for idx in order:
        v = evecs[:, idx]
        j = int(np.argmax(np.abs(v)))
        if v[j] < 0:
            v = -v
        comps.append([float(x) for x in v])
        scales.append(float(np.sqrt(max(evals[idx], 0.0))))
    return [float(x) for x in mean], comps, scales


def _project_one(
    vec: Column, mean: list[float], comp: list[float], scale: float
) -> Column:
    """round(Σᵢ (x[i] − mean[i])·w[i] / scale, PARITY_DP) as ONE
    sequential fold — identical arithmetic to the oracle's list_sum
    replay."""
    centered_dot = F.aggregate(
        F.zip_with(
            F.zip_with(vec, F.lit([float(m) for m in mean]), lambda x, m: x - m),
            F.lit([float(w) for w in comp]),
            lambda c, w: c * w,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    out = centered_dot / F.lit(float(scale)) if scale > 0 else F.lit(0.0)
    return F.round(out, PARITY_DP)


def pca_whiten_project(
    df: DataFrame,
    mean: list[float],
    components: list[list[float]],
    scales: list[float],
    vec_col: str = "embedding",
    out_prefix: str = "pc",
    whiten: bool = True,
) -> DataFrame:
    """Project (and optionally whiten) every vector onto the frozen
    components: adds ``{out_prefix}1..k`` double columns. Pure
    projection — the basis rides as literals, so at 100 TB this is a
    map over the corpus at scan parallelism (zero joins, zero
    shuffles, zero Python in the row path). ``whiten=True`` divides
    each coordinate by its frozen ``sqrt(eigenvalue)`` (unit variance
    on the training distribution); components with zero variance
    project to 0.0 (no direction information)."""
    if len(components) != len(scales):
        raise ValueError("components and scales must have equal length")
    vec = F.col(vec_col).cast("array<double>")
    cols = list(df.columns)
    outs = []
    for j, (comp, sc) in enumerate(zip(components, scales), start=1):
        scale = sc if whiten else 1.0
        if whiten and sc <= 0.0:
            outs.append(F.lit(0.0).alias(f"{out_prefix}{j}"))
        else:
            outs.append(
                _project_one(vec, mean, comp, scale).alias(
                    f"{out_prefix}{j}"
                )
            )
    return df.select(*cols, *outs)
