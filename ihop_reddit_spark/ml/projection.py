"""2-D projection for cluster visualization (M7).

Reference: ``ihop/visualizations.py:80-115`` — sklearn TSNE (init=pca,
metric=cosine, seed=77) on the ≤10k-point embedding matrix, driver-side by
design. This module provides:

* :func:`pca_project` — the Spark-NATIVE projection: ``pyspark.ml.feature.PCA``
  on the distributed embedding table. Fully scalable (one pass for the
  covariance, one for the transform); the axes the reference's TSNE uses for
  initialization. Output is scalar coordinate columns (``x``, ``y``, …) with
  component sign canonicalized (largest-|loading| entry forced positive), so
  the result is deterministic and driver-gateable; eigen-solver values are
  still floating-point, so catalog coverage stays rows+schema (no SQL oracle
  computes an eigendecomposition).
* :func:`pca_local` — the same projection in numpy, for a matrix already on
  the driver: the explorer's retrain uses it for frames within
  ``ml.clustering.MAX_LOCAL_POINTS``, whose vectors its KMeans fit has
  collected. Both paths take their signs from :func:`_canonical_signs`.
* :func:`tsne_project` — the reference-literal TSNE, driver-side.
  Uses sklearn when available; otherwise a seeded pure-numpy exact t-SNE
  (:func:`_tsne_numpy` — van der Maaten's O(n²) formulation: perplexity
  binary search, early exaggeration, momentum GD) so the operator is
  RUNNABLE in sklearn-less environments, bounded by the driver size guard
  it already carries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TSNE_DEFAULTS = {"init": "pca", "metric": "cosine", "random_state": 77}

MAX_DRIVER_POINTS = 50_000


#: column names for the first projection axes; higher dims get ``c{i}``
_AXIS_NAMES = ("x", "y", "z")


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dims: int = 2,
    carry: list[str] | None = None,
) -> DataFrame:
    """Distributed PCA to ``dims`` components: (id, *carry, x, y, ...).

    ``carry`` columns of ``df`` pass through the transform unchanged, so a
    caller needing them next to the coordinates does not join them back.

    Scalar coordinate columns (not an array) so downstream pandas/oracle
    canonicalization can sort them, and per-component sign canonicalized:
    PCA is only determined up to a sign flip per eigenvector, so each
    component is flipped (if needed) to make its largest-|loading| entry
    positive. The loading matrix is k×dim on the driver — tiny.
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    keep = [id_col, *(carry or [])]
    feat = df.select(
        *keep, array_to_vector(F.col(vec_col)).alias("__features")
    )
    model = PCA(k=dims, inputCol="__features", outputCol="__proj").fit(feat)
    # (n_features, dims) loadings, driver-local
    signs = _canonical_signs(model.pc.toArray()).tolist()
    proj = model.transform(feat).select(
        *keep, vector_to_array(F.col("__proj")).alias("__p")
    )
    names = [
        _AXIS_NAMES[j] if j < len(_AXIS_NAMES) else f"c{j}"
        for j in range(dims)
    ]
    return proj.select(
        *keep,
        *[
            (F.col("__p")[j] * F.lit(signs[j])).alias(names[j])
            for j in range(dims)
        ],
    )


def _canonical_signs(pc):
    """±1 per column of a (dim, k) loading matrix: PCA fixes each
    eigenvector only up to sign, so each component is flipped (if needed)
    to make its largest-|loading| entry positive."""
    import numpy as np

    lead = pc[np.abs(pc).argmax(axis=0), np.arange(pc.shape[1])]
    return np.where(lead < 0, -1.0, 1.0)


def pca_local(X, dims: int = 2):
    """:func:`pca_project`'s coordinates for an (n, dim) matrix on the
    driver, as an (n, dims) matrix. MLlib's definition: the top ``dims``
    eigenvectors of the sample covariance, applied to the uncentred rows,
    with the same sign rule. The products use ``np.einsum``, not BLAS, as
    ``ml.clustering._lloyd`` does: BLAS worker threads spin CPU time."""
    import numpy as np

    centred = X - X.mean(axis=0)
    cov = np.einsum("ni,nj->ij", centred, centred) / max(len(X) - 1, 1)
    _, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    pc = vecs[:, ::-1][:, :dims]
    return np.einsum("nd,dk->nk", X, pc * _canonical_signs(pc))


def _tsne_numpy(
    X,
    perplexity: float = 30.0,
    n_iter: int = 500,
    learning_rate: float = 200.0,
    seed: int = 77,
):
    """Seeded pure-numpy exact t-SNE (van der Maaten 2008): O(n²) affinities,
    per-point sigma by binary search on perplexity, early exaggeration ×12
    for the first 100 iterations, momentum gradient descent. Suitable for
    the driver-side point counts this module guards (≤ tens of thousands);
    the distributed path is pca_project."""
    import numpy as np

    n = X.shape[0]
    if n < 4:
        rng = np.random.RandomState(seed)
        return rng.randn(n, 2) * 1e-4
    perplexity = min(perplexity, (n - 1) / 3.0)
    # pairwise squared euclidean
    sq = np.sum(X * X, axis=1)
    D = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (X @ X.T), 0.0)
    target = np.log(perplexity)
    P = np.zeros((n, n))
    for i in range(n):
        beta_lo, beta_hi, beta = 0.0, np.inf, 1.0
        Di = np.delete(D[i], i)
        for _ in range(50):
            expd = np.exp(-Di * beta)
            s = expd.sum()
            if s <= 0:
                h = 0.0
                p = np.zeros_like(Di)
            else:
                p = expd / s
                h = -np.sum(p * np.log(np.maximum(p, 1e-12)))
            if abs(h - target) < 1e-5:
                break
            if h > target:
                beta_lo = beta
                beta = beta * 2 if beta_hi == np.inf else (beta + beta_hi) / 2
            else:
                beta_hi = beta
                beta = (beta + beta_lo) / 2
        P[i, np.arange(n) != i] = p
    P = (P + P.T) / (2.0 * n)
    P = np.maximum(P, 1e-12)

    rng = np.random.RandomState(seed)
    Y = rng.randn(n, 2) * 1e-4
    dY = np.zeros_like(Y)
    exaggeration = 12.0
    for it in range(n_iter):
        Pe = P * exaggeration if it < 100 else P
        sqy = np.sum(Y * Y, axis=1)
        num = 1.0 / (
            1.0 + np.maximum(sqy[:, None] + sqy[None, :] - 2.0 * (Y @ Y.T), 0.0)
        )
        np.fill_diagonal(num, 0.0)
        Q = np.maximum(num / num.sum(), 1e-12)
        W = (Pe - Q) * num
        grad = 4.0 * ((np.diag(W.sum(axis=1)) - W) @ Y)
        momentum = 0.5 if it < 250 else 0.8
        dY = momentum * dY - learning_rate * grad
        Y = Y + dY
        Y = Y - Y.mean(axis=0)
    return Y


def tsne_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    **tsne_kwargs,
):
    """Reference-literal TSNE (driver-side), size-guarded.

    sklearn's TSNE when importable (the reference's exact code path,
    ``ihop/visualizations.py:80-115``); otherwise the seeded numpy exact
    t-SNE — same algorithm family, deterministic, no extra dependency.
    Returns a pandas DataFrame (id, tsne_x, tsne_y) like the reference's
    CSV artifact (``dvc.yaml:61-71``).
    """
    from .clustering import vectors_matrix

    table = df.select(id_col, vec_col).limit(MAX_DRIVER_POINTS + 1).toArrow()
    if table.num_rows > MAX_DRIVER_POINTS:
        raise ValueError(
            f"tsne_project is a driver-side op for <= {MAX_DRIVER_POINTS} "
            "points (got more); project with pca_project or pre-sample"
        )
    coords = tsne_local(vectors_matrix(table.column(1)), **tsne_kwargs)
    pdf = table.select([0]).to_pandas()
    pdf["tsne_x"], pdf["tsne_y"] = coords[:, 0], coords[:, 1]
    return pdf


def tsne_local(X, **tsne_kwargs):
    """:func:`tsne_project`'s 2-D coordinates for an (n, dim) matrix
    already on the driver: sklearn's TSNE when importable, else
    :func:`_tsne_numpy`."""
    try:
        from sklearn.manifold import TSNE  # noqa: PLC0415

        params = {**TSNE_DEFAULTS, **tsne_kwargs}
        return TSNE(n_components=2, **params).fit_transform(X)
    except ImportError:
        return _tsne_numpy(
            X,
            perplexity=tsne_kwargs.get("perplexity", 30.0),
            seed=tsne_kwargs.get("random_state", TSNE_DEFAULTS["random_state"]),
        )
