"""Clustering & topic models (SURVEY §2.10, M4-M5, M8).

Spark-native mappings of the reference's model zoo:

* KMeans / BisectingKMeans — ``pyspark.ml.clustering`` (distributed Lloyd /
  divisive hierarchical). The reference's sklearn KMeans
  (``ihop/clustering.py:353-447``) runs driver-side on ≤10k embedded points;
  BisectingKMeans is the scalable analog of its AgglomerativeClustering.
* sklearn escape hatch — agglomerative / affinity propagation have no
  distributed equivalent; gated behind an import-try + row-count guard, on
  L2-normalized vectors (cosine geometry), exactly the reference's intended
  ≤10k-point regime.
* LDA — ``pyspark.ml.clustering.LDA`` with the reference's exact config
  (``ihop/clustering.py:875-1145``): online optimizer, asymmetric
  doc-concentration ``1/(i + sqrt(k))``, k=250, maxIter=50,
  subsamplingRate=0.05.
* quality metrics (M8) — :func:`cluster_quality`: silhouette via
  ``ClusteringEvaluator``; CH from one grouped per-cluster aggregate
  (count, mean, Σ‖x‖²) finished on the driver over k rows; DB's
  per-cluster scatter from one pass against the k broadcast centroids.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _with_features(df: DataFrame, vec_col: str, out: str = "__features") -> DataFrame:
    """array<float|double> → VectorUDT column for MLlib estimators."""
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out, array_to_vector(F.col(vec_col)))


def l2_normalize_df(df: DataFrame, vec_col: str) -> DataFrame:
    """Unit-normalize an array column (cosine geometry for KMeans, matching
    the reference's ``normed_vectors`` convention, ``ihop/clustering.py:420``).
    """
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return df.withColumn(
        vec_col,
        F.transform(vec_col, lambda x: x.cast("double") / F.greatest(norm, F.lit(1e-12))),
    )


@dataclass
class ClusteringConfig:
    """Defaults mirror ``ihop/clustering.py:363-390`` / ``app.py:49-50``."""

    n_clusters: int = 250
    seed: int = 100            # the reference's random_state=100 convention
    max_iter: int = 100


def kmeans_assign(
    df: DataFrame,
    vec_col: str,
    cfg: ClusteringConfig | None = None,
    id_cols: list[str] | None = None,
    prediction_col: str = "cluster_id",
):
    """Distributed KMeans on (optionally pre-normalized) vectors.

    Returns (assignments DataFrame, fitted model). Euclidean on unit vectors
    is monotone in cosine — normalize first for the reference's cosine
    semantics.
    """
    from pyspark.ml.clustering import KMeans

    cfg = cfg or ClusteringConfig()
    feat = _with_features(df, vec_col)
    model = KMeans(
        k=cfg.n_clusters,
        seed=cfg.seed,
        maxIter=cfg.max_iter,
        featuresCol="__features",
        predictionCol=prediction_col,
    ).fit(feat)
    out = model.transform(feat).drop("__features")
    if id_cols:
        out = out.select(*id_cols, prediction_col)
    return out, model


def bisecting_kmeans_assign(
    df: DataFrame,
    vec_col: str,
    cfg: ClusteringConfig | None = None,
    prediction_col: str = "cluster_id",
):
    """Divisive hierarchical clustering — the scalable stand-in for the
    reference's AgglomerativeClustering (no distributed agglomerative
    exists; SURVEY §7 "what's hard" #4)."""
    from pyspark.ml.clustering import BisectingKMeans

    cfg = cfg or ClusteringConfig()
    feat = _with_features(df, vec_col)
    model = BisectingKMeans(
        k=cfg.n_clusters,
        seed=cfg.seed,
        maxIter=cfg.max_iter,
        featuresCol="__features",
        predictionCol=prediction_col,
    ).fit(feat)
    return model.transform(feat).drop("__features"), model


def kmeans_elbow(
    df: DataFrame,
    vec_col: str,
    ks: list[int],
    seed: int = 100,
    max_iter: int = 100,
) -> list[dict]:
    """K-selection elbow sweep — the engine-side version of the
    reference's ``notebooks/elbow_heuristics.ipynb``: fit KMeans for
    each candidate ``k``, record the training cost (within-cluster SSE,
    Spark's ``summary.trainingCost``), and mark the elbow as the k with
    the maximum SECOND DIVIDED DIFFERENCE of the cost curve (endpoints
    excluded) — spacing-aware, so non-uniform sweeps like
    ``[2, 4, 8, 16]`` score curvature per unit k, not per index.

    The feature frame is cached across fits — each fit is itself
    distributed; the sweep is a driver loop over |ks| model trainings,
    which is the correct altitude (one scalar per k). Returns
    ``[{"k": k, "cost": float, "is_elbow": bool}, ...]`` in ``ks``
    order.
    """
    if sorted(ks) != list(ks) or len(set(ks)) != len(ks):
        raise ValueError("ks must be strictly increasing")
    from pyspark.ml.clustering import KMeans

    feat = _with_features(df, vec_col).persist()
    try:
        costs = []
        for k in ks:
            model = KMeans(
                k=k, seed=seed, maxIter=max_iter,
                featuresCol="__features",
            ).fit(feat)
            costs.append(float(model.summary.trainingCost))
    finally:
        feat.unpersist()
    elbow_idx = None
    if len(ks) >= 3:
        # SECOND DIVIDED DIFFERENCE, not the index-based second
        # difference: ks need not be uniformly spaced (doubling sweeps
        # are common), and an unnormalized cost[i-1]-2c[i]+c[i+1] would
        # inflate curvature at wide gaps
        curv = [
            (
                (costs[i + 1] - costs[i]) / (ks[i + 1] - ks[i])
                - (costs[i] - costs[i - 1]) / (ks[i] - ks[i - 1])
            )
            / (ks[i + 1] - ks[i - 1])
            for i in range(1, len(ks) - 1)
        ]
        elbow_idx = 1 + max(range(len(curv)), key=curv.__getitem__)
    return [
        {"k": k, "cost": c, "is_elbow": i == elbow_idx}
        for i, (k, c) in enumerate(zip(ks, costs))
    ]


def sklearn_cluster_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    algorithm: str = "agglomerative",
    n_clusters: int = 250,
    max_driver_rows: int = 20_000,
    **kwargs,
):
    """Driver-side escape hatch (agglomerative / affinity), size-guarded.
    Returns a (id, cluster_id) DataFrame. Mirrors
    ``ihop/clustering.py:353-447`` defaults: cosine metric + average linkage
    for agglomerative. Uses sklearn when importable (the reference's exact
    code path); without sklearn, agglomerative falls back to the seeded
    pure-numpy Lance-Williams implementation (:func:`_agglomerative_numpy`,
    capped at 2000 points — O(n³) merging), so the operator stays runnable;
    affinity propagation has no numpy fallback and raises."""
    import numpy as np

    if algorithm not in ("agglomerative", "affinity"):
        raise ValueError(algorithm)
    n = df.count()
    if n > max_driver_rows:
        raise ValueError(f"{n} rows exceed driver guard {max_driver_rows}")
    rows = df.select(id_col, vec_col).collect()
    ids = [r[id_col] for r in rows]
    mat = np.array([list(r[vec_col]) for r in rows], dtype=float)
    try:
        from sklearn.cluster import AffinityPropagation, AgglomerativeClustering

        if algorithm == "agglomerative":
            model = AgglomerativeClustering(
                n_clusters=n_clusters, metric="cosine", linkage="average", **kwargs
            )
        elif algorithm == "affinity":
            model = AffinityPropagation(random_state=kwargs.pop("seed", 100), **kwargs)
        else:
            raise ValueError(algorithm)
        labels = model.fit_predict(mat)
    except ImportError as e:
        if algorithm != "agglomerative":
            raise NotImplementedError(
                "affinity propagation requires sklearn; agglomerative has a "
                "numpy fallback"
            ) from e
        labels = _agglomerative_numpy(mat, n_clusters)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(i, int(l)) for i, l in zip(ids, labels)], f"{id_col} long, cluster_id int"
    )


def _agglomerative_numpy(mat, n_clusters: int, max_points: int = 2000):
    """Average-linkage agglomerative clustering on cosine distance —
    pure-numpy Lance-Williams merging, deterministic (ties break to the
    lowest index pair). O(n³) worst case, hence its own point cap below the
    driver guard; the reference's corpus fits (~10k subreddits is above
    this cap — use sklearn there; fixtures and samples fit comfortably).
    """
    import numpy as np

    n = mat.shape[0]
    if n > max_points:
        raise ValueError(
            f"numpy agglomerative fallback capped at {max_points} points "
            f"(got {n}); install sklearn or pre-sample"
        )
    if n_clusters >= n:
        return list(range(n))
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    normed = mat / np.maximum(norms, 1e-12)
    D = 1.0 - normed @ normed.T
    np.fill_diagonal(D, np.inf)
    active = np.ones(n, dtype=bool)
    sizes = np.ones(n)
    parent = np.arange(n)
    for _ in range(n - n_clusters):
        masked = np.where(active[:, None] & active[None, :], D, np.inf)
        i, j = np.unravel_index(np.argmin(masked), masked.shape)
        if i > j:
            i, j = j, i
        # average-linkage Lance-Williams: d(i∪j, m) weighted by sizes
        wi, wj = sizes[i], sizes[j]
        D[i, :] = (wi * D[i, :] + wj * D[j, :]) / (wi + wj)
        D[:, i] = D[i, :]
        D[i, i] = np.inf
        sizes[i] = wi + wj
        active[j] = False
        parent[parent == j] = i
    roots = sorted(set(parent[k] for k in range(n)))
    relabel = {r: c for c, r in enumerate(roots)}
    return [relabel[parent[k]] for k in range(n)]


# ---------------------------------------------------------------------------
# LDA (M5) — the reference's SparkLDAModel config, verbatim semantics
# ---------------------------------------------------------------------------
def asymmetric_alpha(k: int) -> list[float]:
    """``1/(i + sqrt(k))`` per topic — ``ihop/clustering.py:1108-1140``."""
    return [1.0 / (i + math.sqrt(k)) for i in range(k)]


def fit_lda(
    df: DataFrame,
    features_col: str,
    k: int = 250,
    max_iter: int = 50,
    subsampling_rate: float = 0.05,
    seed: int = 100,
    optimizer: str = "online",
):
    """Distributed LDA exactly as the reference configures it
    (``ihop/clustering.py:914-948``). ``features_col`` must be the
    count-vectorized VectorUDT column from the text pipeline."""
    from pyspark.ml.clustering import LDA

    lda = LDA(
        k=k,
        maxIter=max_iter,
        seed=seed,
        optimizer=optimizer,
        subsamplingRate=subsampling_rate,
        docConcentration=asymmetric_alpha(k),
        featuresCol=features_col,
    )
    return lda.fit(df)


def topic_terms(model, vocab_df: DataFrame, max_terms: int = 10) -> DataFrame:
    """(topic, term, weight) via describeTopics + vocab JOIN — replaces the
    reference's lookup UDF (U-1, ``ihop/clustering.py:932-936``) with a
    broadcast join; stays on the JVM."""
    topics = model.describeTopics(max_terms)
    exploded = topics.select(
        "topic",
        F.explode(F.arrays_zip("termIndices", "termWeights")).alias("tw"),
    ).select(
        "topic",
        F.col("tw.termIndices").alias("term_id"),
        F.col("tw.termWeights").alias("weight"),
    )
    return exploded.join(F.broadcast(vocab_df), "term_id", "inner").select(
        "topic", "term", "weight"
    )


# ---------------------------------------------------------------------------
# Quality metrics (M8) — silhouette builtin; CH / DB from k per-cluster rows
# ---------------------------------------------------------------------------
def silhouette(assignments: DataFrame, vec_col: str, prediction_col: str = "cluster_id") -> float:
    from pyspark.ml.evaluation import ClusteringEvaluator

    feat = _with_features(assignments, vec_col)
    return ClusteringEvaluator(
        featuresCol="__features", predictionCol=prediction_col, metricName="silhouette"
    ).evaluate(feat)


def cluster_quality(
    assignments: DataFrame, vec_col: str, prediction_col: str = "cluster_id"
) -> dict[str, float]:
    """Silhouette, Calinski-Harabasz and Davies-Bouldin of one labeling.

    * CH = (B/(k−1)) / (W/(n−k)) from per-cluster count n_c, mean μ_c and
      Σ‖x‖² (one grouped aggregate, k rows to the driver):
      W = Σ_c (Σ‖x‖² − n_c‖μ_c‖²), B = Σ_c n_c‖μ_c − μ‖².
    * DB = mean_i max_{j≠i} (s_i+s_j)/‖μ_i−μ_j‖; the scatter s_c (mean
      distance to the own centroid) is one pass over the points joined to
      the k broadcast centroids.
    * silhouette via ``ClusteringEvaluator`` (squared Euclidean).

    CH is NaN when k ≤ 1 or n = k; DB is NaN when k = 0.
    """
    import numpy as np
    from pyspark.ml.stat import Summarizer

    spark = assignments.sparkSession
    feat = _with_features(assignments, vec_col).withColumnRenamed(
        prediction_col, "__c"
    )
    stats = (
        feat.groupBy("__c")
        .agg(
            Summarizer.metrics("count", "mean", "normL2")
            .summary(F.col("__features"))
            .alias("s")
        )
        .collect()
    )
    clusters = [r["__c"] for r in stats]
    sizes = np.array([float(r["s"]["count"]) for r in stats])
    means = np.array([r["s"]["mean"].toArray() for r in stats])
    # Σ‖x‖² over a cluster = Σ_d (per-dimension L2 norm)²
    sq_sum = sum(float((r["s"]["normL2"].toArray() ** 2).sum()) for r in stats)
    n, k = float(sizes.sum()), len(clusters)
    if k <= 1 or n == k:
        ch = float("nan")
    else:
        gmean = sizes @ means / n
        w = sq_sum - float(sizes @ (means * means).sum(axis=1))
        b = float(sizes @ ((means - gmean) ** 2).sum(axis=1))
        ch = float((b / (k - 1)) / (w / (n - k)))

    cent = spark.createDataFrame(
        [(c, m.tolist()) for c, m in zip(clusters, means)],
        "__c " + dict(feat.dtypes)["__c"] + ", __m array<double>",
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                vec_col,
                "__m",
                lambda x, m: (x.cast("double") - m) * (x.cast("double") - m),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    scatter = dict(
        feat.join(F.broadcast(cent), "__c")
        .groupBy("__c")
        .agg(F.avg(dist).alias("s"))
        .collect()
    )
    db = float("nan")
    if k:
        s = np.array([scatter[c] for c in clusters])
        d = np.linalg.norm(means[:, None, :] - means[None, :, :], axis=2)
        # coincident centroids (and i = j) contribute no ratio
        ratio = np.divide(s[:, None] + s[None, :], d, out=np.zeros_like(d), where=d > 0)
        db = float(ratio.max(axis=1).mean())
    return {
        "silhouette": silhouette(assignments, vec_col, prediction_col),
        "calinski_harabasz": ch,
        "davies_bouldin": db,
    }
