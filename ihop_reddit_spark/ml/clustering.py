"""Clustering & topic models (SURVEY §2.10, M4-M5, M8).

Spark-native mappings of the reference's model zoo:

* KMeans — :func:`kmeans_assign`. The reference fits sklearn KMeans on the
  driver over ≤10k embedded points (``ihop/clustering.py:353-447``). Up to
  :data:`MAX_LOCAL_POINTS` rows the fit does the same: one Arrow collect
  brings the rows to the driver, where numpy runs seeded greedy
  k-means++ and Lloyd's algorithm with MLlib's stopping rule, keeping the
  best of :data:`KMEANS_RESTARTS` runs. The rows come back with the
  driver's labels as a local relation, so no executor recomputes the
  distances. Above the guard the distributed
  ``pyspark.ml.clustering.KMeans`` runs; past a few thousand points its
  parallel iterations beat one driver thread.
  ``datapipe/similarity.build_ivf_index`` stays on MLlib.
* BisectingKMeans — ``pyspark.ml.clustering``; the scalable analog of the
  reference's AgglomerativeClustering.
* sklearn escape hatch — agglomerative / affinity propagation have no
  distributed equivalent; gated behind an import-try + row-count guard, on
  L2-normalized vectors (cosine geometry), exactly the reference's intended
  ≤10k-point regime.
* LDA — ``pyspark.ml.clustering.LDA`` with the reference's exact config
  (``ihop/clustering.py:875-1145``): online optimizer, asymmetric
  doc-concentration ``1/(i + sqrt(k))``, k=250, maxIter=50,
  subsamplingRate=0.05.
* quality metrics (M8) — :func:`cluster_quality`: one grouped Summarizer
  aggregate (count, mean, Σ‖x‖²) gives CH on the driver over k rows; one
  pass over the points against those k rows gives DB's per-cluster scatter
  and Spark's squared-Euclidean silhouette. :func:`cluster_quality_local`
  computes the same per-cluster rows in numpy for a matrix already on the
  driver; both finish in :func:`_quality_from_clusters`.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Largest frame :func:`kmeans_assign` and :func:`kmeans_elbow` fit on the
#: driver; above it they fit MLlib KMeans. Set from measured fits of both
#: (dim 64, k 8/50/250, 4 cores): up to 5k points the driver fit takes less
#: wall and CPU time than MLlib at every k; at 10k MLlib is faster in wall
#: time for k ≥ 50, at 20k for every k, because the driver fit is
#: single-threaded and runs :data:`KMEANS_RESTARTS` seedings.
MAX_LOCAL_POINTS = 5_000

#: MLlib KMeans' default convergence tolerance: a fit stops when no centre
#: moves more than this (Euclidean distance) in one Lloyd iteration.
KMEANS_TOL = 1e-4

#: Seedings per driver-side fit, the best kept (sklearn's classic
#: ``n_init``). One k-means++ seeding lands up to 8% above MLlib's
#: k-means|| cost on small over-clustered inputs; the best of 10 stays
#: within 0.2% of it on the test and benchmark embeddings.
KMEANS_RESTARTS = 10


def _with_features(df: DataFrame, vec_col: str, out: str = "__features") -> DataFrame:
    """array<float|double> → VectorUDT column for MLlib estimators."""
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out, array_to_vector(F.col(vec_col)))


def vectors_matrix(column):
    """An Arrow list column of equal-length numeric vectors as an (n, dim)
    float64 matrix. Driver-side ops read their input with one
    ``limit(max_rows + 1).toArrow()``: the Arrow collect runs the limit as
    a single Spark job at any partition count, where a ``Row`` collect
    scans partitions in growing incremental jobs."""
    import numpy as np

    column = column.combine_chunks()
    lengths = np.diff(column.offsets.to_numpy())
    if column.null_count or (lengths != lengths[:1]).any():
        raise ValueError("vectors must be non-null and of one length")
    flat = column.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(column), -1)


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


@dataclass(frozen=True)
class LocalKMeansSummary:
    """The fields of MLlib's ``KMeansSummary`` that callers read.
    ``clusterSizes`` and ``trainingCost`` come from the same squared
    distances as the assignment projection, so the sizes match the frame."""

    clusterSizes: list[int]
    trainingCost: float
    numIter: int


@dataclass(frozen=True)
class LocalKMeansModel:
    """A driver-side KMeans fit with the MLlib model surface callers use."""

    centers: object  # (k, dim) float64 ndarray
    summary: LocalKMeansSummary

    def clusterCenters(self) -> list:
        return list(self.centers)


def _double_lit(values) -> Column:
    """A numpy vector or matrix as one array<double> (array<array<double>>)
    literal: one parsed SQL expression rather than a py4j call per element.
    ``repr`` of a float round-trips exactly through the SQL double parser."""
    import numpy as np

    def sql(v) -> str:
        if np.ndim(v):
            return "array(" + ",".join(sql(x) for x in v) + ")"
        return f"{float(v)!r}D"

    return F.expr(sql(values))


def _sq_dist(vec_col: str, centre: Column) -> Column:
    """Squared Euclidean distance from ``vec_col`` to an array<double>
    centre, summed left to right over the dimensions."""
    return F.aggregate(
        F.zip_with(vec_col, centre, lambda x, m: x.cast("double") - m),
        F.lit(0.0),
        lambda a, t: a + t * t,
    )


def _kmeans_pp(X, sq, k: int, rng):
    """Greedy k-means++ seeding, as sklearn's KMeans does: each new centre
    is the best of ``2 + ln k`` D²-sampled candidates, the one leaving the
    smallest total squared distance. Stops early when every point sits on a
    centre, so fewer distinct points than ``k`` give fewer centres, as
    MLlib's fit does."""
    import numpy as np

    trials = 2 + int(math.log(k))
    first = int(rng.integers(len(X)))
    centres = [first]
    d2 = np.maximum(sq - 2.0 * np.einsum("nd,d->n", X, X[first]) + sq[first], 0.0)
    while len(centres) < k:
        cum = np.cumsum(d2)
        if cum[-1] <= 0:
            break
        picks = np.searchsorted(cum, rng.random(trials) * cum[-1], side="right")
        picks = np.minimum(picks, len(X) - 1)
        to_picks = sq[None, :] - 2.0 * np.einsum("td,nd->tn", X[picks], X) + sq[picks][:, None]
        cand = np.minimum(d2, np.maximum(to_picks, 0.0))
        best = int(cand.sum(axis=1).argmin())
        centres.append(int(picks[best]))
        d2 = cand[best]
    return X[centres]


def _lloyd(X, centres, max_iter: int):
    """Lloyd's algorithm: (centres, labels, iterations). Stops, as MLlib
    does, when no centre moves more than :data:`KMEANS_TOL` or after
    ``max_iter`` iterations; a centre that loses all its points stays where
    it was. The nearest centre minimises ‖c‖² − 2x·c, one product with the
    centres per iteration. The products here and in :func:`_kmeans_pp`
    use ``np.einsum``, not BLAS: BLAS worker threads spin between the many
    small calls, about 3× the CPU time of einsum for a fit on a 4-core host."""
    import numpy as np

    def nearest(c):
        return ((c * c).sum(axis=1) - 2.0 * np.einsum("nd,kd->nk", X, c)).argmin(axis=1)

    (k, dim), n_iter = centres.shape, 0
    # bin (cluster, dimension) of every matrix entry, to sum members per cluster
    dim_bins = np.arange(dim)
    while n_iter < max_iter:
        n_iter += 1
        near = nearest(centres)
        counts = np.bincount(near, minlength=k)
        sums = np.bincount(
            (near[:, None] * dim + dim_bins).ravel(), weights=X.ravel(), minlength=k * dim
        ).reshape(k, dim)
        moved = np.where(counts[:, None] > 0, sums / np.maximum(counts, 1)[:, None], centres)
        shift = ((moved - centres) ** 2).sum(axis=1)
        centres = moved
        if (shift <= KMEANS_TOL * KMEANS_TOL).all():
            break
    return centres, nearest(centres), n_iter


def _fit_local(X, cfg: ClusteringConfig):
    """The driver-side fit: (model, labels of ``X``'s rows).
    :data:`KMEANS_RESTARTS` greedy k-means++ + Lloyd runs from one
    generator seeded with ``cfg.seed``; the one with the lowest cost
    Σ‖x − c‖² wins, and its labels give the sizes."""
    import numpy as np

    rng = np.random.default_rng(cfg.seed)
    sq = (X * X).sum(axis=1)
    best = None
    for _ in range(KMEANS_RESTARTS):
        centres, near, n_iter = _lloyd(X, _kmeans_pp(X, sq, cfg.n_clusters, rng), cfg.max_iter)
        cost = float(((X - centres[near]) ** 2).sum())
        if best is None or cost < best[0]:
            best = (cost, centres, near, n_iter)
    cost, centres, near, n_iter = best
    summary = LocalKMeansSummary(
        clusterSizes=np.bincount(near, minlength=len(centres)).tolist(),
        trainingCost=cost,
        numIter=n_iter,
    )
    return LocalKMeansModel(centres, summary), near


def _collect_within_guard(df: DataFrame):
    """``df`` as an Arrow table in one Spark job, or None when it has more
    than :data:`MAX_LOCAL_POINTS` rows. Above the guard the job has read
    at most that many rows plus one, which are dropped."""
    table = df.limit(MAX_LOCAL_POINTS + 1).toArrow()
    if table.num_rows > MAX_LOCAL_POINTS:
        return None
    if table.num_rows == 0:
        raise ValueError("KMeans needs at least one vector")
    return table


def _sorted_matrix(column):
    """(X, order): the vectors as a matrix in lexicographic row order, so a
    seeded fit depends only on the rows, not on partition order; row i of X
    is row ``order[i]`` of ``column``."""
    import numpy as np

    X = vectors_matrix(column)
    order = np.lexsort(X.T[::-1])
    return X[order], order


def _fit_collected(column, cfg: ClusteringConfig):
    """(model, X, labels): the driver-side fit of a collected Arrow vector
    column. Row i of the matrix X and ``labels[i]`` belong to row i of
    ``column``; the fit itself sees the rows sorted (:func:`_sorted_matrix`)."""
    import numpy as np

    X, order = _sorted_matrix(column)
    model, near = _fit_local(X, cfg)
    matrix, labels = np.empty_like(X), np.empty(len(near), dtype=np.int32)
    matrix[order], labels[order] = X, near
    return model, matrix, labels


def _fit_mllib(feat: DataFrame, cfg: ClusteringConfig, prediction_col: str = "cluster_id"):
    """MLlib KMeans over a ``__features`` vector column (frames above the
    guard)."""
    from pyspark.ml.clustering import KMeans

    return KMeans(
        k=cfg.n_clusters,
        seed=cfg.seed,
        maxIter=cfg.max_iter,
        featuresCol="__features",
        predictionCol=prediction_col,
    ).fit(feat)


def kmeans_assign(
    df: DataFrame,
    vec_col: str,
    cfg: ClusteringConfig | None = None,
    id_cols: list[str] | None = None,
    prediction_col: str = "cluster_id",
):
    """KMeans on (optionally pre-normalized) vectors.

    Returns (assignments DataFrame, fitted model): ``df``'s columns (or
    ``id_cols``) plus an int ``prediction_col``. Within the driver guard
    (:func:`_collect_within_guard`) one collect brings those columns and
    the vectors to the driver, numpy fits k-means++/Lloyd
    (:class:`LocalKMeansModel`), and the frame returned is the collected
    rows with the driver's labels, a local relation. Above the guard it is
    MLlib's ``KMeans``. Euclidean on unit vectors is monotone in cosine —
    normalize first for the reference's cosine semantics.
    """
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, StructField, StructType

    cfg = cfg or ClusteringConfig()
    keep = id_cols or df.columns
    rows = df.select(*dict.fromkeys([*keep, vec_col]))
    table = _collect_within_guard(rows)
    if table is None:
        feat = _with_features(df, vec_col)
        model = _fit_mllib(feat, cfg, prediction_col)
        return model.transform(feat).select(*keep, prediction_col), model
    model, _, labels = _fit_collected(table.column(vec_col), cfg)
    schema = StructType(
        [*rows.schema.fields, StructField(prediction_col, IntegerType(), False)]
    )
    # at most MAX_LOCAL_POINTS rows: one partition, so a scan is one task
    out = df.sparkSession.createDataFrame(
        table.append_column(prediction_col, pa.array(labels)), schema
    ).coalesce(1)
    return out.select(*keep, prediction_col), model


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

    Up to :data:`MAX_LOCAL_POINTS` rows the vectors are collected once and
    every k is fitted on the driver, as :func:`kmeans_assign` does; above
    the guard each k is one MLlib fit over a feature frame cached for the
    sweep. Returns
    ``[{"k": k, "cost": float, "is_elbow": bool}, ...]`` in ``ks``
    order.
    """
    if sorted(ks) != list(ks) or len(set(ks)) != len(ks):
        raise ValueError("ks must be strictly increasing")
    cfgs = [ClusteringConfig(n_clusters=k, seed=seed, max_iter=max_iter) for k in ks]
    table = _collect_within_guard(df.select(vec_col))
    if table is None:
        feat = _with_features(df, vec_col).persist()
        try:
            costs = [_fit_mllib(feat, cfg).summary.trainingCost for cfg in cfgs]
        finally:
            feat.unpersist()
    else:
        X, _ = _sorted_matrix(table.column(0))
        costs = [_fit_local(X, cfg)[0].summary.trainingCost for cfg in cfgs]
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
    if algorithm not in ("agglomerative", "affinity"):
        raise ValueError(algorithm)
    table = df.select(id_col, vec_col).limit(max_driver_rows + 1).toArrow()
    if table.num_rows > max_driver_rows:
        raise ValueError(f"more than {max_driver_rows} rows exceed driver guard")
    ids = table.column(0).to_pylist()
    mat = vectors_matrix(table.column(1))
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
# Quality metrics (M8) — from k per-cluster rows and one pass over the points
# ---------------------------------------------------------------------------
def _quality_from_clusters(sizes, means, sq_sums, scatter, sil_sum: float) -> dict[str, float]:
    """Silhouette, Calinski-Harabasz and Davies-Bouldin from k per-cluster
    rows: the counts n_c, the means μ_c, Σ‖x‖², the scatter s_c (the mean
    distance to the own centroid) and the points' silhouette coefficients
    summed.

    * CH = (B/(k−1)) / (W/(n−k)):
      W = Σ_c (Σ‖x‖² − n_c‖μ_c‖²), B = Σ_c n_c‖μ_c − μ‖².
    * DB = mean_i max_{j≠i} (s_i+s_j)/‖μ_i−μ_j‖.

    CH and silhouette are NaN when k ≤ 1 (and CH when n = k); DB is NaN
    when k = 0.
    """
    import numpy as np

    n, k = float(sizes.sum()), len(sizes)
    nan = float("nan")
    if k <= 1 or n == k:
        ch = nan
    else:
        gmean = sizes @ means / n
        w = float(sq_sums.sum() - sizes @ (means * means).sum(axis=1))
        b = float(sizes @ ((means - gmean) ** 2).sum(axis=1))
        ch = float((b / (k - 1)) / (w / (n - k)))
    if k == 0:
        return {"silhouette": nan, "calinski_harabasz": ch, "davies_bouldin": nan}
    d = np.linalg.norm(means[:, None, :] - means[None, :, :], axis=2)
    # coincident centroids (and i = j) contribute no ratio
    ratio = np.divide(scatter[:, None] + scatter[None, :], d, out=np.zeros_like(d), where=d > 0)
    return {
        "silhouette": float(sil_sum / n) if k > 1 else nan,
        "calinski_harabasz": ch,
        "davies_bouldin": float(ratio.max(axis=1).mean()),
    }


def cluster_quality(
    assignments: DataFrame, vec_col: str, prediction_col: str = "cluster_id"
) -> dict[str, float]:
    """Silhouette, Calinski-Harabasz and Davies-Bouldin of one labeling.

    One grouped Summarizer aggregate gives, per cluster, the count n_c, the
    mean μ_c and Σ‖x‖² (= Σ_d normL2_d²); k rows go to the driver. One pass
    over the points, with the k means as literals, gives the rest per
    cluster:

    - DB's scatter s_c, the mean distance to the own centroid;
    - silhouette, Spark's squared-Euclidean definition (as
      ``ClusteringEvaluator``): the mean squared distance from x to the
      points of cluster c is ‖x‖² + Σ_c‖y‖²/n_c − 2x·μ_c, scaled by
      n_c/(n_c−1) for x's own cluster; a point alone in its cluster
      scores 0.

    :func:`_quality_from_clusters` finishes CH and DB on the driver.
    """
    import numpy as np
    from pyspark.ml.stat import Summarizer

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
    # Σ‖x‖² per cluster = Σ_d (per-dimension L2 norm)²
    sq_sums = np.array([float((r["s"]["normL2"].toArray() ** 2).sum()) for r in stats])
    k = len(clusters)
    if k == 0:
        return _quality_from_clusters(sizes, means, sq_sums, np.zeros(0), 0.0)

    ids = F.array(*[F.lit(c) for c in clusters]).cast(
        "array<" + dict(feat.dtypes)["__c"] + ">"
    )
    mu = _double_lit(means)
    own = F.array_position(ids, F.col("__c")).cast("int")  # 1-based
    # Each step is its own projection so that the optimizer does not inline
    # an array expression into every place that reads it (it keeps
    # projections apart when that would repeat a costly expression).
    points = feat.select(
        own.alias("__i"),
        F.sqrt(_sq_dist(vec_col, F.element_at(mu, own))).alias("__s"),
        F.aggregate(
            vec_col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        ).alias("__xx"),
        F.transform(
            mu,
            lambda m: F.aggregate(
                F.zip_with(vec_col, m, lambda v, c: v.cast("double") * c),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
        ).alias("__dots"),
    ).select(
        "__i",
        "__s",
        # mean squared distance from the point to the points of each cluster
        F.zip_with(
            "__dots", _double_lit(sq_sums / sizes), lambda d, q: F.col("__xx") + q - 2.0 * d
        ).alias("__d"),
    )
    n_own = F.element_at(_double_lit(sizes), F.col("__i"))
    inside = F.element_at("__d", F.col("__i")) * n_own / (n_own - 1.0)
    points = points.select(
        "__i",
        "__s",
        F.when(n_own > 1.0, inside).alias("__a"),  # NULL for a point alone
        F.array_min(F.filter("__d", lambda _, j: j + 1 != F.col("__i"))).alias("__b"),
    )
    a, b = F.col("__a"), F.col("__b")
    coef = (
        F.when(a.isNull(), 0.0)
        .when(a < b, 1.0 - a / b)
        .when(a > b, b / a - 1.0)
        .otherwise(0.0)
    )
    per_cluster = {
        r["__i"] - 1: r
        for r in points.groupBy("__i")
        .agg(F.avg("__s").alias("scatter"), F.sum(coef).alias("sil"))
        .collect()
    }
    scatter = np.array([per_cluster[i]["scatter"] for i in range(k)])
    sil_sum = sum(per_cluster[i]["sil"] for i in range(k))
    return _quality_from_clusters(sizes, means, sq_sums, scatter, sil_sum)


def cluster_quality_local(X, labels) -> dict[str, float]:
    """:func:`cluster_quality` of an (n, dim) matrix on the driver and its
    n labels: the same per-cluster rows and point terms in numpy."""
    import numpy as np

    _, own = np.unique(labels, return_inverse=True)
    sizes = np.bincount(own).astype(np.float64)
    k, rows = len(sizes), np.arange(len(X))
    sums = np.zeros((k, X.shape[1]))
    np.add.at(sums, own, X)
    means = sums / sizes[:, None]
    xx = np.einsum("nd,nd->n", X, X)
    sq_sums = np.bincount(own, weights=xx, minlength=k)
    dist = np.sqrt(((X - means[own]) ** 2).sum(axis=1))
    scatter = np.bincount(own, weights=dist, minlength=k) / sizes
    # mean squared distance from each point to the points of each cluster
    d = xx[:, None] + sq_sums / sizes - 2.0 * np.einsum("nd,kd->nk", X, means)
    n_own = sizes[own]
    a = d[rows, own] * n_own / np.maximum(n_own - 1.0, 1.0)
    d[rows, own] = np.inf
    b = d.min(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        coef = np.where(a < b, 1.0 - a / b, np.where(a > b, b / a - 1.0, 0.0))
    coef[n_own <= 1] = 0.0  # a point alone in its cluster
    return _quality_from_clusters(sizes, means, sq_sums, scatter, float(coef.sum()))
