"""ML surface tests: community2vec (W2V + analogy eval), clustering,
cluster-comparison metrics vs closed-form / sklearn oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ihop_reddit_spark.ml.cluster_metrics import (
    align_labelings,
    comparison_metrics,
    greedy_max_match,
)
from ihop_reddit_spark.ml.clustering import (
    ClusteringConfig,
    asymmetric_alpha,
    cluster_quality,
    fit_lda,
    kmeans_assign,
    topic_terms,
)
from ihop_reddit_spark.ml.community2vec import (
    C2VParams,
    Community2Vec,
    EmbeddingMatrix,
    evaluate_analogies,
    generate_analogies,
    split_contexts,
)


# ---------------------------------------------------------------------------
# community2vec
# ---------------------------------------------------------------------------
def test_word2vec_trains_and_neighbors(spark):
    # two cliques of co-occurring items: in-clique similarity must beat cross
    rows = []
    for i in range(30):
        rows.append((["nba", "nfl", "sports" + str(i % 3)],))
        rows.append((["cooking", "baking", "food" + str(i % 3)],))
    df = spark.createDataFrame(rows, "context array<string>")
    model = Community2Vec(C2VParams(vector_size=16, epochs=3, seed=7)).fit(df)
    emb = EmbeddingMatrix.from_vectors_df(model.vectors())
    sims = dict(emb.most_similar("nba", topn=len(emb.words)))
    assert sims["nfl"] > sims["cooking"]


def test_word2vec_solves_planted_analogies(spark):
    """M1 quality regression gate: train on contexts with analogy structure
    planted BY CONSTRUCTION and assert the analogy P@1 stays above a
    fixture-calibrated floor.

    Construction: city_i and team_i each co-occur with a shared region_i
    plus a category marker (cityness/teamness), so every city→team offset
    is the same direction (teamness − cityness) and
    ``city_i:team_i :: city_j:team_j`` holds geometrically. Measured P@1 on
    this fixture is 1.0 across dims/epochs; the floor is 0.8 vs a ~0.04
    random baseline, so a regression to noise fails loudly. The reference's
    0.62–0.66 band (BASELINE.md, real Reddit months + 113k analogies) is
    NOT reachable from synthetic tables — this fixture is the measurable
    stand-in for that quality contract."""
    import random

    rng = random.Random(7)
    n_sections = 6
    rows = []
    for i in range(n_sections):
        for _ in range(30):
            s1 = [f"city{i}", f"region{i}", "cityness"]
            s2 = [f"team{i}", f"region{i}", "teamness"]
            rng.shuffle(s1)
            rng.shuffle(s2)
            rows.append((s1,))
            rows.append((s2,))
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "context array<string>")
    model = Community2Vec(C2VParams(vector_size=16, epochs=10, seed=100)).fit(df)
    emb = EmbeddingMatrix.from_vectors_df(model.vectors())
    analogies = generate_analogies(
        {"city-team": [(f"city{i}", f"team{i}") for i in range(n_sections)]}
    )
    res = evaluate_analogies(emb, analogies)
    assert res["total_evaluated"] == n_sections * (n_sections - 1)
    assert res["total_accuracy"] >= 0.8


def test_split_contexts(spark):
    df = spark.createDataFrame([("a b c", 3)], "context_concat string, context_length int")
    out = split_contexts(df).first()
    assert out.context == ["a", "b", "c"]


def test_analogy_closed_form():
    # crafted geometry: king - man + woman = queen
    words = ["man", "woman", "king", "queen", "noise"]
    mat = np.array(
        [
            [1.0, 0.0, 0.0],
            [0.0, 1.0, 0.0],
            [1.0, 0.0, 1.0],
            [0.0, 1.0, 1.0],
            [0.5, 0.5, -1.0],
        ],
        dtype=np.float32,
    )
    emb = EmbeddingMatrix(words, mat / np.linalg.norm(mat, axis=1, keepdims=True))
    assert emb.analogy("man", "king", "woman") == "queen"
    res = evaluate_analogies(
        emb,
        [
            ("royal", "man", "king", "woman", "queen"),
            ("royal", "woman", "queen", "man", "king"),
            ("oov", "man", "king", "missing", "queen"),  # skipped
        ],
    )
    assert res["total_accuracy"] == 1.0
    assert res["total_evaluated"] == 2
    assert res["sections"]["royal"]["n"] == 2


def test_generate_analogies():
    out = generate_analogies({"s": [("a", "b"), ("c", "d"), ("e", "f")]})
    assert ("s", "a", "b", "c", "d") in out
    assert len(out) == 6  # P(3,2) ordered pairs


def test_embedding_matrix_size_guard(spark):
    df = spark.createDataFrame([("w", [0.1] * 4)], "word string, vector array<double>")
    from pyspark.ml.functions import array_to_vector

    vec = df.withColumn("vector", array_to_vector("vector"))
    with pytest.raises(ValueError):
        EmbeddingMatrix.from_vectors_df(vec, max_driver_vocab=0)


# ---------------------------------------------------------------------------
# clustering
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def blobs(spark):
    rng = np.random.default_rng(0)
    rows = []
    for label, center in enumerate([(0, 0), (10, 10), (-10, 10)]):
        for _ in range(30):
            x = rng.normal(center, 0.5)
            rows.append((label, [float(x[0]), float(x[1])]))
    return spark.createDataFrame(rows, "true_label int, vec array<double>")


def test_kmeans_recovers_blobs(blobs):
    out, model = kmeans_assign(blobs, "vec", ClusteringConfig(n_clusters=3, seed=1))
    # purity: each true label maps to exactly one cluster
    purity = (
        out.groupBy("true_label")
        .agg(F.countDistinct("cluster_id").alias("k"))
        .agg(F.max("k"))
        .first()[0]
    )
    assert purity == 1
    assert cluster_quality(out, "vec")["silhouette"] > 0.8


@pytest.fixture(scope="module")
def emb_sf001(spark, sf_dir):
    """The sf0.01 embeddings (500 vectors of dim 64), next to ``sf_dir``."""
    import os

    path = os.path.join(os.path.dirname(sf_dir), "sf0.01", "embeddings.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no sf0.01 embeddings at {path}")
    return spark.read.parquet(path)


def _mllib_kmeans_cost(df, vec_col, k, seed):
    """Within-cluster SSE of MLlib KMeans' own centres, the oracle for the
    driver-side fit."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("__f", array_to_vector(vec_col))
    centres = np.array(
        KMeans(k=k, seed=seed, maxIter=100, featuresCol="__f").fit(feat).clusterCenters()
    )
    X = np.array([r[vec_col] for r in df.select(vec_col).collect()], dtype=float)
    return float(((X[:, None, :] - centres[None]) ** 2).sum(axis=2).min(axis=1).sum())


@pytest.mark.parametrize("data", ["blobs", "emb_sf001"])
def test_local_kmeans_matches_mllib_and_its_frame(request, data, count_jobs):
    """The driver-side fit: within 1% of MLlib's cost, one Spark job, and
    ``clusterSizes`` equal to the returned frame's counts."""
    df = request.getfixturevalue(data)
    vec_col = "vec" if data == "blobs" else "embedding"
    k = 8
    cfg = ClusteringConfig(n_clusters=k, seed=100)
    (out, model), n_jobs = count_jobs(lambda: kmeans_assign(df, vec_col, cfg))
    assert n_jobs <= 1
    assert len(model.clusterCenters()) == k
    assert model.summary.trainingCost <= 1.01 * _mllib_kmeans_cost(df, vec_col, k, 100)
    counts = dict(out.groupBy("cluster_id").count().collect())
    assert model.summary.clusterSizes == [counts.get(c, 0) for c in range(k)]
    assert out.schema.fields[:-1] == df.schema.fields
    assert out.schema["cluster_id"].dataType.simpleString() == "int"


def test_local_kmeans_ignores_partitioning(emb_sf001):
    cfg = ClusteringConfig(n_clusters=8, seed=100)

    def assignment(df):
        out, _ = kmeans_assign(df, "embedding", cfg, id_cols=["vec_id"])
        return dict(out.collect())

    one = assignment(emb_sf001.repartition(1))
    assert one == assignment(emb_sf001.repartition(7))
    assert len(one) == emb_sf001.count()


def test_kmeans_above_the_guard_fits_mllib(blobs, monkeypatch):
    from pyspark.ml.clustering import KMeansModel

    from ihop_reddit_spark.ml import clustering

    cfg = ClusteringConfig(n_clusters=3, seed=1)
    local, _ = kmeans_assign(blobs, "vec", cfg)
    monkeypatch.setattr(clustering, "MAX_LOCAL_POINTS", 10)
    out, model = kmeans_assign(blobs, "vec", cfg)
    assert isinstance(model, KMeansModel)
    assert out.columns == local.columns
    assert out.schema["cluster_id"].dataType == local.schema["cluster_id"].dataType
    assert out.select("cluster_id").distinct().count() == 3


def test_silhouette_matches_clustering_evaluator(emb_sf001):
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.functions import array_to_vector

    out, _ = kmeans_assign(emb_sf001, "embedding", ClusteringConfig(n_clusters=8, seed=100))
    # the same labeling with one point moved into a cluster of its own,
    # which scores 0 (and must not divide by n_c − 1 = 0)
    first = out.agg(F.min("vec_id")).first()[0]
    alone = out.withColumn(
        "cluster_id", F.when(F.col("vec_id") == first, 8).otherwise(F.col("cluster_id"))
    )
    evaluator = ClusteringEvaluator(
        featuresCol="__f", predictionCol="cluster_id", metricName="silhouette"
    )
    for labeling in (out, alone):
        expected = evaluator.evaluate(labeling.withColumn("__f", array_to_vector("embedding")))
        got = cluster_quality(labeling, "embedding")["silhouette"]
        assert abs(got - expected) <= 1e-9


def test_cluster_quality_matches_closed_forms(blobs):
    """Silhouette (Spark's squared-Euclidean definition), CH and DB of the
    true labels against numpy closed forms (sklearn's CH/DB)."""
    q = cluster_quality(blobs, "vec", prediction_col="true_label")
    rows = blobs.collect()
    X = np.array([r.vec for r in rows])
    labels = np.array([r.true_label for r in rows])
    uniq = np.unique(labels)
    n, k = len(X), len(uniq)
    gmean = X.mean(axis=0)
    W = sum(((X[labels == c] - X[labels == c].mean(axis=0)) ** 2).sum() for c in uniq)
    B = sum(
        len(X[labels == c]) * ((X[labels == c].mean(axis=0) - gmean) ** 2).sum()
        for c in uniq
    )
    ch_expected = (B / (k - 1)) / (W / (n - k))
    cents = {c: X[labels == c].mean(axis=0) for c in uniq}
    scat = {
        c: np.linalg.norm(X[labels == c] - cents[c], axis=1).mean() for c in uniq
    }
    db_expected = np.mean(
        [
            max(
                (scat[i] + scat[j]) / np.linalg.norm(cents[i] - cents[j])
                for j in uniq
                if j != i
            )
            for i in uniq
        ]
    )
    D = ((X[:, None, :] - X[None, :, :]) ** 2).sum(axis=2)
    sil = []
    for i in range(n):
        own = labels == labels[i]
        a = D[i, own].sum() / (own.sum() - 1)
        b = min(D[i, labels == c].mean() for c in uniq if c != labels[i])
        sil.append((b - a) / max(a, b))
    assert q["silhouette"] == pytest.approx(np.mean(sil), rel=1e-9)
    assert q["calinski_harabasz"] == pytest.approx(ch_expected, rel=1e-9)
    assert q["davies_bouldin"] == pytest.approx(db_expected, rel=1e-9)


def _matrix_and_labels(df, vec_col, label_col):
    rows = df.select(vec_col, label_col).collect()
    return np.array([r[0] for r in rows], dtype=float), np.array([r[1] for r in rows])


def test_numpy_metrics_match_cluster_quality(emb_sf001):
    """The explorer's driver-side metrics equal ``cluster_quality`` on a
    KMeans labeling, on the same labeling with one point alone in its
    cluster, and on a single cluster (NaN silhouette and CH)."""
    from ihop_reddit_spark.ml.clustering import cluster_quality_local

    out, _ = kmeans_assign(emb_sf001, "embedding", ClusteringConfig(n_clusters=8, seed=100))
    first = out.agg(F.min("vec_id")).first()[0]
    alone = out.withColumn(
        "cluster_id", F.when(F.col("vec_id") == first, 8).otherwise(F.col("cluster_id"))
    )
    single = out.withColumn("cluster_id", F.lit(0))
    for labeling in (out, alone, single):
        expected = cluster_quality(labeling, "embedding")
        got = cluster_quality_local(*_matrix_and_labels(labeling, "embedding", "cluster_id"))
        assert got.keys() == expected.keys()
        for name, value in expected.items():
            assert got[name] == pytest.approx(value, rel=1e-9, nan_ok=True), name
    # the last labeling is the single cluster
    assert np.isnan(got["silhouette"]) and np.isnan(got["calinski_harabasz"])


def test_lda_fits_and_topic_terms(spark):
    from ihop_reddit_spark.ml.text_pipeline import SparkTextPipeline

    docs = spark.createDataFrame(
        [(str(i), "alpha beta gamma" if i % 2 else "delta epsilon zeta") for i in range(20)],
        "id string, document_text string",
    )
    pipe = SparkTextPipeline(min_df=1.0, max_df=1.0e18)
    vec = pipe.fit_transform(docs)
    model = fit_lda(vec, "vectorized", k=2, max_iter=5, subsampling_rate=1.0, seed=1)
    terms = topic_terms(model, pipe.vocab_df(spark), max_terms=3)
    assert terms.count() == 6
    assert set(terms.columns) == {"topic", "term", "weight"}


def test_asymmetric_alpha_matches_reference_formula():
    k = 4
    alphas = asymmetric_alpha(k)
    assert alphas[0] == pytest.approx(1 / (0 + 2.0))
    assert alphas[3] == pytest.approx(1 / (3 + 2.0))


# ---------------------------------------------------------------------------
# cluster-comparison metrics vs sklearn / closed form
# ---------------------------------------------------------------------------
def _comparison_oracle(L, R, w=None) -> dict[str, float]:
    """numpy closed forms (sklearn's definitions, log2); entropies and MI
    weighted by ``w``, pair counts from raw counts."""
    L, R = np.asarray(L), np.asarray(R)
    w = np.ones(len(L)) if w is None else np.asarray(w, dtype=float)
    n = w.sum()
    cont, cnt = {}, {}
    for a, b, x in zip(L, R, w):
        cont[(a, b)] = cont.get((a, b), 0.0) + x
        cnt[(a, b)] = cnt.get((a, b), 0) + 1
    a_i = {a: w[L == a].sum() for a in set(L)}
    b_j = {b: w[R == b].sum() for b in set(R)}
    h1 = -sum(c / n * np.log2(c / n) for c in a_i.values())
    h2 = -sum(c / n * np.log2(c / n) for c in b_j.values())
    mi = sum(
        c / n * np.log2(n * c / (a_i[a] * b_j[b])) for (a, b), c in cont.items()
    )

    def comb2(x):
        return x * (x - 1) / 2

    sum_ij = sum(comb2(c) for c in cnt.values())
    sum_a = sum(comb2((L == a).sum()) for a in set(L))
    sum_b = sum(comb2((R == b).sum()) for b in set(R))
    tp = comb2(len(L))
    expected = sum_a * sum_b / tp
    homo, comp = mi / h1, mi / h2
    return {
        "mutual_info": mi,
        "entropy_left": h1,
        "entropy_right": h2,
        "voi": h1 + h2 - 2 * mi,
        "nmi": mi / ((h1 + h2) / 2),
        "homogeneity": homo,
        "completeness": comp,
        "v_measure": 2 * homo * comp / (homo + comp),
        "rand_index": (tp + 2 * sum_ij - sum_a - sum_b) / tp,
        "adjusted_rand_index": (sum_ij - expected)
        / (0.5 * (sum_a + sum_b) - expected),
    }


def _assert_metrics_match(got: dict, want: dict) -> None:
    assert set(got) == set(want)
    for name, value in want.items():
        assert got[name] == pytest.approx(value, rel=1e-9), name


def test_comparison_metrics_match_sklearn(spark):
    left_labels = [0, 0, 1, 1, 2, 2, 2, 0]
    right_labels = [1, 1, 0, 0, 2, 2, 0, 1]
    keys = [f"k{i}" for i in range(len(left_labels))]
    left = spark.createDataFrame(list(zip(keys, left_labels)), "key string, c1 int")
    right = spark.createDataFrame(list(zip(keys, right_labels)), "key string, c2 int")
    aligned = align_labelings(left, right, "key")
    m = comparison_metrics(aligned)
    _assert_metrics_match(m, _comparison_oracle(left_labels, right_labels))
    # VOI closed form: H1 + H2 − 2·MI
    assert m["voi"] == pytest.approx(
        m["entropy_left"] + m["entropy_right"] - 2 * m["mutual_info"]
    )


def test_weighted_comparison_metrics(spark):
    """``weight_col`` weights the entropies, MI and VOI; rand/ARI keep raw
    counts."""
    left_labels = [0, 0, 1, 1, 2, 2, 2, 0, 1]
    right_labels = [1, 1, 0, 0, 2, 2, 0, 1, 2]
    weights = [1.0, 2.5, 0.5, 3.0, 1.0, 4.0, 0.25, 2.0, 1.5]
    aligned = spark.createDataFrame(
        list(zip(left_labels, right_labels, weights)), "c1 int, c2 int, w double"
    )
    m = comparison_metrics(aligned, weight_col="w")
    _assert_metrics_match(
        m, _comparison_oracle(left_labels, right_labels, weights)
    )


def test_union_universe_fills_missing(spark):
    left = spark.createDataFrame([("a", 0), ("b", 1)], "key string, c1 int")
    right = spark.createDataFrame([("b", 1), ("c", 2)], "key string, c2 int")
    aligned = align_labelings(left, right, "key", universe="union")
    got = {r.key: (r.c1, r.c2) for r in aligned.collect()}
    assert got == {"a": (0, -1), "b": (1, 1), "c": (-1, 2)}


def test_union_universe_comparison_metrics(spark):
    """Keys on one side only count under label −1 on the other."""
    left_rows = [(f"k{i}", i % 3) for i in range(10)]
    right_rows = [(f"k{i}", (i // 2) % 3) for i in range(4, 14)]
    left = spark.createDataFrame(left_rows, "key string, c1 int")
    right = spark.createDataFrame(right_rows, "key string, c2 int")
    m = comparison_metrics(align_labelings(left, right, "key", universe="union"))
    lab1, lab2 = dict(left_rows), dict(right_rows)
    keys = sorted(set(lab1) | set(lab2))
    _assert_metrics_match(
        m,
        _comparison_oracle(
            [lab1.get(k, -1) for k in keys], [lab2.get(k, -1) for k in keys]
        ),
    )


def test_self_comparison_identities(spark):
    labels = spark.createDataFrame(
        [(f"k{i}", i % 4) for i in range(23)], "key string, c1 int"
    )
    m = comparison_metrics(
        align_labelings(labels, labels.withColumnRenamed("c1", "c2"), "key")
    )
    for name in ("adjusted_rand_index", "nmi", "rand_index", "homogeneity",
                 "completeness", "v_measure"):
        assert abs(m[name] - 1.0) < 1e-9, name
    assert abs(m["voi"]) < 1e-9
    assert abs(m["mutual_info"] - m["entropy_left"]) < 1e-9


def test_metrics_run_in_few_spark_jobs(spark, blobs, count_jobs):
    """Each metric answer is a fixed handful of Spark actions, so a
    per-scalar action fails here rather than in a benchmark run. The
    labelings are range scans: like table scans they carry size
    statistics, so the alignment join is planned as a broadcast join, as
    it is over the embeddings table."""
    ids = spark.range(12).withColumnRenamed("id", "key")
    left = ids.select("key", (F.col("key") % 3).alias("c1"))
    right = ids.select("key", (F.col("key") % 4).alias("c2"))
    _, n = count_jobs(
        lambda: comparison_metrics(align_labelings(left, right, "key"))
    )
    assert n <= 4
    _, n = count_jobs(lambda: cluster_quality(blobs, "vec", "true_label"))
    assert n <= 5


def test_greedy_max_match():
    rows = [(0, "x", 5), (0, "y", 3), (1, "y", 4), (2, "z", 2), (3, "z", 1)]
    res = greedy_max_match(rows)
    assert (0, "x", 5) in res["pairs"]
    assert (1, "y", 4) in res["pairs"]
    assert (2, "z", 2) in res["pairs"]
    assert res["unpaired_left"] == [3]
    assert res["unpaired_right"] == []


def test_pmi_term_labels_closed_form(spark):
    from ihop_reddit_spark.ml.labeling import pmi_term_labels

    # class a: 4 tokens (x x x y), class b: 4 tokens (y y y x) → N=8
    df = spark.createDataFrame(
        [("a", "x x x y"), ("b", "y y y x")], "cls string, text string"
    )
    out = {
        (r["cls"], r["term"]): (r["n_tc"], r["n_c"], r["n_t"], r["lift"])
        for r in pmi_term_labels(
            df, "cls", "text", min_count=1, top_k=None
        ).collect()
    }
    # lift(x|a) = (3*8)/(4*4) = 1.5 ; lift(y|a) = (1*8)/(4*4) = 0.5
    assert out[("a", "x")] == (3, 4, 4, 1.5)
    assert out[("a", "y")] == (1, 4, 4, 0.5)
    assert out[("b", "y")] == (3, 4, 4, 1.5)
    ranked = pmi_term_labels(df, "cls", "text", min_count=1, top_k=1).collect()
    assert {(r["cls"], r["term"]) for r in ranked} == {("a", "x"), ("b", "y")}


def test_intruder_export_semantics(spark):
    from ihop_reddit_spark.ml.exports import coherence_export, intruder_export

    rows = [
        ("a", "a1", 10), ("a", "a2", 9), ("a", "a3", 8),
        ("b", "b1", 9), ("b", "b2", 8), ("b", "b3", 7),
    ]
    df = spark.createDataFrame(rows, "cluster string, item string, popularity long")

    coh = {r["cluster"]: r for r in coherence_export(df, "cluster", "item", "popularity").collect()}
    assert coh["a"]["items_concat"] == "a1 a2 a3"
    assert coh["b"]["n_items"] == 3

    task = intruder_export(df, "cluster", "item", "popularity", top_k=2).collect()
    by_cluster = {}
    for r in task:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for cl, members in by_cluster.items():
        intruders = [r for r in members if r["is_intruder"] == 1]
        own = [r for r in members if r["is_intruder"] == 0]
        assert len(intruders) <= 1
        assert len(own) == 2  # top_k
        # top-k by popularity: a → a1,a2 ; b → b1,b2
        assert {r["item"] for r in own} == (
            {"a1", "a2"} if cl == "a" else {"b1", "b2"}
        )
        for r in intruders:
            assert not r["item"].startswith(cl)  # out-of-cluster
        # slots are a permutation 1..n
        assert sorted(r["slot"] for r in members) == list(range(1, len(members) + 1))


def test_pca_project_shapes_and_variance_order(spark, sf_dir):
    import numpy as np

    from ihop_reddit_spark.ml.projection import pca_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    proj = pca_project(emb, "embedding", "vec_id", dims=2)
    assert proj.columns == ["vec_id", "x", "y"]  # scalar axes, not an array
    out = proj.collect()
    assert len(out) == emb.count()
    mat = np.array([(r["x"], r["y"]) for r in out])
    # first component carries at least as much variance as the second
    assert mat[:, 0].var() >= mat[:, 1].var()
    # sign canonicalization: a second fit produces identical coordinates
    again = {
        r["vec_id"]: (r["x"], r["y"])
        for r in pca_project(emb, "embedding", "vec_id", dims=2).collect()
    }
    first = {r["vec_id"]: (r["x"], r["y"]) for r in out}
    assert first == again


def test_numpy_pca_matches_pca_project(emb_sf001):
    """``pca_local`` gives ``pca_project``'s coordinates, signs included."""
    from ihop_reddit_spark.ml.projection import pca_local, pca_project

    rows = emb_sf001.select("vec_id", "embedding").collect()
    got = pca_local(np.array([r[1] for r in rows], dtype=float), dims=2)
    spark_xy = {
        r["vec_id"]: (r["x"], r["y"])
        for r in pca_project(emb_sf001, "embedding", "vec_id", dims=2).collect()
    }
    expected = np.array([spark_xy[r[0]] for r in rows])
    assert np.abs(got - expected).max() <= 1e-9


def test_tsne_project_runs_and_is_size_guarded(spark, sf_dir):
    import pytest as _pytest

    from ihop_reddit_spark.ml import projection as proj
    from ihop_reddit_spark.ml.projection import tsne_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # runnable with OR without sklearn (numpy exact t-SNE fallback)
    pdf = tsne_project(emb.limit(60), perplexity=10.0)
    assert set(pdf.columns) == {"vec_id", "tsne_x", "tsne_y"}
    assert len(pdf) == 60
    # the driver size guard still enforces
    old = proj.MAX_DRIVER_POINTS
    proj.MAX_DRIVER_POINTS = 10
    try:
        with _pytest.raises(ValueError, match="driver-side"):
            tsne_project(emb.limit(60))
    finally:
        proj.MAX_DRIVER_POINTS = old


def test_driver_side_ops_take_one_spark_job(spark, sf_dir, count_jobs):
    """The size guard and the collect are one ``limit(max + 1)`` action."""
    from ihop_reddit_spark.ml.clustering import sklearn_cluster_assign
    from ihop_reddit_spark.ml.projection import tsne_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    pdf, n = count_jobs(lambda: tsne_project(emb, perplexity=10.0))
    assert n <= 1 and len(pdf) == 60
    out, n = count_jobs(
        lambda: sklearn_cluster_assign(emb, "embedding", "vec_id", n_clusters=4)
    )
    assert n <= 1 and out.count() == 60
    with pytest.raises(ValueError, match="driver guard"):
        sklearn_cluster_assign(emb, "embedding", "vec_id", max_driver_rows=59)


def test_grid_search_picks_best_and_writes_metrics(spark, tmp_path):
    from ihop_reddit_spark.ml.community2vec import C2VParams, grid_search

    # structured contexts: a/b always co-occur, c/d always co-occur
    rows = [(["a", "b", "a", "b"],), (["c", "d", "c", "d"],)] * 10
    contexts = spark.createDataFrame(rows, "context array<string>")
    analogies = [("s", "a", "b", "c", "d")]
    path = str(tmp_path / "grid.json")
    model, summary = grid_search(
        contexts,
        grid={"vector_size": [8, 16]},
        analogies=analogies,
        base=C2VParams(epochs=2, seed=1),
        metrics_path=path,
    )
    assert model is not None and len(summary["trials"]) == 2
    assert 0.0 <= summary["best_accuracy"] <= 1.0
    import json

    on_disk = json.load(open(path))
    assert on_disk["best_accuracy"] == summary["best_accuracy"]


def test_grid_search_parallel_matches_sequential(spark):
    from ihop_reddit_spark.ml.community2vec import C2VParams, grid_search

    rows = [(["a", "b", "a", "b"],), (["c", "d", "c", "d"],)] * 10
    contexts = spark.createDataFrame(rows, "context array<string>")
    analogies = [("s", "a", "b", "c", "d")]
    kwargs = dict(
        grid={"vector_size": [8, 16], "epochs": [1, 2]},
        analogies=analogies,
        base=C2VParams(seed=1),
    )
    _, seq = grid_search(contexts, **kwargs)
    _, par = grid_search(contexts, parallelism=4, **kwargs)
    # same trials in the same (grid) order, same winner — concurrency is
    # invisible in the result
    assert par["trials"] == seq["trials"]
    assert par["best_accuracy"] == seq["best_accuracy"]


def test_tsne_numpy_separates_planted_clusters(spark):
    """Without sklearn in this environment, tsne_project runs the seeded
    numpy exact t-SNE — two well-separated input clusters must stay
    separated in the 2-D output (1-NN label purity 100%)."""
    import numpy as np

    from ihop_reddit_spark.ml.projection import tsne_project

    rng = np.random.RandomState(7)
    a = rng.randn(20, 8) * 0.05
    b = rng.randn(20, 8) * 0.05 + 5.0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([a, b]))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pdf = tsne_project(df, "embedding", "vec_id", perplexity=10.0)
    coords = pdf.sort_values("vec_id")[["tsne_x", "tsne_y"]].to_numpy()
    labels = np.array([0] * 20 + [1] * 20)
    d = np.linalg.norm(coords[:, None, :] - coords[None, :, :], axis=2)
    np.fill_diagonal(d, np.inf)
    nn = d.argmin(axis=1)
    assert (labels[nn] == labels).all()
    # determinism: same seed, same coordinates
    pdf2 = tsne_project(df, "embedding", "vec_id", perplexity=10.0)
    coords2 = pdf2.sort_values("vec_id")[["tsne_x", "tsne_y"]].to_numpy()
    assert np.allclose(coords, coords2)


def test_agglomerative_numpy_recovers_planted_partition(spark):
    import numpy as np

    from ihop_reddit_spark.ml.clustering import sklearn_cluster_assign

    rng = np.random.RandomState(11)
    base = np.eye(3)
    rows = []
    for i in range(30):
        c = i % 3
        v = base[c] + rng.randn(3) * 0.01
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sklearn_cluster_assign(df, "embedding", "vec_id", n_clusters=3)
    got = {r.vec_id: r.cluster_id for r in out.collect()}
    # every planted group lands in exactly one output cluster
    groups = {c: {got[i] for i in range(30) if i % 3 == c} for c in range(3)}
    assert all(len(g) == 1 for g in groups.values())
    assert len({next(iter(g)) for g in groups.values()}) == 3


# ---------------------------------------------------------------------------
# fasttext-style quality classifier (ml/quality_classifier.py)
# ---------------------------------------------------------------------------
@pytest.mark.slow
def test_quality_classifier_learns_planted_signal_and_round_trips(
    spark, tmp_path
):
    from pyspark.ml import PipelineModel
    from pyspark.sql import functions as F

    from ihop_reddit_spark.ml.quality_classifier import train_and_evaluate

    # planted separable signal: label tokens vs noise tokens
    rows = [
        (i, ("good clean prose tokens here" if i % 2 == 0
             else "zz9 xx8 qq7 ww6 vv5 noise"))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    model, m = train_and_evaluate(
        docs, "text", "doc_id", F.col("doc_id") % 2 == 0
    )
    assert m["n_train"] + m["n_test"] == 200
    assert m["auc"] >= 0.99 and m["accuracy"] >= 0.99  # trivially separable
    # determinism: identical metrics on a repeat run (no RNG anywhere)
    _, m2 = train_and_evaluate(
        docs, "text", "doc_id", F.col("doc_id") % 2 == 0
    )
    assert m == m2
    # S8 model save/load round-trip: identical predictions after reload
    path = str(tmp_path / "qcls_model")
    model.save(path)
    reloaded = PipelineModel.load(path)
    from ihop_reddit_spark.ml.quality_classifier import _token_arrays

    feat = _token_arrays(docs, "text")
    a = {r["doc_id"]: r["prediction"] for r in model.transform(feat).collect()}
    b = {
        r["doc_id"]: r["prediction"] for r in reloaded.transform(feat).collect()
    }
    assert a == b


def test_reference_analogy_benchmark_shape():
    """The vendored seed pairs expand to EXACTLY the reference
    benchmark's 113,842 tuples (ihop/resources/analogies/__init__.py
    combination semantics), sectioned by source file."""
    from ihop_reddit_spark.ml.analogies import (
        REFERENCE_SECTIONS,
        load_reference_pairs,
        reference_analogies,
    )

    pairs = load_reference_pairs()
    assert set(pairs) == set(REFERENCE_SECTIONS)
    n = {s: len(v) for s, v in pairs.items()}
    assert n == {
        "city_to_mlb_team": 30,
        "city_to_nba_team": 30,
        "city_to_nfl_team": 31,
        "city_to_nhl_team": 29,
        "uni_to_city": 474,
    }
    tuples = reference_analogies()
    assert len(tuples) == sum(k * (k - 1) // 2 for k in n.values())
    assert len(tuples) == 113_842
    # spot shape: a:b :: c:d stays within one section
    s, a, b, c, d = tuples[0]
    assert s == "city_to_mlb_team" and a != c and b != d


def test_reference_analogy_gate_sports_sections(spark):
    """M1/M3 on the REAL reference benchmark tuples: train community2vec
    on a corpus constructed over the actual city/team subreddit
    vocabulary (co-occurrence planted per seed pair, consistent
    city→team axis) and assert sectioned P@1 on the reference 4-tuples.

    This gates the full trainer→EmbeddingMatrix→evaluate_analogies path
    against reference-derived analogies (VERDICT r3 item 2a) — the
    0.62–0.66 real-Reddit band itself needs Reddit months that don't
    exist in the sandbox."""
    from ihop_reddit_spark.ml.analogies import (
        SPORTS_SECTIONS as sports,
        build_reference_corpus,
        reference_analogies,
    )

    df = build_reference_corpus(spark, sports, reps=15, seed=11)
    model = Community2Vec(
        C2VParams(vector_size=64, epochs=15, seed=100)
    ).fit(df)
    # scaffold tokens (__pair_*, __cityness, __<section>) are training
    # aids, not subreddits — exclude them from the prediction vocabulary
    emb = EmbeddingMatrix.from_vectors_df(
        model.vectors().where(~F.col("word").startswith("__"))
    )
    res = evaluate_analogies(emb, reference_analogies(sections=sports))
    assert res["total_evaluated"] == 465 + 435 + 435 + 406
    assert set(res["sections"]) == set(sports)
    # Measured 0.657 total (NHL 0.81 … NBA 0.57) — incidentally inside
    # the reference's real-Reddit 0.62–0.66 band, and limited by the
    # same ambiguity (cities hosting franchises in several leagues, two
    # franchises per city in one league). Floor 0.55 leaves seed
    # headroom; random baseline is ~1/110 per section.
    assert res["total_accuracy"] >= 0.55


def test_collections_lookup_and_enrichment(spark):
    """Reference collections surface (ihop/resources/collections):
    member list parity, lookup frame, and the broadcast enrichment
    join on a synthetic cluster-assignment table."""
    from ihop_reddit_spark.resources.collections import (
        SUBREDDIT_GROUPINGS,
        collections_df,
        enrich_with_collections,
        get_collection_members,
    )

    name = "Denigrating toward immigrants"
    members = get_collection_members(name)
    assert len(members) == 39
    assert members[0] == "AskReddit" and "Conservative" in members
    assert name in SUBREDDIT_GROUPINGS

    lk = collections_df(spark)
    assert lk.count() == 39
    assert lk.columns == ["collection", "member", "description"]

    clusters = spark.createDataFrame(
        [("AskReddit", 0), ("Conservative", 1), ("aww", 1)],
        "subreddit string, cluster_id int",
    )
    out = {
        r["subreddit"]: r["collection"]
        for r in enrich_with_collections(clusters, "subreddit").collect()
    }
    assert out["AskReddit"] == name
    assert out["Conservative"] == name
    assert out["aww"] is None


# ---------------------------------------------------------------------------
# SGNS fallback trainer (objective parity with the reference's Gensim SGNS)
# ---------------------------------------------------------------------------
def _planted_contexts(spark, n_sections=6, reps=30, seed=7):
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n_sections):
        for _ in range(reps):
            s1 = [f"city{i}", f"region{i}", "cityness"]
            s2 = [f"team{i}", f"region{i}", "teamness"]
            rng.shuffle(s1)
            rng.shuffle(s2)
            rows.append((s1,))
            rows.append((s2,))
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "context array<string>")


def test_sgns_solves_planted_analogies(spark):
    """The SGNS fallback (SURVEY §7 #1 / VERDICT r3 item 2b) must solve
    the same planted fixture the Spark trainer gates on. Measured 1.0;
    SGNS on the REAL sports benchmark scores 0.94 (vs the hierarchical-
    softmax Spark trainer's 0.66) — the reference's objective choice."""
    from ihop_reddit_spark.ml.sgns import SGNSCommunity2Vec, SGNSParams

    df = _planted_contexts(spark)
    model = SGNSCommunity2Vec(
        SGNSParams(
            vector_size=32, epochs=60, negative=5, alpha=0.1,
            min_alpha=0.01, batch_pairs=128, seed=1,
        )
    ).fit(df)
    emb = EmbeddingMatrix.from_vectors_df(model.vectors())
    ana = generate_analogies(
        {"ct": [(f"city{i}", f"team{i}") for i in range(6)]}
    )
    res = evaluate_analogies(emb, ana)
    assert res["total_accuracy"] >= 0.8


def test_sgns_deterministic_and_roundtrip(spark, tmp_path):
    from ihop_reddit_spark.ml.sgns import SGNSCommunity2Vec, SGNSParams

    df = _planted_contexts(spark, n_sections=2, reps=10)
    p = SGNSParams(
        vector_size=8, epochs=5, negative=3, batch_pairs=64, seed=9
    )
    a = SGNSCommunity2Vec(p).fit(df)
    b = SGNSCommunity2Vec(p).fit(df)
    assert a.words == b.words
    assert np.array_equal(a._w_in, b._w_in)  # same seed → bit-identical

    path = str(tmp_path / "sgns_model")
    a.save(path)
    c = SGNSCommunity2Vec.load(spark, path)
    assert set(c.words) == set(a.words)
    ix_a = {w: i for i, w in enumerate(a.words)}
    for i, w in enumerate(c.words):
        assert np.allclose(c._w_in[i], a._w_in[ix_a[w]])


def test_sgns_driver_guard(spark):
    from ihop_reddit_spark.ml.sgns import SGNSCommunity2Vec, SGNSParams

    df = _planted_contexts(spark, n_sections=2, reps=10)
    with pytest.raises(ValueError, match="driver guard"):
        SGNSCommunity2Vec(
            SGNSParams(epochs=5, max_driver_pairs=10)
        ).fit(df)


def test_grid_search_with_sgns_trainer(spark):
    """M2 accepts the SGNS fallback behind the same interface — the
    reference's grid runs over its Gensim SGNS models."""
    from ihop_reddit_spark.ml.community2vec import grid_search
    from ihop_reddit_spark.ml.sgns import SGNSCommunity2Vec, SGNSParams

    df = _planted_contexts(spark, n_sections=3, reps=15)
    ana = generate_analogies(
        {"ct": [(f"city{i}", f"team{i}") for i in range(3)]}
    )
    best, summary = grid_search(
        df,
        {"epochs": [5, 40]},
        ana,
        base=SGNSParams(
            vector_size=16, negative=5, alpha=0.1, min_alpha=0.01,
            batch_pairs=128, seed=1,
        ),
        trainer=SGNSCommunity2Vec,
    )
    assert isinstance(best, SGNSCommunity2Vec)
    assert len(summary["trials"]) == 2
    # more epochs should win (or tie) on the planted fixture
    assert summary["best_accuracy"] >= max(
        t["total_accuracy"] for t in summary["trials"]
    )


# ---------------------------------------------------------------------------
# Inter-rater agreement + elbow heuristic (reference notebook workflows)
# ---------------------------------------------------------------------------
def test_cohens_kappa_closed_form(spark):
    from ihop_reddit_spark.ml.agreement import cohens_kappa

    # classic textbook table: 20 yes/yes, 5 yes/no, 10 no/yes, 15 no/no
    # p_o = 35/50; p_e = (25*30 + 25*20)/2500 = 1250/2500
    # kappa = (50*35 - 1250) / (2500 - 1250) = 500/1250 = 0.4
    rows = (
        [("y", "y")] * 20 + [("y", "n")] * 5
        + [("n", "y")] * 10 + [("n", "n")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert (r["n"], r["n_agree"]) == (50, 35)
    assert (r["kappa_numer"], r["kappa_denom"]) == (500, 1250)
    assert r["kappa"] == 0.4

    # perfect agreement → kappa 1; NULL labels excluded
    perfect = spark.createDataFrame(
        [("x", "x"), ("y", "y"), (None, "x"), ("x", None)],
        "a string, b string",
    )
    rp = cohens_kappa(perfect, "a", "b").collect()[0]
    assert rp["n"] == 2 and rp["kappa"] == 1.0

    # single category → kappa undefined (NULL), not a crash
    degen = spark.createDataFrame([("x", "x")] * 4, "a string, b string")
    rd = cohens_kappa(degen, "a", "b").collect()[0]
    assert rd["kappa"] is None and rd["kappa_denom"] == 0

    # empty / all-NULL input → the zero-on-empty contract shared with
    # ks_two_sample/categorical_tvd: (0, 0, 0, 0, NULL), never NULL
    # numer/denom (ADVICE r4)
    empty = spark.createDataFrame(
        [(None, "x"), ("x", None)], "a string, b string"
    )
    re_ = cohens_kappa(empty, "a", "b").collect()[0]
    assert tuple(re_) == (0, 0, 0, 0, None)


def test_grid_search_rejects_mismatched_base_and_trainer(spark):
    """An explicit C2VParams base with the SGNS trainer must raise a
    clear ValueError up front, not an opaque AttributeError deep inside
    fit (ADVICE r4)."""
    import pytest

    from ihop_reddit_spark.ml.community2vec import C2VParams, grid_search
    from ihop_reddit_spark.ml.sgns import SGNSCommunity2Vec

    df = _planted_contexts(spark, n_sections=2, reps=2)
    with pytest.raises(ValueError, match="C2VParams.*SGNS"):
        grid_search(
            df, {"epochs": [1]}, [], base=C2VParams(),
            trainer=SGNSCommunity2Vec,
        )


def test_fleiss_kappa_closed_form(spark):
    from ihop_reddit_spark.ml.agreement import fleiss_kappa

    # 4 items, 3 raters each. Items 1-3 unanimous 'a'; item 4 split
    # 2 'a' / 1 'b'. n=4, m=3:
    #   sum_sq = 9+9+9+(4+1) = 32;  T_a=11, T_b=1 → sum_tc2 = 122
    #   P_o = 20/24 = 5/6;  P_e = 122/144 = 61/72
    #   kappa = (5/6 − 61/72)/(1 − 61/72) = (−1/72)/(11/72) = −1/11
    rows = (
        [(1, "a")] * 3 + [(2, "a")] * 3 + [(3, "a")] * 3
        + [(4, "a"), (4, "a"), (4, "b")]
    )
    df = spark.createDataFrame(rows, "item long, label string")
    r = fleiss_kappa(df, "item", "label").collect()[0]
    assert (r["n_items"], r["m_raters"]) == (4, 3)
    # INDEPENDENT hand-derived value (−1/11), not a mirror of the
    # implementation's own formula — a sign/term bug cannot cancel out
    assert r["kappa"] == -1 / 11

    # unequal rating counts → m_raters poisoned to -1 AND kappa NULL
    # (a plausible-looking number from mixed m would be meaningless)
    bad = df.union(
        spark.createDataFrame([(4, "b")], "item long, label string")
    )
    rb = fleiss_kappa(bad, "item", "label").collect()[0]
    assert rb["m_raters"] == -1
    assert rb["kappa"] is None


def test_kmeans_elbow_finds_true_k(spark, blobs, count_jobs):
    from ihop_reddit_spark.ml.clustering import kmeans_elbow

    sweep, n_jobs = count_jobs(lambda: kmeans_elbow(blobs, "vec", ks=[2, 3, 4, 5], seed=1))
    assert n_jobs <= 1
    costs = [s["cost"] for s in sweep]
    assert all(a >= b for a, b in zip(costs, costs[1:]))
    assert next(s["k"] for s in sweep if s["is_elbow"]) == 3

    with pytest.raises(ValueError, match="increasing"):
        kmeans_elbow(blobs, "vec", ks=[3, 2], seed=1)


def test_kmeans_elbow_above_the_guard_fits_mllib(spark, blobs, monkeypatch):
    from ihop_reddit_spark.ml import clustering

    cached = spark.sparkContext._jsc.getPersistentRDDs().size
    before = cached()
    monkeypatch.setattr(clustering, "MAX_LOCAL_POINTS", 10)
    sweep = clustering.kmeans_elbow(blobs, "vec", ks=[2, 3, 4], seed=1)
    assert next(s["k"] for s in sweep if s["is_elbow"]) == 3
    assert cached() == before  # the sweep's shared feature cache is released


def test_word2vec_text_format_roundtrip(spark, tmp_path):
    """Gensim-interchange: text-format export/import is lossless for
    array vectors and accepts VectorUDT frames (the Spark trainer's
    native output)."""
    from ihop_reddit_spark.ml.community2vec import (
        load_word2vec_text,
        save_word2vec_text,
    )

    df = spark.createDataFrame(
        [("alpha", [0.25, -1.5, 3.0]), ("beta", [1e-9, 2.0, -0.125])],
        "word string, vector array<double>",
    )
    p = str(tmp_path / "vecs.txt")
    save_word2vec_text(df, p)
    with open(p) as f:
        assert f.readline() == "2 3\n"
    back = {
        r["word"]: r["vector"]
        for r in load_word2vec_text(spark, p).collect()
    }
    assert back["alpha"] == [0.25, -1.5, 3.0]
    assert back["beta"] == [1e-9, 2.0, -0.125]

    # VectorUDT input (the ml trainer's vectors()) works too
    from pyspark.ml.functions import array_to_vector

    vec = df.withColumn("vector", array_to_vector("vector"))
    p2 = str(tmp_path / "vecs2.txt")
    save_word2vec_text(vec, p2)
    back2 = {
        r["word"]: r["vector"]
        for r in load_word2vec_text(spark, p2).collect()
    }
    assert back2 == back

    with pytest.raises(ValueError, match="driver guard"):
        save_word2vec_text(df, p, max_driver_vocab=1)


def test_umass_coherence_closed_form(spark):
    """Hand-derived UMass: docs {a b}, {b c}, {a} with topic order
    a<b<c → D(a)=2, D(b)=2, D(c)=1, D(a,b)=1, D(a,c)=0, D(b,c)=1;
    pairs: ln(2/2) + ln(1/2) + ln(2/2) = ln(0.5)."""
    import math

    from ihop_reddit_spark.ml.labeling import (
        umass_coherence,
        umass_pair_stats,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c"), (3, "a")], "doc_id long, text string"
    )
    topics = spark.createDataFrame(
        [("t", "a", 1), ("t", "b", 2), ("t", "c", 3)],
        "topic_id string, term string, rank long",
    )
    stats = {
        (r["term_l"], r["term_m"]): (r["d_ml"], r["d_l"])
        for r in umass_pair_stats(
            docs, "doc_id", "text", topics
        ).collect()
    }
    assert stats == {
        ("a", "b"): (1, 2),
        ("a", "c"): (0, 2),
        ("b", "c"): (1, 2),
    }
    r = umass_coherence(docs, "doc_id", "text", topics).collect()[0]
    assert r["n_pairs"] == 3
    assert r["coherence"] == round(math.log(0.5), 4)


def test_npmi_coherence_closed_form(spark):
    """Same corpus as the UMass test: docs {a b}, {b c}, {a}; N=3,
    D(a)=2, D(b)=2, D(c)=1.
    npmi(a,b) = ln(1·3/(2·2)) / −ln(1/3);
    npmi(b,c) = ln(1·3/(2·1)) / −ln(1/3);
    npmi(a,c): d_ml=0 → −1."""
    import math

    from ihop_reddit_spark.ml.labeling import npmi_coherence

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c"), (3, "a")], "doc_id long, text string"
    )
    topics = spark.createDataFrame(
        [("t", "a", 1), ("t", "b", 2), ("t", "c", 3)],
        "topic_id string, term string, rank long",
    )
    r = npmi_coherence(docs, "doc_id", "text", topics).collect()[0]
    assert r["n_pairs"] == 3
    denom = -math.log(1 / 3)
    ab = math.log(3 / 4) / denom
    bc = math.log(3 / 2) / denom
    want = round((ab + bc - 1.0) / 3, 4)
    assert r["npmi"] == want
