"""Dedup + similarity-search tests (north-star extensions), including a
numpy oracle for brute-force kNN and recall checks for the approximate tiers."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ihop_reddit_spark.datapipe.dedup import (
    dedup_exact,
    exact_duplicates,
    minhash_near_dup,
    ngram_jaccard_pairs,
    simhash_candidates,
    word_shingles,
)
from ihop_reddit_spark.datapipe.similarity import (
    brute_force_knn,
    build_ivf_index,
    ivf_knn,
    lsh_knn,
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("lazy", "sleepy")),  # near dup
        (4, "completely different text about spark query engines at scale"),
        (5, "another unrelated document mentioning benchmarks and joins"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], "text string")
    out = df.select(word_shingles(F.col("text"), 3).alias("sh")).collect()
    assert out[0].sh == ["a b c", "b c d"]
    assert out[1].sh == ["x y"]  # short doc → whole text as one shingle


def test_exact_duplicates(near_dup_docs):
    groups = exact_duplicates(near_dup_docs, "text", "doc_id")
    dup = groups.where(F.col("n_dups") > 1).collect()
    assert len(dup) == 1 and dup[0].keep_id == 1 and dup[0].n_dups == 2
    assert dedup_exact(near_dup_docs, "text").count() == 4


def test_ngram_jaccard_finds_near_dups(near_dup_docs):
    pairs = ngram_jaccard_pairs(near_dup_docs, "text", "doc_id", threshold=0.3)
    got = {(r.left_id, r.right_id): r.jaccard for r in pairs.collect()}
    assert got[(1, 2)] == 1.0          # exact dup
    assert (1, 3) in got               # near dup survives
    assert (1, 4) not in got           # unrelated below threshold


def _jaccard_rows(df, **kw):
    """Sorted rows of ``ngram_jaccard_pairs`` and whether its plan joins
    (the Catalyst path) rather than reading a local relation (the driver
    path)."""
    out = ngram_jaccard_pairs(df, "text", "doc_id", **kw)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    return sorted(map(tuple, out.collect())), "Join" in plan


def test_ngram_jaccard_null_text_has_no_shingles(spark, monkeypatch):
    """Null text has no shingles on either side of the driver guard, as
    in the DuckDB oracle's CTEs: ids 1 and 2 (null) and 3 (empty) pair
    with nobody, and the other rows equal the oracle's. MinHash skips
    null text too (its LSH rejects a document with no shingles)."""
    import duckdb

    from ihop_reddit_spark.datapipe import dedup
    from ihop_reddit_spark.plans.query_catalog import _jaccard_ctes

    rows = [
        (1, None),
        (2, None),
        (3, ""),
        (4, "the cat sat on the mat"),
        (5, "The cat sat on the  mat"),
        (6, "short"),
        (7, "SHORT"),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = sorted(
        con.sql(f"WITH {_jaccard_ctes('documents', 0.0)} SELECT * FROM jpairs").fetchall()
    )
    assert oracle and all(r[0] > 3 for r in oracle)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for guard in (0, dedup.MAX_LOCAL_DOCS):
        with monkeypatch.context() as m:
            m.setattr(dedup, "MAX_LOCAL_DOCS", guard)
            got, joins = _jaccard_rows(df, threshold=0.0)
        assert joins == (guard == 0)
        assert got == oracle
    mh = minhash_near_dup(df, "text", "doc_id", jaccard_threshold=0.3).collect()
    assert all(r.left_id > 2 for r in mh)


@pytest.mark.parametrize("case", ["duplicate_ids", "null_ids", "pair_budget"])
def test_ngram_jaccard_falls_back_to_the_catalyst_plan(spark, monkeypatch, case):
    """Inputs numpy cannot repeat exactly take the Catalyst plan, with the
    rows it gives at a guard of 0: repeated or null ids, and more posting
    pairs than the driver budget."""
    from ihop_reddit_spark.datapipe import dedup

    rows = [(1, "a b c d"), (2, "a b c e"), (3, "x a b c")]
    if case == "duplicate_ids":
        rows.append((2, "a b c d"))
    elif case == "null_ids":
        rows.append((None, "a b c d"))
    else:
        monkeypatch.setattr(dedup, "MAX_LOCAL_POSTING_PAIRS", 2)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got, joins = _jaccard_rows(df, threshold=0.0)
    assert joins
    with monkeypatch.context() as m:
        m.setattr(dedup, "MAX_LOCAL_DOCS", 0)
        assert _jaccard_rows(df, threshold=0.0) == (got, True)
    assert got


def test_prepare_corpus_job_count(spark, sf_dir, count_jobs):
    """Corpus prep with its near-dup tier on the driver: the gated Jaccard
    collect, the components collect and the survivor scan take 7 Spark
    jobs (16 when the shingle self-join ran in Spark)."""
    from ihop_reddit_spark.caching import release_scoped_persists
    from ihop_reddit_spark.plans.corpus_prep import prepare_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def run():
        out = prepare_corpus(docs)
        rows = out.collect()
        release_scoped_persists(out)
        return rows

    rows, n = count_jobs(run)
    assert rows
    assert n <= 7, n


@pytest.mark.slow
def test_ngram_jaccard_df_cap(spark, near_dup_docs):
    """max_shingle_df bounds the self-join's worst key. Non-binding cap →
    bit-identical output; binding cap drops the common shingle from the
    JOIN stream only (sizes stay exact), so Jaccard can only DECREASE —
    pairs may be missed, never falsely added."""
    uncapped = sorted(
        map(tuple, ngram_jaccard_pairs(
            near_dup_docs, "text", "doc_id", threshold=0.3
        ).collect())
    )
    loose = sorted(
        map(tuple, ngram_jaccard_pairs(
            near_dup_docs, "text", "doc_id", threshold=0.3,
            max_shingle_df=1000,
        ).collect())
    )
    assert loose == uncapped  # cap above every df → identical

    # every doc shares the boilerplate prefix; cap=2 drops those shingles
    boiler = "terms of service apply to this page"
    rows = [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " alpha beta gamma epsilon"),
        (3, boiler + " zeta eta theta iota"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {
        (r.left_id, r.right_id): r.jaccard
        for r in ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.1).collect()
    }
    capped = {
        (r.left_id, r.right_id): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", threshold=0.1, max_shingle_df=2
        ).collect()
    }
    assert set(capped) <= set(full)  # precision: no new pairs
    for k, j in capped.items():
        assert j <= full[k] + 1e-12  # jaccard only decreases
    # the boilerplate-only pair (1,3)/(2,3) loses its shared shingles and
    # drops out; the genuinely-similar pair (1,2) survives the cap
    assert (1, 2) in capped


def test_simhash_candidates(near_dup_docs):
    cand = simhash_candidates(near_dup_docs, "text", "doc_id")
    got = {(r.left_id, r.right_id) for r in cand.collect()}
    assert (1, 2) in got               # identical signature → candidate
    assert (1, 3) in got               # 1-word change → ≥1 band matches


def test_minhash_near_dup(near_dup_docs):
    pairs = minhash_near_dup(
        near_dup_docs, "text", "doc_id", jaccard_threshold=0.3
    )
    got = {(r.left_id, r.right_id) for r in pairs.collect()}
    assert (1, 2) in got


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_brute_force_knn_matches_numpy(embeddings):
    queries = embeddings.where(F.col("vec_id") < 3)
    out = brute_force_knn(embeddings, queries, k=5)
    got = {
        (r.query_id, r.rank): r.neighbor_id for r in out.collect()
    }
    rows = embeddings.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for q in range(3):
        qi = int(np.where(ids == q)[0][0])
        sims = mat @ mat[qi]
        order = [
            int(ids[j])
            for j in np.argsort(-sims)
            if ids[j] != q
        ][:5]
        spark_order = [got[(q, r)] for r in range(1, 6)]
        assert spark_order == order


@pytest.mark.slow
def test_ivf_knn_recall(embeddings):
    queries = embeddings.where(F.col("vec_id") < 5)
    exact = brute_force_knn(embeddings, queries, k=5)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assigned, model = build_ivf_index(embeddings, n_centroids=8, seed=1)
    approx = ivf_knn(assigned, model, queries, k=5, nprobe=4)
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / 5 for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.6  # nprobe=4/8 cells


def _ivf_model_topk(assigned, centers, queries, k, nprobe):
    """numpy model of ``ivf_knn``: probe cells by a stable argsort of
    −cosine to the centroids, then the exact double-cosine top-k inside
    those cells (self excluded), ties broken by id. Dots are summed in
    order, as Spark's fold does, so the cosines match bit for bit."""
    rows = assigned.select("vec_id", "centroid_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    cells = np.array([r.centroid_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
    C = np.asarray(centers, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    out = []
    for q in queries.select("vec_id", "embedding").collect():
        v = np.asarray(q.embedding, dtype=np.float64)
        probe = np.argsort(-(v / np.linalg.norm(v)) @ Cn.T, kind="stable")[:nprobe]
        sel = np.isin(cells, probe) & (ids != q.vec_id)
        dots = np.cumsum(mat[sel] * v, axis=1)[:, -1]
        cos = dots / (np.sqrt(np.cumsum(v * v)[-1]) * norms[sel])
        order = np.lexsort((ids[sel], -cos))[:k]
        out += [
            (q.vec_id, int(ids[sel][j]), float(cos[j]), rank)
            for rank, j in enumerate(order, start=1)
        ]
    return sorted(out)


@pytest.mark.slow
def test_ivf_knn_matches_numpy_model(embeddings):
    """``ivf_knn`` returns the numpy model's rows, computes its probes in
    ``mapInPandas`` (no query row visits the driver) and forces no
    broadcast: with auto-broadcast off, no BroadcastExchange remains."""
    queries = embeddings.where(F.col("vec_id") < 50)
    assigned, model = build_ivf_index(embeddings, n_centroids=8, seed=1)
    got = ivf_knn(assigned, model, queries, k=5, nprobe=4)
    assert sorted(map(tuple, got.collect())) == _ivf_model_topk(
        assigned, model.clusterCenters(), queries, k=5, nprobe=4
    )

    spark = embeddings.sparkSession
    spark.catalog.clearCache()  # cached IMRs embed old broadcast plans
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            ivf_knn(assigned, model, queries, k=5, nprobe=4).explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "MapInPandas" in plan
    assert "BroadcastExchange" not in plan, plan


@pytest.mark.slow
def test_persisted_ivf_pq_index_probes_like_the_model(embeddings, tmp_path):
    """An IVF-PQ index written with its centroids and read back in place
    of the fitted model returns the in-memory probe's rows."""
    from ihop_reddit_spark.datapipe.similarity import (
        ivf_pq_knn,
        pq_encode,
        read_ivf_centroids,
        read_pq_index,
        train_pq_codebooks,
        write_ivf_centroids,
        write_pq_index,
    )

    spark = embeddings.sparkSession
    queries = embeddings.where(F.col("vec_id") < 20)
    assigned, model = build_ivf_index(embeddings, n_centroids=8, seed=1)
    books = train_pq_codebooks(embeddings, m=8, n_codes=16)
    encoded = assigned.join(pq_encode(embeddings, books), "vec_id")
    write_pq_index(spark, encoded, books, str(tmp_path / "pq"))
    write_ivf_centroids(spark, model, str(tmp_path / "centroids"))

    index, read_books = read_pq_index(spark, str(tmp_path / "pq"))
    cents = read_ivf_centroids(spark, str(tmp_path / "centroids"))
    kw = dict(k=5, nprobe=4, rerank=20)
    persisted = ivf_pq_knn(index, cents, read_books, queries, **kw)
    in_memory = ivf_pq_knn(encoded, model, books, queries, **kw)
    want = sorted(map(tuple, in_memory.collect()))
    assert len(want) == 20 * 5
    assert sorted(map(tuple, persisted.collect())) == want


def test_scoped_persist_handle_releases_caches(near_dup_docs):
    from ihop_reddit_spark.caching import release_scoped_persists
    from ihop_reddit_spark.datapipe.dedup import simhash_candidates

    out = simhash_candidates(near_dup_docs, "text", "doc_id")
    out.count()  # materialize (and populate the scoped cache)
    released = release_scoped_persists(out)
    assert released == 1
    # idempotent: second release finds nothing
    assert release_scoped_persists(out) == 0
    # derived frames carry no handle
    assert release_scoped_persists(out.limit(1)) == 0


def test_query_side_driver_guard(embeddings, monkeypatch, count_jobs):
    from ihop_reddit_spark.datapipe import similarity

    queries = embeddings.where(F.col("vec_id") < 5)
    # building the plan reads the query side with one guarded collect
    _, n = count_jobs(lambda: brute_force_knn(embeddings, queries, k=2))
    assert n == 1
    monkeypatch.setattr(similarity, "MAX_DRIVER_QUERIES", 3)
    with pytest.raises(ValueError, match="driver guard"):
        brute_force_knn(embeddings, queries, k=2)
    monkeypatch.setattr(similarity, "MAX_DRIVER_QUERIES", 5)
    assert brute_force_knn(embeddings, queries, k=2).count() == 10


def test_lsh_knn_runs(embeddings):
    qvec = embeddings.where(F.col("vec_id") == 0).first().embedding
    out = lsh_knn(embeddings, [float(x) for x in qvec], k=3)
    assert out.count() == 3


def test_embedding_near_dup_exact_and_lsh_recall(spark):
    import random

    from ihop_reddit_spark.datapipe.dedup import (
        embedding_near_dup,
        embedding_near_dup_lsh,
    )

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(20)]
    rows = []
    vid = 0
    for vec in base:
        rows.append((vid, [float(x) for x in vec]))
        vid += 1
    # 5 jittered near-duplicates of the first 5 bases
    for i in range(5):
        rows.append(
            (vid, [float(x + rng.uniform(-0.01, 0.01)) for x in base[i]])
        )
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = embedding_near_dup(df, cosine_threshold=0.99).collect()
    exact_pairs = {(r["left_id"], r["right_id"]) for r in exact}
    assert exact_pairs == {(i, 20 + i) for i in range(5)}
    assert all(r["cosine"] >= 0.99 for r in exact)

    # LSH discovery tier must recover every exact pair (generous buckets)
    lsh = embedding_near_dup_lsh(
        df, cosine_threshold=0.99, bucket_length=1.0, num_hash_tables=8
    ).collect()
    lsh_pairs = {(r["left_id"], r["right_id"]) for r in lsh}
    assert exact_pairs <= lsh_pairs


def test_vector_sum_by_group_closed_form(spark):
    from ihop_reddit_spark.operators.aggregates import vector_sum_by_group

    df = spark.createDataFrame(
        [
            ("a", [1.0, 2.0]),
            ("a", [3.0, -1.0]),
            ("b", [0.5, 0.25]),
        ],
        "label string, embedding array<float>",
    )
    out = {
        (r["label"], r["pos"]): r["qsum"]
        for r in vector_sum_by_group(df, "label", "embedding").collect()
    }
    s = 1 << 24
    assert out == {
        ("a", 1): 4 * s,
        ("a", 2): 1 * s,
        ("b", 1): s // 2,
        ("b", 2): s // 4,
    }


@pytest.mark.slow
def test_ivf_index_partition_pruning(spark, sf_dir, tmp_path):
    import io
    from contextlib import redirect_stdout

    from ihop_reddit_spark.datapipe.similarity import (
        build_ivf_index,
        ivf_knn,
        read_ivf_index,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned, model = build_ivf_index(emb, n_centroids=4, seed=100)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, path)

    pruned = read_ivf_index(spark, path, cells=[0, 1])
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    # pruned read only contains the probed cells
    cells = {r["centroid_id"] for r in pruned.select("centroid_id").distinct().collect()}
    assert cells <= {0, 1}

    # kNN over the on-disk index returns the same answers as the in-memory one
    queries = emb.where(F.col("vec_id") % 100 == 0)
    from_disk = ivf_knn(read_ivf_index(spark, path), model, queries, k=3, nprobe=2)
    in_mem = ivf_knn(assigned, model, queries, k=3, nprobe=2)
    assert sorted(map(tuple, from_disk.collect())) == sorted(map(tuple, in_mem.collect()))


@pytest.mark.slow
def test_duplicate_components_union_find(spark, monkeypatch):
    from ihop_reddit_spark.datapipe import dedup
    from ihop_reddit_spark.datapipe.dedup import duplicate_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 1)],
        "left_id long, right_id long",
    )
    out = {r["doc_id"]: r["component_id"] for r in duplicate_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}
    # above the guard: star contraction to a fixpoint, same output
    monkeypatch.setattr(dedup, "MAX_DRIVER_EDGES", 0)
    routed = {
        r["doc_id"]: r["component_id"]
        for r in duplicate_components(pairs).collect()
    }
    assert routed == out


def test_distributed_components_raise_when_not_converged(spark, monkeypatch):
    """A 5-node chain needs more than one contraction round; with one
    allowed and the driver guard at 0, the loop never sees a fingerprint
    match and must raise its own error."""
    from ihop_reddit_spark.datapipe import dedup

    monkeypatch.setattr(dedup, "MAX_DRIVER_EDGES", 0)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "left_id long, right_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_components(pairs, max_iterations=1)


def test_components_under_the_guard_take_two_jobs(spark, count_jobs):
    """Under the guard: one guarded collect (the distinct's shuffle-map
    job and its result job), no fingerprint, no contraction round."""
    from ihop_reddit_spark.datapipe.dedup import duplicate_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 1)], "left_id long, right_id long"
    )
    out, n = count_jobs(lambda: duplicate_components(pairs))
    assert n <= 2
    assert out._cc_rounds == 0


def test_components_of_ngram_pairs_match_across_the_guard(spark, sf_dir, monkeypatch):
    """The star path on real n-gram pairs: the same rows with the guard at
    0 (contraction to a fixpoint) as at its default (driver union-find)."""
    from ihop_reddit_spark.caching import release_scoped_persists
    from ihop_reddit_spark.datapipe import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)
    pairs = raw.localCheckpoint()  # one pair join for both runs
    release_scoped_persists(raw)

    def components():
        return {tuple(r) for r in dedup.duplicate_components(pairs).collect()}

    driver = components()
    monkeypatch.setattr(dedup, "MAX_DRIVER_EDGES", 0)
    assert components() == driver
    assert any(d != c for d, c in driver)  # the fixture has near-dups


@pytest.mark.slow
def test_prepare_corpus_stage_semantics(spark):
    from ihop_reddit_spark.plans.corpus_prep import CorpusPrepConfig, prepare_corpus

    good = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows = [
        (1, good),                                   # survives
        (2, good),                                   # exact dup of 1 → dropped
        (3, good + " again"),                        # near-dup of 1 → dropped
        (4, "1 2 3 4 5 6 7 8 9 10 11 12"),           # digit junk → quality gate
        (5, "el la de que y en los ocho palabras mas aqui ahora"),  # es → lang gate
        (6, "short text"),                           # < min_tokens
        (7, "a completely different sentence with many other plain common words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in prepare_corpus(df, CorpusPrepConfig()).collect()}
    assert set(out) == {1, 7}
    assert out[1]["n_tokens"] == len(good.split())
    assert out[1]["bpe_tokens"] > 0


@pytest.mark.slow
def test_prepare_corpus_releases_every_scoped_persist(spark):
    """The composed plan must not leak executor cache: the shingle
    stream persisted inside the pairs tier is released by the star
    contraction that consumes it, and releasing the RESULT's handle
    frees the exact-dedup frame — Spark's DataFrame cache manager ends
    the run empty (localCheckpoint blocks are RDD-grain, not cached
    DataFrames, and are reclaimed by the ContextCleaner)."""
    from ihop_reddit_spark.caching import release_scoped_persists
    from ihop_reddit_spark.plans.corpus_prep import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    spark.catalog.clearCache()
    base = "the quick brown fox jumps over the lazy dog near the river "
    rows = [(i, base + f"variant {i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = prepare_corpus(df, CorpusPrepConfig())
    out.collect()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert not cache_mgr.isEmpty()  # the exact frame is still held
    assert release_scoped_persists(out) == 1
    assert cache_mgr.isEmpty(), "scoped persists leaked past release"


def test_int8_embedding_roundtrip_error_bound(spark, sf_dir):
    from pyspark.sql import functions as F2

    from ihop_reddit_spark.functions.vectors import dequantize_int8, quantize_int8

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    packed = emb.select(
        "vec_id", "embedding", quantize_int8(F2.col("embedding")).alias("p")
    )
    restored = packed.select(
        "vec_id",
        "embedding",
        dequantize_int8(F2.col("p")).alias("back"),
        F2.col("p.scale").alias("scale"),
    )
    for r in restored.collect():
        for orig, back in zip(r["embedding"], r["back"]):
            assert abs(float(orig) - back) <= r["scale"] / 2 + 1e-12
    # storage shape: int8 payload + one double
    row = packed.select("p").head()
    assert all(-128 <= v <= 127 for v in row["p"]["q"])


@pytest.mark.slow
def test_empty_input_robustness(spark):
    from pyspark.sql import functions as F2

    from ihop_reddit_spark.datapipe.dedup import (
        duplicate_components,
        embedding_near_dup,
        ngram_jaccard_pairs,
    )
    from ihop_reddit_spark.datapipe.similarity import brute_force_knn

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).count() == 0

    pairs = spark.createDataFrame([], "left_id long, right_id long")
    assert duplicate_components(pairs).count() == 0

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embedding_near_dup(empty_emb, cosine_threshold=0.5).count() == 0
    # zero queries against a non-empty corpus
    no_queries = emb.where(F2.col("vec_id") > 100)
    assert brute_force_knn(emb, no_queries, k=3).count() == 0
    # zero corpus against real queries
    assert brute_force_knn(empty_emb, emb, k=3).count() == 0


def test_blocked_pair_scores_cross_block_pairs(spark):
    """Regression: pairs whose ids land in different hash blocks must not be
    dropped (the off-diagonal block join sees them in hash order, not id
    order)."""
    import itertools

    from ihop_reddit_spark.datapipe.similarity import blocked_pair_scores

    # 8 identical vectors → every unordered pair must be reported, for any
    # block count
    rows = [(i, [1.0, 2.0, 3.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    expected = {(a, b) for a, b in itertools.combinations(range(8), 2)}
    for n_blocks in (1, 2, 4, 8):
        got = {
            (r["left_id"], r["right_id"])
            for r in blocked_pair_scores(df, 0.99, n_blocks=n_blocks).collect()
        }
        assert got == expected, f"n_blocks={n_blocks}: missing {expected - got}"


def test_constraint_report_single_pass(spark):
    from ihop_reddit_spark.datapipe.quality import (
        constraint_report,
        referential_violations,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "O"), (2, -5.0, "X"), (2, 0.0, None), (4, 3.0, "F")],
        "k long, price double, status string",
    )
    rep = constraint_report(
        df,
        violations={
            "price_nonpositive": F.col("price") <= 0,
            "status_invalid": F.col("status").isNull()
            | ~F.col("status").isin("O", "F"),
        },
        unique_keys={"k_dup": ["k"]},
    )
    got = {r["rule"]: (r["violations"], r["n_rows"]) for r in rep.collect()}
    assert got == {
        "price_nonpositive": (2, 4),
        "status_invalid": (2, 4),
        "k_dup": (1, 4),
    }

    parent = spark.createDataFrame([(1,), (2,)], "k long")
    fk = referential_violations(df, parent, ["k"]).collect()[0]
    assert (fk["rule"], fk["violations"], fk["n_rows"]) == ("fk_orphans", 1, 4)


# ---------------------------------------------------------------------------
# incremental MinHash index
# ---------------------------------------------------------------------------
@pytest.mark.slow
def test_incremental_minhash_index_finds_cross_batch_dups(spark, tmp_path):
    from ihop_reddit_spark.datapipe.dedup import (
        build_minhash_index,
        incremental_minhash_candidates,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    history = spark.createDataFrame(
        [
            (1, base),
            (2, "completely different text about spark query engines at scale"),
            (3, "another unrelated document mentioning benchmarks and joins"),
        ],
        "doc_id long, text string",
    )
    new_batch = spark.createDataFrame(
        [
            (101, base),                                  # exact dup of 1
            (102, base.replace("lazy", "sleepy")),        # near dup of 1
            (103, "a genuinely novel document with fresh content entirely"),
        ],
        "doc_id long, text string",
    )
    table = "mh_index_test"
    # 8 bands x 2 rows: this fixture's near-dup pair (jaccard ~ 0.54)
    # deterministically shares 2 bands (hashes are fixed — measured, pinned)
    build_minhash_index(
        history, "text", "doc_id", table, str(tmp_path / "mh_index"),
        num_bands=8,
    )
    try:
        cand = incremental_minhash_candidates(
            spark, new_batch, "text", "doc_id", table, num_bands=8
        )
        got = {(r.new_id, r.indexed_id) for r in cand.collect()}
        assert (101, 1) in got          # identical text always collides
        assert (102, 1) in got          # 1-word change shares >= 1 band
        assert all(n != 103 for n, _ in got)  # novel doc matches nothing

        # determinism across independent computations (the storability
        # contract): identical signatures for identical text
        s1 = minhash_signatures(history, "text", "doc_id").collect()
        s2 = minhash_signatures(history, "text", "doc_id").collect()
        assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_minhash_join_is_bucket_local(spark, sf_dir, tmp_path):
    """The index side must stream out of its buckets with no Exchange —
    the whole point of persisting it bucketed."""
    import io
    from contextlib import redirect_stdout

    from ihop_reddit_spark.datapipe.dedup import (
        build_minhash_index,
        incremental_minhash_candidates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    table = "mh_index_plan_test"
    build_minhash_index(
        docs, "text", "doc_id", table, str(tmp_path / "mh_index_plan")
    )
    try:
        cand = incremental_minhash_candidates(
            spark, docs.limit(50), "text", "doc_id", table
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            cand.explain("formatted")
        plan = buf.getvalue()
        scan = plan.split("Scan parquet")[-1]  # the index-table scan branch
        assert "Bucketed: true" in scan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


@pytest.mark.slow
def test_incremental_winnow_index_roundtrip_and_bucket_local(
    spark, sf_dir, tmp_path
):
    """Winnow index: the bucketed-table path returns the same pairs as
    the in-frame path (the oracle contract), and the index side streams
    out of its buckets with no Exchange."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from ihop_reddit_spark.datapipe.dedup import (
        build_winnow_index,
        incremental_winnow_candidates,
        winnow_index_rows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    table = "winnow_index_test"
    build_winnow_index(
        hist, "text", "doc_id", table, str(tmp_path / "wn_index")
    )
    try:
        from_table = incremental_winnow_candidates(
            spark, new, "text", "doc_id", table, min_shared=5
        )
        in_frame = incremental_winnow_candidates(
            spark, new, "text", "doc_id",
            winnow_index_rows(hist, "text", "doc_id"), min_shared=5,
        )
        assert sorted(map(tuple, from_table.collect())) == sorted(
            map(tuple, in_frame.collect())
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            from_table.explain("formatted")
        plan = buf.getvalue()
        scan = plan.split("Scan parquet")[-1]
        assert "Bucketed: true" in scan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# ---------------------------------------------------------------------------
# Product quantization (IVFADC + refine)
# ---------------------------------------------------------------------------
def test_pq_codebooks_deterministic_and_encode_shapes(spark):
    import numpy as np

    from ihop_reddit_spark.datapipe.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = train_pq_codebooks(emb, m=8, n_codes=16)
    b = train_pq_codebooks(emb, m=8, n_codes=16)
    assert np.array_equal(a, b)  # pure function of the corpus
    assert a.shape == (8, 16, 8)  # 64-d → 8 subspaces of 8
    enc = pq_encode(emb, a).collect()
    assert len(enc) == emb.count()
    for r in enc:
        assert len(r["pq_codes"]) == 8
        assert all(0 <= c < 16 for c in r["pq_codes"])


@pytest.mark.slow
def test_ivf_pq_rerank_recovers_planted_duplicate(spark):
    import pyspark.sql.functions as F

    from ihop_reddit_spark.datapipe.similarity import (
        build_ivf_index,
        ivf_pq_knn,
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # plant an exact duplicate of vec 0 under a fresh id
    dup = emb.where("vec_id = 0").withColumn("vec_id", F.lit(999_999).cast("long"))
    corpus = emb.unionByName(dup)
    assigned, model = build_ivf_index(corpus, n_centroids=8, seed=100)
    books = train_pq_codebooks(corpus, m=8, n_codes=16)
    encoded = assigned.join(pq_encode(assigned, books), "vec_id")
    out = ivf_pq_knn(
        encoded, model, books, emb.where("vec_id = 0"), k=3, nprobe=4
    ).collect()
    # identical vectors share every cell and every code; the exact rerank
    # puts the planted duplicate at rank 1 with cosine ~1
    top = sorted(out, key=lambda r: -r["cosine"])[0]
    assert top["neighbor_id"] == 999_999
    assert top["cosine"] > 0.999999


@pytest.mark.slow
def test_pq_index_round_trip(spark, tmp_path):
    import numpy as np
    import pyspark.sql.functions as F

    from ihop_reddit_spark.datapipe.similarity import (
        build_ivf_index,
        pq_encode,
        read_pq_index,
        train_pq_codebooks,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned, _ = build_ivf_index(emb, n_centroids=4, seed=100)
    books = train_pq_codebooks(emb, m=8, n_codes=16)
    encoded = assigned.join(pq_encode(assigned, books), "vec_id")
    path = str(tmp_path / "pq_index")
    write_pq_index(spark, encoded, books, path)
    got_df, got_books = read_pq_index(spark, path)
    assert np.array_equal(got_books, books)
    want = {(r["vec_id"], tuple(r["pq_codes"])) for r in encoded.collect()}
    got = {(r["vec_id"], tuple(r["pq_codes"])) for r in got_df.collect()}
    assert got == want
    # probe-cell pruning restricts rows to those cells
    cells = [0, 1]
    pruned, _ = read_pq_index(spark, path, cells=cells)
    assert {r["centroid_id"] for r in pruned.collect()} <= set(cells)


def test_dedup_keep_best_keeps_best_scored_member(spark):
    from pyspark.sql import functions as F

    from ihop_reddit_spark.datapipe.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [
            (1, "short", 5),
            (2, "the long version of it", 22),   # best in {1,2,3}
            (3, "longish one", 11),
            (4, "singleton untouched", 19),
            (5, "tie a", 5), (6, "tie b", 5),    # tie → lowest id (5)
        ],
        ["doc_id", "text", "n_chars"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["left_id", "right_id"]
    )
    got = sorted(
        r["doc_id"]
        for r in dedup_keep_best(
            docs, pairs, "doc_id", score=F.col("n_chars")
        ).collect()
    )
    assert got == [2, 4, 5]


@pytest.mark.slow
def test_simhash_arrow_path_matches_catalyst_bits(spark):
    from pyspark.sql import functions as F

    from ihop_reddit_spark.datapipe.dedup import simhash_signatures_arrow
    from ihop_reddit_spark.functions.text import simhash64

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    a = docs.select(
        F.col("doc_id").alias("__id"),
        simhash64(F.col("text")).alias("__cat"),
    )
    b = simhash_signatures_arrow(docs, "text", "doc_id")
    j = a.join(b, "__id")
    assert j.where(F.col("__cat") != F.col("__sig")).count() == 0
    assert j.count() == docs.count()


def test_simhash_arrow_null_text_yields_null_signature(spark):
    from ihop_reddit_spark.datapipe.dedup import simhash_signatures_arrow

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, None)],
        "doc_id long, text string",
    )
    got = {r["__id"]: r["__sig"]
           for r in simhash_signatures_arrow(df, "text", "doc_id").collect()}
    assert got[1] is not None
    # null text -> null signature (never equi-joins in the band stage) —
    # two null-text docs must NOT look like near-duplicates
    assert got[2] is None and got[3] is None


def test_dedup_keep_best_custom_id_col(spark):
    from pyspark.sql import functions as F

    from ihop_reddit_spark.datapipe.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [(10, 5), (11, 9), (12, 3)], ["asset_id", "quality"]
    )
    pairs = spark.createDataFrame([(10, 11)], ["left_id", "right_id"])
    got = sorted(
        r["asset_id"]
        for r in dedup_keep_best(
            df, pairs, "asset_id", score=F.col("quality")
        ).collect()
    )
    assert got == [11, 12]


@pytest.mark.slow
def test_dedup_keep_best_string_ids_and_text_col_param(spark):
    """ADVICE r3: ids only need to be ORDERABLE (no negation), and the
    default score's text column is parameterized."""
    from ihop_reddit_spark.datapipe.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [
            ("a", "xx"),
            ("b", "the much longer body wins"),
            ("c", "solo"),
            ("d", "tie"), ("e", "tie"),  # tie -> lexicographically lowest
        ],
        ["uid", "body"],
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("d", "e")], ["left_id", "right_id"]
    )
    got = sorted(
        r["uid"]
        for r in dedup_keep_best(
            df, pairs, "uid", text_col="body"
        ).collect()
    )
    assert got == ["b", "c", "d"]
    # non-broadcast fallback gives identical results
    got2 = sorted(
        r["uid"]
        for r in dedup_keep_best(
            df, pairs, "uid", text_col="body", broadcast_drops=False
        ).collect()
    )
    assert got2 == got


@pytest.mark.slow
def test_scd2_apply_duplicate_delta_keys_one_open_row(spark):
    """ADVICE r3: duplicate keys within one delta batch must resolve to
    ONE open row per key (deterministic max-struct pick), for both
    existing and brand-new keys."""
    from pyspark.sql import functions as F

    from ihop_reddit_spark.operators.setops import scd2_apply, scd2_init

    snap = spark.createDataFrame([(1, "A"), (2, "B")], ["k", "seg"])
    hist = scd2_init(snap, ["k"], ["seg"], valid_from=0)
    delta = spark.createDataFrame(
        [(1, "X"), (1, "Y"), (3, "N1"), (3, "N2")], ["k", "seg"]
    )
    for bcast in (True, False):
        out = scd2_apply(
            hist, delta, ["k"], ["seg"], eff=5, broadcast_delta=bcast
        )
        open_rows = out.where("is_current").orderBy("k").collect()
        assert [(r["k"], r["seg"]) for r in open_rows] == [
            (1, "Y"), (2, "B"), (3, "N2"),  # max(struct) pick: Y, N2
        ]
        closed = out.where("NOT is_current").collect()
        assert [(r["k"], r["seg"], r["valid_to"]) for r in closed] == [
            (1, "A", 5)
        ]


def test_dedup_keep_best_all_null_scores_still_canonicalizes(spark):
    """Review r4: a component whose members ALL have NULL scores must
    still collapse to one survivor (id tie-break), not silently skip."""
    from pyspark.sql import functions as F

    from ihop_reddit_spark.datapipe.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "ok")],
        "doc_id long, q string",
    )
    pairs = spark.createDataFrame([(1, 2)], ["left_id", "right_id"])
    got = sorted(
        r["doc_id"]
        for r in dedup_keep_best(
            df, pairs, "doc_id", score=F.length("q")
        ).collect()
    )
    assert got == [1, 3]


def test_scd2_apply_rejects_empty_tracked(spark):
    import pytest as _pytest

    from ihop_reddit_spark.operators.setops import scd2_apply, scd2_init

    snap = spark.createDataFrame([(1, "A")], ["k", "seg"])
    hist = scd2_init(snap, ["k"], ["seg"])
    with _pytest.raises(ValueError, match="tracked"):
        scd2_apply(hist, snap, ["k"], [], eff=1)


@pytest.mark.slow
def test_ivf_append_and_crosssession_probe(spark, tmp_path):
    """Incremental IVF: append a new batch to a persisted index via the
    model-free centroid assignment, then probe with centroids read back
    from parquet — the 'index keeps growing across sessions' contract."""
    import numpy as np
    from pyspark.sql import functions as F

    from ihop_reddit_spark.datapipe.similarity import (
        assign_to_centroids,
        build_ivf_index,
        ivf_append,
        ivf_knn,
        read_ivf_centroids,
        read_ivf_index,
        write_ivf_centroids,
        write_ivf_index,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    assigned, model = build_ivf_index(old, n_centroids=8, seed=100)
    corpus_path = str(tmp_path / "corpus")
    cent_path = str(tmp_path / "centroids")
    write_ivf_index(assigned, corpus_path)
    write_ivf_centroids(spark, model, cent_path)

    # model-free assignment matches the model's own transform exactly
    cents = read_ivf_centroids(spark, cent_path)
    np.testing.assert_allclose(
        cents, np.asarray(model.clusterCenters())
    )
    via_arrow = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_to_centroids(old, cents).collect()
    }
    via_model = {
        r["vec_id"]: r["centroid_id"] for r in assigned.collect()
    }
    assert via_arrow == via_model

    ivf_append(spark, new, corpus_path, cent_path)
    merged = read_ivf_index(spark, corpus_path)
    assert merged.count() == emb.count()

    # probing the persisted index with the parquet centroids works
    queries = emb.where(F.col("vec_id") % 50 == 0)
    out = ivf_knn(merged, cents, queries, k=3, nprobe=4)
    per_q = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 3 for r in per_q)


def test_jaro_winkler_matches_duckdb_bit_exact():
    """The scorer's cross-engine contract: bit-identical doubles vs
    DuckDB's jaro_winkler_similarity (rapidfuzz conventions), so the
    raw score column can sit inside an oracle value hash."""
    import random

    import duckdb

    from ihop_reddit_spark.datapipe.dedup import jaro_winkler

    # hand-pinned classics + rapidfuzz empty-string convention
    assert jaro_winkler("MARTHA", "MARHTA") == pytest.approx(
        0.9611111111111111, abs=0
    )
    assert jaro_winkler("DIXON", "DICKSONX") == 0.8133333333333332
    assert jaro_winkler("", "") == 0.0
    assert jaro_winkler("a", "") == 0.0
    assert jaro_winkler("xy", "yx") == 0.0  # window 0 at len 2
    # below the 0.7 boost threshold the shared prefix earns nothing
    assert jaro_winkler("abcdef", "abczzzzzzzzzzzz") == 0.5666666666666667

    rng = random.Random(7)
    alph = "abcde"
    pairs = [
        (
            "".join(rng.choices(alph, k=rng.randint(0, 9))),
            "".join(rng.choices(alph, k=rng.randint(0, 9))),
        )
        for _ in range(2000)
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE p(a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO p VALUES (?,?)", pairs)
    duck = [v for (v,) in con.sql(
        "SELECT jaro_winkler_similarity(a,b) FROM p"
    ).fetchall()]
    mine = [jaro_winkler(a, b) for a, b in pairs]
    assert mine == duck  # bitwise, no tolerance


def test_jaro_winkler_scored_pairs_nulls_and_passthrough(spark):
    from ihop_reddit_spark.datapipe.dedup import (
        jaro_winkler,
        jaro_winkler_scored_pairs,
    )

    pairs = spark.createDataFrame(
        [
            (1, 2, "small ring", "small rings"),
            (3, 4, "blue bolt", None),
            (5, 6, None, None),
        ],
        "left_key long, right_key long, a string, b string",
    )
    rows = {
        (r["left_key"], r["right_key"]): r["jw"]
        for r in jaro_winkler_scored_pairs(pairs, "a", "b").collect()
    }
    assert rows[(3, 4)] is None and rows[(5, 6)] is None
    assert rows[(1, 2)] == jaro_winkler("small ring", "small rings")


def test_jaro_winkler_null_side_never_borrows_identical_pair_score(spark):
    """ADVICE r11: Spark's least/greatest SKIP nulls, so (NULL,'x')
    canonicalizes to ('x','x') and — without the isNotNull join guards
    — would borrow a genuine identical pair's 1.0 score instead of
    scoring NULL."""
    from ihop_reddit_spark.datapipe.dedup import jaro_winkler_scored_pairs

    pairs = spark.createDataFrame(
        [(1, "x", "x"), (2, None, "x"), (3, "x", None)],
        "k long, a string, b string",
    )
    out = jaro_winkler_scored_pairs(pairs, "a", "b").collect()
    assert len(out) == 3  # no join fan-out
    rows = {r["k"]: r["jw"] for r in out}
    assert rows[1] == 1.0
    assert rows[2] is None and rows[3] is None


def test_fused_star_round_matches_composed_large_small(spark):
    """The r14 fused contraction round (_star_round, 3 exchanges) must
    emit exactly the edge set of the composed _small_star(_large_star(e))
    (5 exchanges) on every round of a contraction — including inputs
    that are mid-contraction (non-canonical directions, chains, cliques,
    self-converged stars)."""
    from ihop_reddit_spark.datapipe.dedup import (
        _large_star,
        _small_star,
        _star_round,
    )

    cases = [
        # chain (the O(log n) motivation), clique, two components,
        # already-contracted star, reversed/duplicated directions
        [(i, i + 1) for i in range(8)],
        [(a, b) for a in range(5) for b in range(a + 1, 5)],
        [(1, 2), (2, 3), (10, 11), (12, 11)],
        [(5, 0), (6, 0), (7, 0)],
        [(2, 1), (1, 2), (3, 1), (9, 9 - 5)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "u long, v long")
        composed = {
            (r["u"], r["v"])
            for r in _small_star(_large_star(df)).collect()
        }
        fused = {(r["u"], r["v"]) for r in _star_round(df).collect()}
        assert fused == composed, (edges, fused, composed)
        # and iterating the fused round still reaches the same fixpoint
        cur, seen = df, 0
        while seen < 10:
            nxt_c = _small_star(_large_star(cur))
            nxt_f = _star_round(cur)
            got_c = {(r["u"], r["v"]) for r in nxt_c.collect()}
            got_f = {(r["u"], r["v"]) for r in nxt_f.collect()}
            assert got_f == got_c, (edges, seen, got_f, got_c)
            prev = {(r["u"], r["v"]) for r in cur.collect()}
            if got_c == prev:
                break
            cur = spark.createDataFrame(
                sorted(got_c) or [(0, 0)], "u long, v long"
            )
            seen += 1
