"""Similarity search over embedding columns (M6 at scale; north-star ANN).

Tiering (one implementation per operator):

* :func:`brute_force_knn` — exact top-k with the integer-quantized cosine
  (oracle-comparable). The query matrix is collected in one guarded job
  and broadcast; each Arrow batch of the corpus is scored with one numpy
  int64 GEMM. Cost is |Q|×|C| — the baseline, and the verifier for the
  approximate tiers.
* :func:`ivf_knn` — IVF: KMeans-partition the corpus, probe the ``nprobe``
  nearest centroids per query. Probe cells are computed executor-side per
  query partition (centroids ship in the closure), so no query row visits
  the driver; the probe–corpus join carries no broadcast hint (AQE
  decides). Scan cost drops to ~nprobe/k_centroids of the corpus.
* :func:`ivf_pq_knn` — IVF-PQ (IVFADC + exact rerank) on the same probe
  frame; the scan reads PQ codes, not vectors.
* :func:`blocked_pair_scores` — exact all-pairs cosine ≥ t by blocked
  GEMM (the corpus-vs-corpus shape; ``dedup.embedding_near_dup``).
* :func:`lsh_knn` — MLlib ``BucketedRandomProjectionLSH`` approxNearestNeighbors
  wrapper (per single query; use ivf for batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine, quantize
from ..operators.windows import top_k_per_group

#: "queries are the small side" is a CONTRACT for :func:`brute_force_knn` —
#: enforce it like every other driver materialization in this engine
#: (EmbeddingMatrix.from_vectors_df, tsne_project) instead of trusting the
#: caller. Read at call time.
MAX_DRIVER_QUERIES = 200_000


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    The cosine is the integer-quantized one (bit-stable across engines and
    partitionings — oracle-comparable). Self-matches (same id) and
    zero-norm vectors are excluded. Ties break by neighbor id.

    The query matrix is collected (queries are the small side BY CONTRACT,
    at most :data:`MAX_DRIVER_QUERIES` rows) and each corpus partition is
    scored with one numpy int64 matmul in ``mapInPandas``; each Arrow batch
    pre-reduces to its local top-k per query (same (cosine desc, id asc)
    order), so the final window sees k·n_batches rows per query instead
    of |C|.
    """
    return top_k_per_group(
        _gemm_query_scores(corpus, queries, k, id_col, vec_col, query_id_col),
        query_id_col,
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
    )


def _gemm_query_scores(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """(query_id, neighbor_id, cosine) candidates: one int64 GEMM per Arrow
    batch of the corpus against the collected query matrix, pre-reduced to
    the per-batch top-k per query under (cosine desc, neighbor asc).

    The query side is read with one ``limit(MAX_DRIVER_QUERIES + 1)``
    Arrow collect (one Spark job); a query side past the guard raises."""
    import numpy as np
    import pandas as pd

    from ..ml.clustering import vectors_matrix

    limit = MAX_DRIVER_QUERIES
    table = (
        queries.select(
            F.col(id_col).alias("__id"), quantize(F.col(vec_col)).alias("__qv")
        )
        .limit(limit + 1)
        .toArrow()
    )
    if table.num_rows > limit:
        raise ValueError(
            f"query side has more than {limit} rows, over the driver guard; "
            "for corpus-vs-corpus scoring use blocked_pair_scores / "
            "embedding_near_dup instead"
        )
    out_schema = f"{query_id_col} long, neighbor_id long, cosine double"
    if table.num_rows == 0:
        return corpus.sparkSession.createDataFrame([], out_schema)
    q_ids = table.column("__id").to_numpy().astype(np.int64)
    # quantized entries are far below 2^53 (the int64 GEMM needs
    # dim·v² < 2^63), so the float64 round trip is exact
    Q = vectors_matrix(table.column("__qv")).astype(np.int64)
    q_norm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, Q, q_norm))

    cq = corpus.select(
        F.col(id_col).alias("__id"), quantize(F.col(vec_col)).alias("__cv")
    )

    def score(it):
        q_ids, Q, q_norm = bq.value
        for pdf in it:
            if pdf.empty:
                continue
            c_ids = pdf["__id"].to_numpy(dtype=np.int64)
            C = np.array(pdf["__cv"].tolist(), dtype=np.int64)
            dots = Q @ C.T
            c_norm = np.sqrt((C * C).sum(axis=1).astype(np.float64))
            cos = dots.astype(np.float64) / np.outer(q_norm, c_norm)
            # exclude self-matches, then per-query local top-k with the
            # global tie order (cosine desc, neighbor id asc)
            cos[q_ids[:, None] == c_ids[None, :]] = -np.inf
            kk = min(k, cos.shape[1])
            order = np.lexsort((c_ids[None, :].repeat(len(q_ids), 0), -cos), axis=1)
            top = order[:, :kk]
            qi = np.repeat(np.arange(len(q_ids)), kk)
            ci = top.ravel()
            keep = np.isfinite(cos[qi, ci])
            yield pd.DataFrame(
                {
                    query_id_col: q_ids[qi[keep]],
                    "neighbor_id": c_ids[ci[keep]],
                    "cosine": cos[qi[keep], ci[keep]],
                }
            )

    return cq.mapInPandas(score, out_schema)


def build_ivf_index(
    corpus: DataFrame,
    n_centroids: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """Fit KMeans centroids and assign each corpus vector to its cell.

    Returns (assigned_corpus, kmeans_model). The assignment adds a
    ``centroid_id`` column — at scale, WRITE the corpus partitioned by
    ``centroid_id`` so probes prune at the file level.

    The fit stays on MLlib's distributed KMeans rather than
    ``ml.clustering.kmeans_assign``'s driver-side fit: an index is built
    over a corpus, not a vocabulary, with 256 centroids by default.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.withColumn("__features", array_to_vector(F.col(vec_col)))
    km = KMeans(k=n_centroids, seed=seed, featuresCol="__features", predictionCol="centroid_id")
    model = km.fit(feat)
    assigned = model.transform(feat).drop("__features")
    return assigned, model


def _resolve_centers(model):
    """(k, dim) centroid array from a fitted KMeansModel or from a plain
    centroid array (e.g. :func:`read_ivf_centroids`)."""
    import numpy as np

    return (
        model.clusterCenters()
        if hasattr(model, "clusterCenters")
        else np.asarray(model)
    )


def _probe_frame(
    queries: DataFrame,
    model,
    nprobe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """(query_id, __qvec, centroid_id) probe rows computed EXECUTOR-side:
    the centroid matrix rides the closure (k_centroids×dim floats — KBs),
    each query partition streams through one Arrow batch matmul, and no
    row ever visits the driver. Cell tie-break: a stable argsort of
    −cosine keeps the lower centroid id."""
    import numpy as np

    C = np.asarray(_resolve_centers(model), dtype=np.float64)
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    Cn = C / np.where(cn == 0.0, 1.0, cn)

    def probes(it):
        import pandas as pd

        for pdf in it:
            if pdf.empty:
                continue
            Q = np.array(list(pdf[vec_col]), dtype=np.float64)
            qn = np.linalg.norm(Q, axis=1, keepdims=True)
            sims = (Q / np.where(qn == 0.0, 1.0, qn)) @ Cn.T
            cells = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(
                        pdf[id_col].to_numpy(), cells.shape[1]
                    ),
                    "__qvec": [
                        v for v in pdf[vec_col] for _ in range(cells.shape[1])
                    ],
                    "centroid_id": cells.reshape(-1),
                }
            )

    return queries.select(id_col, vec_col).mapInPandas(
        probes, f"{query_id_col} long, __qvec array<float>, centroid_id int"
    )


def ivf_knn(
    assigned_corpus: DataFrame,
    model,
    queries: DataFrame,
    k: int,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: score queries only against the ``nprobe`` nearest
    centroid cells (double cosine), ties broken by neighbor id.

    ``model`` is either a fitted KMeansModel or a plain (k, dim)
    centroid array (e.g. :func:`read_ivf_centroids` — probing a
    persisted index in a session that never trained it). Probe cells come
    from :func:`_probe_frame`, so the query side has no size guard; the
    probe–corpus join shuffles on ``centroid_id`` with no forced
    broadcast (AQE decides).
    """
    probes = _probe_frame(queries, model, nprobe, id_col, vec_col, query_id_col)
    scored = (
        probes.join(assigned_corpus, "centroid_id")
        .where(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col("__qvec"), F.col(vec_col)).alias("cosine"),
        )
    )
    return top_k_per_group(
        scored,
        query_id_col,
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
    )


def lsh_knn(
    corpus: DataFrame,
    query_vec,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
    seed: int = 42,
):
    """Single-query ANN via BucketedRandomProjectionLSH (Euclidean proxy —
    on L2-normalized vectors Euclidean rank order == cosine rank order)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    feat = corpus.withColumn("__features", array_to_vector(F.col(vec_col)))
    lsh = BucketedRandomProjectionLSH(
        inputCol="__features",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(feat)
    return model.approxNearestNeighbors(feat, Vectors.dense(query_vec), k).select(
        id_col, "distCol"
    )


def blocked_pair_scores(
    df: DataFrame,
    cosine_threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1024,
    n_blocks: int | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ t via distributed blocked GEMM (id_a < id_b).

    Spark-first layout for exact O(n²) scoring: bucket rows into blocks,
    build one row per block (id array + flattened int64-quantized matrix),
    self-join blocks on ``a.blk <= b.blk`` (upper triangle), and score each
    block pair with ONE numpy int64 matmul inside ``mapInPandas``. The
    quantized integers make the numpy path bit-identical to the per-pair
    ``functions.vectors.raw_dot`` fold (dot ≤ dim·2⁴⁸ < 2⁶³ — no
    overflow), so results stay oracle-comparable, but the inner loop is
    vectorized C instead of an interpreted Catalyst fold per pair: ~20×
    faster at 5k×5k.

    Block size bounds executor memory (block_size² doubles per task); block
    count bounds parallelism — with B=1024, 100k vectors is ~4.9k balanced
    tasks. For corpora where even the triangle is too large, cut candidates
    first (``embedding_near_dup_lsh``) and verify pairs exactly.

    ``group_col`` restricts scoring to WITHIN-group pairs (the SemDeDup
    partitioned-dedup shape, ``datapipe/semantic.py``): blocks are keyed by
    (group, block) and the triangle self-join adds a group-equality
    conjunct, so cross-group pairs are never materialized and each group's
    quadratic stays bounded by its own size. Blocks-per-group is sized from
    the LARGEST group so no task exceeds block_size² regardless of skew.
    """
    import math

    import numpy as np
    import pandas as pd

    from ..functions.vectors import quantize

    if n_blocks is None:
        if group_col is None:
            n_rows = df.count()
        else:
            # size block count for the largest group — one tiny agg action
            n_rows = (
                df.groupBy(group_col)
                .count()
                .agg(F.max("count").alias("m"))
                .collect()[0]["m"]
                or 0
            )
        n_blocks = max(1, math.ceil(n_rows / block_size))

    grp = F.col(group_col) if group_col is not None else F.lit(0)
    q = df.select(
        grp.alias("__grp"),
        F.col(id_col).alias("__id"),
        quantize(F.col(vec_col)).alias("__qv"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("__blk"),
    )
    blocks = q.groupBy("__grp", "__blk").agg(
        F.collect_list(F.struct("__id", "__qv")).alias("__items")
    )
    pairs = (
        blocks.select(
            F.col("__grp").alias("a_grp"),
            F.col("__blk").alias("a_blk"),
            F.col("__items").alias("a_items"),
        )
        .join(
            blocks.select(
                F.col("__grp").alias("b_grp"),
                F.col("__blk").alias("b_blk"),
                F.col("__items").alias("b_items"),
            ),
            (F.col("a_grp") == F.col("b_grp"))
            & (F.col("a_blk") <= F.col("b_blk")),
        )
        .repartition(F.col("a_grp"), F.col("a_blk"), F.col("b_blk"))
    )

    def score(it):
        for pdf in it:
            for _, row in pdf.iterrows():
                a_ids = np.array([r["__id"] for r in row["a_items"]], dtype=np.int64)
                b_ids = np.array([r["__id"] for r in row["b_items"]], dtype=np.int64)
                a = np.array([r["__qv"] for r in row["a_items"]], dtype=np.int64)
                b = np.array([r["__qv"] for r in row["b_items"]], dtype=np.int64)
                dots = a @ b.T
                na = np.sqrt((a * a).sum(axis=1).astype(np.float64))
                nb = np.sqrt((b * b).sum(axis=1).astype(np.float64))
                cos = dots.astype(np.float64) / np.outer(na, nb)
                same_block = row["a_blk"] == row["b_blk"]
                if same_block:
                    # diagonal: each unordered pair appears once per side order
                    mask = a_ids[:, None] < b_ids[None, :]
                else:
                    # off-diagonal: blocks are disjoint and this (a_blk, b_blk)
                    # combination is the ONLY one joined (a_blk < b_blk), so
                    # every a×b pair belongs here — canonicalize ids below
                    # instead of filtering (hash order ≠ id order!)
                    mask = np.ones_like(cos, dtype=bool)
                ia, ib = np.where((cos >= cosine_threshold) & mask)
                if len(ia):
                    left = a_ids[ia]
                    right = b_ids[ib]
                    lo = np.minimum(left, right)
                    hi = np.maximum(left, right)
                    yield pd.DataFrame(
                        {"left_id": lo, "right_id": hi, "cosine": cos[ia, ib]}
                    )

    return pairs.mapInPandas(
        score, "left_id long, right_id long, cosine double"
    )


def write_ivf_index(
    assigned_corpus: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Materialize an IVF index as centroid-partitioned parquet.

    The layout IS the index: one directory per ``centroid_id``, so a probe's
    ``centroid_id IN (...)`` (or the probe join via dynamic partition
    pruning, when AQE broadcasts the probe side) prunes at the FILE
    level — a 256-cell index with nprobe=8 reads ~3% of the corpus bytes. This is what makes IVF an
    actual scale win instead of a full-scan with extra steps.
    """
    assigned_corpus.write.mode(mode).partitionBy("centroid_id").parquet(path)


def read_ivf_index(spark, path: str, cells: list[int] | None = None) -> DataFrame:
    """Read an IVF index, optionally restricted to probe cells (static
    partition pruning — check ``PartitionFilters`` in ``.explain``)."""
    df = spark.read.parquet(path)
    if cells is not None:
        df = df.where(F.col("centroid_id").isin(cells))
    return df


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011 — the FAISS IVFADC memory tier): vectors are
# stored as m sub-space code indices (m bytes instead of dim·4), distances
# are computed against per-query lookup tables (ADC), and a final exact
# rerank of the ADC shortlist restores accuracy (the "refine" stage). At
# 100 TB this is what makes the index FIT: 64-d float32 → 8 codes is a 32×
# compression of the scan payload, and the probe reads codes, not vectors.
# ---------------------------------------------------------------------------
def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 4096,
    seed: int = 100,
    iters: int = 20,
):
    """Driver-side Lloyd on a DETERMINISTIC sample (first ``sample_size``
    rows by id — the FAISS convention of training on a bounded sample,
    made reproducible). Returns codebooks ndarray (m, n_codes, dim/m).

    Deterministic end-to-end: seeded init permutation, argmin ties resolve
    to the lowest index, fixed iteration count — the same corpus always
    yields the same codebooks on any cluster.
    """
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_size)
        .collect()
    )
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, dsub))
    for b in range(m):
        Xb = X[:, b * dsub : (b + 1) * dsub]
        init = rng.permutation(len(Xb))[:n_codes]
        C = Xb[init].copy()
        for _ in range(iters):
            d2 = ((Xb[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(n_codes):
                mask = assign == j
                if mask.any():
                    C[j] = Xb[mask].mean(axis=0)
        books[b] = C
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, pq_codes array<int>) — per-subspace nearest-codeword indices.
    Arrow-batched numpy argmin per block; the codebooks ship to executors
    as a closure constant (m·n_codes·dsub floats — bytes, not data)."""
    import numpy as np
    import pandas as pd

    books = np.asarray(codebooks)
    m, _n_codes, dsub = books.shape

    def encode(it):
        for pdf in it:
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            for b in range(m):
                Xb = X[:, b * dsub : (b + 1) * dsub]
                d2 = ((Xb[:, None, :] - books[b][None, :, :]) ** 2).sum(axis=2)
                codes[:, b] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"__id": pdf[id_col].values, "pq_codes": list(codes)}
            )

    return corpus.mapInPandas(
        encode, f"__id long, pq_codes array<int>"
    ).withColumnRenamed("__id", id_col)


def ivf_pq_knn(
    assigned_encoded: DataFrame,
    model,
    codebooks,
    queries: DataFrame,
    k: int,
    nprobe: int = 8,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVFADC + refine: probe ``nprobe`` cells, score candidates by PQ
    lookup-table cosine (per-query m×n_codes dot tables, numpy gather —
    the scan touches CODES only), keep an ADC shortlist of ``rerank``
    (default 4k) per query, exactly re-score just the shortlist against
    the true vectors, return the top k.

    ``assigned_encoded`` = IVF assignment (``centroid_id``) + true vector
    + ``pq_codes`` (from :func:`pq_encode`). ``model`` is a fitted
    KMeansModel or a (k, dim) centroid array, as for :func:`ivf_knn`
    (:func:`read_pq_index` + :func:`read_ivf_centroids` probe a persisted
    index). Centroids and codebooks ship in closures (KB-sized model
    constants), the probe frame is built per query partition via Arrow,
    and neither the probe-candidate join nor the rerank join forces a
    broadcast. At scale the rerank join is shortlist-sized; everything
    corpus-sized reads integers.
    """
    import numpy as np

    rerank = rerank or 4 * k
    books = np.asarray(codebooks)
    m, n_codes, dsub = books.shape
    cnorm2 = (books**2).sum(axis=2)  # (m, n_codes)

    probes = _probe_frame(queries, model, nprobe, id_col, vec_col, query_id_col)
    cand = probes.join(
        assigned_encoded.select("centroid_id", id_col, "pq_codes"),
        "centroid_id",
    ).where(F.col(query_id_col) != F.col(id_col))

    def adc_score(it):
        import pandas as pd

        tables: dict[int, tuple] = {}
        for pdf in it:
            if pdf.empty:
                continue
            out_q, out_n, out_c = [], [], []
            for qid, grp in pdf.groupby(query_id_col):
                if qid not in tables:
                    q = np.asarray(grp["__qvec"].iloc[0], dtype=np.float64)
                    dots = np.einsum(
                        "bd,bjd->bj", q.reshape(m, dsub), books
                    )  # (m, n_codes)
                    tables[qid] = (dots, float(np.linalg.norm(q)) or 1.0)
                dots, qn = tables[qid]
                codes = np.array(list(grp["pq_codes"]), dtype=np.int64)
                rows_idx = np.arange(m)[None, :]
                num = dots[rows_idx, codes].sum(axis=1)
                xnorm = np.sqrt(cnorm2[rows_idx, codes].sum(axis=1))
                cos = num / (qn * np.where(xnorm == 0.0, 1.0, xnorm))
                out_q.append(np.full(len(grp), qid))
                out_n.append(grp[id_col].values)
                out_c.append(cos)
            if out_q:
                yield pd.DataFrame(
                    {
                        query_id_col: np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "adc_cosine": np.concatenate(out_c),
                    }
                )

    shortlist = top_k_per_group(
        cand.mapInPandas(
            adc_score, f"{query_id_col} long, neighbor_id long, adc_cosine double"
        ),
        query_id_col,
        [F.col("adc_cosine").desc(), F.col("neighbor_id").asc()],
        rerank,
    )
    # rerank query vectors come straight from the query frame (the same
    # float32 rounding as the probe schema's __qvec)
    qvecs = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).cast("array<float>").alias("__qvec"),
    )
    refined = (
        shortlist.join(qvecs, query_id_col)
        .join(
            assigned_encoded.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nvec")
            ),
            "neighbor_id",
        )
        .select(
            query_id_col,
            "neighbor_id",
            cosine(F.col("__qvec"), F.col("__nvec")).alias("cosine"),
        )
    )
    return top_k_per_group(
        refined,
        query_id_col,
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
    )


def write_pq_index(
    spark,
    assigned_encoded: DataFrame,
    codebooks,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Materialize an IVF-PQ index: the encoded corpus centroid-partitioned
    (same file-pruning layout as :func:`write_ivf_index` — the probe scan
    reads ~nprobe/cells of the files, and those files carry CODES, not
    vectors) plus the codebooks as a tiny flattened parquet side table
    (one row per (subspace, code), engine-portable — no pickles).
    """
    import numpy as np

    books = np.asarray(codebooks)
    m, n_codes, dsub = books.shape
    rows = [
        (b, j, [float(x) for x in books[b, j]])
        for b in range(m)
        for j in range(n_codes)
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode(mode).parquet(f"{path}/codebooks")
    assigned_encoded.write.mode(mode).partitionBy("centroid_id").parquet(
        f"{path}/corpus"
    )


def read_pq_index(spark, path: str, cells: list[int] | None = None):
    """Load (assigned_encoded, codebooks ndarray) written by
    :func:`write_pq_index`, optionally pruned to probe ``cells``."""
    import numpy as np

    brows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r["subspace"] for r in brows) + 1
    n_codes = max(r["code"] for r in brows) + 1
    dsub = len(brows[0]["centroid"])
    books = np.empty((m, n_codes, dsub))
    for r in brows:
        books[r["subspace"], r["code"]] = r["centroid"]
    df = spark.read.parquet(f"{path}/corpus")
    if cells is not None:
        df = df.where(F.col("centroid_id").isin(cells))
    return df, books


# ---------------------------------------------------------------------------
# Incremental IVF maintenance: append new batches to a persisted index
# without touching the archive.
# ---------------------------------------------------------------------------
def write_ivf_centroids(spark, model, path: str, mode: str = "overwrite") -> None:
    """Persist the trained centroid table beside an IVF index
    (``(centroid_id, centroid array<double>)`` — engine-portable, no
    pickled model), making the index self-contained for incremental
    appends and probes in later sessions."""
    rows = [
        (i, [float(x) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    spark.createDataFrame(
        rows, "centroid_id int, centroid array<double>"
    ).coalesce(1).write.mode(mode).parquet(path)


def read_ivf_centroids(spark, path: str):
    """Centroids ndarray (k, dim), row i = centroid_id i."""
    import numpy as np

    rows = spark.read.parquet(path).orderBy("centroid_id").collect()
    return np.asarray([r["centroid"] for r in rows])


def assign_to_centroids(
    vectors: DataFrame,
    centroids,
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment for a NEW batch against FIXED
    centroids: one Arrow-batched numpy GEMM argmin per block (the PQ
    encoder's pattern) — no KMeans model object needed, so an index
    written by a previous session can keep growing. Ties break to the
    lowest centroid_id (numpy argmin), deterministically."""
    import numpy as np
    import pandas as pd

    cents = np.asarray(centroids, dtype=np.float64)
    c_sq = (cents * cents).sum(axis=1)
    fields = vectors.schema.fields
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in fields
    ) + ", centroid_id int"

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy())
            d2 = c_sq - 2.0 * (x @ cents.T)  # + |x|² is rank-constant
            pdf = pdf.copy()
            pdf["centroid_id"] = d2.argmin(axis=1).astype("int32")
            yield pdf

    return vectors.mapInPandas(assign, out_schema)


def ivf_append(
    spark,
    new_vectors: DataFrame,
    index_path: str,
    centroids_path: str,
    vec_col: str = "embedding",
) -> None:
    """Incrementally grow a persisted IVF index: assign ONLY the new
    batch to the existing centroids and append its rows into the
    centroid-partitioned layout. The archive is never re-read,
    re-clustered, or reshuffled — per-day cost is proportional to the
    day's data, which is what makes a 100 TB embedding index
    maintainable. (Centroid drift is the standard IVF trade: monitor
    per-cell counts — e.g. ``key_skew_report`` — and re-train when the
    appended fraction grows large.)"""
    cents = read_ivf_centroids(spark, centroids_path)
    assigned = assign_to_centroids(new_vectors, cents, vec_col=vec_col)
    assigned.write.mode("append").partitionBy("centroid_id").parquet(
        index_path
    )
