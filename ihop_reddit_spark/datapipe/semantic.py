"""Semantic deduplication over embedding columns (SemDeDup-style).

Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication" (arXiv:2303.09540): partition the embedding space,
score exact cosine only WITHIN partitions, and drop every point that has a
kept near-duplicate in its partition. The partitioner is what makes the
O(n²) pairwise scoring tractable at corpus scale — work is bounded by
sum-of-squared partition sizes, never corpus-quadratic.

Two partitioners, same drop rule (smallest id in a near-dup pair wins —
deterministic, no centroid-distance tie-break needed):

* :func:`sign_lsh_semantic_dedup` — DERANDOMIZED sign-LSH: the hyperplanes
  are ±1 Rademacher vectors derived from md5 of ``(table, bit)``, so there
  is no RNG and no fitted model anywhere. The survivor set is a pure
  function of the data, which is what lets the query catalog verify the
  ENTIRE pipeline hash-exact against a DuckDB oracle
  (``semantic_dedup_survivors``) — unlike MLlib's seeded-but-JVM-random
  ``BucketedRandomProjectionLSH`` (kept in ``dedup.embedding_near_dup_lsh``
  as the production variant). Up to :data:`MAX_LOCAL_ROWS` vectors it
  finishes on the driver from one Arrow collect: numpy buckets every
  vector with one int64 matmul and scores each (table, bucket) cell with
  one int64 GEMM, in the same IEEE operations as the Catalyst plan, which
  runs above the guard.
* :func:`kmeans_semantic_dedup` — the paper's k-means partitioner, reusing
  the distributed KMeans from ``ml/clustering.py`` and the blocked-GEMM
  pair scorer from ``similarity.py`` (``group_col`` = cluster), so large
  clusters are still scored as bounded-memory block-pair tasks.

Recall contract (both variants): a pair is found only if some partition
contains both sides. Partitioned dedup trades a bounded recall loss for
linear-ish scale — measured on the synthetic embeddings at sf0.01, the
sign-LSH tables catch 46 of the 53 globally-droppable docs (0.87).
Verification is always the EXACT integer-quantized cosine kernel
(``functions/vectors.py``, or its numpy twin on the driver) on candidate
pairs — candidates are never trusted unverified, the same tiering contract
as every dedup tier. The Spark plans here are Catalyst only, with no
Python UDF: the bucket and verify dot products are interpreted
``zip_with``/``aggregate`` folds, which is why small corpora finish on the
driver instead.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import register_scoped_persists
from ..functions.vectors import quantize, raw_dot, raw_norm

#: Namespace for the derandomized hyperplane bits — part of the public
#: output contract (changing it changes every bucket).
_SEED_TAG = "semdedup"

#: Largest corpus :func:`sign_lsh_semantic_dedup` finishes on the driver;
#: above it the Catalyst plan runs. Set at the largest size measured
#: (``tools/guard_probe.py semantic``: dim 64, n_bits 4, ``local[4]``,
#: wall time; peak RSS of Python driver + JVM) where the driver path is no
#: slower and its peak RSS stays below the Spark path's:
#: 5k 1.4 s / 0.7 GB vs 15.3 s / 5.1 GB; 10k 3.5 s / 0.7 GB vs 46.6 s /
#: 8.2 GB; 20k 14.0 s / 0.9 GB vs 199 s / 9.0 GB; 50k 90.8 s / 1.4 GB vs
#: not done in 240 s. Both sides grow with Σ(cell size)²·dim; the driver's
#: int64 GEMM gets no BLAS, so its time, not the collect, sets its cost.
MAX_LOCAL_ROWS = 50_000


def hyperplane_sign_rows(
    n_tables: int = 8, n_bits: int = 4, dim: int = 64
) -> list[tuple[int, int, list[int]]]:
    """±1 Rademacher hyperplanes from md5 — the shared source of truth for
    the Spark expression AND the generated DuckDB oracle SQL.

    Row ``(t, j, signs)``: hyperplane ``j`` of hash table ``t``; ``signs``
    has one ±1 per vector dimension, read little-endian from as many
    md5(``semdedup:t:j:block``) digests as ``dim`` needs.
    """
    rows: list[tuple[int, int, list[int]]] = []
    for t in range(n_tables):
        for j in range(n_bits):
            signs: list[int] = []
            block = 0
            while len(signs) < dim:
                digest = hashlib.md5(
                    f"{_SEED_TAG}:{t}:{j}:{block}".encode()
                ).digest()
                for byte in digest:
                    for k in range(8):
                        signs.append(1 if (byte >> k) & 1 else -1)
                block += 1
            rows.append((t, j, signs[:dim]))
    return rows


def hyperplane_code_values(
    n_tables: int = 8, n_bits: int = 4, dim: int = 64
) -> str:
    """The same hyperplanes as a SQL ``VALUES`` list ``(t, j, code)`` where
    ``code`` is a '+'/'-' string, one char per dimension — consumed by the
    catalog's oracle via ``substr(code, pos, 1)``."""
    return ",\n".join(
        "({}, {}, '{}')".format(
            t, j, "".join("+" if s > 0 else "-" for s in signs)
        )
        for t, j, signs in hyperplane_sign_rows(n_tables, n_bits, dim)
    )


def sign_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_tables: int = 8,
    n_bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """(``__id``, ``t``, ``bucket``) — one bucket per hash table per vector.

    Bucket bit ``j`` of table ``t`` = sign of the integer dot product
    between the QUANTIZED vector and hyperplane ``(t, j)`` (exact int64
    arithmetic — the sign is engine-independent, no FP boundary flakes).
    Pure Catalyst: one projection computes all ``n_tables`` buckets, then a
    single explode; no UDF, no fitted model, no shuffle.
    """
    rows = hyperplane_sign_rows(n_tables, n_bits, dim)
    by_table: dict[int, list[list[int]]] = {}
    for t, _j, signs in rows:
        by_table.setdefault(t, []).append(signs)

    from ..operators.partitioning import fan_out_if_narrow

    # n_tables×n_bits interpreted dot products per row (zip_with/aggregate
    # lambdas do not codegen) sit upstream of any exchange — rescue an
    # under-parallel scan so the bucket build uses every core
    base = fan_out_if_narrow(
        df.select(
            F.col(id_col).alias("__id"),
            quantize(F.col(vec_col)).alias("__qv"),
        ),
        "__id",
        heavy=True,  # interpreted zip_with/aggregate dot products
    )
    # The whole bucket array is built as ONE SQL string → one py4j call.
    # The Column-API form (per-element F.lit + per-(t,j) zip_with/
    # aggregate builders) cost ~15k py4j round trips ≈ 2-4s of pure
    # DRIVER plan construction per query (guide §7.3, planning as the
    # bottleneck); the parsed expression tree — and therefore the
    # buckets — are identical.
    def _dot_sql(signs: list[int]) -> str:
        arr = ",".join(str(s) for s in signs)
        return (
            f"aggregate(zip_with(__qv, array({arr}), (a, s) -> a * s),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )

    structs = []
    for t in range(n_tables):
        terms = [
            f"(CASE WHEN {_dot_sql(signs)} >= 0"
            f" THEN CAST({1 << j} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
            for j, signs in enumerate(by_table[t])
        ]
        structs.append(
            f"named_struct('t', CAST({t} AS INT),"
            f" 'bucket', {' + '.join(terms)})"
        )
    entries = F.expr("array(" + ", ".join(structs) + ")")
    return base.select(
        "__id", F.explode(entries).alias("__e")
    ).select("__id", F.col("__e.t").alias("t"), F.col("__e.bucket").alias("bucket"))


def sign_lsh_codes(Q, n_tables: int = 8, n_bits: int = 4):
    """(n, n_tables) int64 bucket codes of the int64 quantized vectors ``Q``
    (rows of ``floor(v·2^24)``): the numpy twin of :func:`sign_lsh_buckets`,
    one int64 matmul against every hyperplane at once."""
    import numpy as np

    S = np.array(
        [s for _t, _j, s in hyperplane_sign_rows(n_tables, n_bits, Q.shape[1])],
        dtype=np.int64,
    )
    bits = (Q @ S.T >= 0).reshape(len(Q), n_tables, n_bits).astype(np.int64)
    return (bits << np.arange(n_bits)).sum(axis=2)


def _quantized_rows(table, dim: int):
    """(ids, Q) from a collected ``(id, vector)`` Arrow table, or None when
    numpy cannot repeat the Catalyst plan's arithmetic exactly: ids that
    are not integers, are null or repeat; vectors that are null, hold a null
    or non-finite element or are not ``dim`` long; or quantized values
    whose int64 dot products could overflow."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.vectors import QUANT_SCALE
    from ..ml.clustering import vectors_matrix

    id_col, vecs = table.column(0), table.column(1)
    if (
        not pa.types.is_integer(id_col.type)
        or id_col.null_count
        or vecs.null_count
        or pc.list_flatten(vecs).null_count
        or (pc.list_value_length(vecs).to_numpy() != dim).any()
    ):
        return None
    ids = id_col.to_numpy()
    if len(np.unique(ids)) < len(ids):
        return None
    if not len(ids):
        return ids, np.zeros((0, dim), dtype=np.int64)
    # scaling by a power of two is exact, so floor() sees the same double
    # as Spark's floor(CAST(v AS DOUBLE) * 2^24)
    X = np.floor(vectors_matrix(vecs) * float(QUANT_SCALE))
    if not np.isfinite(X).all() or dim * np.abs(X).max() ** 2 >= 2.0**62:
        return None
    return ids, X.astype(np.int64)


def _driver_dropped(ids, Q, cosine_threshold: float, n_tables: int, n_bits: int):
    """(dropped, zero_pair): ``dropped`` masks the rows the Catalyst plan
    drops, every row with a smaller id in one of its (table, bucket) cells
    at integer-exact cosine ≥ ``cosine_threshold``. One int64 GEMM per
    cell, and the cosine is ``double(dot) / (n_a·n_b)`` as in the Spark
    predicate. A candidate pair with a zero norm has no cosine: without
    ANSI Spark's quotient is NULL, so it is never a duplicate, and under
    ANSI Spark raises ``DIVIDE_BY_ZERO``; ``zero_pair`` says whether there
    was one."""
    import numpy as np

    norms = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
    codes = sign_lsh_codes(Q, n_tables, n_bits)
    dropped = np.zeros(len(ids), dtype=bool)
    zero_pair = False
    for t in range(n_tables):
        order = np.argsort(codes[:, t], kind="stable")
        cuts = np.flatnonzero(np.diff(codes[order, t])) + 1
        for cell in np.split(order, cuts):
            if len(cell) < 2:
                continue
            q, n, i = Q[cell], norms[cell], ids[cell]
            den = np.outer(n, n)
            pair = i[:, None] < i[None, :]
            zero_pair |= bool((pair & (den == 0)).any())
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (q @ q.T).astype(np.float64) / den
            hit = pair & (den != 0) & (cos >= cosine_threshold)
            dropped[cell[hit.any(axis=0)]] = True
    return dropped, zero_pair


def sign_lsh_semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cosine_threshold: float = 0.4,
    n_tables: int = 8,
    n_bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Corpus minus semantic near-duplicates; returns the SURVIVOR rows
    (all original columns), smallest id per caught near-dup pair kept.

    The first action collects ``(id, vector)`` with one
    ``limit(MAX_LOCAL_ROWS + 1).toArrow()``. When that is the whole corpus
    and numpy can repeat the plan's integer arithmetic
    (:func:`_quantized_rows`), the driver finds the drop set
    (:func:`_driver_dropped`) and the input is anti-joined against it as a
    local relation. Otherwise the Catalyst plan below runs.

    Plan (candidates-narrow, the 100 TB shape):

    1. bucket frame — id + ``n_tables`` bucket keys, NO vectors (the
       candidate self-join shuffles ids and bucket keys only);
    2. self-join per (table, bucket) → distinct candidate pairs. Join
       fanout per bucket is |bucket|², bounded by choosing ``n_bits`` so
       buckets stay small (2^n_bits cells per table);
    3. exact verify: join the quantized vectors onto the candidate pairs
       (two id-keyed joins sized by candidate volume, not corpus²) and
       keep pairs with integer-exact cosine ≥ threshold;
    4. drop set = distinct right ids — anti-join back onto the corpus.
       Semantic dedup routinely drops 30–50%+ of a web corpus, so the
       drop set is corpus-proportional BY DESIGN and carries no
       broadcast hint: the anti-join shuffles on id and AQE demotes to
       broadcast only when the set really is small.
    """
    table = df.select(id_col, vec_col).limit(MAX_LOCAL_ROWS + 1).toArrow()
    rows = _quantized_rows(table, dim) if table.num_rows <= MAX_LOCAL_ROWS else None
    if rows is not None:
        import pyarrow as pa

        spark = df.sparkSession
        ids, Q = rows
        mask, zero_pair = _driver_dropped(ids, Q, cosine_threshold, n_tables, n_bits)
        if zero_pair and spark.conf.get("spark.sql.ansi.enabled").lower() == "true":
            from pyspark.errors import ArithmeticException

            raise ArithmeticException(
                message="[DIVIDE_BY_ZERO] Division by zero: a zero-norm "
                "vector shares a sign-LSH bucket with another vector"
            )
        dropped = spark.createDataFrame(
            pa.table({id_col: pa.array(ids[mask])}), df.select(id_col).schema
        )
        return df.join(dropped, id_col, "left_anti")

    buckets = sign_lsh_buckets(
        df, vec_col, id_col, n_tables, n_bits, dim
    ).persist()
    cand = (
        buckets.select("t", "bucket", F.col("__id").alias("left_id"))
        .join(
            buckets.select("t", "bucket", F.col("__id").alias("right_id")),
            ["t", "bucket"],
        )
        .where(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()
    )
    from ..operators.partitioning import fan_out_if_narrow

    # quantize + norm are interpreted HOFs too; the verify joins are
    # id-keyed, so hash the fan-out on the id they join with
    side = fan_out_if_narrow(
        df.select(
            F.col(id_col).alias("__vid"),
            quantize(F.col(vec_col)).alias("__qv"),
        ),
        "__vid",
        heavy=True,  # interpreted quantize/norm HOFs
    ).withColumn("__nrm", raw_norm(F.col("__qv")))
    scored = cand.join(
        side.select(
            F.col("__vid").alias("left_id"),
            F.col("__qv").alias("__qa"),
            F.col("__nrm").alias("__na"),
        ),
        "left_id",
    ).join(
        side.select(
            F.col("__vid").alias("right_id"),
            F.col("__qv").alias("__qb"),
            F.col("__nrm").alias("__nb"),
        ),
        "right_id",
    )
    dropped = (
        scored.where(
            raw_dot(F.col("__qa"), F.col("__qb")).cast("double")
            / (F.col("__na") * F.col("__nb"))
            >= cosine_threshold
        )
        .select(F.col("right_id").alias(id_col))
        .distinct()
    )
    out = df.join(dropped, id_col, "left_anti")
    return register_scoped_persists(out, buckets)


def kmeans_semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 10,
    cosine_threshold: float = 0.4,
    seed: int = 100,
    block_size: int = 1024,
) -> DataFrame:
    """The paper's k-means variant: cluster, then blocked-GEMM exact cosine
    WITHIN clusters only (``similarity.blocked_pair_scores`` with
    ``group_col`` — big clusters become bounded block-pair tasks, the same
    kernel as the global near-dup tier). Returns survivor rows.

    Up to ``ml.clustering.MAX_LOCAL_POINTS`` rows the KMeans fit runs on
    the driver over the sorted vectors, so it depends only on the data, not
    on its layout; above the guard MLlib's fit is deterministic only for a
    fixed layout. It is not in the oracle catalog because no SQL oracle
    computes a seeded KMeans; its gate lives in tests (planted-duplicate
    soundness/recall — identical vectors always co-cluster, so exact dups
    can never escape).
    """
    from ..ml.clustering import ClusteringConfig, kmeans_assign

    from .similarity import blocked_pair_scores

    cfg = ClusteringConfig(n_clusters=n_clusters, seed=seed, max_iter=20)
    assigned, _model = kmeans_assign(
        df, vec_col, cfg, id_cols=[id_col, vec_col]
    )
    assigned = assigned.persist()
    pairs = blocked_pair_scores(
        assigned,
        cosine_threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_size=block_size,
        group_col="cluster_id",
    )
    # drop set is corpus-proportional (see pairwise tier) — no hint.
    dropped = pairs.select(F.col("right_id").alias(id_col)).distinct()
    out = df.join(dropped, id_col, "left_anti")
    return register_scoped_persists(out, assigned)


def semantic_index_rows(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_tables: int = 8,
    n_bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """The sign-LSH index rows for a corpus: (indexed_id, t, bucket,
    indexed_qv, indexed_nrm). The quantized vector rides the index row
    (n_tables copies) so the verify step needs no second pass over the
    archive; at very large dim store it once in a side table keyed by id."""
    buckets = sign_lsh_buckets(df, vec_col, id_col, n_tables, n_bits, dim)
    qv = df.select(
        F.col(id_col).alias("__id"), quantize(F.col(vec_col)).alias("__qv")
    ).withColumn("__nrm", raw_norm(F.col("__qv")))
    return buckets.join(qv, "__id").select(
        F.col("__id").alias("indexed_id"),
        "t",
        "bucket",
        F.col("__qv").alias("indexed_qv"),
        F.col("__nrm").alias("indexed_nrm"),
    )


def build_semantic_index(
    df: DataFrame,
    table_name: str,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_tables: int = 8,
    n_bits: int = 4,
    dim: int = 64,
    num_buckets: int = 32,
) -> None:
    """Persist a corpus's sign-LSH index (:func:`semantic_index_rows`) as a
    BUCKETED parquet table (bucketed by the LSH bucket key): incremental
    semantic-dedup lookups join bucket-locally — the historical side is
    read pre-hashed and never reshuffles, no matter how large the archive
    grows. The same incremental contract as the MinHash and postings
    indexes (``dedup.build_minhash_index``, ``retrieval.build_postings_index``).
    """
    from ..sources.io import write_bucketed

    write_bucketed(
        semantic_index_rows(df, vec_col, id_col, n_tables, n_bits, dim),
        table_name,
        path,
        bucket_cols=["bucket"],
        num_buckets=num_buckets,
        sort_cols=["bucket"],
    )


def incremental_semantic_dedup(
    new_df: DataFrame,
    index: DataFrame | str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cosine_threshold: float = 0.4,
    n_tables: int = 8,
    n_bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """New-batch rows that are NOT semantic near-dups of the indexed
    archive (returns the surviving new rows, all original columns).

    The batch's buckets come from the same derandomized hyperplanes, so a
    new vector lands in exactly the buckets its archived near-dups
    occupy; the join is bucket-local (only today's batch shuffles), the
    exact quantized-cosine verify runs on candidate rows only, and the
    drop set anti-joins back onto the batch (batch-proportional — a
    day's crawl can be TBs, so no forced broadcast; AQE decides). The
    archive is consulted,
    never rewritten — append today's survivors to the index table to roll
    the window forward.

    ``index``: a table name (the bucketed table from
    :func:`build_semantic_index` — bucket-local join, zero index-side
    exchange) or an index-rows DataFrame (oracle/testing path).
    """
    new_buckets = sign_lsh_buckets(
        new_df, vec_col, id_col, n_tables, n_bits, dim
    )
    new_qv = new_df.select(
        F.col(id_col).alias("__id"), quantize(F.col(vec_col)).alias("__qv")
    ).withColumn("__nrm", raw_norm(F.col("__qv")))
    idx = (
        new_df.sparkSession.table(index) if isinstance(index, str) else index
    )
    cand = (
        new_buckets.join(idx, ["t", "bucket"])
        .select("__id", "indexed_id", "indexed_qv", "indexed_nrm")
        .dropDuplicates(["__id", "indexed_id"])
    )
    dropped = (
        cand.join(new_qv, "__id")
        .where(
            raw_dot(F.col("__qv"), F.col("indexed_qv")).cast("double")
            / (F.col("__nrm") * F.col("indexed_nrm"))
            >= cosine_threshold
        )
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return new_df.join(dropped, id_col, "left_anti")
