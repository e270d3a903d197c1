"""Winnowing fingerprints + SemDeDup semantic dedup.

Closed-form gates for the two round-4 dedup additions:
* winnowing's LOCALITY GUARANTEE (Schleimer et al. SIGMOD'03 thm: any
  shared substring of length ≥ w+k-1 yields a shared fingerprint);
* sign-LSH semantic dedup soundness (every dropped vector has a genuine
  ≥-threshold partner with a smaller id — partitioning can lose recall
  but must never drop a non-duplicate);
* the paper's k-means variant: planted EXACT duplicates can never escape
  (identical vectors always co-cluster);
* grouped blocked-GEMM == ungrouped when there is a single group;
* sign-LSH semantic dedup gives the same survivors on both sides of its
  driver guard (``semantic.MAX_LOCAL_ROWS``), down to a pair at exactly
  the threshold and a zero-norm vector in a shared bucket.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ihop_reddit_spark.datapipe.dedup import (
    winnow_candidate_pairs,
    winnow_fingerprints,
)
from ihop_reddit_spark.datapipe import semantic
from ihop_reddit_spark.datapipe.semantic import (
    hyperplane_sign_rows,
    kmeans_semantic_dedup,
    sign_lsh_codes,
    sign_lsh_semantic_dedup,
)
from ihop_reddit_spark.datapipe.similarity import blocked_pair_scores


def _fp_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["__id"], set()).add(r["fp"])
    return out


def test_winnowing_locality_guarantee(spark):
    # docs 1 and 2 share a 40-char passage >> w+k-1 = 15; doc 3 is disjoint
    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "CCCCCC " + shared + " DDDD"),
            (3, "completely different content with no overlap at all here"),
        ],
        ["doc_id", "text"],
    )
    # the guarantee holds for ANY hash — assert on both the md5 oracle
    # path and the xxhash64 production path
    for portable in (True, False):
        sets = _fp_sets(
            winnow_fingerprints(
                docs, "text", "doc_id", k=12, w=4, portable_hash=portable
            )
        )
        assert sets[1] & sets[2], "shared passage must share >=1 fingerprint"
        assert not (sets[1] & sets[3])
        assert not (sets[2] & sets[3])


def test_winnowing_identical_docs_identical_sets(spark):
    text = "identical content repeated verbatim across two documents"
    docs = spark.createDataFrame(
        [(1, text), (2, text)], ["doc_id", "text"]
    )
    sets = _fp_sets(winnow_fingerprints(docs, "text", "doc_id"))
    assert sets[1] == sets[2] and sets[1]


def test_winnowing_excludes_short_and_non_ascii(spark):
    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "héllo wörld with ümlauts and accénts")],
        ["doc_id", "text"],
    )
    assert winnow_fingerprints(docs, "text", "doc_id", k=12, w=4).count() == 0


def test_winnowing_density_bound(spark):
    # selected fingerprints per doc ≤ number of windows, ≥ 1 for any doc
    # with a full window; expected density ~2/(w+1)
    text = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    k, w = 12, 4
    n_windows = (len(text) - k + 1) - (w - 1)
    got = winnow_fingerprints(docs, "text", "doc_id", k=k, w=w).count()
    assert 1 <= got <= n_windows
    assert got < (len(text) - k + 1)  # strictly fewer than all grams


def test_winnow_pairs_respects_min_shared_and_symmetry(spark):
    shared = "a long shared passage that produces many common fingerprints"
    docs = spark.createDataFrame(
        [(1, shared + " tail one"), (2, shared + " other end"), (3, "x" * 40)],
        ["doc_id", "text"],
    )
    pairs = winnow_candidate_pairs(
        docs, "text", "doc_id", k=12, w=4, min_shared=2, max_df=10
    ).collect()
    assert {(r["left_id"], r["right_id"]) for r in pairs} == {(1, 2)}
    assert all(r["left_id"] < r["right_id"] for r in pairs)
    assert all(r["shared"] >= 2 for r in pairs)


def test_hyperplane_rows_deterministic_and_balanced():
    a = hyperplane_sign_rows(4, 4, 64)
    b = hyperplane_sign_rows(4, 4, 64)
    assert a == b
    assert len(a) == 16
    for _t, _j, signs in a:
        assert len(signs) == 64 and set(signs) <= {-1, 1}
        # md5 bits are balanced enough that a hyperplane is never constant
        assert 8 <= signs.count(1) <= 56


@pytest.fixture(scope="module")
def planted_embeddings(spark):
    # 3 well-separated base directions in 8-d; ids 100/101 are exact
    # duplicates, 102 is a near-dup of 100 (cos > 0.99), the rest unique
    import random

    rng = random.Random(7)
    rows = []
    base = [
        [1.0] + [0.0] * 7,
        [0.0, 1.0] + [0.0] * 6,
        [0.0, 0.0, 1.0] + [0.0] * 5,
    ]
    for i in range(60):
        b = base[i % 3]
        v = [x + rng.uniform(-0.05, 0.05) for x in b]
        rows.append((i, v))
    dup = [0.9, 0.05, 0.03, 0.01, 0.0, 0.0, 0.0, 0.0]
    rows.append((100, dup))
    rows.append((101, dup))
    rows.append((102, [x * 1.001 for x in dup]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


@pytest.mark.slow
def test_sign_lsh_semantic_dedup_soundness(spark, planted_embeddings, monkeypatch):
    # the Catalyst plan; the driver path is held to it by the tests below
    monkeypatch.setattr(semantic, "MAX_LOCAL_ROWS", 0)
    emb = planted_embeddings
    # noise-only same-direction pairs sit at cos ~0.993; the planted
    # duplicate trio is at ~1.0 — threshold between them isolates the plant
    t = 0.9999
    survivors = {
        r["vec_id"]
        for r in sign_lsh_semantic_dedup(
            emb, cosine_threshold=t, dim=8
        ).collect()
    }
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    dropped = all_ids - survivors
    # ground truth from the exact global scorer
    truth = blocked_pair_scores(emb, t, block_size=16).collect()
    global_right = {r["right_id"] for r in truth}
    assert dropped <= global_right, "no non-duplicate may ever be dropped"
    # identical vectors hash to identical buckets in every table — exact
    # duplicates can never escape the sign-LSH partitioner
    assert 101 in dropped
    assert 100 in survivors


def _survivors_both_sides(df, monkeypatch, **kw):
    """Survivor ids of :func:`sign_lsh_semantic_dedup` with the guard at 0
    (Catalyst plan) and at its default (driver path)."""
    out = []
    for guard in (0, semantic.MAX_LOCAL_ROWS):
        with monkeypatch.context() as mp:
            mp.setattr(semantic, "MAX_LOCAL_ROWS", guard)
            out.append(
                sorted(r["vec_id"] for r in sign_lsh_semantic_dedup(df, **kw).collect())
            )
    return out


def _quantized(df, dim):
    import numpy as np

    rows = sorted(df.select("vec_id", "embedding").collect())
    ids = np.array([r[0] for r in rows])
    q = np.floor(np.array([r[1] for r in rows], dtype=np.float64) * 2.0**24)
    assert q.shape[1] == dim
    return ids, q.astype(np.int64)


def test_sign_lsh_guard_sides_agree_on_testdata(spark, monkeypatch):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    spark_side, driver_side = _survivors_both_sides(
        emb, monkeypatch, cosine_threshold=0.4
    )
    assert spark_side == driver_side
    assert 0 < len(driver_side) < emb.count()


def test_sign_lsh_guard_sides_agree_at_the_threshold(
    spark, planted_embeddings, monkeypatch
):
    import numpy as np

    ids, q = _quantized(planted_embeddings, 8)
    a, b = q[ids == 100][0], q[ids == 102][0]
    # the exact cosine the plan computes for the planted pair (100, 102)
    cos = float(a @ b) / (np.sqrt(float(a @ a)) * np.sqrt(float(b @ b)))
    for t, dropped in ((cos, True), (float(np.nextafter(cos, 2.0)), False)):
        spark_side, driver_side = _survivors_both_sides(
            planted_embeddings, monkeypatch, cosine_threshold=t, dim=8
        )
        assert spark_side == driver_side
        assert 101 not in driver_side and 100 in driver_side
        assert (102 not in driver_side) == dropped


def test_sign_lsh_codes_match_spark_buckets(spark):
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ids, q = _quantized(emb, 64)
    codes = sign_lsh_codes(q)
    want = np.zeros_like(codes)
    pos = {int(i): k for k, i in enumerate(ids)}
    for r in semantic.sign_lsh_buckets(emb).collect():
        want[pos[r["__id"]], r["t"]] = r["bucket"]
    assert np.array_equal(codes, want)


def test_zero_norm_vector_in_a_bucket_raises_on_both_paths(
    spark, planted_embeddings, monkeypatch
):
    # both quantize to the zero vector, so they share every bucket
    zeros = spark.createDataFrame(
        [(200, [0.0] * 8), (201, [1e-9] * 8)], "vec_id long, embedding array<float>"
    )
    emb = planted_embeddings.unionByName(zeros)
    for guard in (0, semantic.MAX_LOCAL_ROWS):
        with monkeypatch.context() as mp:
            mp.setattr(semantic, "MAX_LOCAL_ROWS", guard)
            # Spark may wrap the error when two stages fail at once
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                sign_lsh_semantic_dedup(emb, cosine_threshold=0.9999, dim=8).collect()
    # without ANSI Spark's quotient is NULL: the pair is not a duplicate
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        spark_side, driver_side = _survivors_both_sides(
            emb, monkeypatch, cosine_threshold=0.9999, dim=8
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert spark_side == driver_side
    assert {200, 201} <= set(driver_side)


def test_sign_lsh_odd_inputs_take_the_catalyst_plan(
    spark, planted_embeddings, monkeypatch
):
    # a null vector and a repeated id: numpy cannot repeat the plan's
    # null and per-id join semantics, so the driver path hands over
    odd = spark.createDataFrame(
        [(300, None), (101, [0.9, 0.05, 0.03, 0.01, 0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    for extra in (odd.limit(1), odd.where("vec_id = 101")):
        emb = planted_embeddings.unionByName(extra)
        table = emb.select("vec_id", "embedding").toArrow()
        assert semantic._quantized_rows(table, 8) is None
        spark_side, driver_side = _survivors_both_sides(
            emb, monkeypatch, cosine_threshold=0.9999, dim=8
        )
        assert spark_side == driver_side


def test_semantic_dedup_query_takes_few_jobs(spark, count_jobs):
    from ihop_reddit_spark.plans.query_catalog import QUERIES

    rows, n = count_jobs(
        lambda: QUERIES["semantic_dedup_survivors"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    )
    assert rows and n <= 4


@pytest.mark.slow
def test_kmeans_semantic_dedup_exact_dups_never_escape(
    spark, planted_embeddings
):
    emb = planted_embeddings
    survivors = {
        r["vec_id"]
        for r in kmeans_semantic_dedup(
            emb, n_clusters=3, cosine_threshold=0.9999, block_size=16
        ).collect()
    }
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    dropped = all_ids - survivors
    truth = blocked_pair_scores(emb, 0.9999, block_size=16).collect()
    assert dropped <= {r["right_id"] for r in truth}
    assert 101 in dropped and 100 in survivors


def test_blocked_pair_scores_grouped_matches_ungrouped(
    spark, planted_embeddings
):
    emb = planted_embeddings
    one = emb.withColumn("g", F.lit(3))
    grouped = {
        (r["left_id"], r["right_id"], round(r["cosine"], 12))
        for r in blocked_pair_scores(
            one, 0.9, group_col="g", block_size=16
        ).collect()
    }
    plain = {
        (r["left_id"], r["right_id"], round(r["cosine"], 12))
        for r in blocked_pair_scores(emb, 0.9, block_size=16).collect()
    }
    assert grouped == plain and plain


def test_blocked_pair_scores_grouped_stays_within_groups(
    spark, planted_embeddings
):
    emb = planted_embeddings.withColumn(
        "g", (F.col("vec_id") % 2).cast("int")
    )
    pairs = blocked_pair_scores(
        emb, 0.9, group_col="g", block_size=16
    ).collect()
    parity = {
        r["vec_id"]: r["vec_id"] % 2
        for r in emb.select("vec_id").collect()
    }
    for r in pairs:
        assert parity[r["left_id"]] == parity[r["right_id"]]
    # 100/101 share parity (even/odd differ) → the exact pair (100, 101)
    # has parity 0 vs 1 and must be ABSENT; (100, 102) both even → present
    got = {(r["left_id"], r["right_id"]) for r in pairs}
    assert (100, 101) not in got
    assert (100, 102) in got


@pytest.mark.slow
def test_incremental_semantic_index_bucket_local_and_result_identical(
    spark, tmp_path
):
    """The persisted sign-LSH index must stream out of its buckets (no
    index-side exchange in the candidate join), and the bucketed-table
    path must produce exactly the in-memory index path's survivors."""
    import io
    from contextlib import redirect_stdout

    from ihop_reddit_spark.datapipe.semantic import (
        build_semantic_index,
        incremental_semantic_dedup,
        semantic_index_rows,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    hist = emb.where("vec_id % 2 = 0")
    new = emb.where("vec_id % 2 = 1")
    # bucket count MUST equal the join's shuffle parallelism or the planner
    # disables the bucketed read (same gotcha as the postings index; any
    # test that used get_spark_session resets the conf, so pin it here)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    build_semantic_index(
        hist, "semantic_idx_test", str(tmp_path / "idx"), num_buckets=8
    )
    try:
        via_table = incremental_semantic_dedup(new, "semantic_idx_test")
        buf = io.StringIO()
        with redirect_stdout(buf):
            via_table.explain("formatted")
        assert "Bucketed: true" in buf.getvalue()
        got = {r["vec_id"] for r in via_table.collect()}
        want = {
            r["vec_id"]
            for r in incremental_semantic_dedup(
                new, semantic_index_rows(hist)
            ).collect()
        }
        assert got == want
        # soundness: dropped new ids must each have an archived near-dup
        all_new = {r["vec_id"] for r in new.select("vec_id").collect()}
        assert got <= all_new
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.sql("DROP TABLE IF EXISTS semantic_idx_test")


def test_duplicate_substring_spans_closed_form(spark):
    from ihop_reddit_spark.datapipe.dedup import duplicate_substring_spans

    shared = "the quick brown fox jumps over the lazy sleeping dog tonight"
    docs = spark.createDataFrame(
        [
            (1, "XXXX " + shared + " YYYY"),       # shared at pos 6
            (2, shared + " trailing words here"),  # shared at pos 1
            (3, "completely unrelated content with nothing in common at all"),
        ],
        ["doc_id", "text"],
    )
    spans = duplicate_substring_spans(
        docs, "text", "doc_id", k=20, max_df=5, min_len=30
    ).collect()
    assert len(spans) == 1
    s = spans[0]
    assert (s["left_id"], s["right_id"]) == (1, 2)
    # the maximal shared substring is `shared` PLUS the space both docs
    # put after it (maximality includes every common char): doc 1 has it
    # at char 6, doc 2 at char 1
    assert s["left_start"] == 6 and s["right_start"] == 1
    assert s["span_len"] == len(shared) + 1


def test_duplicate_substring_spans_hash_paths_equivalent(spark):
    """portable_hash=False (xxhash64 production knob, r6) must produce
    the IDENTICAL span set as the md5 oracle path: the hash is only an
    equi-join key, so any collision-negligible hash yields the same
    maximal spans — richer corpus than the closed-form tests (repeated
    boilerplate, overlapping shared passages, df-capped hot grams)."""
    import random

    from ihop_reddit_spark.datapipe.dedup import duplicate_substring_spans

    rng = random.Random(42)
    words = [f"tok{i:02d}" for i in range(40)]
    boiler = "subscribe to our newsletter for daily updates and offers"
    passage = " ".join(rng.choice(words) for _ in range(12))
    rows = []
    for i in range(30):
        body = " ".join(rng.choice(words) for _ in range(20))
        if i % 3 == 0:
            body = passage + " " + body
        if i % 4 == 0:
            body = body + " " + boiler
        rows.append((i, body))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def span_set(portable):
        return {
            tuple(r)
            for r in duplicate_substring_spans(
                docs, "text", "doc_id", k=20, max_df=10, min_len=30,
                portable_hash=portable,
            ).collect()
        }

    md5_spans = span_set(True)
    xx_spans = span_set(False)
    assert md5_spans and md5_spans == xx_spans


def test_duplicate_substring_spans_merges_runs_not_fragments(spark):
    from ihop_reddit_spark.datapipe.dedup import duplicate_substring_spans

    a = "abcdefghijklmnopqrstuvwxyz0123456789 the middle differs " \
        "abcdefghijklmnopqrstuvwxyz9876543210"
    b = "abcdefghijklmnopqrstuvwxyz0123456789 another middle text " \
        "abcdefghijklmnopqrstuvwxyz9876543210"
    docs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    spans = duplicate_substring_spans(
        docs, "text", "doc_id", k=20, max_df=5, min_len=30
    ).collect()
    # two SEPARATE maximal spans (prefix block and suffix block), each
    # merged into one island — never one merged mega-span, never k-gram
    # fragments
    lens = sorted(r["span_len"] for r in spans)
    assert len(spans) == 2
    assert all(length >= 36 for length in lens)


def test_remove_duplicate_spans_surgery(spark):
    from ihop_reddit_spark.datapipe.dedup import (
        duplicate_substring_spans,
        remove_duplicate_spans,
    )

    shared = "the quick brown fox jumps over the lazy sleeping dog tonight"
    docs = spark.createDataFrame(
        [
            (1, "XXXX " + shared + " YYYY"),
            (2, shared + " trailing words here"),
            (3, "completely unrelated content with nothing in common at all"),
        ],
        ["doc_id", "text"],
    )
    spans = duplicate_substring_spans(
        docs, "text", "doc_id", k=20, max_df=5, min_len=30
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(docs, spans, "text", "doc_id").collect()
    }
    # the lower-id doc keeps the passage; the higher-id doc loses it
    # (shared + its following space, the maximal span)
    assert out[1]["clean_text"] == "XXXX " + shared + " YYYY"
    assert out[1]["n_removed_chars"] == 0
    assert out[2]["clean_text"] == "trailing words here"
    assert out[2]["n_removed_chars"] == len(shared) + 1
    assert out[3]["n_removed_chars"] == 0
