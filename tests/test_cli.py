"""CLI parity tests — each subcommand end-to-end on tiny inputs
(the reference's CLI-main test style, e.g. ``tests/test_clustering.py:148-173``
in /root/reference)."""

from __future__ import annotations

import pytest

import json
import os

from ihop_reddit_spark.cli import main

COMMENTS = """\
{"id": "c1", "author": "alice", "subreddit": "aww", "body": "x", "created_utc": 1, "score": 1, "parent_id": "t3_a", "link_id": "t3_a"}
{"id": "c2", "author": "alice", "subreddit": "pics", "body": "x", "created_utc": 2, "score": 1, "parent_id": "t3_a", "link_id": "t3_a"}
{"id": "c3", "author": "bob", "subreddit": "aww", "body": "x", "created_utc": 3, "score": 1, "parent_id": "t3_a", "link_id": "t3_a"}
{"id": "c4", "author": "bob", "subreddit": "aww", "body": "x", "created_utc": 4, "score": 1, "parent_id": "t3_a", "link_id": "t3_a"}
"""


def test_cli_c2v_prep(spark, tmp_path):
    src = tmp_path / "comments.json"
    src.write_text(COMMENTS)
    out = str(tmp_path / "c2v")
    main(
        [
            "c2v-prep", "--input", str(src), "--output", out,
            "--top-n", "2", "--exclude-top-users", "0.0",
            "--min-sentence-length", "1", "--csv-contexts",
        ]
    )
    contexts = spark.read.parquet(f"{out}/contexts")
    got = {r["user_id" if "user_id" in contexts.columns else "author"]: r["context_concat"]
           for r in contexts.collect()}
    assert got == {"alice": "aww pics", "bob": "aww aww"}
    assert os.path.isdir(f"{out}/vocab_csv") and os.path.isdir(f"{out}/contexts_csv")


@pytest.mark.slow
def test_cli_corpus_prep(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    main(
        [
            "corpus-prep", "--input", f"{sf_dir}/documents.parquet",
            "--output", out, "--jaccard-threshold", "0.4",
        ]
    )
    res = spark.read.parquet(out)
    assert res.count() > 0
    assert set(res.columns) == {"doc_id", "n_tokens", "bpe_tokens"}


@pytest.mark.slow
def test_cli_cluster_and_topics(spark, sf_dir, tmp_path):
    out = str(tmp_path / "cl")
    main(
        [
            "cluster", "--input", f"{sf_dir}/embeddings.parquet",
            "--output", out, "-k", "4",
        ]
    )
    assigned = spark.read.parquet(f"{out}/assignments")
    assert assigned.select("cluster_id").distinct().count() <= 4
    metrics = json.load(open(f"{out}/metrics.json"))
    assert set(metrics) == {"silhouette", "calinski_harabasz", "davies_bouldin"}
    assert -1.0 <= metrics["silhouette"] <= 1.0
    assert metrics["calinski_harabasz"] > 0.0
    assert metrics["davies_bouldin"] > 0.0

    tout = str(tmp_path / "tp")
    main(
        [
            "topics", "--input", f"{sf_dir}/documents.parquet",
            "--output", tout, "-k", "3", "--min-df", "1.0", "--max-df", "1e18",
        ]
    )
    terms = spark.read.parquet(f"{tout}/topic_terms")
    assert terms.count() > 0
    assert set(terms.columns) == {"topic", "term", "weight"}


SUBMISSIONS = """\
{"author": "sue", "created_utc": 50, "id": "a", "score": 2, "selftext": "b", "title": "t", "url": "u", "subreddit": "aww"}
"""


def test_cli_bow(spark, tmp_path):
    csrc = tmp_path / "comments.json"
    csrc.write_text(COMMENTS.replace('"link_id": "t3_a"', '"link_id": "t3_a"'))
    ssrc = tmp_path / "subs.json"
    ssrc.write_text(SUBMISSIONS)
    out = str(tmp_path / "bow")
    main(
        [
            "bow", "--comments", str(csrc), "--submissions", str(ssrc),
            "--output", out, "--top-n", "5", "--exclude-top-users", "0.0",
            "--documents",
        ]
    )
    res = spark.read.parquet(f"{out}/joined")
    # all four comments link to t3_a and survive the filters
    assert res.count() == 4
    assert "time_to_comment_in_seconds" in res.columns
    docs = spark.read.parquet(f"{out}/documents")
    assert docs.count() == 1  # one submission thread
    assert set(docs.columns) == {"id", "subreddit", "document_text"}


def test_cli_compact_and_skew_report(spark, sf_dir, tmp_path, capsys):
    src = str(tmp_path / "frag")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(16).write.parquet(src)
    out = str(tmp_path / "compacted")
    main(["compact", "--input", src, "--output", out, "--target-file-mb", "512"])
    assert spark.read.parquet(out).count() == spark.read.parquet(src).count()
    assert "compacted" in capsys.readouterr().out

    csv_out = str(tmp_path / "skew.csv")
    main(
        [
            "skew-report", "--input", f"{sf_dir}/events.parquet",
            "--keys", "event_type", "--top-n", "5", "--output", csv_out,
        ]
    )
    part = next(
        f for f in os.listdir(csv_out)
        if f.startswith("part-") and f.endswith(".csv")
    )
    lines = open(os.path.join(csv_out, part)).read().strip().splitlines()
    assert lines[0].split(",")[:2] == ["event_type", "cnt"]
    assert len(lines) == 6  # header + 5 event types


@pytest.mark.slow
def test_cli_semantic_dedup_winnow_dsir(spark, tmp_path):
    emb_src = "/root/testdata/sf0.001/embeddings.parquet"
    docs_src = "/root/testdata/sf0.001/documents.parquet"
    sd_out = str(tmp_path / "sd")
    main(["semantic-dedup", "--input", emb_src, "--output", sd_out,
          "--threshold", "0.4"])
    survivors = spark.read.parquet(sd_out)
    n_in = spark.read.parquet(emb_src).count()
    assert 0 < survivors.count() <= n_in
    assert "vec_id" in survivors.columns

    wn_out = str(tmp_path / "wn")
    main(["winnow", "--input", docs_src, "--output", wn_out,
          "--min-shared", "2"])
    pairs = spark.read.parquet(wn_out)
    assert set(pairs.columns) == {"left_id", "right_id", "shared"}

    ds_out = str(tmp_path / "ds")
    main(["dsir", "--input", docs_src, "--target", docs_src,
          "--output", ds_out])
    w = spark.read.parquet(ds_out)
    # target == corpus -> every weight exactly 0 (p-hat == q-hat)
    assert w.where("weight != 0.0").count() == 0


@pytest.mark.slow
def test_cli_round5_commands(spark, tmp_path):
    docs_src = "/root/testdata/sf0.001/documents.parquet"

    bpe_out = str(tmp_path / "bpe")
    main(["train-bpe", "--input", docs_src, "--output", bpe_out,
          "--merges", "5"])
    merges = spark.read.parquet(bpe_out)
    assert merges.count() == 5
    assert set(merges.columns) == {"rank", "left", "right", "pair_count"}

    # pagerank over a tiny hand-built edge table
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], ["src", "dst"]
    )
    epath = str(tmp_path / "edges")
    edges.write.parquet(epath)
    pr_out = str(tmp_path / "pr")
    main(["pagerank", "--input", epath, "--output", pr_out,
          "--iterations", "2"])
    ranks = spark.read.parquet(pr_out)
    assert ranks.count() == 3 and "rank_units" in ranks.columns

    # scd2-apply with --init from a snapshot
    snap = spark.createDataFrame([(1, "A"), (2, "B")], ["k", "seg"])
    spath = str(tmp_path / "snap")
    snap.write.parquet(spath)
    delta = spark.createDataFrame([(1, "A2")], ["k", "seg"])
    dpath = str(tmp_path / "delta")
    delta.write.parquet(dpath)
    h_out = str(tmp_path / "hist")
    main(["scd2-apply", "--history", spath, "--delta", dpath,
          "--output", h_out, "--keys", "k", "--tracked", "seg",
          "--eff", "50", "--init"])
    hist = spark.read.parquet(h_out)
    assert hist.count() == 3  # closed + reopened + untouched

    # c4-clean end-to-end (plain docs have no terminal punct -> the
    # survivors set may be empty; the command must still write a frame)
    c4_out = str(tmp_path / "c4")
    main(["c4-clean", "--input", docs_src, "--output", c4_out,
          "--min-lines", "0"])
    cleaned = spark.read.parquet(c4_out)
    assert "cleaned_text" in cleaned.columns


def test_cli_sql_command(spark, tmp_path):
    out = str(tmp_path / "sqlout")
    main(["sql",
          "SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n "
          "FROM customer GROUP BY c_mktsegment",
          "--sf-dir", "/root/testdata/sf0.001", "--output", out])
    df = spark.read.parquet(out)
    assert df.count() == 5 and set(df.columns) == {"c_mktsegment", "n"}


@pytest.mark.slow
def test_cli_coherence_and_ivf_append(spark, tmp_path):
    from pyspark.sql import functions as F

    from ihop_reddit_spark.cli import main
    from ihop_reddit_spark.datapipe.similarity import (
        build_ivf_index,
        read_ivf_index,
        write_ivf_centroids,
        write_ivf_index,
    )

    # coherence: tiny corpus + one topic, umass then npmi
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c"), (3, "a")], "doc_id long, text string"
    )
    topics = spark.createDataFrame(
        [("t", "a", 1), ("t", "b", 2), ("t", "c", 3)],
        "topic_id string, term string, rank long",
    )
    dpath, tpath = str(tmp_path / "docs"), str(tmp_path / "topics")
    docs.write.parquet(dpath)
    topics.write.parquet(tpath)
    out = str(tmp_path / "coh")
    main(["coherence", "--docs", dpath, "--topics", tpath,
          "--metric", "umass", "--output", out])
    r = spark.read.parquet(out).collect()[0]
    assert r["n_pairs"] == 3

    # ivf-append: build on evens, append odds via the CLI
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    assigned, model = build_ivf_index(old, n_centroids=4, seed=100)
    corpus, cents = str(tmp_path / "corpus"), str(tmp_path / "cents")
    write_ivf_index(assigned, corpus)
    write_ivf_centroids(spark, model, cents)
    npath = str(tmp_path / "new")
    new.write.parquet(npath)
    main(["ivf-append", "--input", npath, "--index", corpus,
          "--centroids", cents])
    assert read_ivf_index(spark, corpus).count() == emb.count()


def test_cli_delete_rows(spark, tmp_path, capsys):
    import json

    from ihop_reddit_spark.cli import main

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(u, u % 3, "x") for u in range(12)],
        "user_id long, shard int, payload string",
    ).write.partitionBy("shard").parquet(path)
    kpath = str(tmp_path / "keys")
    spark.createDataFrame(
        [(3, 0), (4, 1)], "user_id long, shard int"
    ).write.parquet(kpath)
    main(["delete-rows", "--table", path, "--keys", kpath,
          "--key-col", "user_id", "--partition-col", "shard"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {
        "partitions_rewritten": 2,
        "partitions_removed": 0,
        "rows_deleted": 2,
    }
    assert spark.read.parquet(path).count() == 10


def test_cli_clone_and_txn(spark, tmp_path, capsys):
    from pyspark.sql.functions import col as spark_col

    from ihop_reddit_spark.cli import main
    from ihop_reddit_spark.sources import catalog as C
    from ihop_reddit_spark.sources import manifest as M

    fact = str(tmp_path / "fact")
    roll = str(tmp_path / "roll")
    M.manifest_init(fact)
    M.manifest_init(roll)
    cat = str(tmp_path / "cat")
    C.catalog_init(cat, {"fact": fact, "roll": roll})

    fpath = str(tmp_path / "f.parquet")
    rpath = str(tmp_path / "r.parquet")
    spark.range(20).withColumn("v", spark_col("id")).write.parquet(fpath)
    spark.createDataFrame([(20,)], "n long").write.parquet(rpath)

    main([
        "txn", "--catalog", cat,
        "--append", f"fact={fpath}",
        "--append", f"roll={rpath}",
    ])
    assert "committed catalog version 1" in capsys.readouterr().out
    assert C.read_catalog_table(spark, cat, "fact").count() == 20
    assert C.read_catalog_table(spark, cat, "roll").count() == 1

    dst = str(tmp_path / "clone")
    main(["clone", "--src", fact, "--dst", dst])
    assert "clone version 0" in capsys.readouterr().out
    assert M.read_snapshot(spark, dst).count() == 20


def test_cli_txn_failure_aborts_stage(spark, tmp_path):
    """ADVICE r11: a failing append/commit must abort the staged
    parquet, not leak it until vacuum's 24h grace window."""
    import pytest

    from ihop_reddit_spark.cli import main
    from ihop_reddit_spark.sources import catalog as C
    from ihop_reddit_spark.sources import manifest as M

    fact = str(tmp_path / "fact")
    M.manifest_init(fact)
    cat = str(tmp_path / "cat")
    C.catalog_init(cat, {"fact": fact})
    fpath = str(tmp_path / "f.parquet")
    spark.range(5).write.parquet(fpath)
    with pytest.raises(KeyError):
        main([
            "txn", "--catalog", cat,
            "--append", f"fact={fpath}",
            "--append", f"bogus={fpath}",  # not in the catalog
        ])
    assert C.catalog_latest(cat) == 0
    # nothing orphaned: the fact stage was aborted on the failure path
    assert C.catalog_vacuum_orphans(cat, min_age_seconds=0) == 0
