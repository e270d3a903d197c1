"""Command-line entry points — parity with the reference's module CLIs.

Reference surface (SURVEY §3): ``python -m ihop.import_data c2v|bow``,
``python -m ihop.text_processing``, ``python -m ihop.clustering``. This
engine exposes the same workflows over its Spark-first plans:

    python -m ihop_reddit_spark c2v-prep  --input comments.json --output out/
    python -m ihop_reddit_spark bow --comments c.json --submissions s.json \
        --output out/ --documents
    python -m ihop_reddit_spark corpus-prep --input docs.parquet --output out/
    python -m ihop_reddit_spark cluster   --input emb.parquet --output out/ -k 250
    python -m ihop_reddit_spark topics    --input docs.parquet --output out/ -k 250

Every subcommand reads/writes parquet (plus the reference's bzip2-CSV
context format for ``c2v-prep``), builds one lazy plan, and writes
distributed outputs — no driver materialization except the documented
small-table edges.
"""

from __future__ import annotations

import os

import argparse
import json

from pyspark.sql import SparkSession


def _session(args) -> SparkSession:
    from .session import get_spark_session

    return get_spark_session("ihop_reddit_spark_cli", master=args.master)


def _cmd_c2v_prep(args) -> None:
    """Reference: ``python -m ihop.import_data c2v`` (ihop/import_data.py:649-676)."""
    from .plans.c2v_prep import C2VPrepConfig, top_n_items, user_contexts
    from .sources.io import write_compressed_csv, write_parquet, write_single_csv
    from .sources.reddit import read_comments

    spark = _session(args)
    comments = read_comments(spark, args.input)
    cfg = C2VPrepConfig(
        top_n=args.top_n,
        exclude_user_fraction=args.exclude_top_users,
        min_sentence_length=args.min_sentence_length,
    )
    vocab = top_n_items(comments, cfg)
    contexts = user_contexts(comments, cfg, top_n_df=vocab)
    write_single_csv(vocab, f"{args.output}/vocab_csv")
    if args.csv_contexts:
        write_compressed_csv(
            contexts.select("context_concat"), f"{args.output}/contexts_csv"
        )
    write_parquet(contexts, f"{args.output}/contexts")


def _cmd_bow(args) -> None:
    """Reference: ``python -m ihop.import_data bow`` (ihop/import_data.py:677-692)."""
    from .plans.bow import BowConfig, bag_of_words
    from .sources.io import write_parquet
    from .sources.reddit import read_comments, read_submissions

    spark = _session(args)
    cfg = BowConfig(
        top_n=args.top_n,
        exclude_user_fraction=args.exclude_top_users,
        max_time_delta=args.max_time_delta,
    )
    joined = bag_of_words(
        read_comments(spark, args.comments),
        read_submissions(spark, args.submissions),
        cfg,
    )
    write_parquet(joined, f"{args.output}/joined")
    if args.documents:
        from .plans.bow import thread_documents

        write_parquet(thread_documents(joined), f"{args.output}/documents")


def _cmd_corpus_prep(args) -> None:
    """North-star pipeline (plans/corpus_prep.py)."""
    from .plans.corpus_prep import CorpusPrepConfig, prepare_corpus
    from .sources.io import write_parquet

    spark = _session(args)
    docs = spark.read.parquet(args.input)
    cfg = CorpusPrepConfig(jaccard_threshold=args.jaccard_threshold)
    write_parquet(prepare_corpus(docs, cfg), args.output)


def _cmd_cluster(args) -> None:
    """Reference: ``python -m ihop.clustering`` KMeans path
    (ihop/clustering.py:1290-1354) + quality metrics JSON."""
    from .ml.clustering import (
        ClusteringConfig,
        cluster_quality,
        kmeans_assign,
        l2_normalize_df,
    )
    from .sources.io import write_parquet

    spark = _session(args)
    emb = spark.read.parquet(args.input)
    vecs = l2_normalize_df(emb, args.vector_col)
    assigned, _model = kmeans_assign(
        vecs, args.vector_col, ClusteringConfig(n_clusters=args.k, seed=args.seed)
    )
    assigned = assigned.persist()
    try:
        write_parquet(assigned.drop(args.vector_col), f"{args.output}/assignments")
        metrics = cluster_quality(assigned, args.vector_col)
    finally:
        assigned.unpersist()
    with open(f"{args.output}/metrics.json", "w") as f:
        json.dump(metrics, f, indent=2)


def _cmd_topics(args) -> None:
    """Reference: Spark LDA path (ihop/clustering.py:875-1145)."""
    from .ml.clustering import fit_lda, topic_terms
    from .ml.text_pipeline import SparkTextPipeline
    from .sources.io import write_parquet

    spark = _session(args)
    docs = spark.read.parquet(args.input)
    if args.text_col != "document_text":
        docs = docs.withColumnRenamed(args.text_col, "document_text")
    pipe = SparkTextPipeline(min_df=args.min_df, max_df=args.max_df)
    vectorized = pipe.fit_transform(docs)
    model = fit_lda(vectorized, "vectorized", k=args.k, seed=args.seed)
    write_parquet(
        topic_terms(model, pipe.vocab_df(spark), max_terms=args.max_terms),
        f"{args.output}/topic_terms",
    )


def _cmd_compact(args) -> None:
    from .sources.io import compact_parquet

    spark = _session(args)
    n_out = compact_parquet(
        spark, args.input, args.output,
        target_file_bytes=args.target_file_mb << 20,
    )
    print(f"compacted {args.input} -> {args.output} ({n_out} files)")


def _cmd_skew_report(args) -> None:
    from .datapipe.quality import key_skew_report
    from .sources.io import write_single_csv

    spark = _session(args)
    report = key_skew_report(
        spark.read.parquet(args.input), args.keys, top_n=args.top_n
    )
    if args.output:
        write_single_csv(report, args.output)
    else:
        report.show(args.top_n, truncate=False)


def _cmd_semantic_dedup(args) -> None:
    from .datapipe.semantic import sign_lsh_semantic_dedup
    from .sources.io import write_parquet

    spark = _session(args)
    survivors = sign_lsh_semantic_dedup(
        spark.read.parquet(args.input),
        vec_col=args.vector_col,
        id_col=args.id_col,
        cosine_threshold=args.threshold,
        n_bits=args.bits,
        dim=args.dim,
    )
    write_parquet(survivors, args.output)


def _cmd_winnow(args) -> None:
    from .datapipe.dedup import winnow_candidate_pairs
    from .sources.io import write_parquet

    spark = _session(args)
    pairs = winnow_candidate_pairs(
        spark.read.parquet(args.input),
        args.text_col,
        args.id_col,
        k=args.k,
        w=args.w,
        min_shared=args.min_shared,
        max_df=args.max_df,
        portable_hash=not args.fast_hash,
    )
    write_parquet(pairs, args.output)


def _cmd_dsir(args) -> None:
    from pyspark.sql import functions as F

    from .datapipe.curation import dsir_resample, dsir_weights
    from .sources.io import write_parquet

    spark = _session(args)
    corpus = spark.read.parquet(args.input)
    target = spark.read.parquet(args.target)
    if args.sample_k:
        out = dsir_resample(
            corpus, target, args.sample_k,
            text_col=args.text_col, id_col=args.id_col,
            n_buckets=args.buckets,
        )
    else:
        out = dsir_weights(
            corpus, target,
            text_col=args.text_col, id_col=args.id_col,
            n_buckets=args.buckets,
        )
    write_parquet(out, args.output)



def _cmd_c4_clean(args) -> None:
    from .datapipe.cleaning import c4_clean, sentence_span_dedup
    from .sources.io import write_parquet

    spark = _session(args)
    df = spark.read.parquet(args.input)
    cleaned = c4_clean(
        df, args.text_col, args.id_col,
        min_words_per_line=args.min_words,
        min_lines=args.min_lines,
    )
    if args.span_dedup:
        cleaned = sentence_span_dedup(
            cleaned.withColumnRenamed("cleaned_text", args.text_col),
            args.text_col, args.id_col,
        )
    write_parquet(cleaned, args.output)


def _cmd_train_bpe(args) -> None:
    from .ml.bpe import bpe_encode, train_bpe
    from .sources.io import write_parquet

    spark = _session(args)
    df = spark.read.parquet(args.input)
    merges = train_bpe(df, args.text_col, num_merges=args.merges)
    mdf = spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank long, left string, right string, pair_count long",
    )
    write_parquet(mdf, args.output)
    if args.encode_output:
        write_parquet(
            bpe_encode(df, args.text_col, merges), args.encode_output
        )


def _cmd_pagerank(args) -> None:
    from .operators.graph import pagerank
    from .sources.io import write_parquet

    spark = _session(args)
    edges = spark.read.parquet(args.input)
    write_parquet(
        pagerank(edges, args.src_col, args.dst_col,
                 iterations=args.iterations),
        args.output,
    )


def _cmd_scd2_apply(args) -> None:
    from .operators.setops import scd2_apply, scd2_init
    from .sources.io import write_parquet

    spark = _session(args)
    keys = args.keys.split(",")
    tracked = args.tracked.split(",")
    delta = spark.read.parquet(args.delta)
    if args.init:
        hist = scd2_init(spark.read.parquet(args.history), keys, tracked)
    else:
        hist = spark.read.parquet(args.history)
    write_parquet(
        scd2_apply(hist, delta, keys, tracked, eff=args.eff), args.output
    )



def _cmd_sql(args) -> None:
    from .sources.io import write_parquet

    spark = _session(args)
    for t in ("region nation customer supplier part orders lineitem"
              " events documents embeddings").split():
        path = f"{args.sf_dir}/{t}.parquet"
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(t)
    df = spark.sql(args.query)
    if args.output:
        write_parquet(df, args.output)
    else:
        df.show(args.limit, truncate=False)


def _cmd_coherence(args) -> None:
    from .ml.labeling import npmi_coherence, umass_coherence
    from .sources.io import write_parquet

    spark = _session(args)
    docs = spark.read.parquet(args.docs)
    topics = spark.read.parquet(args.topics)
    fn = npmi_coherence if args.metric == "npmi" else umass_coherence
    out = fn(docs, args.id_col, args.text_col, topics)
    if args.output:
        write_parquet(out, args.output)
    else:
        out.orderBy("topic_id").show(100, truncate=False)


def _cmd_ivf_append(args) -> None:
    from .datapipe.similarity import ivf_append

    spark = _session(args)
    new = spark.read.parquet(args.input)
    ivf_append(spark, new, args.index, args.centroids,
               vec_col=args.vec_col)
    print(f"appended {new.count()} vectors into {args.index}")


def _cmd_delete_rows(args) -> None:
    import json as _json

    from .sources.io import targeted_delete

    spark = _session(args)
    deletes = spark.read.parquet(args.keys)
    out = targeted_delete(
        spark, args.table, deletes, args.key_col, args.partition_col
    )
    print(_json.dumps(out))


def _cmd_clone(args) -> None:
    from .sources.manifest import manifest_clone

    v = manifest_clone(
        args.src, args.dst,
        version=args.version if args.version >= 0 else None,
    )
    print(f"cloned {args.src} -> {args.dst} at clone version {v}")


def _cmd_txn(args) -> None:
    """One atomic multi-table append: --append TABLE=PARQUET_PATH pairs
    land together or not at all (sources/catalog.py)."""
    from .sources import catalog as C

    spark = _session(args)
    t = C.CatalogTransaction(args.catalog)
    try:
        for spec in args.append:
            name, _, path = spec.partition("=")
            if not path:
                raise SystemExit(
                    f"--append wants TABLE=PARQUET_PATH, got {spec!r}"
                )
            t.append(name, spark.read.parquet(path))
        cv = t.commit()
    except BaseException:
        # a failed append/commit must not leak staged parquet until a
        # vacuum's 24h grace window — abort() is pre-commit-safe
        t.abort()
        raise
    print(f"committed catalog version {cv} ({len(args.append)} tables)")


def _cmd_serve(args) -> None:
    from .app import explorer_from_events, make_server

    spark = _session(args)
    explorer = explorer_from_events(
        spark, args.sf_dir, vector_size=args.vector_size,
        epochs=args.epochs,
    )
    explorer.train(args.n_clusters, args.seed)
    server = make_server(explorer, host=args.host, port=args.port)
    host, port = server.server_address[:2]
    print(f"serving cluster explorer on http://{host}:{port} "
          f"(/health /table /scatter, POST /train /labels)")
    server.serve_forever()


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ihop_reddit_spark")
    p.add_argument("--master", default=None, help="Spark master (default: local)")
    sub = p.add_subparsers(dest="command", required=True)

    c2v = sub.add_parser("c2v-prep", help="community2vec context prep")
    c2v.add_argument("--input", required=True, nargs="+")
    c2v.add_argument("--output", required=True)
    c2v.add_argument("--top-n", type=int, default=10_000)
    c2v.add_argument("--exclude-top-users", type=float, default=0.05)
    c2v.add_argument("--min-sentence-length", type=int, default=2)
    c2v.add_argument("--csv-contexts", action="store_true",
                     help="also write the reference's bzip2 CSV contexts")
    c2v.set_defaults(func=_cmd_c2v_prep)

    bow = sub.add_parser("bow", help="bag-of-words thread-table prep")
    bow.add_argument("--comments", required=True, nargs="+")
    bow.add_argument("--submissions", required=True, nargs="+")
    bow.add_argument("--output", required=True)
    bow.add_argument("--top-n", type=int, default=10_000)
    bow.add_argument("--exclude-top-users", type=float, default=0.05)
    bow.add_argument("--max-time-delta", type=int, default=None)
    bow.add_argument("--documents", action="store_true",
                     help="also assemble the thread-document table (A8)")
    bow.set_defaults(func=_cmd_bow)

    cp = sub.add_parser("corpus-prep", help="training-data corpus prep")
    cp.add_argument("--input", required=True)
    cp.add_argument("--output", required=True)
    cp.add_argument("--jaccard-threshold", type=float, default=0.4)
    cp.set_defaults(func=_cmd_corpus_prep)

    cl = sub.add_parser("cluster", help="KMeans over an embedding table")
    cl.add_argument("--input", required=True)
    cl.add_argument("--output", required=True)
    cl.add_argument("--vector-col", default="embedding")
    cl.add_argument("-k", type=int, default=250)
    cl.add_argument("--seed", type=int, default=100)
    cl.set_defaults(func=_cmd_cluster)

    tp = sub.add_parser("topics", help="LDA topic terms over documents")
    tp.add_argument("--input", required=True)
    tp.add_argument("--output", required=True)
    tp.add_argument("--text-col", default="text")
    tp.add_argument("-k", type=int, default=250)
    tp.add_argument("--seed", type=int, default=100)
    tp.add_argument("--min-df", type=float, default=1.0)
    tp.add_argument("--max-df", type=float, default=1.0e18)
    tp.add_argument("--max-terms", type=int, default=10)
    tp.set_defaults(func=_cmd_topics)

    co = sub.add_parser("compact", help="rewrite a parquet dataset to target file sizes")
    co.add_argument("--input", required=True)
    co.add_argument("--output", required=True)
    co.add_argument("--target-file-mb", type=int, default=128)
    co.set_defaults(func=_cmd_compact)

    sk = sub.add_parser("skew-report", help="top-N heaviest key values (pre-shuffle check)")
    sk.add_argument("--input", required=True)
    sk.add_argument("--keys", required=True, nargs="+")
    sk.add_argument("--top-n", type=int, default=10)
    sk.add_argument("--output", default=None, help="optional CSV output (default: print)")
    sk.set_defaults(func=_cmd_skew_report)

    sd = sub.add_parser(
        "semantic-dedup",
        help="drop embedding near-dups (SemDeDup, derandomized sign-LSH)",
    )
    sd.add_argument("--input", required=True)
    sd.add_argument("--output", required=True)
    sd.add_argument("--vector-col", default="embedding")
    sd.add_argument("--id-col", default="vec_id")
    sd.add_argument("--threshold", type=float, default=0.95)
    sd.add_argument("--bits", type=int, default=4,
                    help="bucket bits per table — grow with corpus size")
    sd.add_argument("--dim", type=int, default=64)
    sd.set_defaults(func=_cmd_semantic_dedup)

    wn = sub.add_parser(
        "winnow", help="MOSS winnowing shared-passage candidate pairs"
    )
    wn.add_argument("--input", required=True)
    wn.add_argument("--output", required=True)
    wn.add_argument("--text-col", default="text")
    wn.add_argument("--id-col", default="doc_id")
    wn.add_argument("-k", type=int, default=12, help="char k-gram length")
    wn.add_argument("-w", type=int, default=4, help="winnowing window")
    wn.add_argument("--min-shared", type=int, default=10)
    wn.add_argument("--max-df", type=int, default=20)
    wn.add_argument("--fast-hash", action="store_true",
                    help="xxhash64 grams (1.7x faster; md5 is the"
                         " cross-engine default)")
    wn.set_defaults(func=_cmd_winnow)

    ds = sub.add_parser(
        "dsir", help="DSIR importance weights / Gumbel top-k resample"
    )
    ds.add_argument("--input", required=True, help="raw corpus parquet")
    ds.add_argument("--target", required=True, help="target-domain parquet")
    ds.add_argument("--output", required=True)
    ds.add_argument("--text-col", default="text")
    ds.add_argument("--id-col", default="doc_id")
    ds.add_argument("--buckets", type=int, default=1024)
    ds.add_argument("--sample-k", type=int, default=None,
                    help="resample this many docs (default: write weights)")
    ds.set_defaults(func=_cmd_dsir)

    c4 = sub.add_parser(
        "c4-clean", help="C4 line/page cleaning (+ optional span dedup)"
    )
    c4.add_argument("--input", required=True)
    c4.add_argument("--output", required=True)
    c4.add_argument("--text-col", default="text")
    c4.add_argument("--id-col", default="doc_id")
    c4.add_argument("--min-words", type=int, default=3)
    c4.add_argument("--min-lines", type=int, default=3)
    c4.add_argument("--span-dedup", action="store_true",
                    help="also run 3-sentence-span cross-corpus dedup")
    c4.set_defaults(func=_cmd_c4_clean)

    bp = sub.add_parser("train-bpe", help="train a BPE merge table")
    bp.add_argument("--input", required=True)
    bp.add_argument("--output", required=True, help="merge-table parquet")
    bp.add_argument("--text-col", default="text")
    bp.add_argument("--merges", type=int, default=1000)
    bp.add_argument("--encode-output", default=None,
                    help="also tokenize the corpus to this path")
    bp.set_defaults(func=_cmd_train_bpe)

    pr = sub.add_parser("pagerank", help="integer-unit PageRank over an edge table")
    pr.add_argument("--input", required=True, help="edge parquet")
    pr.add_argument("--output", required=True)
    pr.add_argument("--src-col", default="src")
    pr.add_argument("--dst-col", default="dst")
    pr.add_argument("--iterations", type=int, default=5)
    pr.set_defaults(func=_cmd_pagerank)

    s2 = sub.add_parser("scd2-apply", help="merge a delta into an SCD2 history")
    s2.add_argument("--history", required=True,
                    help="history parquet (or snapshot with --init)")
    s2.add_argument("--delta", required=True)
    s2.add_argument("--output", required=True)
    s2.add_argument("--keys", required=True, help="comma-separated key cols")
    s2.add_argument("--tracked", required=True,
                    help="comma-separated tracked cols")
    s2.add_argument("--eff", type=int, required=True,
                    help="effective time (epoch seconds)")
    s2.add_argument("--init", action="store_true",
                    help="treat --history as a plain snapshot to seed")
    s2.set_defaults(func=_cmd_scd2_apply)

    sq = sub.add_parser(
        "sql", help="ad-hoc SQL over the registered tables"
    )
    sq.add_argument("query", help="SQL text")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="directory of <table>.parquet files to register")
    sq.add_argument("--output", default=None,
                    help="write result parquet here instead of printing")
    sq.add_argument("--limit", type=int, default=50)
    sq.set_defaults(func=_cmd_sql)

    ch = sub.add_parser(
        "coherence",
        help="UMass/NPMI topic coherence over a docs table + topics table",
    )
    ch.add_argument("--docs", required=True, help="parquet with id+text")
    ch.add_argument("--topics", required=True,
                    help="parquet (topic_id, term, rank)")
    ch.add_argument("--metric", choices=["umass", "npmi"], default="umass")
    ch.add_argument("--id-col", default="doc_id")
    ch.add_argument("--text-col", default="text")
    ch.add_argument("--output", default=None)
    ch.set_defaults(func=_cmd_coherence)

    ia = sub.add_parser(
        "ivf-append",
        help="append a new vector batch to a persisted IVF index",
    )
    ia.add_argument("--input", required=True, help="parquet of new vectors")
    ia.add_argument("--index", required=True, help="index corpus path")
    ia.add_argument("--centroids", required=True, help="centroid table path")
    ia.add_argument("--vec-col", default="embedding")
    ia.set_defaults(func=_cmd_ivf_append)

    dr = sub.add_parser(
        "delete-rows",
        help="targeted (GDPR-style) row deletion with partition-pruned "
             "rewrites",
    )
    dr.add_argument("--table", required=True,
                    help="partitioned parquet table path")
    dr.add_argument("--keys", required=True,
                    help="parquet of (key, partition) delete requests")
    dr.add_argument("--key-col", required=True)
    dr.add_argument("--partition-col", required=True)
    dr.set_defaults(func=_cmd_delete_rows)


    cn = sub.add_parser(
        "clone",
        help="zero-copy SHALLOW CLONE of a manifest table (hardlinks; "
             "each side's vacuum stays independent)",
    )
    cn.add_argument("--src", required=True)
    cn.add_argument("--dst", required=True)
    cn.add_argument("--version", type=int, default=-1,
                    help="source version to clone (default: head)")
    cn.set_defaults(func=_cmd_clone)

    tx = sub.add_parser(
        "txn",
        help="atomic multi-table append through a catalog "
             "(all tables advance together or not at all)",
    )
    tx.add_argument("--catalog", required=True)
    tx.add_argument("--append", action="append", required=True,
                    metavar="TABLE=PARQUET_PATH")
    tx.set_defaults(func=_cmd_txn)

    sv = sub.add_parser(
        "serve",
        help="interactive cluster-explorer HTTP API (reference app.py "
             "train/table/scatter semantics)",
    )
    sv.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8050)
    sv.add_argument("--n-clusters", type=int, default=8)
    sv.add_argument("--seed", type=int, default=100)
    sv.add_argument("--vector-size", type=int, default=16)
    sv.add_argument("--epochs", type=int, default=3)
    sv.set_defaults(func=_cmd_serve)
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    args.func(args)


if __name__ == "__main__":
    main()
