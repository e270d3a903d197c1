"""The workloads. Each pass calls into the package's layers through
spans named ``<layer>.<call>``; every Spark action a call triggers runs
inside its span, because DataFrames are lazy and the layer's work happens
at the action. Output checks run after the span and outside the pass's
wall and CPU clocks.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import shutil
import threading
from dataclasses import dataclass, field
from typing import Callable

from inputs import explorer_session, ingest_plan
from oracle import frame_hash
from spans import Clock, Ledger, Tracer

#: Analogy P@1 floor of the package's c2v_reference_analogy_gate.
P_AT_1_FLOOR = 0.55
N_REFERENCE_ANALOGIES = 1741


@dataclass
class Context:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    tracer: Tracer
    ledger: Ledger
    expected: dict  # oracle.load_expected()
    table_ok: bool  # the tables match the oracle's fingerprint
    cpu_now: Callable[[], float]  # CPU seconds of the driver, JVM and workers so far

    def clock(self) -> Clock:
        return Clock(self.cpu_now)


@dataclass
class PassResult:
    seconds: float  # wall time of the layer calls in the pass
    cpu_seconds: float  # CPU time during those calls
    latencies: list[tuple[str, float]] = field(default_factory=list)


def _table(ctx: Context, name: str):
    return ctx.spark.read.parquet(os.path.join(ctx.data_dir, f"{name}.parquet"))


def _collect_query(ctx: Context, query: str):
    """A catalog query's frame and its collected rows."""
    from ihop_reddit_spark.plans.query_catalog import QUERIES

    df = QUERIES[query](ctx.spark, ctx.data_dir)
    return df, df.collect()


def _check_oracle(ctx: Context, op: int, query: str, df, rows) -> None:
    want = ctx.expected["queries"][query]
    got = frame_hash(df.columns, [tuple(r) for r in rows])
    ctx.ledger.check(op, ctx.table_ok, f"{query}: tables differ from the oracle's")
    ctx.ledger.check(op, len(rows) == want["rows"], f"{query}: {len(rows)} rows, want {want['rows']}")
    ctx.ledger.check(op, got == want["sha256"], f"{query}: result hash differs from DuckDB")


def warmup_job(spark, data_dir: str) -> None:
    """The small job that ends every set-up: a scan, a shuffle and a collect."""
    spark.read.parquet(os.path.join(data_dir, "events.parquet")).groupBy("event_type").count().collect()


class Workload:
    name = ""
    #: Span names of the layer calls a pass makes, in call order.
    call_sites: tuple[str, ...] = ()

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def prepare(self) -> None:
        """Untimed state the passes share, built once after set-up."""

    def run_pass(self) -> PassResult:
        raise NotImplementedError

    def close(self) -> None:
        pass

    def _call(self, name: str, fn, clock: Clock):
        """Run ``fn`` in a span named ``name`` on ``clock``. Returns
        (operation id, result or None if it raised)."""
        op = self.ctx.ledger.begin()
        try:
            with clock.timed(), self.ctx.tracer.span(name):
                return op, fn()
        except Exception as exc:  # a failed call is counted, not fatal
            self.ctx.ledger.fail(op, f"{name} raised {type(exc).__name__}: {exc}")
            return op, None


class Explorer(Workload):
    """The cluster explorer's HTTP API under one closed-loop client, over
    the embeddings table standing in for a saved model. Not a workload of
    its own: its session is the last stage of a paper_dag pass."""

    #: Span name of each request type.
    SITE = {
        "train": "app.ClusterExplorer.train",
        "table": "app.ClusterExplorer.selection_table",
        "scatter": "app.ClusterExplorer.scatter_data",
    }
    N_TABLE = 3
    N_SCATTER = 3

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from ihop_reddit_spark.app import ClusterExplorer, make_server

        ctx = self.ctx
        self.vectors = (
            _table(ctx, "embeddings")
            .select(
                F.col("vec_id").cast("string").alias("word"),
                F.col("embedding").cast("array<double>").alias("vector"),
            )
            .persist()
        )
        self.vocab = self.vectors.count()
        self.explorer = ClusterExplorer(self.vectors)
        self.server = make_server(self.explorer)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.conn = http.client.HTTPConnection("127.0.0.1", self.server.server_address[1], timeout=120)
        self.rng = random.Random(ctx.seed)

    def _request(self, method: str, path: str, body: dict | None = None):
        payload = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if payload else {}
        self.conn.request(method, path, body=payload, headers=headers)
        resp = self.conn.getresponse()
        data = json.loads(resp.read())
        if resp.status != 200:
            raise RuntimeError(f"{method} {path}: {resp.status} {data}")
        return data

    def run_pass(self) -> PassResult:
        ctx, ledger = self.ctx, self.ctx.ledger
        result = PassResult(0.0, 0.0)
        assignment: dict[str, int] = {}
        for req in explorer_session(self.rng, self.vocab, self.N_TABLE, self.N_SCATTER):
            p = req.params
            if req.kind == "train":
                call = lambda: self._request("POST", "/train", p)  # noqa: E731
            else:
                words, clusters = ",".join(p["words"]), ",".join(map(str, p["clusters"]))
                if req.kind == "table":
                    path = f"/table?words={words}&clusters={clusters}&neighbors=1"
                else:
                    path = f"/scatter?words={words}&clusters={clusters}&highlight=1"
                call = lambda path=path: self._request("GET", path)  # noqa: E731
            clock = ctx.clock()
            op, resp = self._call(self.SITE[req.kind], call, clock)
            result.seconds += clock.wall
            result.cpu_seconds += clock.cpu
            result.latencies.append((req.kind, clock.wall))
            if resp is None:
                continue
            if req.kind != "train" and not assignment:
                ledger.fail(op, f"{req.kind}: no trained model to check against")
            elif req.kind == "train":
                k = p["n_clusters"]
                assignment = {
                    r["word"]: r["cluster_id"]
                    for r in self.explorer.assignments.select("word", "cluster_id").collect()
                }
                ledger.check(
                    op, set(assignment.values()) == set(range(k)) and len(assignment) == self.vocab,
                    f"train: clusters {sorted(set(assignment.values()))}, want 0..{k - 1}",
                )
                ledger.check(op, set(resp["metrics"]) == {"silhouette", "calinski_harabasz", "davies_bouldin"},
                             f"train: metrics {sorted(resp['metrics'])}")
            elif req.kind == "table":
                got = sorted((r["word"], r["cluster_id"]) for r in resp["rows"])
                ledger.check(op, got == _expected_table(assignment, p), f"table rows differ for {p}")
            else:
                keep = set(p["clusters"]) | {assignment[w] for w in p["words"]}
                ok = len(resp["rows"]) == self.vocab and all(
                    r["display_cluster"] == (str(r["cluster_id"]) if r["cluster_id"] in keep else "other")
                    for r in resp["rows"]
                )
                ledger.check(op, ok, f"scatter rows differ for {p}")
        return result

    def close(self) -> None:
        self.conn.close()
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)
        self.vectors.unpersist()


def _expected_table(assignment: dict[str, int], p: dict) -> list[tuple[str, int]]:
    """Selected words, members of selected clusters, and (neighbors on) all
    members of the selected words' clusters."""
    clusters = set(p["clusters"]) | {assignment[w] for w in p["words"]}
    rows = {(w, c) for w, c in assignment.items() if c in clusters}
    rows |= {(w, assignment[w]) for w in p["words"]}
    return sorted(rows)


class PaperDag(Workload):
    """The paper's system: the reference DAG in dvc.yaml order (context
    prep, community2vec training, analogy evaluation, KMeans, cluster
    metrics, intruder export), then a session on the cluster explorer."""

    name = "paper_dag"
    call_sites = (
        "plans.user_contexts",
        "ml.Community2Vec.fit",
        "ml.EmbeddingMatrix.from_vectors_df",
        "ml.evaluate_analogies",
        "ml.kmeans_assign",
        "ml.comparison_metrics",
        "ml.intruder_export",
    ) + tuple(Explorer.SITE.values())

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.explorer = Explorer(ctx)

    def prepare(self) -> None:
        from ihop_reddit_spark.ml.analogies import SPORTS_SECTIONS, reference_analogies

        self.analogies = reference_analogies(sections=SPORTS_SECTIONS)
        self.explorer.prepare()

    def close(self) -> None:
        self.explorer.close()

    def run_pass(self) -> PassResult:
        from pyspark.sql import functions as F

        from ihop_reddit_spark.ml.analogies import SPORTS_SECTIONS, build_reference_corpus
        from ihop_reddit_spark.ml.cluster_metrics import align_labelings, comparison_metrics
        from ihop_reddit_spark.ml.clustering import ClusteringConfig, kmeans_assign
        from ihop_reddit_spark.ml.community2vec import (
            C2VParams,
            Community2Vec,
            EmbeddingMatrix,
            evaluate_analogies,
        )

        ctx, ledger, clock = self.ctx, self.ctx.ledger, self.ctx.clock()

        op, res = self._call("plans.user_contexts", lambda: _collect_query(ctx, "c2v_prep_contexts"), clock)
        if res:
            _check_oracle(ctx, op, "c2v_prep_contexts", *res)

        with clock.timed():
            corpus = build_reference_corpus(ctx.spark, SPORTS_SECTIONS, reps=15, seed=11)
        params = C2VParams(vector_size=64, epochs=15, seed=100)
        _, model = self._call("ml.Community2Vec.fit", lambda: Community2Vec(params).fit(corpus), clock)
        if model is not None:
            vecs = model.vectors().where(~F.col("word").startswith("__"))
            _, emb = self._call(
                "ml.EmbeddingMatrix.from_vectors_df", lambda: EmbeddingMatrix.from_vectors_df(vecs), clock
            )
            if emb is not None:
                op, res = self._call(
                    "ml.evaluate_analogies", lambda: evaluate_analogies(emb, self.analogies), clock
                )
                if res is not None:
                    ledger.check(
                        op, res["total_evaluated"] == N_REFERENCE_ANALOGIES,
                        f"analogies: {res['total_evaluated']} evaluated",
                    )
                    ledger.check(
                        op, res["total_accuracy"] >= P_AT_1_FLOOR,
                        f"analogies: P@1 {res['total_accuracy']:.3f} < {P_AT_1_FLOOR}",
                    )

        emb_df = _table(ctx, "embeddings")
        k = 8
        op, res = self._call(
            "ml.kmeans_assign",
            lambda: kmeans_assign(emb_df, "embedding", ClusteringConfig(n_clusters=k, seed=100)),
            clock,
        )
        if res is not None:
            assigned, km = res
            sizes = list(km.summary.clusterSizes)
            ledger.check(op, len(sizes) == k and min(sizes) > 0, f"kmeans: cluster sizes {sizes}")
            left = assigned.select("vec_id", F.col("cluster_id").alias("c1"))
            right = emb_df.select("vec_id", F.col("label").alias("c2"))
            op, m = self._call(
                "ml.comparison_metrics",
                lambda: comparison_metrics(align_labelings(left, right, "vec_id")),
                clock,
            )
            if m is not None:
                ledger.check(op, _metrics_in_bounds(m), f"comparison_metrics out of bounds: {m}")

        op, res = self._call("ml.intruder_export", lambda: _collect_query(ctx, "intruder_task_export"), clock)
        if res:
            _check_oracle(ctx, op, "intruder_task_export", *res)
        ctx.spark.catalog.clearCache()
        session = self.explorer.run_pass()
        return PassResult(clock.wall + session.seconds, clock.cpu + session.cpu_seconds, session.latencies)


def _metrics_in_bounds(m: dict) -> bool:
    eps = 1e-9
    return (
        -0.5 - eps <= m["adjusted_rand_index"] <= 1.0 + eps
        and -eps <= m["nmi"] <= 1.0 + eps
        and -eps <= m["homogeneity"] <= 1.0 + eps
        and -eps <= m["completeness"] <= 1.0 + eps
        and -eps <= m["rand_index"] <= 1.0 + eps
        and -eps <= m["voi"] <= m["entropy_left"] + m["entropy_right"] + eps
    )


class CurationIngest(Workload):
    """LLM-data curation over documents: corpus preparation (quality and
    language gates, exact dedup, near-duplicate components), semantic dedup
    and the curated training corpus; then a seeded commit of the
    corpus-prep survivors into a fresh manifest table and a read-back."""

    name = "curation_ingest"
    call_sites = (
        "datapipe.corpus_prep_survivors",
        "datapipe.semantic_dedup_survivors",
        "datapipe.curated_training_corpus",
        "sources.manifest_append",
        "sources.manifest_merge_upsert",
        "sources.manifest_delete_where",
        "sources.read_snapshot",
    )

    def prepare(self) -> None:
        self.n_pass = 0
        self.rows_rewritten_per_deleted: list[float] = []

    def run_pass(self) -> PassResult:
        from pyspark.sql import functions as F

        from ihop_reddit_spark.sources import manifest as M

        ctx, ledger, clock = self.ctx, self.ctx.ledger, self.ctx.clock()
        results = {}
        for query in ("corpus_prep_survivors", "semantic_dedup_survivors", "curated_training_corpus"):
            op, res = self._call(f"datapipe.{query}", lambda q=query: _collect_query(ctx, q), clock)
            ctx.spark.catalog.clearCache()
            if res is not None:
                _check_oracle(ctx, op, query, *res)
                results[query] = res[1]
        if "corpus_prep_survivors" not in results:
            return PassResult(clock.wall, clock.cpu)
        survivors = {r["doc_id"]: (r["n_tokens"], r["bpe_tokens"]) for r in results["corpus_prep_survivors"]}

        self.n_pass += 1
        path = os.path.join(ctx.work_dir, f"manifest-{self.n_pass}")
        shutil.rmtree(path, ignore_errors=True)
        plan = ingest_plan(ctx.seed * 1000 + self.n_pass, list(survivors))
        schema = "doc_id long, n_tokens long, bpe_tokens long"

        def frame(rows):
            return ctx.spark.createDataFrame(rows, schema)

        with clock.timed():
            M.manifest_init(path)
            batches = [[] for _ in range(plan.n_batches)]
            for d, b in plan.batch_of.items():
                batches[b].append((d, *survivors[d]))
        for rows in batches:
            self._call("sources.manifest_append", lambda rows=rows: M.manifest_append(frame(rows), path), clock)

        upsert_rows = [(d, survivors[d][0] + 1, survivors[d][1]) for d in plan.upsert_keys]
        upsert_rows += [(d, 1, 1) for d in plan.new_keys]
        self._call(
            "sources.manifest_merge_upsert",
            lambda: M.manifest_merge_upsert(ctx.spark, path, frame(upsert_rows), "doc_id"),
            clock,
        )
        before = M.live_row_counts(path)
        self._call(
            "sources.manifest_delete_where",
            lambda: M.manifest_delete_where(ctx.spark, path, F.col("doc_id").isin(plan.delete_keys)),
            clock,
        )
        after = M.live_row_counts(path)
        rewritten = sum(n for f, n in before.items() if f not in after)
        self.rows_rewritten_per_deleted.append(rewritten / max(len(plan.delete_keys), 1))

        def read_back():
            return (
                M.read_snapshot(ctx.spark, path)
                .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("keys"), F.sum("n_tokens").alias("tok"))
                .collect()[0]
            )

        op, got = self._call("sources.read_snapshot", read_back, clock)
        if got is not None:
            final = {d: v[0] for d, v in survivors.items()}
            final.update({d: v + 1 for d, v in ((d, survivors[d][0]) for d in plan.upsert_keys)})
            final.update({d: 1 for d in plan.new_keys})
            for d in plan.delete_keys:
                final.pop(d)
            want = (len(final), sum(final), sum(final.values()))
            ledger.check(op, tuple(got) == want, f"manifest read-back {tuple(got)} != {want}")
        shutil.rmtree(path, ignore_errors=True)
        return PassResult(clock.wall, clock.cpu)


WORKLOADS = {w.name: w for w in (PaperDag, CurationIngest)}
