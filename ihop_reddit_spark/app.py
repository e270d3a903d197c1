"""Interactive cluster-exploration surface — the engine-side equivalent
of the reference's Dash app (``app.py:362-637``): load a community
embedding, retrain KMeans live with (k, seed), then drive linked
scatter/table views from subreddit and cluster selections.

This module deliberately ships NO web-framework dependency. It exposes

* :class:`ClusterExplorer` — the session object every reference callback
  maps onto (``train_clusters`` → :meth:`train`,
  ``get_cluster_visualization`` → :meth:`scatter_data`,
  ``get_display_table`` → :meth:`selection_table`, the E4 recategorize
  → :meth:`recategorize`), and
* :func:`make_server` — a stdlib ``http.server`` JSON API over one
  explorer, for ``cli.py serve``.

Every view is one filter over the cached assignment frame (vocab-sized:
one row per word, persisted once per training run); selections are tiny
literal lists, so the filters are broadcast-free ``isin`` predicates. The
clusters of selected words come from one collect of at most one row per
selected word, so a view is at most two Spark jobs. Only the HTTP layer
collects views, and it is row-capped.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Reference app's display-name conventions (app.py:479-512).
UNSELECTED_CLUSTER_KEY = "other"
CLUSTER_ASSIGNMENT_DISPLAY_NAME = "Cluster Assignment"

#: Cap on rows any HTTP response will collect to the driver.
MAX_HTTP_ROWS = 50_000


class ClusterExplorer:
    """One interactive session: an embedding table plus the latest
    KMeans labeling and 2-D projection.

    ``vectors`` must have ``(word_col, vec_col: array<double>)`` — e.g.
    ``Community2Vec.fit(...).vectors()`` through
    ``vector_to_array``, or any embedding table.
    """

    def __init__(
        self,
        vectors: DataFrame,
        word_col: str = "word",
        vec_col: str = "vector",
    ) -> None:
        self.vectors = vectors
        self.word_col = word_col
        self.vec_col = vec_col
        self.model_name: str | None = None
        self.assignments: DataFrame | None = None
        self.metrics: dict[str, float] = {}
        self._labels: dict[int, str] = {}

    # -- reference train_clusters (app.py:396-445) ----------------------
    def train(
        self,
        n_clusters: int,
        seed: int = 100,
        projection: str = "pca",
    ) -> dict[str, Any]:
        """(Re)train KMeans and the 2-D projection; cache the
        vocab-sized assignment frame. Returns metrics + model name,
        mirroring the reference's metrics display.

        A frame of up to ``ml.clustering.MAX_LOCAL_POINTS`` words is
        trained on the driver from one collect, as the reference's sklearn
        KMeans and t-SNE are: numpy fits KMeans, projects the vectors and
        computes the metrics, and the words come back with their labels
        and coordinates as a local relation, so the retrain is one Spark
        job. Larger frames fit MLlib KMeans, project with MLlib PCA and
        take the metrics from Spark aggregates.

        ``projection``: ``"pca"`` (default) or ``"tsne"`` (the
        reference's literal choice — driver-side, size-guarded; right for
        vocab-sized frames only)."""
        from .ml.clustering import ClusteringConfig, _collect_within_guard

        if projection not in ("pca", "tsne"):
            raise ValueError(
                f"unknown projection {projection!r}; use 'pca' or 'tsne'"
            )
        cfg = ClusteringConfig(n_clusters=n_clusters, seed=seed)
        table = _collect_within_guard(
            self.vectors.select(self.word_col, self.vec_col)
        )
        # both paths compute everything that can fail before touching
        # session state, so a failed retrain leaves the previous model
        # fully consistent (assignments + name + metrics all from one run)
        if table is None:
            fresh, metrics = self._train_distributed(cfg, projection)
        else:
            fresh, metrics = self._train_local(table, cfg, projection)
        old = self.assignments
        self.assignments = fresh
        if old is not None:
            old.unpersist()
        self._labels = {}
        self.model_name = (
            f"Kmeans Cluster Assignment {n_clusters} clusters "
            f"and random state {seed}"
        )
        self.metrics = metrics
        return {"name": self.model_name, "metrics": self.metrics}

    def _train_local(self, table, cfg, projection: str):
        """(frame, metrics) from the collected ``(word, vector)`` rows: the
        fit ``kmeans_assign`` makes, then the projection and the metrics
        in numpy."""
        import pyarrow as pa

        from .ml.clustering import _fit_collected, cluster_quality_local
        from .ml.projection import pca_local, tsne_local

        _model, X, labels = _fit_collected(table.column(self.vec_col), cfg)
        metrics = cluster_quality_local(X, labels)
        xy = pca_local(X, dims=2) if projection == "pca" else tsne_local(X)
        out = table.append_column("cluster_id", pa.array(labels))
        out = out.append_column("x", pa.array(xy[:, 0]))
        out = out.append_column("y", pa.array(xy[:, 1]))
        # at most MAX_LOCAL_POINTS rows: one partition, so a scan is one task
        fresh = self.vectors.sparkSession.createDataFrame(out).coalesce(1)
        return fresh.persist(), metrics

    def _train_distributed(self, cfg, projection: str):
        """(frame, metrics) from MLlib KMeans, MLlib PCA (or the
        driver-side t-SNE) and Spark aggregates, for frames above the
        guard."""
        from .ml.clustering import _fit_mllib, _with_features, cluster_quality
        from .ml.projection import pca_project, tsne_project

        feat = _with_features(self.vectors, self.vec_col)
        assigned = _fit_mllib(feat, cfg).transform(feat).select(
            self.word_col, self.vec_col, "cluster_id"
        )
        if projection == "tsne":
            pdf = tsne_project(self.vectors, self.vec_col, self.word_col)
            coords = self.vectors.sparkSession.createDataFrame(
                pdf.rename(columns={"tsne_x": "x", "tsne_y": "y"})
            )
            fresh = assigned.join(coords, self.word_col)
        else:
            fresh = pca_project(
                assigned, self.vec_col, self.word_col, dims=2,
                carry=[self.vec_col, "cluster_id"],
            )
        fresh = fresh.persist()
        # the first metric aggregate fills the cache
        try:
            return fresh, cluster_quality(fresh, self.vec_col)
        except Exception:
            fresh.unpersist()
            raise

    def _require_trained(self) -> DataFrame:
        if self.assignments is None:
            raise RuntimeError("call train() first")
        return self.assignments.drop(self.vec_col)

    def _clusters_of(self, words: list[str]) -> set[int]:
        """Clusters of the selected words: one collect of at most one row
        per word (the frame has one row per word)."""
        base = self._require_trained()
        return {
            r["cluster_id"]
            for r in base.where(F.col(self.word_col).isin(words))
            .select("cluster_id")
            .collect()
        }

    # -- reference get_display_table (app.py:571-637) -------------------
    def selection_table(
        self,
        words: list[str] | None = None,
        clusters: list[int] | None = None,
        show_neighbors: bool = False,
        collection: str | None = None,
    ) -> DataFrame:
        """Rows for selected words ∪ members of selected clusters
        (∪ the full clusters of selected words when ``show_neighbors``),
        deduplicated, coordinates dropped — the reference table
        semantics exactly.

        ``collection`` selects every member of a named subreddit
        collection as if typed into the words box — shipping the
        reference app's own TODO ("list of subreddits can be chosen
        from a collection", app.py:15) over the vendored
        ``resources/collections`` data."""
        base = self._require_trained()
        words = list(words or [])
        if collection:
            from .resources.collections import get_collection_members

            words += get_collection_members(collection)
        keep = {int(c) for c in clusters or []}
        if show_neighbors and words:
            keep |= self._clusters_of(words)
        # one row per word, so one filter is already deduplicated
        out = base.where(
            F.col(self.word_col).isin(words)
            | F.col("cluster_id").isin(sorted(keep))
        ).select(self.word_col, "cluster_id")
        return self._with_labels(out).orderBy("cluster_id", self.word_col)

    # -- reference get_cluster_visualization (app.py:446-561) -----------
    def scatter_data(
        self,
        words: list[str] | None = None,
        clusters: list[int] | None = None,
        highlight: bool = False,
    ) -> DataFrame:
        """All points with (x, y, cluster_id, display_cluster), ordered
        like the table: when ``highlight``, clusters outside the
        selection (selected cluster ids ∪ clusters of selected words)
        display as 'other' — the grey-out semantics of the reference
        scatter. The order also makes the row-capped HTTP collect one
        top-k job at any partition count."""
        base = self._require_trained()
        disp = F.col("cluster_id").cast("string")
        if highlight:
            keep = set(int(c) for c in clusters or [])
            if words:
                keep |= self._clusters_of(words)
            disp = (
                F.when(
                    F.col("cluster_id").isin(sorted(keep)), disp
                ).otherwise(F.lit(UNSELECTED_CLUSTER_KEY))
                if keep
                else F.lit(UNSELECTED_CLUSTER_KEY)
            )
        return self._with_labels(
            base.select(
                self.word_col,
                "x",
                "y",
                "cluster_id",
                disp.alias("display_cluster"),
            )
        ).orderBy("cluster_id", self.word_col)

    # -- reference E4 recategorization ----------------------------------
    def recategorize(self, labels: dict[int, str]) -> None:
        """Attach human labels to cluster ids (the app's editable
        cluster-name column); views emit them as ``cluster_label``."""
        self._labels = {int(k): str(v) for k, v in labels.items()}

    def _with_labels(self, df: DataFrame) -> DataFrame:
        if not self._labels:
            return df
        expr = None
        for cid, label in sorted(self._labels.items()):
            cond = F.when(F.col("cluster_id") == cid, F.lit(label))
            expr = cond if expr is None else expr.when(
                F.col("cluster_id") == cid, F.lit(label)
            )
        return df.withColumn(
            "cluster_label",
            expr.otherwise(F.col("cluster_id").cast("string")),
        )


def explorer_from_events(
    spark: SparkSession,
    sf_dir: str,
    vector_size: int = 16,
    epochs: int = 3,
    seed: int = 100,
) -> ClusterExplorer:
    """Build an explorer by training community2vec on the events table —
    the sandbox stand-in for loading a saved Reddit-month model."""
    from pyspark.ml.functions import vector_to_array

    from .ml.community2vec import C2VParams, Community2Vec, split_contexts
    from .plans.c2v_prep import EVENTS_C2V_CFG, user_contexts

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    contexts = split_contexts(user_contexts(events, EVENTS_C2V_CFG))
    model = Community2Vec(
        C2VParams(vector_size=vector_size, epochs=epochs, seed=seed)
    ).fit(contexts)
    vectors = model.vectors().select(
        "word", vector_to_array(F.col("vector")).alias("vector")
    )
    return ClusterExplorer(vectors)


# ---------------------------------------------------------------------------
# Rendered scatter page — the reference's plotly figure
# (``app.py:446-558``) as a dependency-free inline-SVG HTML page:
# every point, colored by cluster (grey for 'other' under highlight),
# with per-point <title> tooltips and a legend whose entries are plain
# links that re-request the page with that cluster selected+highlighted
# — the same select→highlight flow, zero JS.
# ---------------------------------------------------------------------------
_SCATTER_PALETTE = [
    "#4c78a8", "#f58518", "#54a24b", "#e45756", "#72b7b2",
    "#eeca3b", "#b279a2", "#ff9da6", "#9d755d", "#bab0ac",
]
_OTHER_FILL = "#cccccc"


def scatter_html(
    explorer: ClusterExplorer,
    words: list[str] | None = None,
    clusters: list[int] | None = None,
    highlight: bool = False,
    width: int = 720,
    height: int = 520,
) -> str:
    """Static HTML rendering of :meth:`ClusterExplorer.scatter_data`."""
    import html as _html

    rows = _rows_json(explorer.scatter_data(words, clusters, highlight))
    pad = 24
    if rows:
        xs = [r["x"] for r in rows]
        ys = [r["y"] for r in rows]
        x0, x1 = min(xs), max(xs)
        y0, y1 = min(ys), max(ys)
        sx = (width - 2 * pad) / ((x1 - x0) or 1.0)
        sy = (height - 2 * pad) / ((y1 - y0) or 1.0)
    circles = []
    for r in sorted(rows, key=lambda r: (r["display_cluster"] != "other",)):
        cx = pad + (r["x"] - x0) * sx
        cy = height - pad - (r["y"] - y0) * sy  # svg y grows downward
        fill = (
            _OTHER_FILL
            if r["display_cluster"] == UNSELECTED_CLUSTER_KEY
            else _SCATTER_PALETTE[int(r["cluster_id"]) % len(_SCATTER_PALETTE)]
        )
        tip = _html.escape(
            f"{r[explorer.word_col]} (cluster {r['cluster_id']})"
        )
        circles.append(
            f'<circle cx="{cx:.1f}" cy="{cy:.1f}" r="4" fill="{fill}"'
            f' data-cluster="{r["cluster_id"]}"><title>{tip}</title></circle>'
        )
    legend = []
    for cid in sorted({r["cluster_id"] for r in rows}):
        color = _SCATTER_PALETTE[int(cid) % len(_SCATTER_PALETTE)]
        label = next(
            (
                r["cluster_label"]
                for r in rows
                if r["cluster_id"] == cid and "cluster_label" in r
            ),
            str(cid),
        )
        legend.append(
            f'<li><span style="background:{color}" class="swatch"></span>'
            f'<a href="/scatter.html?clusters={cid}&amp;highlight=1">'
            f"cluster {_html.escape(str(label))}</a></li>"
        )
    title = explorer.model_name or "model"
    return f"""<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>{_html.escape(title)}</title>
<style>
 body {{ font-family: sans-serif; margin: 1.5rem; }}
 .swatch {{ display: inline-block; width: .8em; height: .8em;
            margin-right: .4em; border-radius: 50%; }}
 ul.legend {{ list-style: none; padding: 0; }}
 ul.legend li {{ margin: .15rem 0; }}
 svg {{ border: 1px solid #ddd; }}
</style></head>
<body>
<h1>{_html.escape(title)}</h1>
<p><a href="/scatter.html">show all</a> ·
   <a href="/export.csv">download CSV</a> · {len(rows)} points</p>
<svg width="{width}" height="{height}"
     viewBox="0 0 {width} {height}">{''.join(circles)}</svg>
<ul class="legend">{''.join(legend)}</ul>
</body></html>"""


# ---------------------------------------------------------------------------
# stdlib HTTP JSON API (cli.py serve)
# ---------------------------------------------------------------------------
def _rows_json(df: DataFrame) -> list[dict]:
    rows = df.limit(MAX_HTTP_ROWS + 1).collect()
    if len(rows) > MAX_HTTP_ROWS:
        raise ValueError(
            f"response exceeds {MAX_HTTP_ROWS} rows; narrow the selection"
        )
    return [r.asDict() for r in rows]


def make_server(explorer: ClusterExplorer, host: str = "127.0.0.1", port: int = 0):
    """HTTP server over one explorer session.

    * ``POST /train``   body ``{"n_clusters": k, "seed": s,
      "projection": "pca"|"tsne"}``
    * ``POST /labels``  body ``{"<cluster_id>": "<label>", ...}``
    * ``GET /table?words=a,b&clusters=0,1&neighbors=1``
    * ``GET /scatter?words=a&clusters=2&highlight=1``
    * ``GET /scatter.html?clusters=2&highlight=1`` (also ``/``) —
      rendered inline-SVG scatter page with legend links driving the
      select→highlight flow (reference ``app.py:446-558``)
    * ``GET /export.csv`` — full assignment table as CSV (the
      reference's download_cluster_csv button, app.py:639-656)
    * ``GET /health``

    Returns the (not yet started) ``http.server.ThreadingHTTPServer``;
    callers run ``serve_forever()`` (cli) or drive it from a thread
    (tests). Single-session by design — parity with the reference app's
    one-model-at-a-time state.
    """
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    def _csv(qs: dict, key: str) -> list[str]:
        raw = qs.get(key, [""])[0]
        return [v for v in raw.split(",") if v]

    class Handler(BaseHTTPRequestHandler):
        # chunked transfer (the streamed CSV export) needs HTTP/1.1;
        # JSON responses all carry Content-Length, so keep-alive is safe
        protocol_version = "HTTP/1.1"

        def _send(self, code: int, payload: Any) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet test runs
            pass

        def do_GET(self):
            url = urlparse(self.path)
            qs = parse_qs(url.query)
            headers_sent = False  # set by the streaming CSV branch
            try:
                if url.path == "/health":
                    self._send(
                        200,
                        {
                            "trained": explorer.assignments is not None,
                            "model": explorer.model_name,
                        },
                    )
                elif url.path == "/table":
                    df = explorer.selection_table(
                        words=_csv(qs, "words"),
                        clusters=[int(c) for c in _csv(qs, "clusters")],
                        show_neighbors=qs.get("neighbors", ["0"])[0]
                        == "1",
                        collection=qs.get("collection", [None])[0],
                    )
                    self._send(200, {"rows": _rows_json(df)})
                elif url.path == "/scatter":
                    df = explorer.scatter_data(
                        words=_csv(qs, "words"),
                        clusters=[int(c) for c in _csv(qs, "clusters")],
                        highlight=qs.get("highlight", ["0"])[0] == "1",
                    )
                    self._send(200, {"rows": _rows_json(df)})
                elif url.path in ("/", "/scatter.html"):
                    page = scatter_html(
                        explorer,
                        words=_csv(qs, "words"),
                        clusters=[int(c) for c in _csv(qs, "clusters")],
                        highlight=qs.get("highlight", ["0"])[0] == "1",
                    ).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "text/html")
                    self.send_header("Content-Length", str(len(page)))
                    self.end_headers()
                    self.wfile.write(page)
                elif url.path == "/export.csv":
                    import csv as _csvmod
                    import io

                    df = explorer._with_labels(
                        explorer._require_trained()
                    ).orderBy("cluster_id", explorer.word_col)
                    cols = df.columns
                    headers_sent = True
                    self.send_response(200)
                    self.send_header("Content-Type", "text/csv")
                    self.send_header(
                        "Content-Disposition",
                        f'attachment; filename="{explorer.model_name}.csv"',
                    )
                    self.send_header("Transfer-Encoding", "chunked")
                    self.end_headers()

                    def emit(chunk: bytes) -> None:
                        self.wfile.write(
                            f"{len(chunk):x}\r\n".encode()
                            + chunk + b"\r\n"
                        )

                    # stream via toLocalIterator — the FULL table at any
                    # vocab size, one partition in driver memory at a
                    # time, no MAX_HTTP_ROWS cap
                    buf = io.StringIO()
                    w = _csvmod.DictWriter(buf, fieldnames=cols)
                    w.writeheader()
                    for r in df.toLocalIterator():
                        w.writerow(r.asDict())
                        if buf.tell() > 65536:
                            emit(buf.getvalue().encode())
                            buf.seek(0)
                            buf.truncate(0)
                    if buf.tell():
                        emit(buf.getvalue().encode())
                    self.wfile.write(b"0\r\n\r\n")
                else:
                    self._send(404, {"error": "not found"})
            except Exception as exc:  # surface errors as JSON, keep serving
                if headers_sent:
                    # a 200 + chunked body is already on the wire (e.g. a
                    # Spark error mid toLocalIterator) — emitting a second
                    # status line would corrupt the response AND poison
                    # the keep-alive connection. Abort: drop the terminal
                    # 0-chunk so the client sees a truncated transfer,
                    # and close the connection instead of reusing it.
                    self.close_connection = True
                else:
                    self._send(400, {"error": str(exc)})

        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            try:
                payload = json.loads(self.rfile.read(n) or b"{}")
                if self.path == "/train":
                    out = explorer.train(
                        int(payload.get("n_clusters", 8)),
                        int(payload.get("seed", 100)),
                        projection=str(payload.get("projection", "pca")),
                    )
                    self._send(200, out)
                elif self.path == "/labels":
                    explorer.recategorize(payload)
                    self._send(200, {"labels": explorer._labels})
                else:
                    self._send(404, {"error": "not found"})
            except Exception as exc:
                self._send(400, {"error": str(exc)})

    return ThreadingHTTPServer((host, port), Handler)
