"""Community2vec: item embeddings from user contexts (SURVEY §2.10, M1-M3, M6).

Reference: ``ihop/community2vec.py`` trains Gensim Word2Vec (skip-gram,
negative sampling, window=max-context) on bzip2 CSV contexts and evaluates
P@1 on subreddit analogies. This engine keeps the data Spark-side end-to-end:

* training input is a DataFrame with an ``ArrayType(String)`` context column
  (no filesystem hand-off, no ``PathLineSentences``);
* the model is ``pyspark.ml.feature.Word2Vec`` — distributed skip-gram with
  hierarchical softmax. NOT bit-compatible with Gensim SGNS (SURVEY §7
  "what's hard" #1): parity target is analogy-accuracy band, not weights.
* the embedding matrix (vocab≈10k × dim≈100, ~4 MB) is deliberately
  driver-sized for evaluation — the one place the reference's driver-drop is
  the right call; guarded by ``max_driver_vocab``.
"""

from __future__ import annotations

import itertools
import json
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class C2VParams:
    """Hyperparameters, named as the reference names them
    (``ihop/community2vec.py:203-218``; grid defaults ``params.yaml:70-72``)."""

    vector_size: int = 100
    alpha: float = 0.025
    min_alpha: float = 0.0001
    epochs: int = 5
    window: int = 1000         # ref uses max context length ⇒ effectively ∞
    min_count: int = 0
    seed: int = 42
    num_partitions: int = 1    # >1 trades determinism for speed

    def model_id(self) -> str:
        return f"alpha{self.alpha}_vectorSize{self.vector_size}_epochs{self.epochs}"


class Community2Vec:
    """Spark-native trainer: contexts DataFrame → (word, vector) DataFrame."""

    def __init__(self, params: C2VParams | None = None, tokens_col: str = "context") -> None:
        self.params = params or C2VParams()
        self.tokens_col = tokens_col
        self.model = None

    def fit(self, contexts: DataFrame) -> "Community2Vec":
        from pyspark.ml.feature import Word2Vec

        p = self.params
        w2v = Word2Vec(
            vectorSize=p.vector_size,
            minCount=p.min_count,
            numPartitions=p.num_partitions,
            stepSize=p.alpha,
            maxIter=p.epochs,
            seed=p.seed,
            windowSize=p.window,
            inputCol=self.tokens_col,
            outputCol="__w2v",
        )
        self.model = w2v.fit(contexts)
        return self

    def vectors(self) -> DataFrame:
        """(word STRING, vector VectorUDT) — stays distributed."""
        if self.model is None:
            raise RuntimeError("call fit() first")
        return self.model.getVectors()

    def save(self, path: str) -> None:
        self.model.write().overwrite().save(path)

    @classmethod
    def load(cls, path: str, params: C2VParams | None = None) -> "Community2Vec":
        from pyspark.ml.feature import Word2VecModel

        obj = cls(params)
        obj.model = Word2VecModel.load(path)
        return obj


def split_contexts(df: DataFrame, concat_col: str = "context_concat", out_col: str = "context") -> DataFrame:
    """c2v-prep output → training input (space-joined string → array)."""
    return df.select(F.split(F.col(concat_col), " ").alias(out_col))


# ---------------------------------------------------------------------------
# Driver-side embedding matrix + analogy evaluation (M3)
# ---------------------------------------------------------------------------
@dataclass
class EmbeddingMatrix:
    """L2-normalized embedding matrix + string index, driver-local.

    The reference's Gensim ``KeyedVectors`` equivalent
    (``ihop/community2vec.py:291-305``). Construction is size-guarded: this
    is a presentation/eval structure for ≤``max_driver_vocab`` items, never
    the corpus itself.
    """

    words: list[str]
    matrix: np.ndarray  # (vocab, dim) float32, unit rows
    index: dict[str, int] = field(init=False)

    def __post_init__(self) -> None:
        self.index = {w: i for i, w in enumerate(self.words)}

    @classmethod
    def from_vectors_df(
        cls, vectors: DataFrame, max_driver_vocab: int = 200_000
    ) -> "EmbeddingMatrix":
        rows = vectors.limit(max_driver_vocab + 1).collect()
        if len(rows) > max_driver_vocab:
            raise ValueError(
                f"vocab exceeds driver guard {max_driver_vocab}; "
                "use distributed ops (datapipe.similarity) instead"
            )
        words = [r["word"] for r in rows]
        # accept VectorUDT (Spark ML trainer) or plain array<double>
        # (the SGNS fallback / any embedding table)
        mat = np.array(
            [
                r["vector"].toArray()
                if hasattr(r["vector"], "toArray")
                else r["vector"]
                for r in rows
            ],
            dtype=np.float32,
        )
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return cls(words, mat / norms)

    def most_similar(self, word: str, topn: int = 10) -> list[tuple[str, float]]:
        """M6 — cosine nearest neighbors (``ihop/community2vec.py:330-340``)."""
        i = self.index[word]
        sims = self.matrix @ self.matrix[i]
        order = np.argsort(-sims)
        out = []
        for j in order:
            if j != i:
                out.append((self.words[j], float(sims[j])))
            if len(out) >= topn:
                break
        return out

    def analogy(self, a: str, b: str, c: str) -> str | None:
        """b − a + c → nearest word excluding inputs (vector-algebra P@1)."""
        if any(w not in self.index for w in (a, b, c)):
            return None
        ia, ib, ic = self.index[a], self.index[b], self.index[c]
        target = self.matrix[ib] - self.matrix[ia] + self.matrix[ic]
        norm = np.linalg.norm(target)
        if norm:
            target = target / norm
        sims = self.matrix @ target
        sims[[ia, ib, ic]] = -np.inf
        return self.words[int(np.argmax(sims))]


def evaluate_analogies(
    emb: EmbeddingMatrix,
    analogies: list[tuple[str, str, str, str, str]],
    batch_size: int = 2048,
) -> dict:
    """Sectioned P@1 accuracy over (section, a, b, c, expected) 4-tuples.

    Mirrors ``wv.evaluate_word_analogies`` + ``analogy_sections_to_str``
    (``ihop/community2vec.py:85-97, 307-328``): tuples with OOV words are
    skipped (not counted), per-section and total accuracy reported.

    Batched: targets ``M[b]−M[a]+M[c]`` are built vectorized and scored as
    chunked (batch × vocab) matmuls with the input words masked — the
    113k-tuple reference benchmark is a handful of BLAS calls instead of
    113k Python-loop matvecs (SURVEY M3's "one matmul per batch").
    """
    kept = [
        (s, emb.index[a], emb.index[b], emb.index[c], emb.index[d])
        for s, a, b, c, d in analogies
        if all(w in emb.index for w in (a, b, c, d))
    ]
    sections: dict[str, list[int]] = {}
    for start in range(0, len(kept), batch_size):
        chunk = kept[start : start + batch_size]
        ia = np.array([t[1] for t in chunk])
        ib = np.array([t[2] for t in chunk])
        ic = np.array([t[3] for t in chunk])
        expected = np.array([t[4] for t in chunk])
        targets = emb.matrix[ib] - emb.matrix[ia] + emb.matrix[ic]
        norms = np.linalg.norm(targets, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (targets / norms) @ emb.matrix.T
        rows = np.arange(len(chunk))
        sims[rows, ia] = -np.inf
        sims[rows, ib] = -np.inf
        sims[rows, ic] = -np.inf
        preds = np.argmax(sims, axis=1)
        hits = (preds == expected).astype(int)
        for (section, *_), hit in zip(chunk, hits):
            sections.setdefault(section, []).append(int(hit))
    per_section = {
        s: (sum(v) / len(v) if v else 0.0, len(v)) for s, v in sections.items()
    }
    solved = sum(sum(v) for v in sections.values())
    total = sum(len(v) for v in sections.values())
    return {
        "sections": {s: {"accuracy": acc, "n": n} for s, (acc, n) in per_section.items()},
        "total_accuracy": (solved / total) if total else 0.0,
        "total_evaluated": total,
    }


def generate_analogies(pairs_by_section: dict[str, list[tuple[str, str]]]) -> list:
    """All ordered pair-combinations per section → (section, a, b, c, d):
    a:b :: c:d. Mirrors ``ihop/resources/analogies/__init__.py:24-56``."""
    out = []
    for section, pairs in pairs_by_section.items():
        for (a, b), (c, d) in itertools.permutations(pairs, 2):
            out.append((section, a, b, c, d))
    return out


# ---------------------------------------------------------------------------
# Grid search (M2)
# ---------------------------------------------------------------------------
def grid_search(
    contexts: DataFrame,
    grid: dict[str, list],
    analogies: list,
    base=None,
    metrics_path: str | None = None,
    parallelism: int = 1,
    trainer=None,
):
    """Cartesian-product grid over trainer params, best-by-analogy-accuracy
    retained (``ihop/community2vec.py:410-626``; the reference is strictly
    sequential). Each trial is itself a distributed Word2Vec fit; contexts
    are cached across trials.

    ``trainer`` selects the trainer class (default
    :class:`Community2Vec`; pass ``ihop_reddit_spark.ml.sgns.
    SGNSCommunity2Vec`` to grid the SGNS fallback — the reference's own
    grid runs over its Gensim SGNS models). ``base`` must be the
    matching params dataclass (``C2VParams`` / ``SGNSParams``); grid
    keys override its fields.

    ``parallelism > 1`` runs that many trials concurrently from driver
    threads — one SparkSession schedules all of them, so narrow stages of one
    trial fill the scheduler gaps of another (Word2Vec alternates cluster-wide
    stages with driver-side bookkeeping that leaves executors idle). Results
    are deterministic regardless of completion order: trials are reported in
    grid order and ties on accuracy keep the EARLIEST combo, exactly like the
    sequential path.
    """
    trainer = trainer or Community2Vec
    expected = (
        C2VParams if trainer is Community2Vec else type(trainer().params)
    )
    if base is None:
        base = expected()
    elif type(base) is not expected:
        # an explicit positional base from the pre-trainer call shape
        # would otherwise build the WRONG params dataclass via
        # type(base)(...) and fail deep inside fit with an opaque
        # AttributeError (or run with wrong semantics on field overlap)
        raise ValueError(
            f"grid_search: base is {type(base).__name__} but trainer "
            f"{trainer.__name__} expects {expected.__name__}"
        )
    contexts = contexts.cache()
    keys = sorted(grid)
    combos = list(itertools.product(*(grid[k] for k in keys)))

    def run_trial(combo):
        params = type(base)(**{**base.__dict__, **dict(zip(keys, combo))})
        model = trainer(params).fit(contexts)
        emb = EmbeddingMatrix.from_vectors_df(model.vectors())
        metrics = evaluate_analogies(emb, analogies)
        return {"params": dict(zip(keys, combo)), **metrics}, model

    if parallelism > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            trials = list(pool.map(run_trial, combos))
    else:
        trials = [run_trial(c) for c in combos]

    results = [t[0] for t in trials]
    best = (-1.0, None)
    for metrics, model in trials:
        if metrics["total_accuracy"] > best[0]:
            best = (metrics["total_accuracy"], model)
    contexts.unpersist()
    summary = {"trials": results, "best_accuracy": best[0]}
    if metrics_path:
        with open(metrics_path, "w") as f:
            json.dump(summary, f, indent=2)
    return best[1], summary


# ---------------------------------------------------------------------------
# Gensim/word2vec interchange
# ---------------------------------------------------------------------------
def save_word2vec_text(
    vectors: DataFrame, path: str, max_driver_vocab: int = 200_000
) -> None:
    """Export a (word, vector) frame in the standard word2vec TEXT
    format — ``"<vocab> <dim>"`` header then one ``word v1 v2 …`` line
    per word — readable by Gensim's ``KeyedVectors.
    load_word2vec_format(binary=False)``. The interop bridge for
    reference users: the reference's whole model surface is Gensim
    KeyedVectors (``ihop/community2vec.py``), so embeddings trained
    here drop straight into their existing notebooks/tools.

    Driver-side by design (one text file is the format), size-guarded
    like ``EmbeddingMatrix.from_vectors_df``. Accepts VectorUDT or
    array<double> vector columns.
    """
    n = vectors.count()
    if n > max_driver_vocab:
        raise ValueError(
            f"vocab {n} exceeds driver guard {max_driver_vocab}"
        )
    rows = vectors.select("word", "vector").collect()
    if not rows:
        raise ValueError("empty vectors frame")
    first = rows[0]["vector"]
    dim = len(first.toArray() if hasattr(first, "toArray") else first)
    with open(path, "w") as f:
        f.write(f"{n} {dim}\n")
        for r in rows:
            v = r["vector"]
            vals = v.toArray() if hasattr(v, "toArray") else v
            f.write(
                r["word"] + " "
                + " ".join(repr(float(x)) for x in vals) + "\n"
            )


def load_word2vec_text(spark, path: str) -> DataFrame:
    """Read a word2vec text-format file back into a (word,
    vector array<double>) frame (the inverse of
    :func:`save_word2vec_text`; also loads files Gensim wrote)."""
    rows = []
    with open(path) as f:
        header = f.readline().split()
        n, dim = int(header[0]), int(header[1])
        for line in f:
            parts = line.rstrip("\n").split(" ")
            word, vals = parts[0], parts[1:]
            if len(vals) != dim:
                raise ValueError(f"bad line for word {word!r}")
            rows.append((word, [float(x) for x in vals]))
    if len(rows) != n:
        raise ValueError(f"header declared {n} words, file has {len(rows)}")
    return spark.createDataFrame(rows, "word string, vector array<double>")
