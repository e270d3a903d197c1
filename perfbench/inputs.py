"""Benchmark inputs.

The tables in ``data/`` are the sf0.1 tables the package's oracle queries
and bench tiers run on (seed 42). ``events``, ``documents`` and
``embeddings`` are byte-for-byte copies; ``customer`` and ``orders`` keep
only the columns the intruder export reads (``c_custkey``,
``c_mktsegment``, ``o_custkey``), with every row. They are fixed, so the
DuckDB oracle hashes in ``expected.json`` hold for every run.

The workload seed draws only what a client would choose: the explorer's
request order and selections, and the ingest batch split and the upsert
and delete key sets. Every check is an invariant that holds for any
seed.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("events", "documents", "embeddings", "customer", "orders")


def fingerprint(data_dir: str = DATA_DIR) -> str:
    """SHA-256 over the table files, so that changed tables are never
    checked against stale oracle hashes."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()


@dataclass
class IngestPlan:
    """Seeded commit plan for the corpus-prep survivors."""

    n_batches: int
    batch_of: dict[int, int]  # survivor doc_id -> batch number
    upsert_keys: list[int]  # existing keys whose rows are replaced
    new_keys: list[int]  # keys the upsert appends
    delete_keys: list[int]


NEW_KEY_OFFSET = 1_000_000
INGEST_BATCHES = 2


def ingest_plan(seed: int, doc_ids: list[int]) -> IngestPlan:
    """Batch split, then 5% of keys upserted, 2% new keys, 2.5% deleted."""
    rng = random.Random(seed)
    ids = sorted(doc_ids)
    n_batches = INGEST_BATCHES
    batch_of = {d: rng.randrange(n_batches) for d in ids}
    upsert = sorted(rng.sample(ids, len(ids) // 20))
    new = sorted(NEW_KEY_OFFSET + d for d in rng.sample(ids, len(ids) // 50))
    pool = ids + new
    delete = sorted(rng.sample(pool, len(pool) // 40))
    return IngestPlan(n_batches, batch_of, upsert, new, delete)


@dataclass
class ExplorerRequest:
    kind: str  # "train", "table" or "scatter"
    params: dict


#: Retrain parameters of every explorer session: the reference app's
#: defaults. They are not drawn from the seed because KMeans' iteration
#: count, and with it the retrain's cost, varies from 25 to 39 over k in
#: 6..10 and different seeds; that would show as run-to-run spread.
EXPLORER_TRAIN = {"n_clusters": 8, "seed": 100}


def explorer_session(rng: random.Random, vocab: int, n_table: int, n_scatter: int) -> list[ExplorerRequest]:
    """One user session: a retrain, then table and scatter selections over
    word ids ``0..vocab-1`` in seeded order."""
    k = EXPLORER_TRAIN["n_clusters"]
    reqs = [ExplorerRequest("train", dict(EXPLORER_TRAIN))]
    browse = ["table"] * n_table + ["scatter"] * n_scatter
    rng.shuffle(browse)
    for kind in browse:
        words = [str(w) for w in rng.sample(range(vocab), rng.randint(1, 3))]
        clusters = rng.sample(range(k), rng.randint(0, 2))
        reqs.append(ExplorerRequest(kind, {"words": words, "clusters": clusters}))
    return reqs
