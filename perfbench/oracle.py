"""Order-insensitive result hashes, and the script that refreshes the
DuckDB oracle hashes in ``expected.json``.

The tables are fixed (see ``inputs.py``), so the oracle runs once, not in
every benchmark run: the corpus-prep oracle alone would add seconds of
DuckDB work to every run. Run it again whenever the tables in ``data/``
change:

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")

#: Catalog queries whose Spark result is checked against its DuckDB oracle.
CHECKED_QUERIES = (
    "c2v_prep_contexts",
    "intruder_task_export",
    "corpus_prep_survivors",
    "semantic_dedup_survivors",
    "curated_training_corpus",
)


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def frame_hash(cols: list[str], rows) -> str:
    """SHA-256 over the rows as sorted lines, columns in name order — the
    canon of the repository's oracle differential."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


def main() -> None:
    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    from ihop_reddit_spark.plans.query_catalog import ORACLE_SQL

    import inputs

    con = duckdb.connect()
    for name in inputs.TABLES:
        path = os.path.join(inputs.DATA_DIR, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    out = {"table_fingerprint": inputs.fingerprint(), "queries": {}}
    for q in CHECKED_QUERIES:
        rel = con.sql(ORACLE_SQL[q])
        rows = rel.fetchall()
        out["queries"][q] = {
            "rows": len(rows),
            "sha256": frame_hash(list(rel.columns), rows),
        }
        print(q, len(rows), flush=True)
    con.close()
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
