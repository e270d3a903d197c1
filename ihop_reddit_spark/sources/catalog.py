"""Atomic MULTI-TABLE commits over manifest tables — the catalog grain.

A single manifest table already has Delta-style optimistic transactions
(``manifest.py``: create-if-absent version docs). What it cannot give is
an invariant ACROSS tables — "the fact table and its derived summary
advance together or not at all" — the thing a 100 TB pipeline needs when
every ingest touches a fact table plus rollups, indexes, and lineage
side-tables. Delta has no answer (one log per table); Iceberg gets it
from a catalog-level commit (Nessie/REST catalog). This module is that
catalog grain, re-expressed with the same two primitives the manifest
layer already trusts: JSON docs published by POSIX ``os.link``
create-if-absent, and uniquely-named immutable staged files.

Protocol — a WRITE-AHEAD catalog log with idempotent roll-forward:

1. ``CatalogTransaction.append(table, df)`` stages the batch's parquet
   files into the table's own data/ directory (uniquely named, invisible
   — no table version doc references them yet) and records the would-be
   commit payload (files, stats, row counts, blooms) in the transaction.
2. ``commit()`` publishes ONE catalog version doc carrying every table's
   payload. This single create-if-absent is the atomic point: before it,
   nothing is visible anywhere; after it, the transaction is durable and
   EVERY table's change is logically committed.
3. Roll-forward materializes each payload as an ordinary table version
   doc (tagged ``catalog_txn``) so plain-table readers see it too.
   Any process can roll forward (readers and later writers do it
   automatically); materialization is idempotent — the table-doc
   create-if-absent race is resolved by checking the winner's
   ``catalog_txn`` tag, and a deterministic marker doc records the
   assigned table versions once known.

Crash analysis: die before the catalog doc → staged files are orphans,
nothing visible (``catalog_vacuum_orphans`` reclaims them); die after
the catalog doc → the transaction IS committed, and the next reader or
writer completes materialization. There is no window where a reader can
observe one table's half of a transaction without the other.

Scope contract: transactions carry APPEND payloads (the cross-table
atomicity case that dominates practice: fact + rollup + index written
together). Rewriting ops (delete/compact) depend on the table state
they were computed against and stay single-table — their own doc-level
transaction already covers them. ``append`` validates against the
table's schema at stage time; materialization defers to any NEWER
table schema (metadata-only evolution landing between the catalog doc
and roll-forward stays in force — staged files read correctly through
the stable physical names), carrying the stage-time schema only as
provenance.

Consistent cross-table READS: ``catalog_pins`` resolves a catalog
version to one version per table — every table as of the SAME
transaction boundary — and ``read_catalog_table`` reads a table at its
pin. Direct-to-table commits (outside any transaction) remain possible
and visible to plain ``read_snapshot`` immediately; catalog-pinned
reads serialize them AFTER the pinned transaction, exactly like
Iceberg's catalog pointer vs. orphan table metadata.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from . import manifest as M

_CATALOG_DIR = "_catalog"


def _cat_dir(cat: str) -> str:
    return os.path.join(cat, _CATALOG_DIR)


def _cat_doc_path(cat: str, version: int) -> str:
    return os.path.join(_cat_dir(cat), f"v{version:08d}.json")


def _marker_path(cat: str, version: int) -> str:
    return os.path.join(_cat_dir(cat), f"applied-v{version:08d}.json")


def catalog_versions(cat: str) -> list[int]:
    d = _cat_dir(cat)
    if not os.path.isdir(d):
        raise FileNotFoundError(f"no catalog at {cat}")
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            out.append(int(f[1:-5]))
    return sorted(out)


def catalog_latest(cat: str) -> int:
    versions = catalog_versions(cat)
    if not versions:
        raise FileNotFoundError(f"no catalog versions at {cat}")
    return versions[-1]


def read_catalog_doc(cat: str, version: int) -> dict:
    with open(_cat_doc_path(cat, version)) as fh:
        return json.load(fh)


def _commit_catalog_doc(cat: str, doc: dict) -> int:
    """Atomically publish ``doc`` as catalog version ``doc['version']``
    (the table commit protocol, ``manifest._publish_doc``; its
    ``committed_at`` stamp drives catalog timestamp time travel)."""
    version = doc["version"]
    return M._publish_doc(
        _cat_doc_path(cat, version), doc, f"catalog version {version} at {cat}"
    )


def catalog_init(cat: str, tables: dict[str, str]) -> int:
    """Create a catalog over ``tables`` (name → manifest-table path).
    Tables must already exist (``manifest_init`` them first); their
    current heads become the catalog's base pins."""
    if os.path.isdir(_cat_dir(cat)) and catalog_versions(cat):
        raise FileExistsError(f"catalog already exists at {cat}")
    base_pins = {
        # raises if a table doesn't exist; pre-catalog data is pinned
        # at its init-time head
        name: M.latest_version(path)
        for name, path in tables.items()
    }
    return _commit_catalog_doc(
        cat,
        {
            "version": 0,
            "parent": None,
            "operation": "init",
            "tables": {
                name: os.path.abspath(path)
                for name, path in tables.items()
            },
            "base_pins": base_pins,
            "txn": {},
        },
    )


def catalog_tables(cat: str) -> dict[str, str]:
    """name → table path (fixed at init)."""
    return dict(read_catalog_doc(cat, 0)["tables"])


def _find_materialized(
    snap: M._Snapshot, cat: str, cat_version: int
) -> int | None:
    """The table version whose doc carries this catalog txn tag, or
    None — scanned newest-first (txns only ever materialize forward).

    Vacuum durability: a checkpoint doc folds the ``catalog_txn`` tags
    of every DROPPED ancestor into ``catalog_txns_applied``
    (manifest_vacuum), so a transaction whose own doc fell below the
    retention horizon still reads as applied — without that, a lost
    marker file after a vacuum would let roll-forward RE-APPLY it. The
    checkpoint version stands in as the assigned version (exact
    point-in-time pins below the horizon are gone anyway — the same
    contract as single-table time travel after vacuum)."""
    key = {"catalog": os.path.abspath(cat), "catalog_version": cat_version}
    for v, doc in reversed(snap.log):
        if doc.get("catalog_txn") == key:
            return v
        if key in doc.get("catalog_txns_applied", []):
            return v
    return None


def roll_forward(cat: str) -> dict[int, dict[str, int]]:
    """Materialize every committed-but-unapplied catalog transaction as
    ordinary table version docs, IN CATALOG ORDER (the serialization
    order of the write-ahead log). Idempotent and safe under races:
    losing a table-doc create-if-absent race re-reads the winner — ours
    if it carries this txn's tag, otherwise an interleaved direct commit
    we simply retry on top of. Returns {catalog_version: {table:
    assigned table version}} for everything applied or verified."""
    tables = catalog_tables(cat)
    applied: dict[int, dict[str, int]] = {}
    for cv in catalog_versions(cat):
        if cv == 0:
            continue
        marker = _marker_path(cat, cv)
        if os.path.exists(marker):
            with open(marker) as fh:
                applied[cv] = json.load(fh)
            continue
        doc = read_catalog_doc(cat, cv)
        assigned: dict[str, int] = {}
        for name, payload in sorted(doc["txn"].items()):
            path = tables[name]
            done = None
            while done is None:
                # head and the idempotency scan come from ONE snapshot:
                # a concurrent roll-forwarder materializing this same
                # txn after it lands at head+1 first, our
                # create-if-absent conflicts, and the rescan finds its
                # tag — a scan older than the head would instead commit
                # the same payload twice at two different versions
                snap = M._snapshot(path)
                head = snap.version
                done = _find_materialized(snap, cat, cv)
                if done is not None:
                    break
                # a CHECK constraint that landed on the table log AFTER
                # this txn staged (table-log order puts it BEFORE our
                # materialized version) must still gate these rows —
                # stage-time verify can't have seen it. Verify only the
                # delta vs the payload's recorded stage-time set; the
                # common no-new-constraint path costs one dict compare.
                delta = {
                    n: e
                    for n, e in snap.constraints.items()
                    if payload.get("constraints", {}).get(n) != e
                }
                if delta:
                    spark = SparkSession.getActiveSession()
                    if spark is None:
                        raise RuntimeError(
                            f"catalog roll-forward of {cat} v{cv} must"
                            f" re-verify constraints {sorted(delta)} on"
                            f" table {name!r} but no SparkSession is"
                            " active"
                        )
                    M._verify_constraints(
                        spark,
                        snap,
                        [os.path.join(path, r) for r in payload["added"]],
                        cons=delta,
                    )
                try:
                    # a schema-bearing commit newer than the stage wins:
                    # committing the stage-time schema verbatim would
                    # silently REVERT an interleaved alter_schema. The
                    # staged files are still correct under the newer
                    # schema (physical names never change; added columns
                    # read as NULL, widened types promote natively), so
                    # the materialized doc carries schema=None unless the
                    # table has no schema at all yet; the stage-time
                    # schema is kept as provenance.
                    M._commit_version(
                        path,
                        {
                            "version": head + 1,
                            "parent": head,
                            "operation": "append",
                            "schema": payload["schema"]
                            if snap.schema is None
                            else None,
                            "staged_schema": payload["schema"],
                            "added": payload["added"],
                            "removed": [],
                            "stats": payload["stats"],
                            "row_counts": payload["row_counts"],
                            "blooms": payload["blooms"],
                            "catalog_txn": {
                                "catalog": os.path.abspath(cat),
                                "catalog_version": cv,
                            },
                        },
                    )
                    done = head + 1
                except M.ConcurrentCommitError:
                    done = _find_materialized(M._snapshot(path), cat, cv)
            assigned[name] = done
        # marker content is derived from the table logs, so racing
        # roll-forwarders write identical bytes; os.replace is atomic
        M._replace_doc(marker, assigned)
        applied[cv] = assigned
    return applied


def catalog_pins(cat: str, version: int | None = None) -> dict[str, int]:
    """One table version per table — the consistent cross-table
    snapshot AS OF catalog ``version`` (default head): each table at
    the version created by its latest transaction ≤ ``version``, or 0
    pre-transaction. Runs roll-forward first so pins always exist."""
    applied = roll_forward(cat)
    if version is None:
        version = catalog_latest(cat)
    pins = dict(read_catalog_doc(cat, 0)["base_pins"])
    for cv in sorted(applied):
        if cv > version:
            break
        pins.update(applied[cv])
    return pins


def catalog_version_at_timestamp(cat: str, ts: float) -> int:
    """Resolve an epoch-seconds timestamp to the catalog version
    visible at that instant — the catalog twin of
    :func:`~ihop_reddit_spark.sources.manifest.version_at_timestamp`,
    with the same monotone-stamp discipline (each version's effective
    time is the max commit stamp seen so far, so writer clock jitter
    never orders timestamp travel differently from version travel).
    Raises when ``ts`` precedes the first commit or the catalog
    predates commit stamps; a ``ts`` past the head resolves to head."""
    return M.resolve_at_timestamp(
        catalog_versions(cat),
        lambda cv: read_catalog_doc(cat, cv),
        ts,
        f"catalog {cat}",
    )


def _clamped_pin(path: str, pin: int) -> int:
    """THE retention-clamp rule, shared by every catalog-pinned read: a
    pin that fell below the table's retention horizon (vacuum folded
    the pinned doc into a checkpoint) clamps to the oldest retained
    version — the checkpoint that absorbed the pinned rows — instead of
    silently reading an empty prefix."""
    return max(pin, M.list_versions(path)[0])


def catalog_snapshot_asof(
    spark: SparkSession,
    cat: str,
    *,
    version: int | None = None,
    as_of_timestamp: float | None = None,
) -> dict[str, DataFrame]:
    """EVERY table of the catalog at one consistent transaction
    boundary — multi-table time travel, the transaction twin of
    per-table ``manifest_timetravel``: ``{table: DataFrame}`` with each
    table at its :func:`catalog_pins` pin AS OF catalog ``version``
    (or the version resolved from ``as_of_timestamp``; mutually
    exclusive; default head).

    The pins are the catalog's TRANSACTIONAL state: a table whose
    manifest advanced independently between catalog commits (a direct
    ``manifest_append`` outside any transaction) reads at its pinned
    transaction version — the direct commit is serialized AFTER the
    pinned transaction and becomes visible only from the first catalog
    version whose own transaction materialized on top of it, exactly
    like Iceberg's catalog pointer vs orphan table metadata (module
    docstring, "Consistent cross-table READS"). Pins below a table's
    retention horizon clamp to the oldest retained version, as in
    :func:`read_catalog_table`."""
    if as_of_timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_timestamp, not both")
        version = catalog_version_at_timestamp(cat, as_of_timestamp)
    pins = catalog_pins(cat, version)
    out: dict[str, DataFrame] = {}
    for name, path in sorted(catalog_tables(cat).items()):
        out[name] = M.read_snapshot(spark, path, _clamped_pin(path, pins[name]))
    return out


def read_catalog_table(
    spark: SparkSession,
    cat: str,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Read ``table`` at its catalog pin — cross-table consistent with
    every other table read at the same catalog ``version``, with the
    shared retention clamp (:func:`_clamped_pin`)."""
    pins = catalog_pins(cat, version)
    path = catalog_tables(cat)[table]
    return M.read_snapshot(spark, path, _clamped_pin(path, pins[table]))


class CatalogTransaction:
    """Stage appends across tables; ``commit()`` makes them visible
    atomically (see module docstring for the protocol)."""

    def __init__(self, cat: str):
        self.cat = cat
        self.tables = catalog_tables(cat)
        roll_forward(cat)
        self._payloads: dict[str, dict] = {}
        self._stage_dirs: list[tuple[str, str]] = []
        self._committed: int | None = None

    def append(self, table: str, df: DataFrame) -> None:
        if table not in self.tables:
            raise KeyError(f"table {table!r} not in catalog {self.cat}")
        if table in self._payloads:
            raise ValueError(
                f"transaction already stages an append to {table!r};"
                " union the frames into one append"
            )
        path = self.tables[table]
        # ONE table snapshot, taken before staging: its constraints are
        # both verified against the staged files and recorded in the
        # payload, so recorded == verified by construction. A second
        # read after the _stage_stats/_rebuild_blooms jobs would let a
        # constraint added in that window be recorded as seen yet never
        # verified — and the commit()/roll_forward delta compare (which
        # only re-verifies entries that DIFFER from the recorded set)
        # would then skip it.
        snap = M._snapshot(path)
        M._check_schema(df, snap)
        stage_dir, added = M._stage_batch(
            df, path, snap.version + 1, snap=snap, verify=True
        )
        stats, row_counts = M._stage_stats(path, added)
        blooms = M._rebuild_blooms(df.sparkSession, snap, added)
        schema = snap.schema
        self._payloads[table] = {
            "op": "append",
            "schema": (df.schema if schema is None else schema).jsonValue(),
            "added": added,
            "stats": stats,
            "row_counts": row_counts,
            "blooms": blooms,
            # the pre-stage snapshot verified above — roll_forward
            # re-verifies any constraint added after it
            "constraints": snap.constraints,
        }
        self._stage_dirs.append((path, stage_dir))

    def abort(self) -> None:
        """Delete this transaction's staged files. A no-op once the
        catalog doc has published (commit() disowns the stage dirs at
        that point — the doc owns the files from then on), so callers
        may safely abort() in a blanket cleanup handler."""
        for path, rel in self._stage_dirs:
            shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
        self._payloads.clear()
        self._stage_dirs.clear()

    def commit(
        self, *, extra: dict | None = None, max_retries: int = 10
    ) -> int:
        """Publish the catalog doc (THE atomic point), then roll
        forward. Losing the catalog-version race retries on the new
        head — append payloads never conflict semantically, so the
        retry is safe; the staged files are never re-written.
        ``extra`` merges JSON-safe fields into the catalog doc (e.g.
        ``stream_batch_id``: with the doc as the atomic point, ONE
        recorded id makes a multi-table micro-batch exactly-once —
        there is no window where a replay could find the fact half
        committed and the rollup half missing)."""
        # a commit that already PUBLISHED its doc but raised afterwards
        # (e.g. roll-forward hit a constraint delta) must not publish a
        # second doc over the same staged files on retry — the rows
        # would land twice; finish the roll-forward and return instead
        if self._committed is not None:
            roll_forward(self.cat)
            return self._committed
        if not self._payloads:
            raise ValueError("empty transaction")
        # constraints that landed since stage time gate this txn's rows
        # (table-log order puts them before our materialized version).
        # Re-verify the delta pre-publish so the common case fails
        # CLEAN — stage deleted, catalog untouched; the roll-forward
        # guard covers the residual publish-time race window.
        for table, payload in self._payloads.items():
            path = self.tables[table]
            snap = M._snapshot(path)
            delta = {
                n: e
                for n, e in snap.constraints.items()
                if payload.get("constraints", {}).get(n) != e
            }
            if delta:
                spark = SparkSession.getActiveSession()
                if spark is None:
                    # mirror roll_forward: publishing unverified would
                    # leave a committed-but-unmaterializable txn that
                    # wedges every catalog reader/writer (all of which
                    # roll forward) until the constraint is dropped —
                    # failing BEFORE publish is clean (stage aborted,
                    # catalog untouched)
                    self.abort()
                    raise RuntimeError(
                        f"catalog commit at {self.cat} must re-verify"
                        f" constraints {sorted(delta)} on table"
                        f" {table!r} but no SparkSession is active"
                    )
                try:
                    M._verify_constraints(
                        spark,
                        snap,
                        [
                            os.path.join(path, r)
                            for r in payload["added"]
                        ],
                        cons=delta,
                    )
                except ValueError:
                    self.abort()
                    raise
        last: Exception | None = None
        sbid = (extra or {}).get("stream_batch_id")
        for _ in range(max_retries):
            # exactly-once closure for streams, checked on EVERY attempt
            # (not just after a lost race): a concurrent delivery of the
            # same micro-batch may have committed at any point after our
            # staging — landing it again would double-apply the batch.
            # Head is read BEFORE the idempotency scan (the same
            # discipline roll_forward documents): only versions <= head
            # are scanned, so a duplicate that lands AFTER the head read
            # forces our head+1 create-if-absent to conflict and the
            # retry's rescan finds it — scanning first would let a
            # duplicate slipping in between scan and head read advance
            # the head and our commit land the batch twice.
            head = catalog_latest(self.cat)
            if sbid is not None:
                for cv in catalog_versions(self.cat):
                    if cv > head:
                        break
                    if (
                        read_catalog_doc(self.cat, cv).get(
                            "stream_batch_id"
                        )
                        == sbid
                    ):
                        self.abort()  # our stage is the duplicate
                        return cv
            try:
                cv = _commit_catalog_doc(
                    self.cat,
                    {
                        "version": head + 1,
                        "parent": head,
                        "operation": "txn",
                        "txn": self._payloads,
                        **(extra or {}),
                    },
                )
                # the published doc now owns the staged files: a later
                # abort() (e.g. a caller's cleanup handler reacting to
                # a roll-forward error) must NOT delete them, and a
                # retried commit() must NOT publish a second doc
                self._stage_dirs.clear()
                self._committed = cv
                roll_forward(self.cat)
                return cv
            except M.ConcurrentCommitError as exc:
                last = exc
                roll_forward(self.cat)
        raise M.ConcurrentCommitError(
            f"catalog commit lost {max_retries} races at {self.cat}"
        ) from last


def catalog_vacuum_orphans(cat: str, *, min_age_seconds: float = 86400) -> int:
    """Reclaim staged files from transactions that died BEFORE their
    catalog doc (never-visible orphans): delete any data file in an
    enrolled table that no table version doc AND no committed catalog
    payload references. Returns files deleted. Runs roll-forward first
    so committed-but-unapplied payloads are materialized, not swept.

    ``min_age_seconds`` is the LIVE-TRANSACTION grace window (the Delta
    vacuum-retention discipline): a file younger than it is assumed to
    belong to an in-flight transaction that has staged but not yet
    committed, and is left alone — without it, a sweep racing a live
    ``CatalogTransaction`` would delete files its about-to-publish
    catalog doc references."""
    roll_forward(cat)
    deleted = 0
    staged_by_catalog: dict[str, set[str]] = {}
    for cv in catalog_versions(cat):
        doc = read_catalog_doc(cat, cv)
        for name, payload in doc.get("txn", {}).items():
            staged_by_catalog.setdefault(name, set()).update(
                payload["added"]
            )
    for name, path in catalog_tables(cat).items():
        referenced: set[str] = set(staged_by_catalog.get(name, set()))
        for _v, doc in M._snapshot(path).log:
            referenced.update(doc["added"])
            referenced.update(doc.get("dv_added", []))
            referenced.update(doc.get("dv_matched", []))
        data_root = os.path.join(path, "data")
        if not os.path.isdir(data_root):
            continue
        for batch in os.listdir(data_root):
            bdir = os.path.join(data_root, batch)
            import time as _time

            for f in os.listdir(bdir):
                rel = f"data/{batch}/{f}"
                fp = os.path.join(bdir, f)
                if (
                    f.endswith(".parquet")
                    and rel not in referenced
                    and _time.time() - os.stat(fp).st_mtime
                    >= min_age_seconds
                ):
                    os.unlink(fp)
                    deleted += 1
            if not os.listdir(bdir):
                os.rmdir(bdir)
    return deleted


def catalog_committed_stream_batches(cat: str) -> set[int]:
    """Stream batch ids recorded in CATALOG docs — the multi-table
    exactly-once replay guard (single-table pendant:
    ``manifest.committed_stream_batches``). Because the id lives in
    the atomic catalog doc, a replayed micro-batch is skipped as a
    UNIT: it can never re-append one table's half of a transaction."""
    out = set()
    for v in catalog_versions(cat):
        doc = read_catalog_doc(cat, v)
        if "stream_batch_id" in doc:
            out.add(doc["stream_batch_id"])
    return out
