"""Versioned parquet tables: a manifest/commit-log layout for
incremental pipelines — snapshot isolation, time travel, changes-since
reads, file-targeted deletes, and compaction, with no table-format
dependency (Delta/Iceberg are not in this sandbox; the layout mirrors
their public commit-log design at the altitude this engine needs).

Why the engine needs it: the incremental tiers (MinHash/winnowing/IVF
index appends, streaming sinks) all assume "process only what arrived
since the last run". That requires a STORAGE contract, not just
operators: a reader must see a consistent file set while writers append
(snapshot isolation), and the next pipeline run must enumerate exactly
the new files (changes-since). A directory of bare parquet files gives
neither — listing races with writes and carries no version history.

Layout (all paths relative to the table root):

* ``_manifest/v{N:08d}.json`` — one commit doc per version: parent,
  operation, the table schema, files ``added`` and ``removed``. Version
  order IS lexical filename order.
* ``data/b{N:08d}/part-*.parquet`` — immutable data files, one batch
  directory per committing version; no file is ever rewritten in place.
* ``data/dv{N:08d}/part-*.parquet`` — deletion-vector files (columns
  ``file`` string, ``pos`` long): row positions deleted from otherwise
  untouched data files (merge-on-read). A snapshot read anti-joins the
  scan against the live deletion vectors on (file, row position) —
  the position comes from the parquet reader's ``_metadata.row_index``,
  which is stable because data files are immutable. This is the
  row-level GDPR grain at 100 TB: a delete writes positions, not a
  rewritten partition; ``manifest_materialize_deletes`` (or any
  compaction) later rewrites ONLY the affected files and retires the
  vectors. Deletion-vector removal is all-or-nothing by construction:
  the only operations that retire vectors (materialize, compact)
  retire every live vector in one commit, which keeps replay exact.

Reading the log: ``_snapshot`` is its one reader. It lists the
versions once, reads each doc once, and folds them into a
``_Snapshot`` (live files, schema, column mapping, retired names,
constraints, per-file stats/row counts/blooms, live vectors, stream
batch ids) — ``_Snapshot.advance`` is the one place a doc's fields are
interpreted (vacuum's single walk folds through it too). Every
operation takes one snapshot up front and reads only from it, so no
operation mixes two versions; ``_Snapshot.scan`` is the one data read
path (vectors applied), and ``_Snapshot.checkpoint_doc`` decides what
vacuum's checkpoint and a clone carry. The public readers
(``live_files``, ``live_dv_state``, …) are views over one snapshot.

Commit protocol: every table write is one ``_Txn`` on top of its
snapshot. It stages uniquely named batch directories for version
head+1, finishes the commit doc (footer stats and row counts of the
added files, the segment check, blooms, version/parent/schema) and
publishes it through ``_commit_version``; any failure before the
publish removes every directory the transaction staged, so a failed
write leaves the table exactly as it was. The doc is staged as a
hidden temp file then published with ``os.link`` (atomic
create-if-absent on POSIX) — two racing writers cannot both claim
version N; the loser gets ``ConcurrentCommitError`` and retries on the
new head. On an object store the same protocol maps to a conditional
PUT; it is isolated in ``_commit_version`` on purpose. A catalog
transaction (``catalog.py``) runs the same stage-and-finish steps and
publishes through its own catalog doc instead.

Scale shape: manifests enumerate FILES, not rows — the driver holds a
file list (thousands of entries at 100 TB with sane file sizes, guarded
by ``max_manifest_files``); all row work is distributed parquet scans
over exactly the live file set, so snapshot reads prune to the version's
files and changes-since readers never rescan the archive (the same
never-reshuffle contract as the incremental dedup indexes).

Reference parity note: the reference repo (UMassCDS/IHOP-Reddit) writes
bare parquet snapshots (`ihop/import_data.py` end of pipeline); this
module belongs to the training-data-pipeline tier the brief adds on top.
"""

from __future__ import annotations

import copy
import dataclasses
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — reread the head."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifest")


def _version_doc_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"v{version:08d}.json")


def list_versions(path: str) -> list[int]:
    """All committed versions, ascending."""
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        raise FileNotFoundError(f"no manifest table at {path}")
    return sorted(
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )


def latest_version(path: str) -> int:
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"manifest dir at {path} has no versions")
    return versions[-1]


#: (abs doc path) -> (mtime_ns, size, parsed doc). Version docs are
#: immutable once committed (vacuum's checkpoint rewrite replaces the
#: file, changing its mtime/size — the validators below catch it), and
#: every snapshot walks EVERY doc: without a cache, a streaming sink's
#: per-batch driver cost grows with table age as commit docs (which
#: carry bloom bitmaps) get re-parsed on every micro-batch.
_VERSION_DOC_CACHE: dict[str, tuple[int, int, dict]] = {}


def read_version_doc(path: str, version: int) -> dict:
    fp = _version_doc_path(path, version)
    st = os.stat(fp)
    key = os.path.abspath(fp)
    hit = _VERSION_DOC_CACHE.get(key)
    if hit is not None and hit[0] == st.st_mtime_ns and hit[1] == st.st_size:
        return copy.deepcopy(hit[2])
    with open(fp) as fh:
        doc = json.load(fh)
    if len(_VERSION_DOC_CACHE) > 4096:
        _VERSION_DOC_CACHE.clear()  # bound memory; repopulates lazily
    _VERSION_DOC_CACHE[key] = (st.st_mtime_ns, st.st_size, doc)
    # Defensive copy both on hit and on fill: a caller mutating the
    # returned doc in place (doc['added'].append, popping keys) must not
    # poison the cached pristine copy for the process lifetime. deepcopy
    # memo-shares the immutable leaves (the 1 MiB bloom base64 strings),
    # so the cost is the structure's node count, not its byte size.
    return copy.deepcopy(doc)


def _stage_doc(dst: str, doc: dict) -> str:
    """Write ``doc`` to a temp file next to ``dst`` and return its path.
    The name is unique to this call: threads of one process must not
    share it."""
    d = os.path.dirname(dst)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    return tmp


def _replace_doc(dst: str, doc: dict) -> None:
    """Atomically overwrite ``dst`` with ``doc`` (last writer wins)."""
    os.replace(_stage_doc(dst, doc), dst)


def _publish_doc(dst: str, doc: dict, what: str) -> int:
    """Atomically publish the version doc ``doc`` at ``dst``; returns
    ``doc['version']``. Shared by table and catalog commits.

    The doc is staged by :func:`_stage_doc` and published with os.link,
    which is create-if-absent on POSIX — the one concurrency primitive
    the protocol needs (conditional PUT on an object store). Raises
    ``ConcurrentCommitError`` naming ``what`` if ``dst`` already exists."""
    # wall-clock commit stamp (epoch ns) for timestamp time travel;
    # readers make the series monotone (version_at_timestamp), so clock
    # jitter between writers never flips resolution order vs versions
    doc.setdefault("committed_at", time.time_ns())
    tmp = _stage_doc(dst, doc)
    try:
        os.link(tmp, dst)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"{what} was committed by another writer"
        ) from None
    finally:
        os.unlink(tmp)
    return doc["version"]


def _commit_version(path: str, doc: dict) -> int:
    """Atomically publish ``doc`` as table version ``doc['version']``."""
    version = doc["version"]
    return _publish_doc(
        _version_doc_path(path, version), doc, f"version {version} at {path}"
    )


def manifest_init(path: str) -> int:
    """Create an empty table (version 0, no schema yet)."""
    if os.path.isdir(_manifest_dir(path)) and list_versions(path):
        raise FileExistsError(f"manifest table already exists at {path}")
    return _commit_version(
        path,
        {
            "version": 0,
            "parent": None,
            "operation": "init",
            "schema": None,
            "added": [],
            "removed": [],
        },
    )


@dataclasses.dataclass
class _Snapshot:
    """The table's state at one version, folded from the commit log in
    ONE pass over its docs — the one reader of the log. Every
    operation takes one snapshot up front and reads only from it, so
    head, live files, schema, mapping and vector state can never come
    from two different versions.

    ``files`` are the live data files in commit order (added ∪ … −
    removed). ``schema``, ``mapping`` (LOGICAL → PHYSICAL column name,
    non-identity entries only: a physical name is assigned once, when
    a column first receives data, and never changes — a rename moves
    the logical name while the files stay byte-identical), ``retired``
    (physical names of dropped columns, which adds avoid forever) and
    ``constraints`` ({name: SQL boolean over logical names}) come from
    the newest doc carrying each. ``stats``/``blooms`` map every live file to its recorded
    entry ({} when its commit predates them); ``row_counts`` holds only
    recorded files. ``dv_files``/``dv_targets`` are the live deletion
    vectors and deleted-row counts per data file; their replay leans on
    two invariants: vector retirement is all-or-nothing (materialize
    and compact retire EVERY live vector in one commit), and removing a
    data file retires its count. ``stream_batch_ids`` are the stream
    batch ids committed at or below ``version``. ``log`` keeps the
    replayed ``(version, doc)`` pairs for readers that walk commits."""

    path: str = dataclasses.field(compare=False)
    version: int = -1
    files: list = dataclasses.field(default_factory=list)
    schema: T.StructType | None = None
    mapping: dict = dataclasses.field(default_factory=dict)
    retired: list = dataclasses.field(default_factory=list)
    constraints: dict = dataclasses.field(default_factory=dict)
    stats: dict = dataclasses.field(default_factory=dict)
    row_counts: dict = dataclasses.field(default_factory=dict)
    blooms: dict = dataclasses.field(default_factory=dict)
    dv_files: list = dataclasses.field(default_factory=list)
    dv_targets: dict = dataclasses.field(default_factory=dict)
    stream_batch_ids: set = dataclasses.field(default_factory=set)
    log: list = dataclasses.field(
        default_factory=list, compare=False, repr=False
    )

    def advance(self, version: int, doc: dict) -> None:
        """Apply one commit doc on top of this state."""
        self.version = version
        self.log.append((version, doc))
        removed = set(doc["removed"])
        added = doc["added"]
        self.files = [f for f in self.files if f not in removed] + added
        if doc.get("schema") is not None:
            self.schema = T.StructType.fromJson(doc["schema"])
        if "mapping" in doc:
            self.mapping = dict(doc["mapping"])
        if "retired_physical" in doc:
            self.retired = list(doc["retired_physical"])
        if "constraints" in doc:
            self.constraints = dict(doc["constraints"])
        for f in removed:
            self.stats.pop(f, None)
            self.row_counts.pop(f, None)
            self.blooms.pop(f, None)
            self.dv_targets.pop(f, None)
        stats, counts = doc.get("stats", {}), doc.get("row_counts", {})
        blooms = doc.get("blooms", {})
        for f in added:
            self.stats[f] = stats.get(f, {})
            self.blooms[f] = blooms.get(f, {})
            if f in counts:
                self.row_counts[f] = counts[f]
        dv_removed = set(doc.get("dv_removed", []))
        if dv_removed:
            self.dv_files = [f for f in self.dv_files if f not in dv_removed]
            if not self.dv_files:
                self.dv_targets = {}
        self.dv_files = self.dv_files + doc.get("dv_added", [])
        for f, n in doc.get("dv_targets", {}).items():
            self.dv_targets[f] = self.dv_targets.get(f, 0) + n
        if "stream_batch_id" in doc:
            self.stream_batch_ids.add(doc["stream_batch_id"])
        # vacuum and clone fold the batch ids of dropped ancestor
        # commits into their checkpoint doc as a list
        self.stream_batch_ids.update(doc.get("stream_batch_ids", []))

    @classmethod
    def fold(cls, path: str, log, version: int) -> "_Snapshot":
        """The state after the ``(version, doc)`` pairs of ``log`` up to
        ``version``; pairs past it are never pulled."""
        snap = cls(path)
        for v, doc in log:
            if v > version:
                break
            snap.advance(v, doc)
        snap.version = version
        return snap

    def at(self, version: int) -> "_Snapshot":
        """The state at an earlier ``version``, refolded from ``log``
        in memory — no listing, no doc read."""
        return _Snapshot.fold(self.path, self.log, version)

    def scan(
        self,
        spark: SparkSession,
        files: list[str] | None = None,
        *,
        keep_pos: bool = False,
        dvs: DataFrame | list[str] | None = None,
    ) -> DataFrame:
        """``files`` (default: every live file) read under this
        version's LOGICAL schema, with deletion vectors applied — the
        one data read path. Files are read under physical names (a
        widened type resolves through Spark's parquet type promotion,
        so an int32 file reads as the table's post-widen bigint) and
        renamed to logical at once; absent columns read as NULL.

        ``dvs`` picks the vectors: None applies this snapshot's live
        vectors, a list names vector files (empty: none), and a frame
        of (file, pos) rows is applied as given. ``keep_pos`` keeps
        ``__dv_file`` (the root-relative data-file path, recovered from
        ``_metadata.file_path`` by the layout's own ``data/bNNNNNNNN/``
        shape) and ``__dv_pos`` (``_metadata.row_index``, the row's
        position in its immutable file) — the deletion-vector key of
        each row. A read with neither is a plain parquet scan with no
        metadata columns and no join."""
        files = self.files if files is None else files
        schema = self.schema
        if not files:
            if schema is None:
                raise ValueError(
                    f"table at {self.path} is empty and has no recorded"
                    " schema"
                )
            if keep_pos:
                schema = T.StructType(
                    list(schema.fields)
                    + [
                        T.StructField("__dv_file", T.StringType()),
                        T.StructField("__dv_pos", T.LongType()),
                    ]
                )
            return spark.createDataFrame([], schema)
        if schema is not None and self.mapping:
            schema = _physical_schema(schema, self.mapping)
        reader = spark.read if schema is None else spark.read.schema(schema)
        out = _to_logical(
            reader.parquet(*(os.path.join(self.path, f) for f in files)),
            self.mapping,
        )
        if dvs is None:
            dvs = self.dv_files if self.dv_targets else []
        if isinstance(dvs, list):
            dvs = _dv_frame(spark, self.path, dvs) if dvs else None
        if dvs is None and not keep_pos:
            return out
        out = out.withColumns(
            {
                "__dv_file": F.regexp_extract(
                    F.col("_metadata.file_path"), _DATA_REL_PATTERN, 1
                ),
                "__dv_pos": F.col("_metadata.row_index"),
            }
        )
        if dvs is not None:
            out = _dv_join(out, dvs, "left_anti")
        return out if keep_pos else out.drop("__dv_file", "__dv_pos")

    def checkpoint_doc(self, base: dict | None = None, **fields) -> dict:
        """A commit doc that replays to this snapshot on its own: the
        one place that decides which state a log carries past a dropped
        chain (vacuum's checkpoint, a clone's version 0). ``base``'s
        own fields carry over verbatim except its delta (its files,
        vectors and stream ids, replaced by the full state); ``fields``
        (version, operation, provenance) go on top."""
        doc = {
            k: v
            for k, v in (base or {}).items()
            if k not in ("dv_matched", "stream_batch_id")
        }
        doc.update(
            parent=None,
            schema=None if self.schema is None else self.schema.jsonValue(),
            added=list(self.files),
            removed=[],
            stats=dict(self.stats),
            row_counts=dict(self.row_counts),
            blooms=dict(self.blooms),
            dv_added=list(self.dv_files),
            dv_removed=[],
            dv_targets=dict(self.dv_targets),
        )
        for key, value in (
            ("mapping", self.mapping),
            ("retired_physical", self.retired),
            ("constraints", self.constraints),
            ("stream_batch_ids", sorted(self.stream_batch_ids)),
        ):
            if value:
                doc[key] = value
        return {**doc, **fields}


def _snapshot(path: str, version: int | None = None) -> _Snapshot:
    """The table at ``version`` (default: head): ONE listing of the log
    and one read per doc up to ``version``."""
    versions = list_versions(path)
    if version is None:
        if not versions:
            raise FileNotFoundError(f"manifest dir at {path} has no versions")
        version = versions[-1]
    return _Snapshot.fold(
        path, ((v, read_version_doc(path, v)) for v in versions), version
    )


def live_files(path: str, version: int | None = None) -> list[str]:
    """The data files visible at ``version`` (default: head), in commit
    order."""
    return _snapshot(path, version).files


def _physical_schema(
    schema: T.StructType, mapping: dict
) -> T.StructType:
    """``schema`` with every field renamed to its physical name —
    the read schema for the data files themselves."""
    return T.StructType(
        [
            T.StructField(
                mapping.get(f.name, f.name), f.dataType, f.nullable
            )
            for f in schema.fields
        ]
    )


def _rename_simultaneous(df: DataFrame, renames: dict) -> DataFrame:
    """One projection renaming every column at once. NOT
    ``withColumnsRenamed`` — that applies its dict sequentially, so a
    swap-adjacent mapping ({v→id, id→key}) transits through a duplicate
    name and mis-renames both columns."""
    if not renames:
        return df
    return df.select(
        *[df[c].alias(renames.get(c, c)) for c in df.columns]
    )


def _to_logical(df: DataFrame, mapping: dict) -> DataFrame:
    """Rename physical columns back to their logical names (a plan-only
    projection — no data moves)."""
    if not mapping:
        return df
    return _rename_simultaneous(df, {p: l for l, p in mapping.items()})


#: rows one clustered-stage writer task handles before the stage adds
#: another writer task — the scale knob for the one-task-many-files
#: staged write (r15): a micro-batch stages from ONE task however many
#: per-key files it needs, while a production-sized batch fans out to
#: ceil(rows / this) tasks (capped at cores and at the key count)
_CLUSTER_STAGE_ROWS_PER_TASK = 1 << 19


def _write_clustered_stage(
    df: DataFrame, out: str, cluster_col: str, tasks: int, files_cap: int
) -> None:
    """One-task-many-files staged write (r15, VERDICT r14 item 3): land
    ``df`` as parquet files that each cover WHOLE values of
    ``cluster_col`` — the per-key file granularity that keeps manifest
    bloom/stat pruning batch-proportional (the domain-quota state-read
    contract) — WITHOUT paying one near-empty Spark task per file, which
    is what ``repartitionByRange(n_keys, key)`` cost per micro-batch
    (plus its boundary-sampling job).

    ``tasks`` writer tasks, hash-clustered on the key so no key ever
    straddles two tasks; each task sorts its slice by the key and writes
    one file per key, grouping CONTIGUOUS keys into shared files only
    once the per-batch ``files_cap`` budget is exceeded (the same
    bounded-file-count behaviour the pinned range partitioning had).
    File names are deterministic per (task, chunk) and land via atomic
    rename from a dot-prefixed, per-attempt temp name the stage's
    ``.parquet`` filter ignores, so task retries and speculative attempts REPLACE their own
    output instead of duplicating it — safe because nothing references
    a staged file until the commit doc is written, after which files
    are immutable (the DV-coordinate contract needs immutability only
    from commit time on)."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    files_per_task = max(1, files_cap // max(1, tasks))
    codec = df.sparkSession.conf.get(
        "spark.sql.parquet.compression.codec", "snappy"
    )
    codec = {"uncompressed": "none"}.get(codec, codec)

    def _write(batches):
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        got = list(batches)
        written = 0
        if got:
            tbl = pa.Table.from_batches(got).sort_by(
                [(cluster_col, "ascending")]
            )
            ctx = TaskContext.get()
            pid, attempt = ctx.partitionId(), ctx.taskAttemptId()
            arr = tbl.column(cluster_col).combine_chunks()
            n = len(arr)
            if n > 1:
                # run boundaries over the sorted key column; NULL
                # comparisons fill as boundaries (extra boundaries only
                # — file-count stays capped by the chunking below)
                neq = pc.fill_null(
                    pc.not_equal(arr.slice(1), arr.slice(0, n - 1)), True
                ).to_numpy(zero_copy_only=False)
                starts = np.flatnonzero(
                    np.concatenate(([True], neq.astype(bool)))
                )
            else:
                starts = np.array([0])
            counts = np.diff(np.append(starts, n))
            n_keys = len(counts)
            n_files = min(n_keys, files_per_task)
            kpf = -(-n_keys // n_files)
            start = 0
            for fi, k0 in enumerate(range(0, n_keys, kpf)):
                length = int(counts[k0 : k0 + kpf].sum())
                name = f"part-{pid:05d}-{fi:04d}.parquet"
                # the temp name is unique per attempt: two attempts of
                # one partition must not write into each other's file
                tmp = os.path.join(out, f".{name}.{attempt}.inprogress")
                pq.write_table(
                    tbl.slice(start, length), tmp, compression=codec
                )
                os.replace(tmp, os.path.join(out, name))
                start += length
                written += length
        yield pa.record_batch({"n": pa.array([written], type=pa.int64())})

    (
        df.repartition(max(1, tasks), F.col(cluster_col))
        .mapInArrow(_write, "n bigint")
        .collect()
    )


def _stage_batch(
    df: DataFrame,
    path: str,
    version: int,
    *,
    snap: _Snapshot | None = None,
    prefix: str = "b",
    verify: bool = False,
    cluster_by: str | None = None,
    cluster_tasks: int = 1,
    cluster_files_cap: int = 64,
) -> tuple[str, list[str]]:
    """Write ``df`` as an (immutable) batch directory for ``version``;
    return ``(rel_dir, part files)`` as root-relative paths. ``prefix``
    "b" stages data batches, "dv" stages deletion-vector batches.

    Data batches arrive in LOGICAL column names and are written under
    the PHYSICAL names of ``snap``'s column mapping (identity without a
    snapshot) — the one write-side chokepoint of column mapping,
    mirroring the read-side rename in ``_Snapshot.scan``. DV batches
    (file/pos coordinates) never pass through the mapping.

    ``verify=True`` additionally enforces ``snap``'s CHECK constraints
    against the freshly staged files (NEW-row write paths: append,
    merge, update post-image, evict-admit, catalog transactions). The
    check reads the staged parquet back — one cheap extra scan of the
    batch, never a recompute of ``df``'s plan — and on violation the
    stage is deleted and the write aborts with the per-constraint
    violation counts. Pure rewrites (compact/materialize/delete
    survivors) carry only pre-existing rows and skip the pass.

    The directory carries a per-writer random suffix so two writers
    racing on the same head+1 NEVER touch each other's staged files —
    the race is decided solely by ``_commit_version``'s create-if-absent
    on the version doc, and the loser's :class:`_Txn` deletes its own
    stages. This is the Delta/Iceberg discipline: data file names are
    unique per writer; only the log is contended. Table writes stage
    through :meth:`_Txn.stage`, which owns the directory from here on."""
    import uuid

    if prefix == "b":
        mapping = {} if snap is None else snap.mapping
        renames = {
            l: p for l, p in mapping.items() if l in set(df.columns)
        }
        if renames:
            df = _rename_simultaneous(df, renames)
        if cluster_by is not None:
            cluster_by = renames.get(cluster_by, cluster_by)
    rel = f"data/{prefix}{version:08d}-{uuid.uuid4().hex[:8]}"
    out = os.path.join(path, rel)
    if cluster_by is not None:
        _write_clustered_stage(
            df, out, cluster_by, cluster_tasks, cluster_files_cap
        )
    else:
        df.write.parquet(out)
    if prefix == "b" and verify:
        try:
            # the constraints of the snapshot taken BEFORE staging:
            # catalog transactions record that same set in the payload,
            # so a constraint landing after it is never recorded as
            # seen-but-unverified (roll-forward re-verifies the delta)
            _verify_constraints(df.sparkSession, snap, out)
        except Exception:
            shutil.rmtree(out, ignore_errors=True)
            raise
    return rel, sorted(
        f"{rel}/{f}" for f in os.listdir(out) if f.endswith(".parquet")
    )


def constraints_of(path: str, version: int | None = None) -> dict:
    """{name: SQL boolean expression over LOGICAL column names} — the
    table's CHECK constraints at ``version``. Cumulative like the
    column mapping: each alter-constraint commit carries the full set,
    and vacuum folds it into the checkpoint doc."""
    try:
        return _snapshot(path, version).constraints
    except FileNotFoundError:
        if version is not None:
            raise
        return {}


def _verify_constraints(
    spark: SparkSession,
    snap: _Snapshot,
    staged_dir: str | list[str],
    cons: dict | None = None,
) -> None:
    """Enforce CHECK constraints against one staged batch (a dir, or
    an explicit list of parquet paths). SQL-standard semantics: a row
    violates when the expression is FALSE; UNKNOWN (NULL) passes —
    spell NOT NULL explicitly (``col IS NOT NULL``) when null
    rejection is wanted. One combined scan; per-constraint counts only
    on the failure path. ``cons`` overrides ``snap``'s set (used by
    catalog roll-forward to verify only the constraints added since
    stage time)."""
    if cons is None:
        cons = snap.constraints
    if not cons:
        return
    paths = staged_dir if isinstance(staged_dir, list) else [staged_dir]
    if not paths:
        return  # an empty staged batch has no rows to violate
    # read under the snapshot's physical schema, not the files' own
    # footer schema: a constraint referencing a column added after the
    # batch was staged must see NULL (SQL UNKNOWN passes), not an
    # unresolved-column error
    sdf = snap.scan(spark, paths, dvs=[])
    viol = [
        (name, ~F.coalesce(F.expr(expr), F.lit(True)))
        for name, expr in sorted(cons.items())
    ]
    combined = viol[0][1]
    for _, v in viol[1:]:
        combined = combined | v
    agg = sdf.where(combined).agg(
        *[
            F.count(F.when(v, 1)).alias(name)
            for name, v in viol
        ]
    ).collect()[0]
    bad = {name: agg[name] for name, _ in viol if agg[name]}
    if bad:
        raise ValueError(
            f"CHECK constraint violation(s) in staged batch: "
            + ", ".join(
                f"{name} ({cons[name]!r}): {n} row(s)"
                for name, n in sorted(bad.items())
            )
            + " — write aborted, table unchanged"
        )


def manifest_add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """Add a named CHECK constraint (metadata commit) — the Delta
    ``ALTER TABLE ADD CONSTRAINT`` grain. EXISTING data is validated
    first (one scan of the live table; a constraint the current rows
    already violate is refused), then every subsequent new-row write
    (append, merge, update post-image, evict-admit, catalog
    transaction) enforces it against its staged batch and aborts —
    stage deleted, table untouched — on violation."""
    snap = _snapshot(path)
    cons = snap.constraints
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists")
    try:
        F.expr(expr)
    except Exception as exc:
        raise ValueError(f"unparsable constraint expression {expr!r}") from exc
    if snap.files:
        n_bad = snap.scan(spark).where(
            ~F.coalesce(F.expr(expr), F.lit(True))
        ).count()
        if n_bad:
            raise ValueError(
                f"cannot add constraint {name!r}: {n_bad} existing"
                " row(s) violate it"
            )
    return _Txn(snap).commit(
        "alter_constraint", schema=None, constraints={**cons, name: expr}
    )["version"]


def manifest_drop_constraint(path: str, name: str) -> int:
    """Drop a named CHECK constraint (metadata commit)."""
    snap = _snapshot(path)
    cons = snap.constraints
    if name not in cons:
        raise ValueError(f"no constraint named {name!r}")
    cons.pop(name)
    return _Txn(snap).commit(
        "alter_constraint", schema=None, constraints=cons
    )["version"]


class _Txn:
    """One table write on top of ``snap`` (the snapshot the caller
    positioned against): the stage directories it owns and the commit
    that publishes them as version ``snap.version + 1``.

    Used as a context manager around everything from the first stage
    to the publish. An exception anywhere in that span — staging, a
    constraint check, footer stats, blooms, a segment mismatch, a lost
    version race — removes every directory the transaction staged and
    re-raises unchanged: nothing references a stage before its version
    doc exists, and vacuum only deletes files some doc names, so a stage
    left behind would leak for good. A normal exit keeps the stages:
    either ``commit`` published them, or the caller (a catalog
    transaction) hands them to its own atomic point."""

    def __init__(self, snap: _Snapshot, spark: SparkSession | None = None):
        self.snap = snap
        self.spark = spark
        self.version = snap.version + 1
        self.staged: list[str] = []

    def __enter__(self) -> "_Txn":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            for rel in list(self.staged):
                self.drop(rel)

    def stage(self, df: DataFrame, **kw) -> tuple[str, list[str]]:
        """:func:`_stage_batch` for this version; the directory is
        owned by the transaction from here on."""
        rel, files = _stage_batch(
            df, self.snap.path, self.version, snap=self.snap, **kw
        )
        self.staged.append(rel)
        return rel, files

    def drop(self, rel: str) -> None:
        """Remove a stage (one judged empty: the commit goes on without
        it)."""
        self.staged.remove(rel)
        shutil.rmtree(os.path.join(self.snap.path, rel), ignore_errors=True)

    def blooms(
        self, added: list[str], columns: tuple[str, ...] | list[str],
        m: int, k: int,
    ) -> dict:
        """Blooms for ``added`` over ``columns`` (logical names), or under
        the table's existing bloom config when none are named."""
        if not columns or not added:
            return _rebuild_blooms(self.spark, self.snap, added)
        return _build_blooms(
            self.spark, self.snap.path, added,
            [self.snap.mapping.get(c, c) for c in columns], m, k,
        )

    def finish(
        self,
        operation: str,
        *,
        added: list[str] | None = None,
        removed: list[str] = (),
        segments: dict | None = None,
        **fields,
    ) -> dict:
        """The commit doc of this version. ``schema`` defaults to the
        snapshot's (a StructType, or None for "unchanged"). A commit
        that names ``added`` files records their footer stats and row
        counts (unless passed), checks ``segments`` against those row
        counts — provenance must be exact or absent, a wrong segment map
        would silently corrupt incremental feeds — and records blooms
        under the table's bloom config (unless passed); one without
        ``added`` (vector or metadata only) records none of them.
        ``fields`` go into the doc verbatim."""
        schema = fields.pop("schema", self.snap.schema)
        if added is not None:
            if "row_counts" not in fields:
                fields["stats"], fields["row_counts"] = _stage_stats(
                    self.snap.path, added
                )
            for out, segs in (segments or {}).items():
                if sum(s[2] for s in segs) != fields["row_counts"].get(out):
                    raise ValueError(
                        f"{operation} segment rows disagree with staged"
                        f" {out}"
                    )
            if segments is not None:
                fields["segments"] = segments
            if "blooms" not in fields:
                fields["blooms"] = _rebuild_blooms(
                    self.spark, self.snap, added
                )
        return {
            "version": self.version,
            "parent": self.snap.version,
            "operation": operation,
            "schema": None if schema is None else schema.jsonValue(),
            "added": added or [],
            "removed": list(removed),
            **fields,
        }

    def commit(self, operation: str, **kw) -> dict:
        """:meth:`finish` the doc and publish it through
        :func:`_commit_version`; returns the published doc. From here on
        the doc owns the stages."""
        doc = self.finish(operation, **kw)
        _commit_version(self.snap.path, doc)
        self.staged = []
        return doc


def _stage_overlapped(spark: SparkSession, work: dict) -> dict:
    """Run a write's independent pre-commit thunks — ``"pre"`` (a check
    that must pass before the commit), ``"data"`` and ``"dv"`` (stagings
    through one :class:`_Txn`, returning ``(rel_dir, files)``) — and
    return {kind: result}. More than one runs CONCURRENTLY: they share
    no state and the stagings land in separate uniquely-named dirs
    (atomicity lives in the one commit doc, not in write order), so the
    fixed job latency is paid once, not per part. Each thread inherits
    the session's job properties and tags. Every future is joined
    before any error is raised (the transaction then removes whatever
    was staged), in the sequential order's priority: pre, data, dv."""
    if len(work) <= 1:
        return {kind: fn() for kind, fn in work.items()}
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    results: dict = {}
    errors: dict = {}
    with ThreadPoolExecutor(max_workers=len(work)) as pool:
        futs = {
            kind: pool.submit(inheritable_thread_target(spark)(fn))
            for kind, fn in work.items()
        }
        for kind, fut in futs.items():
            try:
                results[kind] = fut.result()
            except Exception as exc:  # noqa: BLE001 - raised below
                errors[kind] = exc
    if errors:
        raise next(errors[k] for k in ("pre", "data", "dv") if k in errors)
    return results


def _file_column_stats(fp: str) -> dict:
    """Per-column [min, max] for one parquet file, read from the FOOTER
    metadata only (pyarrow — no data scan): the per-file pendant to
    parquet's row-group stats, lifted into the manifest so snapshot
    readers can skip whole files. Only JSON-safe comparable primitives
    (ints, floats, strings) are recorded; columns with missing or
    non-comparable stats are simply absent — readers treat absence as
    "cannot prune", never as "empty"."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    stats: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            s = col.statistics
            if s is None or not s.has_min_max:
                continue
            lo, hi = s.min, s.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                continue
            if not isinstance(lo, (int, float, str)):
                continue
            name = col.path_in_schema
            if name in stats:
                stats[name] = [min(stats[name][0], lo), max(stats[name][1], hi)]
            else:
                stats[name] = [lo, hi]
    return stats


def _file_row_count(fp: str) -> int:
    """Exact row count for one parquet file from the FOOTER only."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(fp).metadata.num_rows


def _stage_stats(path: str, added: list[str]) -> tuple[dict, dict]:
    """(per-file column stats, per-file row counts) for freshly staged
    files — both footer-only reads, recorded in the commit doc so
    metadata-only readers never touch data."""
    stats = {f: _file_column_stats(os.path.join(path, f)) for f in added}
    rows = {f: _file_row_count(os.path.join(path, f)) for f in added}
    return stats, rows


def live_file_stats(path: str, version: int | None = None) -> dict:
    """rel-path → {col: [min, max]} for the live files at ``version``
    (older docs may predate stats — those files map to {} and are never
    pruned)."""
    return _snapshot(path, version).stats


def _prune_files(
    files: list[str], stats: dict, prune: dict | None
) -> list[str]:
    """Keep each file whose recorded [min, max] intersects every bound in
    ``prune`` ({col: (lo, hi)}, either end None). Missing stats keep the
    file — pruning is an I/O optimization, NEVER a filter: callers still
    apply the real predicate, so a conservative keep costs a scan, while
    an aggressive drop would cost correctness."""
    if not prune:
        return files
    kept = []
    for f in files:
        s = stats.get(f, {})
        keep = True
        for col, (lo, hi) in prune.items():
            if col not in s:
                continue
            fmin, fmax = s[col]
            if lo is not None and fmax < lo:
                keep = False
                break
            if hi is not None and fmin > hi:
                keep = False
                break
        if keep:
            kept.append(f)
    return kept


def live_row_counts(path: str, version: int | None = None) -> dict:
    """rel-path → exact footer row count for the live files at
    ``version``. Files committed before row counts were recorded are
    absent — metadata-only readers treat absence as "must scan"."""
    return _snapshot(path, version).row_counts


def live_dv_state(
    path: str, version: int | None = None
) -> tuple[list[str], dict[str, int]]:
    """(live deletion-vector files, live deleted-row counts per data
    file) at ``version``."""
    snap = _snapshot(path, version)
    return snap.dv_files, snap.dv_targets


#: Matches both the legacy version-keyed batch dirs (``data/bNNNNNNNN``)
#: and the race-safe per-writer suffixed ones (``data/bNNNNNNNN-abcdef01``).
_DATA_REL_PATTERN = r"(data/b\d{8}(?:-[0-9a-f]+)?/[^/]+)$"


#: deletion-vector files have exactly this layout (written by the
#: delete/merge paths from ``__dv_file``/``__dv_pos``); pinning it on
#: read skips a parquet schema-inference job per vector read — vector
#: reads happen on every snapshot/changes/materialize of a vectored
#: table, so the fixed cost matters
_DV_SCHEMA = "file string, pos bigint"


def _dv_frame(spark: SparkSession, path: str, dv_files: list[str]) -> DataFrame:
    return spark.read.schema(_DV_SCHEMA).parquet(
        *(os.path.join(path, f) for f in dv_files)
    )


def _dv_file_counts(path: str, dv_files: list[str]) -> dict[str, int]:
    """Per-data-file deleted-row counts from freshly staged vector
    files — a driver-local pyarrow read of the single ``file`` column
    (same POSIX-path discipline as ``_stage_stats``), not a Spark job:
    vectors are proportional to the DELETED rows of one commit, and the
    caller just wrote them, so the read is footer-warm and tiny."""
    import collections

    import pyarrow.parquet as pq

    out: collections.Counter = collections.Counter()
    for f in dv_files:
        tbl = pq.read_table(os.path.join(path, f), columns=["file"])
        out.update(tbl.column("file").to_pylist())
    return dict(out)


def _dv_join(scanned: DataFrame, dvs: DataFrame, how: str) -> DataFrame:
    """Join a positioned scan (``__dv_file``/``__dv_pos``) to vector
    rows on (file, pos): ``left_anti`` drops the deleted rows — the
    optimizer is free to broadcast small vectors (the common case:
    deletes are a sliver of a 100 TB table), with AQE falling back to a
    shuffle join when they are not — and ``left_semi`` keeps exactly
    them. The vector columns are renamed before joining so a table
    whose own schema contains ``file``/``pos`` columns cannot make the
    condition ambiguous."""
    d = dvs.select(
        F.col("file").alias("__dvv_file"), F.col("pos").alias("__dvv_pos")
    )
    cond = (F.col("__dv_file") == F.col("__dvv_file")) & (
        F.col("__dv_pos") == F.col("__dvv_pos")
    )
    return scanned.join(d, cond, how)


def _bloom_position_cols(col: str, m: int, k: int) -> list:
    """The k bloom bit positions of a column value, as JVM expressions:
    ``pmod(xxhash64(cast(col as string), seed), m)``. Values are cast to
    string BEFORE hashing so build and probe agree for every column type
    (xxhash64 hashes ints and strings differently; a string round-trip
    through Spark's own cast is bit-identical on both sides)."""
    c = F.col(col).cast("string")
    return [
        F.pmod(F.xxhash64(c, F.lit(seed)), F.lit(m)).cast("int")
        for seed in range(1, k + 1)
    ]


# --- pure-Python mirror of Spark's XxHash64 ---------------------------------
# Bloom bits are pmod(xxhash64(cast(v as string), lit(seed)), m) — a chained
# JVM hash: acc = XXH64_bytes(utf8(v), 42) (unchanged 42 for NULL), then
# XXH64's 4-byte finalizer over the INT literal seed. Mirroring it in Python
# lets tiny builds/probes (a streaming batch's staged files, a 50-value
# prune_eq list) run on the DRIVER, where the Spark job is pure fixed cost.
# Bit-equivalence with the JVM expressions is pinned by
# tests/test_sources.py::test_bloom_bits_python_matches_jvm.
_XXH_M64 = (1 << 64) - 1
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _xxh_rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _XXH_M64


def _xxh_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXH_P2) & _XXH_M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _XXH_M64
    h ^= h >> 32
    return h


def _xxh_round(acc: int, inp: int) -> int:
    acc = (acc + inp * _XXH_P2) & _XXH_M64
    return (_xxh_rotl(acc, 31) * _XXH_P1) & _XXH_M64


def _xxh64_bytes(data: bytes, seed: int) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _XXH_M64
        v2 = (seed + _XXH_P2) & _XXH_M64
        v3 = seed & _XXH_M64
        v4 = (seed - _XXH_P1) & _XXH_M64
        while i + 32 <= n:
            v1 = _xxh_round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _xxh_round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _xxh_round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _xxh_round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _xxh_rotl(v1, 1) + _xxh_rotl(v2, 7)
            + _xxh_rotl(v3, 12) + _xxh_rotl(v4, 18)
        ) & _XXH_M64
        for v in (v1, v2, v3, v4):
            h ^= _xxh_round(0, v)
            h = (h * _XXH_P1 + _XXH_P4) & _XXH_M64
    else:
        h = (seed + _XXH_P5) & _XXH_M64
    h = (h + n) & _XXH_M64
    while i + 8 <= n:
        h ^= _xxh_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_xxh_rotl(h, 27) * _XXH_P1 + _XXH_P4) & _XXH_M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XXH_P1) & _XXH_M64
        h = (_xxh_rotl(h, 23) * _XXH_P2 + _XXH_P3) & _XXH_M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXH_P5) & _XXH_M64
        h = (_xxh_rotl(h, 11) * _XXH_P1) & _XXH_M64
        i += 1
    return _xxh_fmix(h)


def _xxh64_int(value: int, seed: int) -> int:
    # XXH64's 4-byte finalizer — Spark hashes INT-typed operands (the
    # bloom seed literals) through this variant, not the 8-byte one
    h = (seed + _XXH_P5 + 4) & _XXH_M64
    h ^= ((value & 0xFFFFFFFF) * _XXH_P1) & _XXH_M64
    h = (_xxh_rotl(h, 23) * _XXH_P2 + _XXH_P3) & _XXH_M64
    return _xxh_fmix(h)


def _py_bloomable(value) -> bool:
    """True when Python's str(value) is bit-identical to Spark's
    cast-to-string for this value's type — str and non-bool int only
    (bool casts to 'true'/'false' vs Python's 'True'; float formatting
    diverges at the edges)."""
    return isinstance(value, str) or (
        isinstance(value, int) and not isinstance(value, bool)
    )


def _bloom_bits_py(value, m: int, k: int) -> list[int]:
    """The k bloom bit positions of ``value`` — bit-identical to
    ``_bloom_position_cols``' JVM expressions. ``None`` mirrors the
    NULL behaviour (the value hash leaves the accumulator at 42)."""
    base = 42 if value is None else _xxh64_bytes(str(value).encode(), 42)
    out = []
    for seed in range(1, k + 1):
        h = _xxh64_int(seed, base)
        out.append((h - (1 << 64) if h >= (1 << 63) else h) % m)
    return out


#: driver-side bloom builds cap at this many staged rows — past it the
#: distributed pass wins (and is the right shape at scale anyway)
_BLOOM_DRIVER_MAX_ROWS = 65536


def _build_blooms_driver(
    path: str, files: list[str], columns: list[str], m: int, k: int
) -> dict | None:
    """The driver fast path of :func:`_build_blooms` — ``None`` when the
    batch is too large or a column's type is not Python-cast-safe, and
    the caller falls through to the distributed pass. Bitmaps are
    bit-identical to the JVM build (NULL rows contribute the same k
    null-bits; empty files get the all-zero bloom)."""
    import base64
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    pfs = {}
    total = 0
    for f in files:
        pf = pq.ParquetFile(os.path.join(path, f))
        schema = pf.schema_arrow
        for col in columns:
            if col not in schema.names:
                return None
            t = schema.field(col).type
            if not (
                pa.types.is_string(t)
                or pa.types.is_large_string(t)
                or pa.types.is_integer(t)
            ):
                return None
        total += pf.metadata.num_rows
        pfs[f] = pf
    if total > _BLOOM_DRIVER_MAX_ROWS:
        return None
    bit_cache: dict = {}
    out: dict[str, dict] = {}
    for f, pf in pfs.items():
        out[f] = {}
        tbl = pf.read(columns=list(columns)) if pf.metadata.num_rows else None
        for col in columns:
            bmp = bytearray(m // 8 + 1)
            vals = set(tbl.column(col).to_pylist()) if tbl is not None else ()
            for v in vals:
                bits = bit_cache.get(v)
                if bits is None:
                    bits = bit_cache[v] = _bloom_bits_py(v, m, k)
                for b in bits:
                    bmp[b // 8] |= 1 << (b % 8)
            out[f][col] = {
                "m": m,
                "k": k,
                "z64": base64.b64encode(zlib.compress(bytes(bmp))).decode(),
            }
    return out


def _build_blooms(
    spark: SparkSession,
    path: str,
    files: list[str],
    columns: list[str],
    m: int,
    k: int,
) -> dict:
    """{rel-file: {col: bloom entry}} for ``files`` — one distributed
    pass: project only the bloom columns (plus the reader's file path),
    hash JVM-side, dedupe (file, bit) pairs (map-side combine caps the
    shuffle at ``m`` bits per file per column), then OR the bits into a
    bitmap per file with an Arrow-batched group map. The driver collects
    file-count × m/8 bytes — KBs, never rows. Bitmaps are zlib+base64 in
    the commit doc (sparse bitmaps compress well).

    DRIVER fast path: when the staged batch is small (a streaming
    micro-batch's admissions) and every bloom column is a string or
    non-bool integer (whose Spark cast-to-string equals Python's str),
    the freshly written, footer-warm files are read with pyarrow and
    hashed through the Python XxHash64 mirror — zero Spark jobs for
    work that is all fixed cost at that size. Large or non-castable
    batches take the distributed pass below."""
    import base64
    import zlib

    import numpy as np
    import pandas as pd

    driver = _build_blooms_driver(path, files, columns, m, k)
    if driver is not None:
        return driver

    scan = spark.read.parquet(*(os.path.join(path, f) for f in files))
    rel = F.regexp_extract(
        F.col("_metadata.file_path"), _DATA_REL_PATTERN, 1
    ).alias("f")
    out: dict[str, dict] = {f: {} for f in files}

    def or_bits(pdf: pd.DataFrame) -> pd.DataFrame:
        bmp = np.zeros(m // 8 + 1, dtype=np.uint8)
        bits = pdf["bit"].to_numpy()
        np.bitwise_or.at(bmp, bits // 8, (1 << (bits % 8)).astype(np.uint8))
        return pd.DataFrame(
            {"f": [pdf["f"].iloc[0]], "bmp": [bmp.tobytes()]}
        )

    for col in columns:
        pairs = (
            scan.select(
                rel,
                F.explode(F.array(*_bloom_position_cols(col, m, k))).alias(
                    "bit"
                ),
            )
            # NULL values hash to the seed itself (xxhash64(null, s) = s),
            # adding at most k spurious bits per file — false-positive
            # direction only, and equality probes are non-null by contract
            .distinct()
        )
        rows = (
            pairs.groupBy("f")
            .applyInPandas(or_bits, "f string, bmp binary")
            .collect()
        )
        for r in rows:
            out[r["f"]][col] = {
                "m": m,
                "k": k,
                "z64": base64.b64encode(zlib.compress(r["bmp"])).decode(),
            }
        # files with only NULLs (or no rows) get an all-zero bloom:
        # every probe misses, which is exact — no non-null value exists
        empty = base64.b64encode(
            zlib.compress(bytes(m // 8 + 1))
        ).decode()
        for f in files:
            out[f].setdefault(col, {"m": m, "k": k, "z64": empty})
    return out


def live_file_blooms(path: str, version: int | None = None) -> dict:
    """rel-path → {col: bloom entry} for the live files at ``version``.
    Files without blooms map to {} — readers treat absence as "cannot
    prune", never as "no match"."""
    return _snapshot(path, version).blooms


def _rebuild_blooms(
    spark: SparkSession, snap: _Snapshot, added: list[str]
) -> dict:
    """Blooms for freshly rewritten files under ``snap``'s bloom config
    ({col: (m, k)} over its live files' blooms) — how rewrites
    (compact/materialize/delete) keep file skipping; {} when the table
    never had blooms (zero cost on the common path)."""
    cfg = {
        col: (e["m"], e["k"])
        for per_file in snap.blooms.values()
        for col, e in per_file.items()
    }
    if not cfg or not added:
        return {}
    by_mk: dict[tuple[int, int], list[str]] = {}
    for col, mk in cfg.items():
        by_mk.setdefault(mk, []).append(col)
    out: dict[str, dict] = {f: {} for f in added}
    for (m, k), cols in by_mk.items():
        built = _build_blooms(spark, snap.path, added, cols, m, k)
        for f, entry in built.items():
            out[f].update(entry)
    return out


def _probe_bloom_bits(spark: SparkSession, value, m: int, k: int) -> list[int]:
    """The k bit positions a non-null ``value`` would set — computed by
    the SAME Spark expressions used at build time (a one-row job, so the
    cast/hash semantics cannot drift from the build side)."""
    row = (
        spark.range(1)
        .select(F.lit(value).alias("v"))
        .select(*_bloom_position_cols("v", m, k))
        .first()
    )
    return [int(b) for b in row]


def _probe_bloom_bits_many(
    spark: SparkSession, values: list, m: int, k: int
) -> dict:
    """Batched :func:`_probe_bloom_bits`: the k bit positions for EVERY
    value — driver-computed through the Python XxHash64 mirror when the
    values' string cast is Python-safe (str / non-bool int: the common
    id/hash/url probes — no job at all), one Spark job otherwise. Same
    bits as the build side either way, so hash semantics cannot drift."""
    vals = [v for v in values if v is not None]
    if not vals:
        return {}
    if all(_py_bloomable(v) for v in vals):
        return {v: _bloom_bits_py(v, m, k) for v in vals}
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    rows = df.select(
        F.col("v"), F.array(*_bloom_position_cols("v", m, k)).alias("bits")
    ).collect()
    return {r["v"]: [int(b) for b in r["bits"]] for r in rows}


def _prune_files_eq(
    spark: SparkSession, files: list[str], blooms: dict, prune_eq: dict | None
) -> list[str]:
    """Keep each file whose bloom admits EVERY predicate in ``prune_eq``.
    A scalar value is ``col == value``; a list/tuple/set is
    ``col IN (values)`` — the file is kept if ANY listed value is
    admitted (skipped only when the bloom refutes every one). Missing
    blooms keep the file — like ``_prune_files`` this is an I/O
    optimization, never a filter: callers still apply the real
    predicate, so a false positive costs a scan, and a true negative
    (all k bits can't be set) safely skips the file. An EMPTY value
    list is treated as no constraint (conservative keep)."""
    import base64
    import zlib

    if not prune_eq:
        return files
    probe_cache: dict[tuple, dict] = {}

    def probes(col: str, values: list, m: int, k: int) -> dict:
        key = (col, m, k)
        if key not in probe_cache:
            probe_cache[key] = _probe_bloom_bits_many(spark, values, m, k)
        return probe_cache[key]

    kept = []
    for f in files:
        per_file = blooms.get(f, {})
        keep = True
        for col, value in prune_eq.items():
            e = per_file.get(col)
            if e is None or value is None:
                continue
            vals = (
                list(value)
                if isinstance(value, (list, tuple, set, frozenset))
                else [value]
            )
            vals = [v for v in vals if v is not None]
            if not vals:
                continue
            bits_by_val = probes(col, vals, e["m"], e["k"])
            bmp = zlib.decompress(base64.b64decode(e["z64"]))
            if not any(
                all(bmp[b // 8] & (1 << (b % 8)) for b in bits_by_val[v])
                for v in vals
                if v in bits_by_val
            ):
                keep = False
                break
        if keep:
            kept.append(f)
    return kept


def _check_schema(
    df: DataFrame, snap: _Snapshot, *, allow_additive: bool = False
) -> None:
    """``df`` must carry ``snap``'s schema exactly — or, with
    ``allow_additive``, every existing column with its exact type plus
    new columns. A new column stages under its own name as its physical
    name, so names claimed physically by a renamed column or retired by
    a drop are refused (the old files' bytes would leak into the new
    column); ``manifest_alter_schema`` assigns a fresh physical name for
    exactly this case."""
    stored = snap.schema
    if stored is None:
        return
    got = [(f.name, f.dataType) for f in df.schema.fields]
    want = [(f.name, f.dataType) for f in stored.fields]
    # additive evolution: new columns join the table schema, and older
    # files read them as NULL (reads pin the version's schema)
    if got != want and not (allow_additive and set(want).issubset(got)):
        raise ValueError(
            f"append schema {got} does not match table schema {want};"
            " pass allow_additive=True to add columns, or migrate"
            " explicitly"
        )
    claimed = {
        snap.mapping.get(f.name, f.name) for f in stored.fields
    } | set(snap.retired)
    bad = [c for c in df.columns if c not in stored.names and c in claimed]
    if bad:
        raise ValueError(
            f"additive column(s) {bad} collide with physical"
            " names in use or retired; use manifest_alter_schema"
            " add= instead"
        )


def committed_stream_batches(path: str) -> set[int]:
    """Stream batch ids already committed to this table — the replay
    guard for the foreachBatch sink (a retried micro-batch finds its id
    here and skips; see ``streaming.events.manifest_sink_stream``).
    Vacuum folds the ids of dropped commits into its checkpoint, so
    replay protection survives retention."""
    return _snapshot(path).stream_batch_ids


def manifest_append(
    df: DataFrame,
    path: str,
    *,
    max_manifest_files: int = 1_000_000,
    extra: dict | None = None,
    allow_additive: bool = False,
    bloom_columns: tuple[str, ...] | list[str] = (),
    bloom_bits: int = 1 << 17,
    bloom_hashes: int = 7,
) -> int:
    """Append ``df`` as a new version. Old files are never touched;
    concurrent appenders race on the version doc, never on data.
    ``extra`` merges additional JSON-safe fields into the commit doc
    (e.g. ``stream_batch_id`` for exactly-once streaming appends).
    ``allow_additive`` permits NEW columns (existing ones must keep
    their exact name+type); older files read the new columns as NULL
    and time travel surfaces each version's own schema.

    ``bloom_columns`` additionally records a per-file BLOOM FILTER for
    each named column (``bloom_bits`` bits, ``bloom_hashes`` hashes —
    the default 128 Kbit/16 KiB holds ~10-20k distinct values per file
    at ~1% false-positive rate): equality-predicate file skipping for
    columns min/max ranges can't prune (ids, hashes, urls). Built in
    one distributed pass over the freshly staged files; rewrites
    (compact/materialize/delete) rebuild them automatically, so a
    table keeps skipping after maintenance."""
    snap = _snapshot(path)
    _check_schema(df, snap, allow_additive=allow_additive)
    with _Txn(snap, df.sparkSession) as txn:
        _, added = txn.stage(df, verify=True)
        n_live = len(snap.files) + len(added)
        if n_live > max_manifest_files:
            raise ValueError(
                f"table would reach {n_live} files > max_manifest_files="
                f"{max_manifest_files}; compact before appending"
            )
        txn.commit(
            "append",
            added=added,
            schema=df.schema,
            blooms=txn.blooms(added, bloom_columns, bloom_bits, bloom_hashes),
            **(extra or {}),
        )
    return txn.version


def resolve_at_timestamp(versions, read_doc, ts: float, what: str) -> int:
    """Shared monotone-stamp TIMESTAMP AS OF resolver — one copy of the
    subtle parts, used by both table (``version_at_timestamp``) and
    catalog (``catalog.catalog_version_at_timestamp``) travel so the
    two can never diverge. Commit stamps are made MONOTONE before
    resolution (each version's effective time is the max stamp seen so
    far), so writer clock jitter can never order timestamp travel
    differently from version travel. Raises when ``ts`` precedes the
    first stamped commit; a ``ts`` past the head resolves to head."""
    best = None
    eff = 0.0
    for v in versions:
        doc = read_doc(v)
        # compare in float seconds on BOTH sides: callers hold float
        # timestamps, and ns-vs-float mixing loses the boundary (2^53
        # < epoch ns) — the symmetric conversion keeps `ts == stamp/1e9`
        # resolving inclusively
        eff = max(eff, int(doc.get("committed_at", 0)) / 1e9)
        # eff == 0 means no commit at-or-before v carries a stamp (the
        # log predates commit stamps): such versions can never satisfy
        # a timestamp query — without this, a stampless log resolves
        # EVERY timestamp to head, contradicting the error contract
        if eff and eff <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp {ts} precedes the first commit at {what}"
            " (or the log predates commit stamps)"
        )
    return best


def version_at_timestamp(path: str, ts: float) -> int:
    """Resolve an epoch-seconds timestamp to the table version visible
    at that instant — Delta's ``TIMESTAMP AS OF`` grain (see
    :func:`resolve_at_timestamp` for the monotone-stamp semantics)."""
    return resolve_at_timestamp(
        list_versions(path), lambda v: read_version_doc(path, v), ts, path
    )


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    *,
    as_of_timestamp: float | None = None,
    prune: dict | None = None,
    prune_eq: dict | None = None,
    with_pos: bool = False,
) -> DataFrame:
    """The table as of ``version`` (default: head) — time travel. An
    empty table yields an empty frame with the recorded schema.

    ``prune`` ({col: (lo, hi)}) skips files whose manifest-recorded
    [min, max] cannot intersect the bounds — footer-stat file skipping,
    the manifest-level pendant to parquet row-group pruning. It is an
    I/O optimization only: the caller still applies the real predicate,
    and files without stats are always scanned.

    ``prune_eq`` ({col: value, or col: [values...]}) skips files whose
    recorded BLOOM filter proves the value absent — the equality
    pendant to ``prune`` for columns ranges can't separate (ids,
    hashes, urls). A value LIST is the ``col IN (...)`` form: a file is
    skipped only when the bloom refutes every listed value (probe bits
    for the whole list are computed in one job) — the shape an
    incremental consumer uses to read just the state files its batch
    touches. Same contract: I/O optimization only, the caller still
    applies the real predicate, files without blooms are always
    scanned.

    Live deletion vectors (``manifest_delete_rows``) are applied as an
    equi anti-join on (file, row position); a table with no live
    vectors reads with zero overhead (plain parquet scan, no metadata
    columns, no join).

    ``with_pos=True`` keeps the ``__dv_file``/``__dv_pos`` coordinate
    columns on every returned row — the deletion-vector address of that
    row. A caller that reads state, decides which rows to retire, and
    commits the retirement (``manifest_evict_admit``) positions its
    evictions from THIS scan instead of paying a second positioning
    scan inside the delete.

    ``as_of_timestamp`` (epoch seconds) resolves through
    :func:`version_at_timestamp` — timestamp time travel; mutually
    exclusive with ``version``."""
    if as_of_timestamp is not None:
        if version is not None:
            raise ValueError(
                "pass version OR as_of_timestamp, not both"
            )
        version = version_at_timestamp(path, as_of_timestamp)
    snap = _snapshot(path, version)
    files = snap.files
    # manifest stats/blooms are keyed by PHYSICAL column names (they come
    # from the data files' footers); callers prune by logical
    if prune:
        phys_prune = {snap.mapping.get(c, c): v for c, v in prune.items()}
        files = _prune_files(files, snap.stats, phys_prune)
    if prune_eq:
        phys_eq = {snap.mapping.get(c, c): v for c, v in prune_eq.items()}
        files = _prune_files_eq(spark, files, snap.blooms, phys_eq)
    # the VERSION's schema is pinned on the scan: after additive
    # evolution, files written before a column existed read it as NULL,
    # time travel to an old version surfaces that version's own
    # (narrower) schema and column NAMES, and post-rename/widen reads
    # resolve through the column mapping + parquet type promotion
    return snap.scan(spark, files, keep_pos=with_pos)


def _merge_pos_ranges(a, b):
    """Union of two position-range lists ([lo, hi) tuples); ``None``
    means "the whole file" and absorbs everything."""
    if a is None or b is None:
        return None
    out: list[list[int]] = []
    for lo, hi in sorted(list(a) + list(b)):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return [tuple(r) for r in out]


def _map_through_segments(segments: list, source_ranges: dict):
    """Map per-source position ranges into OUTPUT coordinates through a
    rewrite's recorded ``segments`` ([[source, source_lo, n_rows], ...]
    in output position order). ``source_ranges`` maps source file ->
    None (whole file) | [lo, hi) list; sources absent from it contribute
    nothing. ``source_lo == -1`` is the WHOLE-FILE-SURVIVORS sentinel
    (a materialize bin: n_rows survivors of the source in order, but
    source positions are not affine because deleted rows were dropped)
    — mappable only when the source's ranges are None (every survivor
    carries the source's property); PARTIAL ranges over such a segment
    cannot be mapped, and the whole call returns ``None`` so the caller
    falls back to file grain. Pure interval arithmetic — no data read."""
    out_ranges: list = []
    cursor = 0
    for src, src_lo, cnt in segments:
        if src in source_ranges:
            rg = source_ranges[src]
            if rg is None:
                out_ranges.append((cursor, cursor + cnt))
            elif src_lo == -1:
                return None  # non-affine segment under partial ranges
            else:
                for lo, hi in rg:
                    s = max(lo, src_lo)
                    e = min(hi, src_lo + cnt)
                    if s < e:
                        out_ranges.append(
                            (cursor + s - src_lo, cursor + e - src_lo)
                        )
        cursor += cnt
    return _merge_pos_ranges(out_ranges, [])


def _since_visibility(snap: _Snapshot, since_version: int) -> dict:
    """file -> positions holding rows VISIBLE at ``since_version``
    (None = every position, [lo, hi) list = a subset), for every file a
    range deletion vector may target: files live at ``since_version``
    are wholly visible, and segmented rewrite outputs inherit their
    sources' visibility through interval composition. Files absent from
    the map hold no provably-visible rows (range-appended data, or
    rewrite outputs without recorded provenance) — the change feed's
    delete side skips them rather than over-emit."""
    vis: dict[str, list | None] = {
        f: None for f in snap.at(since_version).files
    }
    for v, doc in snap.log:
        if v <= since_version:
            continue
        if doc.get("operation", "append") in (
            "compact",
            "materialize",
            "checkpoint",
            "delete",  # order-pinned survivor rewrite records segments
        ):
            segments = doc.get("segments")
            if segments and set(segments) == set(doc.get("added", [])):
                for n in doc["added"]:
                    rgs = _map_through_segments(segments[n], vis)
                    if rgs:
                        vis[n] = rgs
    return vis


def read_changes(
    spark: SparkSession,
    path: str,
    since_version: int,
    version: int | None = None,
) -> DataFrame:
    """Rows that became live in ``(since_version, version]`` — the
    incremental-processing grain: exactly the files appended by
    DATA-CHANGING commits in the range and still row-live at its end,
    no archive rescan ever.

    Operation semantics (the Delta ``dataChange=false`` discipline):

    * ``append``/``merge`` commits ADD rows — their files feed the
      range.
    * ``compact``/``materialize``/``checkpoint`` are data no-ops — a
      rewrite inside the range never re-emits the table as inserts.
      A rewrite whose inputs are ALL range-new (a "pure" rewrite) is
      FOLLOWED: the feed scans its outputs instead of the originals,
      so later in-range deletes and deletion vectors — which target
      the live (rewritten) file names — line up with the scan set. A
      rewrite that mixes pre-range files in is ALSO followed when its
      commit records ``segments`` (exact per-output row provenance —
      every ``manifest_compact_small`` commit does) and each input's
      range rows live at the input's own coordinates: the feed scans
      the output restricted to the POSITION RANGES its range-new
      sources landed in, so later deletes and vectors against the
      output line up row-exactly. A mixed rewrite without segments
      (full ``manifest_compact``, ``materialize`` over mixed inputs)
      keeps the original range files in the scan set (they are
      immutable until vacuum); its outputs carry mixed lineage and
      cannot be scanned directly.
    * ``rowdelete``/``merge`` DELETION VECTORS committed in the range
      are applied to the range's scan set — retirement by a later
      rewrite folds deletes into data, it never resurrects rows. A
      vector aimed at an INDIRECTLY-scanned file (a rewrite output
      whose range rows the feed reads via its source files) is
      re-addressed to source coordinates through the output's recorded
      ``segments`` (affine segments by interval arithmetic; whole-file-
      survivors segments by re-ranking the sources minus the folded
      vectors) — row-exact, INCLUDING through chains of rewrites
      (each hop re-addresses through its own recorded segments,
      depth-bounded). Only outputs WITHOUT segments (legacy/full
      ``manifest_compact``) still evict at file grain (under-emission,
      never over-emission).
    * ``delete`` (``manifest_delete_where``, the file-targeted GDPR
      batch grain) is ROW-EXACT whenever its commit carries the
      ``dv_matched`` position vector (every commit written by this
      engine does): hit files that are in the scan set — whole or
      segment-restricted — stay scanned and the matched rows are
      vectored out, so survivors of range-new rows are emitted and
      deleted rows never are, regardless of whether the hit set also
      includes archive files or mixed compaction outputs. When all
      hit files are wholly range-new, the survivor rewrite is emitted
      instead (fewer files, same rows). A hit file scanned VIA OTHER
      FILES nets row-exactly too when its creating commit recorded
      segments (its matched rows translate to source coordinates —
      through chained rewrites too — and its scans carry to the new
      survivor output); only segment-less hits evict the files scanned
      on their behalf wholesale — under-emission, never over-emission. Legacy delete
      commits without ``dv_matched`` fall back to the same pure-only
      survivor rule with file-grain eviction elsewhere.
    """
    return _read_changes(spark, _snapshot(path, version), since_version)


def _within_ranges(scanned: DataFrame, ranges: dict) -> DataFrame:
    """Rows of a positioned scan inside ``ranges`` ({file: None (every
    row) or [lo, hi) position ranges})."""
    whole = sorted(f for f, rg in ranges.items() if rg is None)
    cond = F.col("__dv_file").isin(whole) if whole else F.lit(False)
    for f, rgs in sorted(
        (f, rg) for f, rg in ranges.items() if rg is not None
    ):
        in_rg = F.lit(False)
        for lo, hi in rgs:
            in_rg = in_rg | (
                (F.col("__dv_pos") >= int(lo)) & (F.col("__dv_pos") < int(hi))
            )
        cond = cond | ((F.col("__dv_file") == f) & in_rg)
    return scanned.where(cond)


def _read_changes(
    spark: SparkSession, snap: _Snapshot, since_version: int
) -> DataFrame:
    """:func:`read_changes` over the range ``(since_version,
    snap.version]`` of one snapshot's log."""
    path, version = snap.path, snap.version
    if since_version > version:
        raise ValueError(f"since_version {since_version} > version {version}")
    oldest = snap.log[0][0] if snap.log else version + 1
    if since_version < oldest:
        # vacuum dropped the commits below the horizon — the range can no
        # longer be reconstructed; fail loudly rather than under-emit
        raise ValueError(
            f"since_version {since_version} predates the oldest retained"
            f" version {oldest} (vacuumed); read a full snapshot instead"
        )
    _REWRITE_OPS = {"compact", "materialize", "checkpoint"}
    # the feed's scan set: file -> None (scan whole — the file is wholly
    # range-new) or a sorted list of [lo, hi) position ranges holding its
    # range-new rows (a segmented mixed-rewrite output)
    scan_ranges: dict[str, list | None] = {}
    # range lineage: live file -> ({scan file: ranges-or-None carried on
    # its behalf}, wholly-range-new?). Invariant: a pure file scans
    # itself whole; a segmented rewrite output scans itself restricted
    # to ranges; a segment-less mixed output or delete-survivor maps to
    # OTHER files still scanned on its behalf; a file absent from the
    # map carries no range rows (pre-range data only).
    lineage: dict[str, tuple[dict, bool]] = {}
    range_dvs: list[str] = []
    # row-exact netting for vectors aimed at INDIRECTLY-scanned rewrite
    # outputs: for an output whose creating commit recorded ``segments``
    # (order-pinned concatenation of its sources' survivors), a later
    # vector's output positions are reconstructible back to SOURCE
    # coordinates — affine segments by interval arithmetic, whole-file-
    # survivors segments by re-ranking the sources minus the vectors the
    # rewrite folded. ``indirect_prov`` stashes (segments, folded vector
    # files, creating commit's removed set) per such output;
    # ``translate`` collects the targets whose vectors actually need it.
    indirect_prov: dict[str, tuple[list, list, set]] = {}
    translate: dict[str, tuple[list, list]] = {}

    def _scan_add(target: dict, file: str, ranges) -> None:
        if file in target:
            target[file] = _merge_pos_ranges(target[file], ranges)
        else:
            target[file] = ranges

    _MAX_CHAIN_HOPS = 8

    def _chain_cover(t: str, depth: int = 0):
        """Files a vector aimed at ``t`` can be re-addressed onto by
        translating HOP BY HOP through recorded segments (r12 — closes
        the former chained-double-indirection file-grain exit): each
        hop's direct sources plus, for a source that is itself an
        indirectly-scanned rewrite output, that source's own transitive
        cover. Acceptance needs ``t``'s scan set inside the cover —
        every scanned copy of a deleted row is then guaranteed to
        receive its translated vector at assembly. Returns ``None``
        when ``t`` has no recorded provenance; hops past the depth
        guard contribute nothing (their leaves stay uncovered, so a
        scan set that needs them falls back to file grain — matching
        the assembly loop's own bound)."""
        prov = indirect_prov.get(t)
        if prov is None or depth >= _MAX_CHAIN_HOPS:
            return None
        cover: set = set(prov[2])
        for src, _lo, _cnt in prov[0]:
            cover.add(src)
            if src not in scan_ranges and src in indirect_prov:
                sub = _chain_cover(src, depth + 1)
                if sub:
                    cover |= sub
        return cover

    def _evict(removed: set) -> tuple[dict, bool]:
        """Pop lineage for ``removed``; return ({scan file: ranges} to
        evict, every-removed-file-wholly-range-new?)."""
        scan: dict = {}
        all_pure = True
        for r in removed:
            sd, pure = lineage.pop(r, ({}, False))
            for f, rg in sd.items():
                _scan_add(scan, f, rg)
            all_pure = all_pure and pure
        return scan, all_pure

    for v, doc in snap.log:
        if v <= since_version:
            continue
        op = doc.get("operation", "append")
        range_dvs += doc.get("dv_added", [])
        if doc.get("dv_added"):
            # a vector addresses its TARGET file's coordinates; a target
            # whose range rows are scanned via OTHER files nets
            # row-exactly when its creating commit recorded segments
            # (the vector's positions map back to source coordinates at
            # assembly — see ``_translated_dv``) and every file scanned
            # on its behalf is one of those sources at its own
            # coordinates — hop by hop through chained rewrites
            # (r12). Otherwise (segment-less mixed-rewrite output) the
            # scan exits at file grain — under-emission, never the
            # over-emission of a silently unapplied delete
            for t in doc.get("dv_targets", {}):
                sd, _p = lineage.get(t, ({}, False))
                if sd and set(sd) != {t}:
                    prov = indirect_prov.get(t)
                    cover = _chain_cover(t)
                    if (
                        prov is not None
                        and cover is not None
                        and set(sd) <= cover
                    ):
                        translate[t] = (prov[0], prov[1])
                        continue
                    scan, _ = _evict({t})
                    for f in scan:
                        scan_ranges.pop(f, None)
        removed = set(doc.get("removed", []))
        if op in _REWRITE_OPS:
            per_r = {
                r: lineage.pop(r, ({}, False)) for r in sorted(removed)
            }
            scan: dict = {}
            all_pure = True
            for sd, pure in per_r.values():
                for f, rg in sd.items():
                    _scan_add(scan, f, rg)
                all_pure = all_pure and pure
            if not scan:
                # pre-range-only rewrite: data no-op, outputs carry no
                # range rows — nothing to track
                continue
            if all_pure:
                # follow the rewrite: outputs replace the originals in
                # the scan set (same live rows; vectors folded in by
                # the rewrite then match nothing — already applied)
                for f in scan:
                    scan_ranges.pop(f, None)
                for n in doc["added"]:
                    scan_ranges[n] = None
                    lineage[n] = ({n: None}, True)
                continue
            segments = doc.get("segments")
            self_addressed = all(
                set(sd) <= {r} for r, (sd, _p) in per_r.items()
            )
            if (
                segments is not None
                and self_addressed
                and set(segments) == set(doc["added"])
            ):
                # segmented mixed rewrite: follow it — scan each output
                # restricted to the positions its range-new sources
                # landed in (exact interval arithmetic, no data read).
                # Map EVERY output before evicting anything: a single
                # non-mappable output (partial ranges over a
                # whole-file-survivors segment) sends the whole rewrite
                # to the file-grain fallback below
                src_ranges = {
                    src: sd[src]
                    for src, (sd, _p) in per_r.items()
                    if src in sd
                }
                mapped = {
                    n: _map_through_segments(segments[n], src_ranges)
                    for n in doc["added"]
                }
                if all(m is not None for m in mapped.values()):
                    for f in scan:
                        scan_ranges.pop(f, None)
                    for n, merged in mapped.items():
                        if merged:
                            scan_ranges[n] = merged
                            lineage[n] = ({n: merged}, False)
                    continue
            # mixed rewrite without (mappable) provenance: keep scanning
            # the originals; outputs answer for them if a later op
            # removes the outputs. Recorded segments still enable
            # row-exact netting of LATER vectors aimed at an output
            # (folded set = the vectors this rewrite retired)
            for n in doc["added"]:
                lineage[n] = (dict(scan), False)
                if segments and n in segments:
                    indirect_prov[n] = (
                        segments[n],
                        list(doc.get("dv_removed", [])),
                        removed,
                    )
            continue
        if op == "delete":
            matched_dv = doc.get("dv_matched", [])
            all_pure = bool(removed) and all(
                lineage.get(r, ({}, False))[1] for r in removed
            )
            if all_pure or not matched_dv:
                # pure hit set (or legacy commit): evict the hit files'
                # range lineage; when every hit file is wholly
                # range-new, the survivor rewrite carries exactly the
                # range-new still-live rows — emit it
                scan, _ = _evict(removed)
                for f in scan:
                    scan_ranges.pop(f, None)
                if removed and all_pure:
                    for n in doc["added"]:
                        scan_ranges[n] = None
                        lineage[n] = ({n: None}, True)
                continue
            # row-exact path: keep scanned hit files in the feed (whole
            # or segment-restricted) and vector out the matched rows
            # (coordinates are against the immutable scanned files).
            # A hit scanned via OTHER files nets row-exactly too when
            # its creating commit recorded segments — its matched rows
            # translate to source coordinates like any other vector on
            # an indirect target, through chained rewrites too — and
            # its underlying scans carry over to the survivor outputs'
            # lineage; only segment-less hits still exit at file grain
            in_scan = [r for r in removed if r in scan_ranges]
            unmapped = [
                r
                for r in removed
                if r not in scan_ranges and r in lineage
            ]
            carried: dict = {}
            evict_rest: set = set()
            for r in unmapped:
                prov = indirect_prov.get(r)
                sd_r, _pr = lineage[r]
                cover = _chain_cover(r)
                if (
                    prov is not None
                    and cover is not None
                    and set(sd_r) <= cover
                ):
                    translate[r] = (prov[0], prov[1])
                    lineage.pop(r)
                    for f, rg in sd_r.items():
                        _scan_add(carried, f, rg)
                else:
                    evict_rest.add(r)
            if evict_rest:
                scan, _ = _evict(evict_rest)
                for f in scan:
                    scan_ranges.pop(f, None)
            range_dvs += matched_dv
            # survivors are NOT emitted (their rows stay live through
            # the scanned files + vector); they carry the scanned hit
            # files' lineage for later in-range ops. With recorded
            # segments (the order-pinned survivor rewrite), a LATER
            # vector aimed at a survivor file nets row-exactly — its
            # folded set is the vectors live at this commit's parent
            # plus the matched vector itself
            surv_scan = {r: scan_ranges[r] for r in in_scan}
            for f, rg in carried.items():
                _scan_add(surv_scan, f, rg)
            for r in in_scan:
                lineage.pop(r, None)
            del_segments = doc.get("segments") or {}
            del_folded: list[str] | None = None
            for n in doc["added"]:
                lineage[n] = (dict(surv_scan), False)
                if n in del_segments:
                    if del_folded is None:
                        del_folded = list(
                            snap.at(doc["parent"]).dv_files
                        ) + list(matched_dv)
                    indirect_prov[n] = (
                        del_segments[n], del_folded, removed
                    )
            continue
        scan, _ = _evict(removed)
        for f in scan:
            scan_ranges.pop(f, None)
        for n in doc["added"]:
            scan_ranges[n] = None
            lineage[n] = ({n: None}, True)
    if not scan_ranges:
        if snap.schema is None:
            raise ValueError(f"no schema recorded at {path} yet")
        return spark.createDataFrame([], snap.schema)
    whole = sorted(f for f, rg in scan_ranges.items() if rg is None)
    if not range_dvs and len(whole) == len(scan_ranges):
        return snap.scan(spark, whole, dvs=[])
    # rows row-deleted within the range are not live at its end; the
    # anti-join self-restricts to the files actually scanned (vectors
    # aimed at archive files match nothing here). Segment-restricted
    # files additionally filter to their range-new position ranges.
    dvf = None
    if range_dvs:
        base_dvf = _dv_frame(spark, path, sorted(set(range_dvs)))
        dvf = base_dvf
        scanned_set = set(scan_ranges)
        # hop-by-hop chain translation (r12): rows re-addressed onto
        # an INTERMEDIATE rewrite output (itself indirectly scanned)
        # re-enter the worklist with that output's own recorded
        # provenance, so vectors compose through chained rewrites —
        # affine and whole-file-survivors hops alike. Bounded by the
        # same depth guard the acceptance cover uses, so an accepted
        # target always drains before the bound.
        work = [
            (t, *translate[t], base_dvf) for t in sorted(translate)
        ]
        for _hop in range(_MAX_CHAIN_HOPS):
            nxt: list = []
            for t, segs, folded, src_frame in work:
                hop_files = sorted(
                    {
                        s
                        for s, _lo, _cnt in segs
                        if s not in scanned_set
                        and s in indirect_prov
                    }
                )
                extra = _translated_dv(
                    spark, snap, t, segs, folded,
                    src_frame, scanned_set | set(hop_files),
                )
                if extra is None:
                    continue
                if hop_files:
                    # multi-consumed below (direct slice + one per
                    # hop file): materialize ONCE — each filter
                    # would otherwise re-run the whole translation,
                    # including sentinel-segment source scans
                    extra = extra.localCheckpoint(eager=True)
                    dvf = dvf.unionByName(
                        extra.where(~F.col("file").isin(hop_files))
                    )
                    for m in hop_files:
                        p = indirect_prov[m]
                        nxt.append(
                            (
                                m,
                                p[0],
                                p[1],
                                extra.where(F.col("file") == m),
                            )
                        )
                else:
                    dvf = dvf.unionByName(extra)
            if not nxt:
                break
            work = nxt
        else:
            # reachable ONLY with nxt non-empty (a drained worklist
            # breaks): the loop exhausted its hop budget with
            # targets still pending. _chain_cover's identical depth
            # bound makes this unreachable TODAY (an accepted
            # target always drains before the bound) — but that
            # invariant lives in a different function, and if the
            # two constants ever diverge, silently dropping the
            # residual vectors would OVER-EMIT in the change feed
            # (deleted rows emitted as inserts). Fail loudly.
            raise RuntimeError(
                f"chain translation at {path} exhausted"
                f" {_MAX_CHAIN_HOPS} hops with"
                f" {len(nxt)} targets still pending"
                f" ({sorted(t for t, *_ in nxt)[:5]}…) —"
                " _MAX_CHAIN_HOPS no longer matches"
                " _chain_cover's acceptance bound"
            )
    scanned = snap.scan(
        spark, sorted(scan_ranges), keep_pos=True,
        dvs=[] if dvf is None else dvf,
    )
    if len(whole) < len(scan_ranges):
        scanned = _within_ranges(scanned, scan_ranges)
    return scanned.drop("__dv_file", "__dv_pos")


def _translated_dv(
    spark: SparkSession,
    snap: _Snapshot,
    target: str,
    segs: list,
    folded: list[str],
    dvf: DataFrame,
    scanned_files: set,
) -> DataFrame | None:
    """Vector rows aimed at ``target`` — an indirectly-scanned rewrite
    output — re-addressed to SOURCE coordinates through the output's
    recorded ``segments``, so the feed's anti-join nets them against
    the files it actually scans.

    The output is an order-pinned concatenation of its segments:
    affine segments (``[src, src_lo, cnt]``) translate by interval
    arithmetic alone (no data read); whole-file-survivors segments
    (``[src, -1, cnt]``) re-rank the source's surviving positions —
    the source scanned minus the ``folded`` vectors the rewrite
    applied, ranked per source (position order) plus the segment's
    driver-computed output offset. Sources outside ``scanned_files``
    are skipped: their translated rows could not match the feed's scan
    anyway, and skipping them cannot disturb other sources' ranks (the
    rank window is per-source). Returns ``None`` when nothing
    translates."""
    from pyspark.sql import Window

    tv = dvf.where(F.col("file") == F.lit(target)).select(
        F.col("pos").alias("__t_pos")
    )
    affine: list[tuple] = []
    sentinel: list[tuple] = []
    cursor = 0
    for src, lo, cnt in segs:
        if lo == -1:
            sentinel.append((src, int(cnt), cursor))
        else:
            affine.append((src, int(lo), int(cnt), cursor))
        cursor += int(cnt)
    parts: list[DataFrame] = []
    aff_scanned = [r for r in affine if r[0] in scanned_files]
    if aff_scanned:
        m = spark.createDataFrame(
            aff_scanned, "src string, lo long, cnt long, off long"
        )
        parts.append(
            tv.join(
                F.broadcast(m),
                (F.col("__t_pos") >= F.col("off"))
                & (F.col("__t_pos") < F.col("off") + F.col("cnt")),
            ).select(
                F.col("src").alias("file"),
                (F.col("__t_pos") - F.col("off") + F.col("lo")).alias("pos"),
            )
        )
    sent_scanned = [r for r in sentinel if r[0] in scanned_files]
    if sent_scanned:
        srcs = [s for s, _c, _o in sent_scanned]
        scan = snap.scan(
            spark, srcs, keep_pos=True, dvs=sorted(set(folded))
        ).select("__dv_file", "__dv_pos")
        w = Window.partitionBy("__dv_file").orderBy("__dv_pos")
        off = F.create_map(
            *[
                x
                for s, _c, o in sent_scanned
                for x in (F.lit(s), F.lit(o))
            ]
        )
        mapping = scan.select(
            F.col("__dv_file").alias("file"),
            F.col("__dv_pos").alias("pos"),
            (
                F.row_number().over(w) - 1 + off[F.col("__dv_file")]
            ).alias("__t_pos"),
        )
        parts.append(
            mapping.join(tv, "__t_pos", "left_semi").select("file", "pos")
        )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_change_feed(
    spark: SparkSession,
    path: str,
    since_version: int,
    version: int | None = None,
) -> DataFrame:
    """Row-level CHANGE FEED for ``(since_version, version]`` — the
    table's schema plus a ``_change_type`` column:

    * ``insert`` — rows that became live via files appended in the
      range and are still live at its end (exactly ``read_changes``);
    * ``delete`` — rows visible at ``since_version`` that were removed
      in the range, whether by DELETION VECTORS (``manifest_delete_rows``
      / ``manifest_merge_upsert`` / the delete stream) or by a
      ``manifest_delete_where`` commit carrying its ``dv_matched``
      position vector — both record exact (file, pos) matches whose
      content reads back from the still-present original data files.

    Net semantics: a row inserted AND deleted within the range appears
    as neither (it was never visible at either endpoint) — the grain
    downstream incremental consumers actually apply. Every row-removal
    path this engine writes is therefore replayed exactly; only legacy
    ``delete`` commits written before ``dv_matched`` existed stay
    silent at row grain (materialize/compact rewrites are data no-ops
    and emit nothing, as ever). Cost: the insert side scans only
    range-added files; the delete side scans only files the range's
    vectors point into."""
    snap = _snapshot(path, version)
    inserts = _read_changes(spark, snap, since_version).withColumn(
        "_change_type", F.lit("insert")
    )
    # deletion vectors committed in the range — including the matched
    # sets of file-targeted deletes (their originals stay on disk until
    # vacuum, so the content read below still resolves)
    range_dvs = [
        f
        for v, doc in snap.log
        if v > since_version
        for f in doc.get("dv_added", []) + doc.get("dv_matched", [])
    ]
    if not range_dvs:
        return inserts
    dvs = _dv_frame(spark, path, range_dvs)
    # rows were VISIBLE at since_version only if their position was
    # live then — wholly for files live at since, through segment
    # composition for rewrite outputs; vectors into range-added files
    # net out against inserts instead
    vis = _since_visibility(snap, since_version)
    targets = sorted(
        {
            r["file"]
            for r in dvs.select("file").distinct().collect()
            if r["file"] in vis
        }
    )
    if not targets:
        return inserts
    scanned = snap.scan(spark, targets, keep_pos=True, dvs=[])
    if any(vis[f] is not None for f in targets):
        scanned = _within_ranges(scanned, {f: vis[f] for f in targets})
    # the feed wants exactly the vectors' matches
    deleted = (
        _dv_join(scanned, dvs, "left_semi")
        .drop("__dv_file", "__dv_pos")
        .withColumn("_change_type", F.lit("delete"))
    )
    return inserts.unionByName(deleted)


def manifest_delete_where(
    spark: SparkSession, path: str, condition
) -> tuple[int, int]:
    """File-targeted delete (the GDPR grain): ONE scan finds the files
    containing matching rows; only those files' survivors are rewritten
    into the new version — untouched files stay byte-identical (the same
    contract as ``sources.io.targeted_delete``, now with version history
    so the pre-delete snapshot remains auditable until vacuum).

    The matched (file, row-position) set is additionally recorded as a
    DELETION-VECTOR file under the commit doc's ``dv_matched`` key. It
    plays no part in live reads (the hit files leave the live set in
    this same commit, so the vector is inert for snapshots) — it exists
    so incremental readers stay ROW-EXACT: ``read_changes`` applies it
    to the immutable original files instead of dropping whole hit files
    from the feed, and ``read_change_feed`` replays the matches as
    ``delete`` rows for consumers that apply diffs downstream.

    Returns (new_version, n_files_rewritten).
    """
    snap = _snapshot(path)
    head = snap.version
    if not snap.files:
        return head, 0
    # a row already row-deleted must neither trigger a rewrite nor
    # survive into one
    live = snap.scan(spark, keep_pos=True)
    # ONE full scan stages the matched positions as a vector over the
    # (immutable) hit files — row-exact change tracking for incremental
    # readers (see docstring). The hit-file set then falls out of the
    # staged vector (driver-local read of a tiny file), so finding the
    # hits and recording them costs a single pass instead of a collect
    # scan plus a separate vector pass
    matched = live.where(F.coalesce(condition, F.lit(False))).select(
        F.col("__dv_file").alias("file"), F.col("__dv_pos").alias("pos")
    ).coalesce(1)
    with _Txn(snap, spark) as txn:
        dv_dir, matched_dv = txn.stage(matched, prefix="dv")
        matched_counts = _dv_file_counts(path, matched_dv)
        if not matched_counts:
            txn.drop(dv_dir)
            return head, 0
        hit_rel = sorted(matched_counts)
        # survivor rewrite scans ONLY the hit files. Keep every row where
        # the condition is not TRUE — a NULL-evaluating predicate must
        # keep the row, not silently drop it
        keep_cond = ~F.coalesce(condition, F.lit(False))
        survivors = snap.scan(spark, hit_rel).where(keep_cond)
        rc = snap.row_counts
        added: list[str] = []
        segments: dict[str, list] = {}
        if all(f in rc for f in hit_rel):
            # survivor counts are metadata-exact (count − already-vectored
            # − newly-matched) → the order-pinned rewrite, whose segments
            # let ``read_changes`` net a LATER deletion vector aimed at
            # this survivor file back to the scanned originals row-exactly
            # instead of exiting at file grain
            surv_n = {
                f: rc[f] - snap.dv_targets.get(f, 0) - matched_counts[f]
                for f in hit_rel
            }
            added, segments = _rewrite_survivors(
                txn, surv_n, 128 << 20, keep=keep_cond
            )
        elif survivors.limit(1).count():
            _, added = txn.stage(survivors)
        txn.commit(
            "delete",
            added=added,
            removed=hit_rel,
            schema=snap.schema or survivors.schema,
            dv_matched=matched_dv,
            segments=segments or None,
        )
    return txn.version, len(hit_rel)


def _pack_bins(
    files: list[str], sizes: dict[str, int], target_bytes: int
) -> list[list[str]]:
    """First-fit bins of whole files, in ``files`` order, each closed
    once the next file would push it past ``target_bytes``."""
    bins: list[list[str]] = []
    acc = 0
    for f in files:
        if not bins or acc + sizes[f] > target_bytes:
            bins.append([])
            acc = 0
        bins[-1].append(f)
        acc += sizes[f]
    return bins


def _rewrite_survivors(
    txn: _Txn,
    surv_n: dict[str, int],
    target_bytes: int,
    *,
    keep=None,
) -> tuple[list[str], dict]:
    """ORDER-PINNED survivor rewrite of the files in ``surv_n`` ({file:
    metadata-exact survivor count}; files with none are skipped): bins
    of whole files up to ``target_bytes``, each staged as ONE output —
    sources in name order, each source's survivors (live vectors
    applied, ``keep`` filtered) in position order — with
    whole-file-survivors ``segments`` ({output: [[source, -1, n]]}).
    Shared by ``manifest_delete_where`` and
    ``manifest_materialize_deletes``, staged through their ``txn``;
    returns (added files, segments)."""
    spark, snap = txn.spark, txn.snap
    live_srcs = [f for f in sorted(surv_n) if surv_n[f] > 0]
    sizes = {
        f: os.path.getsize(os.path.join(snap.path, f)) for f in live_srcs
    }
    added: list[str] = []
    segments: dict[str, list] = {}
    for bin_files in _pack_bins(live_srcs, sizes, target_bytes):
        scan = snap.scan(spark, bin_files, keep_pos=True)
        if keep is not None:
            scan = scan.where(keep)
        packed = (
            scan.coalesce(1)
            .sortWithinPartitions("__dv_file", "__dv_pos")
            .drop("__dv_file", "__dv_pos")
        )
        _, a = txn.stage(packed)
        added += a
        if a:
            segments[a[0]] = [[f, -1, surv_n[f]] for f in bin_files]
    return added, segments


def manifest_delete_rows(
    spark: SparkSession,
    path: str,
    condition=None,
    *,
    keys: DataFrame | None = None,
    on: str | list[str] | None = None,
    dv_target_files: int = 1,
    extra: dict | None = None,
    prune_eq: dict | None = None,
) -> tuple[int, int]:
    """Row-level delete as a DELETION VECTOR (merge-on-read): ONE scan
    finds the matching (file, row position) pairs; they are committed as
    a vector file and NO data file is rewritten. Readers anti-join the
    vectors; ``manifest_materialize_deletes`` (or compaction) later
    rewrites only the affected files and retires the vectors.

    This is the cheap row-level GDPR grain at 100 TB — a delete costs
    one scan plus a vector write proportional to the DELETED rows, where
    ``manifest_delete_where`` costs a rewrite of every file that
    contains a match. Rows whose predicate evaluates NULL are kept, and
    rows already deleted by a live vector are not re-counted.

    Matching is either a ``condition`` expression, or — for delete
    REQUESTS that arrive as data (a forget-me key table, a CDC delete
    stream) — a ``keys`` frame semi-joined on ``on``: the key set stays
    distributed end to end, never an IN-list on the driver.

    ``dv_target_files`` bounds the vector file count per commit
    (vectors are usually tiny; 1 keeps the manifest lean — raise it if
    a single delete ever removes a corpus-scale row set). ``extra``
    merges into the commit doc (e.g. ``stream_batch_id`` — note a
    replayed delete is ALSO naturally idempotent: its rows are already
    vectored, so it matches nothing and commits nothing).

    ``prune_eq`` (same contract as ``read_snapshot``: {col: value or
    [values...]}) bloom-skips files the delete's matches cannot live in
    — an incremental consumer evicting per-batch keys scans only its
    batch's state files, not the whole table. I/O optimization only:
    pass it solely when the caller KNOWS the match set is confined to
    rows those predicates select (a wrong hint here under-deletes).

    Returns (new_version, n_rows_deleted); no commit if nothing matched.
    """
    if (condition is None) == (keys is None):
        raise ValueError("pass exactly one of condition= or keys=/on=")
    if keys is not None and on is None:
        raise ValueError("keys= requires on=")
    snap = _snapshot(path)
    head, files = snap.version, snap.files
    if prune_eq:
        phys_eq = {snap.mapping.get(c, c): v for c, v in prune_eq.items()}
        files = _prune_files_eq(spark, files, snap.blooms, phys_eq)
    if not files:
        return head, 0
    live = snap.scan(spark, files, keep_pos=True)
    if keys is not None:
        matched = live.join(keys, on, "left_semi")
    else:
        matched = live.where(F.coalesce(condition, F.lit(False)))
    hits = (
        matched.select(
            F.col("__dv_file").alias("file"),
            F.col("__dv_pos").alias("pos"),
        )
        .coalesce(max(1, dv_target_files))
    )
    with _Txn(snap, spark) as txn:
        dv_dir, added_dv = txn.stage(hits, prefix="dv")
        per_file = _dv_file_counts(path, added_dv)
        if not per_file:
            txn.drop(dv_dir)
            return head, 0
        txn.commit(
            "rowdelete",
            dv_added=added_dv,
            dv_removed=[],
            dv_targets=per_file,
            **(extra or {}),
        )
    return txn.version, sum(per_file.values())


def manifest_merge_upsert(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    on: str | list[str],
    *,
    dv_target_files: int = 1,
    extra: dict | None = None,
) -> tuple[int, int, int]:
    """ATOMIC upsert: rows of ``df`` REPLACE the table rows sharing
    their ``on`` key(s), and new-key rows append — one commit, so a
    reader sees either the pre-merge or the post-merge table, never a
    half-applied state. The replace side is a deletion vector (the
    matched old rows' positions; no data file rewritten) and the insert
    side is a staged batch — both land in the SAME version doc, which
    the commit-log design supports precisely because ``dv_added`` and
    ``added`` are independent fields replayed together.

    At 100 TB this is the CDC-apply grain: cost = one scan to position
    the matches + a vector write ∝ matched rows + a data write ∝ the
    update batch. Untouched files stay byte-identical; vectors retire
    at the next materialize/compact like any other delete.

    Returns (new_version, n_rows_replaced, n_rows_appended) —
    replaced counts the OLD rows vectored out (a key duplicated in the
    table replaces every copy), appended counts all of ``df``."""
    on_cols = [on] if isinstance(on, str) else list(on)
    snap = _snapshot(path)
    _check_schema(df, snap)
    with _Txn(snap, spark) as txn:
        work = {}
        if snap.files:
            hits = (
                snap.scan(spark, keep_pos=True)
                .join(df.select(*on_cols).distinct(), on_cols, "left_semi")
                .select(
                    F.col("__dv_file").alias("file"),
                    F.col("__dv_pos").alias("pos"),
                )
                .coalesce(max(1, dv_target_files))
            )
            work["dv"] = lambda: txn.stage(hits, prefix="dv")
        work["data"] = lambda: txn.stage(df, verify=True)
        staged = _stage_overlapped(spark, work)
        _, added = staged["data"]
        dv_dir, added_dv = staged.get("dv", (None, []))
        per_file = _dv_file_counts(path, added_dv)
        if not per_file and dv_dir is not None:
            txn.drop(dv_dir)
            added_dv = []
        doc = txn.commit(
            "merge",
            added=added,
            schema=df.schema,
            dv_added=added_dv,
            dv_removed=[],
            dv_targets=per_file,
            **(extra or {}),
        )
    return (
        txn.version,
        sum(per_file.values()),
        sum(doc["row_counts"].values()),
    )


def manifest_merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: str | list[str],
    *,
    matched_update: dict | None = None,
    matched_update_condition=None,
    matched_delete_condition=None,
    not_matched_insert: bool = False,
    not_matched_insert_condition=None,
    not_matched_by_source_delete: bool = False,
    not_matched_by_source_delete_condition=None,
    not_matched_by_source_update: dict | None = None,
    not_matched_by_source_update_condition=None,
    with_schema_evolution: bool = False,
    dv_target_files: int = 1,
    extra: dict | None = None,
) -> tuple[int, int, int, int]:
    """Full conditional ``MERGE INTO`` (the Delta/Iceberg MERGE grain —
    reference parity for the CDC-apply step users otherwise script as
    delete+update+insert passes), ONE atomic merge-on-read commit:

    * ``WHEN MATCHED [AND matched_delete_condition] THEN DELETE`` —
      evaluated FIRST (the CDC tombstone pattern); matched rows
      satisfying it are vectored out with no post-image.
    * ``WHEN MATCHED [AND matched_update_condition] THEN UPDATE SET
      matched_update`` — remaining matched rows are vectored out and
      re-appended with the SET expressions applied. Conditions and SET
      values are Column expressions (or SQL strings) over the aliased
      join: target columns as ``t.<col>``, source columns as
      ``s.<col>`` — e.g. ``{"v": F.expr("s.v")}``.
    * ``WHEN NOT MATCHED [AND not_matched_insert_condition] THEN
      INSERT`` (``not_matched_insert=True``) — source-only rows insert;
      the source must carry every target column. Condition over
      ``s.<col>``.
    * ``WHEN NOT MATCHED BY SOURCE [AND ..._condition] THEN DELETE``
      (``not_matched_by_source_delete=True``) — target-only rows are
      vectored out (the sync/mirror pattern). Condition over PLAIN
      target column names (no source side exists for these rows).
    * ``WHEN NOT MATCHED BY SOURCE [AND ..._condition] THEN UPDATE SET
      not_matched_by_source_update`` — remaining target-only rows are
      vectored out and re-appended with the SET expressions applied
      (the staleness-flag pattern: mark rows the feed stopped
      mentioning). SET values and condition over PLAIN target column
      names; the DELETE clause wins on rows satisfying both.

    All four clause outputs land in ONE version doc via
    :func:`manifest_evict_admit` (vector + staged batch), so a reader
    sees the pre- or post-merge table, never a torn one; untouched
    files stay byte-identical and cost is one positioning scan + writes
    proportional to the AFFECTED rows — the 100 TB MERGE shape. SQL-
    standard NULL semantics: a condition evaluating NULL does not fire
    its clause. Rows already dead under a live deletion vector never
    resurrect. Like Delta, a merge REFUSES (ValueError, no commit) when
    more than one source row tries to modify the same target row — a
    nondeterministic merge is a bug, not a tie to break. The caller
    must not let a rewrite run between scan and commit (the
    evict-admit coordinate contract). ``read_change_feed`` replays the
    merge as delete(pre-image) rows plus insert(post-image/new) rows.

    ``with_schema_evolution=True`` (Delta's ``withSchemaEvolution()``
    analog, scoped to the INSERT clause — the CDC-feed-grew-columns
    case): source columns ABSENT from the target schema no longer
    refuse; they widen the target additively in the SAME atomic commit
    (nullable, older files read them as NULL — the
    ``manifest_append(allow_additive=True)`` grain, with the identical
    physical-name collision guard). Inserted rows carry their source
    values; rows re-appended by the UPDATE clause carry NULL for the
    new columns (``matched_update`` SET expressions still address
    pre-evolution target columns only). ``read_change_feed`` replays
    across the widen: pre-image deletes surface the old columns as
    NULL, inserts carry the new values.

    Returns ``(version, n_updated, n_deleted, n_inserted)``; no commit
    (head returned) when no clause fires."""
    on_cols = [on] if isinstance(on, str) else list(on)

    def _cond(c):
        return F.expr(c) if isinstance(c, str) else c

    if with_schema_evolution and not not_matched_insert:
        raise ValueError(
            "with_schema_evolution requires not_matched_insert=True —"
            " only the INSERT clause introduces new columns"
        )
    snap = _snapshot(path)
    head, schema = snap.version, snap.schema
    if schema is None and snap.files:
        raise ValueError(f"no schema recorded at {path}")
    if not snap.files:
        # empty target: only the NOT MATCHED insert clause can fire
        if not not_matched_insert:
            return head, 0, 0, 0
        ins = source.alias("s")
        if not_matched_insert_condition is not None:
            c = not_matched_insert_condition
            ins = ins.where(
                F.coalesce(F.expr(c) if isinstance(c, str) else c,
                           F.lit(False))
            )
        if schema is not None:
            # same projection discipline as the non-empty path: insert
            # exactly the table columns, refuse a source missing any —
            # helper columns (the CDC shape) must neither crash the
            # schema check nor leak into the table
            missing = [c for c in schema.names if c not in source.columns]
            if missing:
                raise ValueError(
                    "not_matched_insert requires the source to carry"
                    f" every target column; missing {missing}"
                )
            keep = list(schema.names)
            if with_schema_evolution:
                keep += [c for c in source.columns if c not in keep]
            ins = ins.select(*[F.col(c) for c in keep])
        version, _e, n_ins = _evict_admit(
            spark, snap, hits=None, df=ins,
            dv_target_files=dv_target_files, extra=extra,
            allow_additive=with_schema_evolution,
        )
        return version, 0, 0, n_ins if version != head else 0
    live = snap.scan(spark, keep_pos=True)
    data_cols = [
        c for c in live.columns if c not in ("__dv_file", "__dv_pos")
    ]
    # evolution columns: source-only columns that will widen the target
    # (insert their source values; updated rows re-append NULL). The
    # physical-name collision guard runs in manifest_evict_admit.
    evo_cols = (
        [
            (f.name, f.dataType)
            for f in source.schema.fields
            if f.name not in data_cols
        ]
        if with_schema_evolution
        else []
    )
    for label, upd in (
        ("matched_update", matched_update),
        ("not_matched_by_source_update", not_matched_by_source_update),
    ):
        if upd is not None:
            unknown = [c for c in upd if c not in data_cols]
            if unknown:
                raise ValueError(
                    f"{label} assigns unknown columns {unknown}"
                )
    t = live.alias("t")
    s = source.alias("s")
    key = None
    for k in on_cols:
        eq = F.col(f"t.{k}") == F.col(f"s.{k}")
        key = eq if key is None else (key & eq)
    matched = t.join(s, key, "inner").persist()
    persisted = [matched]
    try:
        hit_parts: list[DataFrame] = []
        updated = None
        if matched_delete_condition is not None:
            dc = F.coalesce(_cond(matched_delete_condition), F.lit(False))
            mdel = matched.where(dc)
            hit_parts.append(
                mdel.select(
                    "t.__dv_file", "t.__dv_pos",
                    F.lit(0).cast("long").alias("__u"),
                )
            )
        else:
            dc = F.lit(False)
            mdel = None
        if matched_update is not None:
            uc = (
                F.coalesce(_cond(matched_update_condition), F.lit(False))
                if matched_update_condition is not None
                else F.lit(True)
            )
            mupd = matched.where(uc & ~dc)
            hit_parts.append(
                mupd.select(
                    "t.__dv_file", "t.__dv_pos",
                    F.lit(1).cast("long").alias("__u"),
                )
            )
            updated = mupd.select(
                *[
                    _cond(matched_update[c]).alias(c)
                    if c in matched_update
                    else F.col(f"t.{c}").alias(c)
                    for c in data_cols
                ],
                *[
                    F.lit(None).cast(dt).alias(c) for c, dt in evo_cols
                ],
            )
        inserts = None
        if not_matched_insert:
            missing = [c for c in data_cols if c not in source.columns]
            if missing:
                raise ValueError(
                    "not_matched_insert requires the source to carry"
                    f" every target column; missing {missing}"
                )
            src_only = s.join(
                live.select(*on_cols).distinct(), on_cols, "left_anti"
            )
            if not_matched_insert_condition is not None:
                src_only = src_only.where(
                    F.coalesce(
                        _cond(not_matched_insert_condition), F.lit(False)
                    )
                )
            inserts = src_only.select(
                *[F.col(c) for c in data_cols],
                *[F.col(c) for c, _dt in evo_cols],
            )
        nbs_updated = None
        if not_matched_by_source_delete or (
            not_matched_by_source_update is not None
        ):
            # multi-consumed like `matched` (delete hits, update hits,
            # the admits staging and its count): persist so the
            # live-scan + anti-join runs once, not up to four times
            tgt_only = live.join(
                source.select(*on_cols).distinct(), on_cols, "left_anti"
            ).persist()
            persisted.append(tgt_only)
            # DELETE wins on rows satisfying both clauses — the same
            # precedence the matched side pins (CDC tombstone pattern)
            if not_matched_by_source_delete:
                ndc = (
                    F.coalesce(
                        _cond(not_matched_by_source_delete_condition),
                        F.lit(False),
                    )
                    if not_matched_by_source_delete_condition is not None
                    else F.lit(True)
                )
            else:
                ndc = F.lit(False)
            if not_matched_by_source_delete:
                hit_parts.append(
                    tgt_only.where(ndc).select(
                        "__dv_file", "__dv_pos",
                        F.lit(0).cast("long").alias("__u"),
                    )
                )
            if not_matched_by_source_update is not None:
                nuc = (
                    F.coalesce(
                        _cond(not_matched_by_source_update_condition),
                        F.lit(False),
                    )
                    if not_matched_by_source_update_condition is not None
                    else F.lit(True)
                )
                nbsu = tgt_only.where(nuc & ~ndc)
                hit_parts.append(
                    nbsu.select(
                        "__dv_file", "__dv_pos",
                        F.lit(1).cast("long").alias("__u"),
                    )
                )
                nbs_updated = nbsu.select(
                    *[
                        _cond(not_matched_by_source_update[c]).alias(c)
                        if c in not_matched_by_source_update
                        else F.col(c)
                        for c in data_cols
                    ],
                    *[
                        F.lit(None).cast(dt).alias(c)
                        for c, dt in evo_cols
                    ],
                )
        hits = None
        guard_check = None
        guard_out: dict = {}
        if hit_parts:
            aff = hit_parts[0]
            for p in hit_parts[1:]:
                aff = aff.union(p)

            # ONE pre-commit pass computes BOTH driver numbers (r14 —
            # this was two jobs: a multi-match count, then an updated
            # count): per-coordinate multiplicity for Delta's
            # multi-match refusal, and the update-row total as the sum
            # of the per-part __u flags (update-clause parts carry 1,
            # delete-clause parts 0 — identical to counting the mupd
            # and nbsu frames separately, duplicates included, which a
            # positive dups check refuses anyway). r15: the pass rides
            # manifest_evict_admit's pre_commit hook, running
            # CONCURRENTLY with the staging writes — it reads only the
            # persisted matched/tgt_only frames, and a refusal still
            # aborts the commit with the staged dirs deleted, so the
            # observable semantics (no commit, same exception) are
            # unchanged.
            def guard_check() -> None:
                guard = (
                    aff.groupBy("__dv_file", "__dv_pos")
                    .agg(
                        F.count(F.lit(1)).alias("__n"),
                        F.sum("__u").alias("__uu"),
                    )
                    .agg(
                        F.sum((F.col("__n") > 1).cast("long")).alias("dups"),
                        F.sum("__uu").alias("upd"),
                    )
                    .collect()[0]
                )
                if guard["dups"]:
                    raise ValueError(
                        f"MERGE INTO refused: {guard['dups']} target"
                        " row(s) are modified by more than one source"
                        " row — dedupe the source on the merge key first"
                    )
                guard_out["upd"] = int(guard["upd"] or 0)

            hits = aff.select(
                F.col("__dv_file"), F.col("__dv_pos")
            ).distinct()
        admits = None
        for part in (updated, nbs_updated, inserts):
            if part is None:
                continue
            admits = part if admits is None else admits.unionByName(part)
        # NB (r14): no explicit pre-write repartition/rebalance — the
        # admit frames end in AQE-coalescible shuffles, so the staged
        # batch is already advisory-sized (measured: 1-2 files per
        # commit at bench scale; a REBALANCE hint added an exchange for
        # zero file-count change)
        version, n_evicted, n_admitted = _evict_admit(
            spark,
            snap,
            hits=hits,
            df=admits,
            dv_target_files=dv_target_files,
            extra=extra,
            allow_additive=bool(evo_cols),
            pre_commit=guard_check,
        )
        n_updated = guard_out.get("upd", 0)
        return (
            version,
            n_updated if version != head else 0,
            (n_evicted - n_updated) if version != head else 0,
            (n_admitted - n_updated) if version != head else 0,
        )
    finally:
        for df_ in persisted:
            df_.unpersist()


def manifest_update_where(
    spark: SparkSession,
    path: str,
    condition,
    set_exprs: dict,
    *,
    dv_target_files: int = 1,
    extra: dict | None = None,
) -> tuple[int, int]:
    """ATOMIC ``UPDATE ... SET ... WHERE``, merge-on-read: ONE scan
    positions the matched rows, which are vectored out and re-appended
    with ``set_exprs`` applied ({column: Column expression}, evaluated
    against the pre-update row) — both halves in one commit via
    :func:`manifest_evict_admit`, so a reader sees the pre- or
    post-update table, never a torn one. Untouched files stay
    byte-identical; cost = one scan + a vector and a data write each
    proportional to the MATCHED rows, the Delta UPDATE grain at 100 TB.

    Rows whose predicate evaluates NULL are kept unchanged, rows
    already removed by a live deletion vector are not resurrected, and
    ``set_exprs`` may only assign EXISTING columns (schema is checked
    by the append half). ``read_change_feed`` replays an update as the
    natural delete(pre-image) + insert(post-image) pair.

    Returns (new_version, n_rows_updated); no commit if nothing
    matched."""
    snap = _snapshot(path)
    head = snap.version
    if not snap.files:
        return head, 0
    if snap.schema is not None:
        unknown = [c for c in set_exprs if c not in set(snap.schema.names)]
        if unknown:
            raise ValueError(f"set_exprs assigns unknown columns {unknown}")
    matched = snap.scan(spark, keep_pos=True).where(F.coalesce(condition, F.lit(False))).persist()
    try:
        data_cols = [
            c for c in matched.columns if c not in ("__dv_file", "__dv_pos")
        ]
        updated = matched.select(
            *[
                set_exprs[c].alias(c) if c in set_exprs else F.col(c)
                for c in data_cols
            ]
        )
        version, n_evicted, n_admitted = _evict_admit(
            spark,
            snap,
            hits=matched.select("__dv_file", "__dv_pos"),
            df=updated,
            dv_target_files=dv_target_files,
            extra=extra,
        )
        if version != head and n_evicted != n_admitted:
            raise AssertionError(
                f"update tore: {n_evicted} evicted != {n_admitted} admitted"
            )
        return version, n_admitted
    finally:
        matched.unpersist()


#: widening transitions the parquet readers resolve natively (Spark 4
#: type promotion: an int32 file reads under a bigint/double schema with
#: no rewrite). Keys/values are DataType.typeName() strings. long→double
#: is deliberately ABSENT — it loses precision above 2^53, so it is a
#: cast the user must spell out in data, not a metadata-only alter.
_WIDENINGS = {
    "byte": {"short", "integer", "long", "double"},
    "short": {"integer", "long", "double"},
    "integer": {"long", "double"},
    "float": {"double"},
}


def _parse_field(spec) -> T.StructField:
    if isinstance(spec, T.StructField):
        return spec
    name, ddl = spec
    return T.StructType.fromDDL(f"`{name}` {ddl}").fields[0]


def manifest_alter_schema(
    path: str,
    *,
    add: list | None = None,
    rename: dict | None = None,
    widen: dict | None = None,
    drop: list | None = None,
) -> int:
    """METADATA-ONLY schema evolution — no data file is read, touched,
    or rewritten, at any table size (the Delta/Iceberg ALTER TABLE
    grain; reference parity target is the schema-migration step users
    otherwise script by full rewrite):

    * ``add``: new nullable columns (``StructField`` or ``(name, ddl)``
      pairs). Existing files read them as NULL.
    * ``rename``: ``{old: new}``. Files keep their PHYSICAL column name
      forever; the commit's column mapping re-labels it at read time
      (``_Snapshot.scan``) and back at write time
      (``_stage_batch``) — Delta column-mapping semantics, so a rename
      is O(1) regardless of table size.
    * ``widen``: ``{col: ddl}`` along :data:`_WIDENINGS` (int→long,
      float→double, …). Old files read through Spark's parquet type
      promotion; new appends must arrive already-widened
      (``_check_schema`` compares against the widened schema).
    * ``drop``: metadata-only removal. The physical name is RETIRED —
      a later ``add`` of the same name gets a fresh physical name, so
      the old files' bytes can never resurrect under the new column.

    Order of application: drop → rename → widen → add (one commit).
    Time travel surfaces each version's own schema AND column names:
    a snapshot at a pre-rename version reads the old names, because
    both the schema and the mapping are resolved at that version.

    Returns the new version. Raises ``ValueError`` on unknown columns,
    duplicate result names, or non-widening type changes, and
    ``ConcurrentCommitError`` when racing another writer (retry on the
    new head — the alter is cheap to recompute)."""
    snap = _snapshot(path)
    schema = snap.schema
    if schema is None:
        raise ValueError(
            f"table at {path} has no schema yet; append data first"
        )
    mapping = dict(snap.mapping)
    retired = list(snap.retired)
    fields = list(schema.fields)
    version = snap.version + 1

    # CHECK constraints reference LOGICAL names as SQL text: renaming or
    # dropping a referenced column would silently break or orphan the
    # expression — refuse (the Delta rule), drop the constraint first.
    # Conservative word-boundary match: a false positive merely asks the
    # user to drop/re-add, a false negative would corrupt enforcement.
    cons = snap.constraints
    if cons:
        import re as _re

        touched = set(drop or []) | set((rename or {}).keys())
        for c in touched:
            hit = [
                n
                for n, e in cons.items()
                if _re.search(rf"\b{_re.escape(c)}\b", e)
            ]
            if hit:
                raise ValueError(
                    f"column {c!r} is referenced by CHECK constraint(s)"
                    f" {sorted(hit)}; drop them before renaming/dropping"
                )

    for c in drop or []:
        if c not in {f.name for f in fields}:
            raise ValueError(f"drop: unknown column {c!r}")
        phys = mapping.pop(c, c)
        if phys not in retired:
            retired.append(phys)
        fields = [f for f in fields if f.name != c]
    if not fields:
        raise ValueError("cannot drop every column")

    for old, new in (rename or {}).items():
        cur = {f.name for f in fields}
        if old not in cur:
            raise ValueError(f"rename: unknown column {old!r}")
        mapping[new] = mapping.pop(old, old)
        fields = [
            T.StructField(new, f.dataType, f.nullable)
            if f.name == old
            else f
            for f in fields
        ]
    names = [f.name for f in fields]
    if len(set(names)) != len(names):
        raise ValueError(f"alter would duplicate column names: {names}")

    for c, ddl in (widen or {}).items():
        if c not in names:
            raise ValueError(f"widen: unknown column {c!r}")
        new_dt = _parse_field((c, ddl)).dataType
        for i, f in enumerate(fields):
            if f.name != c:
                continue
            old_t, new_t = f.dataType.typeName(), new_dt.typeName()
            if old_t == new_t:
                break
            if new_t not in _WIDENINGS.get(old_t, ()):
                raise ValueError(
                    f"widen: {c!r} {old_t}→{new_t} is not a lossless"
                    f" parquet-promotable widening ({_WIDENINGS})"
                )
            fields[i] = T.StructField(c, new_dt, f.nullable)
            break

    used_phys = {mapping.get(f.name, f.name) for f in fields} | set(retired)
    for spec in add or []:
        fld = _parse_field(spec)
        if fld.name in {f.name for f in fields}:
            raise ValueError(f"add: column {fld.name!r} already exists")
        phys = fld.name
        if phys in used_phys:
            phys = f"{fld.name}_p{version}"
            while phys in used_phys:
                phys += "x"
            mapping[fld.name] = phys
        used_phys.add(phys)
        # nullable regardless of the spec: old files have no values
        fields.append(T.StructField(fld.name, fld.dataType, True))

    return _Txn(snap).commit(
        "alter_schema",
        schema=T.StructType(fields),
        mapping={l: p for l, p in mapping.items() if l != p},
        retired_physical=sorted(retired),
    )["version"]


def manifest_evict_admit(
    spark: SparkSession,
    path: str,
    *,
    hits: DataFrame | None,
    df: DataFrame | None,
    dv_target_files: int = 1,
    bloom_columns: tuple[str, ...] | list[str] = (),
    bloom_bits: int = 1 << 17,
    bloom_hashes: int = 7,
    extra: dict | None = None,
    allow_additive: bool = False,
    cluster_by: str | None = None,
    cluster_tasks: int = 1,
    pre_commit=None,
) -> tuple[int, int, int]:
    """ATOMIC evict + admit in ONE commit: ``hits`` — rows to retire,
    PRE-POSITIONED as ``__dv_file``/``__dv_pos`` coordinate pairs from a
    ``read_snapshot(..., with_pos=True)`` scan — land as a deletion
    vector, and ``df`` appends, both in the same version doc (the
    ``merge`` commit shape, like :func:`manifest_merge_upsert` but with
    independent evict/admit sets, which an upsert cannot express).

    This is the maintenance-loop grain for a streaming state table
    (the domain-quota stream): per micro-batch it saves (a) the second
    positioning scan a key-based ``manifest_delete_rows`` pays — the
    caller already scanned the state to DECIDE the evictions, so the
    coordinates ride along — (b) one commit + bloom/stats pass, and
    (c) the driver-side ``isEmpty`` pre-checks: empty halves are
    detected from the staged files' footer metadata and dropped, so
    callers never spend a job asking first.

    Exactly-once replay is simpler than the two-commit convention this
    replaces (eviction commit without a batch id + trailing id-carrying
    append): a batch id in ``extra`` now covers BOTH halves, so a crash
    leaves either the whole batch committed or none of it.

    The caller must not let a rewrite (compact/materialize) run between
    the positioning scan and this commit — coordinates address immutable
    files, and a rewrite retires them. ``allow_additive`` permits NEW
    columns in ``df`` (the MERGE schema-evolution path): the commit
    records the widened schema, older files read the new columns as
    NULL, with the same physical-name collision guard as
    ``manifest_append``. Returns
    (version, n_evicted, n_admitted); no commit (head returned) if both
    halves are empty.

    ``pre_commit`` (r15): an optional zero-arg callable that must
    SUCCEED before the commit lands — MERGE's multi-match refusal
    aggregation rides here. It only needs to finish before the COMMIT,
    not before staging, so it runs concurrently with the staging jobs
    (guide §2.6); if it raises, every staged dir is deleted and its
    error wins over any staging error — the observable outcome (no
    commit, table unchanged, the refusal's exception) is identical to
    running it first."""
    return _evict_admit(
        spark, _snapshot(path), hits=hits, df=df,
        dv_target_files=dv_target_files, bloom_columns=bloom_columns,
        bloom_bits=bloom_bits, bloom_hashes=bloom_hashes, extra=extra,
        allow_additive=allow_additive, cluster_by=cluster_by,
        cluster_tasks=cluster_tasks, pre_commit=pre_commit,
    )


def _evict_admit(
    spark: SparkSession,
    snap: _Snapshot,
    *,
    hits: DataFrame | None,
    df: DataFrame | None,
    dv_target_files: int = 1,
    bloom_columns: tuple[str, ...] | list[str] = (),
    bloom_bits: int = 1 << 17,
    bloom_hashes: int = 7,
    extra: dict | None = None,
    allow_additive: bool = False,
    cluster_by: str | None = None,
    cluster_tasks: int = 1,
    pre_commit=None,
) -> tuple[int, int, int]:
    """:func:`manifest_evict_admit` on top of ``snap`` — the snapshot
    the caller positioned ``hits`` against (MERGE, UPDATE), so the
    commit lands on exactly that head or loses the race."""
    path = snap.path
    if df is not None:
        _check_schema(df, snap, allow_additive=allow_additive)
    with _Txn(snap, spark) as txn:
        work = {}
        if pre_commit is not None:
            work["pre"] = pre_commit
        if df is not None:
            # cluster_by routes the admit half through the clustered
            # one-task-many-files writer (per-key file granularity at
            # cluster_tasks writer tasks — the streaming state-table
            # grain); None keeps the plain parallel parquet write
            work["data"] = lambda: txn.stage(
                df, verify=True,
                cluster_by=cluster_by, cluster_tasks=cluster_tasks,
            )
        if hits is not None:
            work["dv"] = lambda: txn.stage(
                hits.select(
                    F.col("__dv_file").alias("file"),
                    F.col("__dv_pos").alias("pos"),
                ).coalesce(max(1, dv_target_files)),
                prefix="dv",
            )
        staged = _stage_overlapped(spark, work)
        data_dir, added = staged.get("data", (None, []))
        dv_dir, added_dv = staged.get("dv", (None, []))
        per_file = _dv_file_counts(path, added_dv)
        if not per_file and dv_dir is not None:
            txn.drop(dv_dir)
            added_dv = []
        stats, row_counts = _stage_stats(path, added)
        if not sum(row_counts.values()) and data_dir is not None:
            txn.drop(data_dir)
            added, stats, row_counts = [], {}, {}
        if not added and not per_file:
            return snap.version, 0, 0
        txn.commit(
            "merge",
            added=added,
            schema=snap.schema if df is None else df.schema,
            stats=stats,
            row_counts=row_counts,
            blooms=txn.blooms(added, bloom_columns, bloom_bits, bloom_hashes),
            dv_added=added_dv,
            dv_removed=[],
            dv_targets=per_file,
            **(extra or {}),
        )
    return txn.version, sum(per_file.values()), sum(row_counts.values())


def manifest_materialize_deletes(
    spark: SparkSession, path: str, *, target_file_bytes: int = 128 << 20
) -> tuple[int, int]:
    """Fold the live deletion vectors into the data: rewrite ONLY the
    files that have deleted rows (survivors re-staged, stats refreshed)
    and retire every live vector in one commit — untouched files stay
    byte-identical, and the all-or-nothing retirement keeps the replay
    invariant that ``live_dv_state`` leans on. Old versions still
    time-travel to the vectored layout until vacuumed.

    When footer row counts cover the affected files (every commit this
    engine writes records them), the rewrite is ORDER-PINNED per bin of
    whole files — like ``manifest_compact_small`` — and the commit doc
    records ``segments`` with the whole-file-survivors sentinel
    (``[source, -1, n_survivors]``): exact row counts from metadata,
    source order preserved, so ``read_changes`` can follow even a MIXED
    materialize at row grain when each source's range rows are whole
    (the common streaming-maintenance shape). Legacy tables without row
    counts fall back to the single-stage rewrite with no segments.

    Returns (new_version, n_files_rewritten)."""
    snap = _snapshot(path)
    head, dv_files, dv_targets = snap.version, snap.dv_files, snap.dv_targets
    if not dv_files or not dv_targets:
        return head, 0
    affected = sorted(dv_targets)
    rc = snap.row_counts
    with _Txn(snap, spark) as txn:
        added: list[str] = []
        segments: dict[str, list] = {}
        if all(f in rc for f in affected):
            # metadata-exact survivor counts per file; skip files with none
            added, segments = _rewrite_survivors(
                txn,
                {f: rc[f] - dv_targets.get(f, 0) for f in affected},
                target_file_bytes,
            )
        else:
            survivors = snap.scan(spark, affected)
            if survivors.limit(1).count():
                _, added = txn.stage(survivors)
        txn.commit(
            "materialize",
            added=added,
            removed=affected,
            dv_added=[],
            dv_removed=dv_files,
            dv_targets={},
            segments=segments or None,
        )
    return txn.version, len(affected)


def metadata_only_stats(
    path: str,
    version: int | None = None,
    columns: tuple[str, ...] | list[str] = (),
) -> dict:
    """Answer ``count(*)`` (and numeric per-column min/max) from the
    MANIFEST ALONE — no data file is opened, no Spark job runs. At
    100 TB this is the difference between a millisecond driver read and
    a full-table scan for the queries a catalog asks constantly
    (row counts, column ranges for planning).

    Exactness contract, enforced loudly rather than silently degraded:

    * the count is exact: footer row counts per live file minus live
      deletion-vector rows (vector positions are distinct per file by
      construction);
    * min/max are only served when NO deletion vectors are live (a
      vector may have deleted the extreme row) and the column has
      recorded stats on EVERY live file;
    * string stats are refused — parquet writers may truncate string
      min/max in the footer, so only numerically-typed stats are exact.
    """
    snap = _snapshot(path, version)
    files, rc, dv_targets = snap.files, snap.row_counts, snap.dv_targets
    missing = [f for f in files if f not in rc]
    if missing:
        raise ValueError(
            f"{len(missing)} live file(s) predate recorded row counts"
            f" (e.g. {missing[0]}); compact or re-append to record them"
        )
    n = sum(rc[f] for f in files) - sum(
        dv_targets.get(f, 0) for f in files
    )
    out: dict = {"n_rows": n, "min": {}, "max": {}}
    if not columns:
        return out
    if dv_targets:
        raise ValueError(
            "metadata min/max is not exact while deletion vectors are"
            " live (a vector may delete the extreme row);"
            " materialize_deletes first"
        )
    stats, mapping = snap.stats, snap.mapping
    # a 0-row file has no footer column stats and cannot hold the
    # extreme row — exactness only needs stats on files WITH rows
    occupied = [f for f in files if rc[f] > 0]
    if not occupied:
        raise ValueError("table has no rows; min/max undefined")
    for col in columns:
        pc = mapping.get(col, col)  # stats are keyed by PHYSICAL name
        per = [stats[f][pc] for f in occupied if pc in stats.get(f, {})]
        if len(per) != len(occupied):
            raise ValueError(
                f"column {col!r} lacks footer stats on some live files;"
                " scan instead"
            )
        if any(isinstance(v, str) for p in per for v in p):
            raise ValueError(
                f"column {col!r} has string footer stats, which parquet"
                " writers may truncate; scan instead"
            )
        out["min"][col] = min(p[0] for p in per)
        out["max"][col] = max(p[1] for p in per)
    return out


def manifest_compact(
    spark: SparkSession,
    path: str,
    *,
    target_files: int = 1,
    cluster_by: list[str] | None = None,
    zorder_bits: int = 10,
) -> int:
    """Rewrite the live file set into ``target_files`` files — data
    identical (snapshot reads hash the same before and after,
    oracle-pinned), file count bounded. Old versions still time-travel
    to the pre-compaction layout until vacuumed.

    ``cluster_by`` additionally CLUSTERS the rewrite so the manifest's
    footer min/max stats get tight per-file ranges (file skipping bites
    after compaction, not just on range-partitioned appends): one column
    → range-partition + sort; two columns → Morton/z-order interleave
    (``sources.layout.zvalue`` — bounded rectangles in both dims), the
    classic layout for two-column prune workloads. Still a data no-op.
    """
    snap = _snapshot(path)
    head, files, dv_files = snap.version, snap.files, snap.dv_files
    if len(files) <= target_files and not cluster_by and not dv_files:
        return head
    # the scan applies any live deletion vectors, so compaction doubles
    # as materialization — every vector is retired below
    rows = snap.scan(spark)
    if cluster_by:
        if len(cluster_by) == 1:
            clustered = rows.repartitionByRange(
                target_files, cluster_by[0]
            ).sortWithinPartitions(cluster_by[0])
        elif len(cluster_by) == 2:
            from .layout import zvalue

            # zvalue interleaves the LOW ``zorder_bits`` bits, so raw
            # values beyond 2^bits would cluster on low bits only
            # (x and x + 2^bits collide — no rectangle bound in raw
            # value space). Normalize each dim to the bits-wide grid
            # by its LIVE global min/max first — read from footer
            # stats (metadata-only) with a one-row agg fallback.
            stats, cmap = snap.stats, snap.mapping
            grid = (1 << zorder_bits) - 1
            dims = []
            for c in cluster_by:
                pc = cmap.get(c, c)
                mins = [
                    s[pc][0]
                    for s in stats.values()
                    if pc in s and s[pc][0] is not None
                ]
                maxs = [
                    s[pc][1]
                    for s in stats.values()
                    if pc in s and s[pc][1] is not None
                ]
                numeric = all(
                    isinstance(v, (int, float))
                    and not isinstance(v, bool)
                    for v in mins + maxs
                )
                if mins and maxs and numeric:
                    lo, hi = min(mins), max(maxs)
                else:
                    r = rows.agg(F.min(c), F.max(c)).collect()[0]
                    lo, hi = r[0], r[1]
                if lo is None or hi is None:
                    raise ValueError(
                        f"cluster_by column {c!r} has no numeric"
                        " min/max to normalize the z-order grid"
                    )
                span = max(hi - lo, 1)
                dims.append(
                    (
                        (F.col(c) - F.lit(lo))
                        * F.lit(grid)
                        / F.lit(span)
                    ).cast("long")
                )
            z = zvalue(dims[0], dims[1], zorder_bits)
            clustered = (
                rows.withColumn("__z", z)
                .repartitionByRange(target_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            raise ValueError("cluster_by supports 1 or 2 columns")
    else:
        clustered = rows.coalesce(target_files)
    with _Txn(snap, spark) as txn:
        _, added = txn.stage(clustered)
        txn.commit(
            "compact",
            added=added,
            removed=files,
            schema=rows.schema,
            dv_added=[],
            dv_removed=dv_files,
            dv_targets={},
        )
    return txn.version


def manifest_compact_small(
    spark: SparkSession,
    path: str,
    *,
    max_file_bytes: int = 32 << 20,
    target_file_bytes: int = 128 << 20,
    cluster_stat: str | None = None,
    cluster_stat_pair: tuple[str, str] | None = None,
) -> tuple[int, int]:
    """PARTIAL compaction — bin-pack only the live files smaller than
    ``max_file_bytes`` into ~``target_file_bytes`` outputs and leave
    every other file byte-identical. This is the maintenance grain a
    STREAMING sink needs: each micro-batch appends small files, and
    rewriting the whole table per maintenance tick (``manifest_compact``)
    is corpus-proportional work, while this call is proportional to the
    small-file backlog only — the Delta ``OPTIMIZE`` bin-packing shape.

    Files targeted by LIVE deletion vectors are deliberately left
    alone: retiring a vector here would break ``live_dv_state``'s
    all-or-nothing retirement invariant, so vectored files are
    ``manifest_materialize_deletes``' job (run it first — its rewrites
    typically fall under ``max_file_bytes`` and pack on the next tick).
    Data-visible content is a no-op (same snapshot before and after);
    the commit is a ``compact`` rewrite, so incremental readers treat
    it exactly like full compaction (followed when its inputs are all
    range-new, originals kept otherwise).

    Each bin is written as an ORDER-PINNED concatenation of whole source
    files (sorted by name, then source position), and the commit doc
    records the layout as ``segments`` ({output: [[source, source_lo,
    n_rows], ...]} in position order). Segments are what lets
    ``read_changes`` stay row-exact across this rewrite even when it
    mixes pre-range files in: the feed scans the output restricted to
    its range-new position ranges instead of evicting at file grain,
    and later deletion vectors — addressed against the output — apply
    directly. One write job per bin, no shuffle, no sampling pass; a
    maintenance tick packs 1-2 bins.

    ``cluster_stat`` names a column whose recorded footer min orders the
    pack candidates (files without the stat sort last, by name): each
    bin then covers a CONTIGUOUS range of that column, so per-file
    blooms/min-max stay narrow after maintenance instead of every packed
    file spanning the whole key space — the property that keeps an
    incremental consumer's state reads batch-proportional (the quota
    stream passes its domain key here). Default (None) orders by name.

    ``cluster_stat_pair`` is the two-dimensional form (Delta OPTIMIZE
    ZORDER at the maintenance grain, composed with
    ``sources.layout``'s Morton interleave): candidates order by the
    z-value of their quantized footer ``(min_a, min_b)``, so each bin
    covers a bounded RECTANGLE in both dims — and because the
    clustering acts at FILE grain (pack order only, rows untouched),
    the order-pinned segments contract below is preserved exactly,
    which a row-grain z-order rewrite could not do. Row-grain
    re-clustering is ``manifest_compact(cluster_by=[a, b])``'s job.

    Returns (head_after, n_files_packed); no commit when fewer than two
    pack candidates exist or packing would not reduce the file count.
    """
    snap = _snapshot(path)
    head, files, stats = snap.version, snap.files, snap.stats
    vectored = set(snap.dv_targets) if snap.dv_files else set()
    sizes = {f: os.path.getsize(os.path.join(path, f)) for f in files}
    small = sorted(
        f
        for f in files
        if sizes[f] < max_file_bytes and f not in vectored
    )
    if len(small) < 2:
        return head, 0
    if cluster_stat and cluster_stat_pair:
        raise ValueError(
            "cluster_stat and cluster_stat_pair are mutually exclusive"
        )
    if cluster_stat:
        # footer stats are keyed by PHYSICAL name; callers order by logical
        cs = snap.mapping.get(cluster_stat, cluster_stat)
        small.sort(
            key=lambda f: (
                (0, stats[f][cs][0])
                if cs in stats.get(f, {})
                else (1, f)
            )
        )
    elif cluster_stat_pair:
        cmap = snap.mapping
        ca, cb = (
            cmap.get(cluster_stat_pair[0], cluster_stat_pair[0]),
            cmap.get(cluster_stat_pair[1], cluster_stat_pair[1]),
        )
        def _num(v) -> bool:
            return isinstance(v, (int, float)) and not isinstance(v, bool)

        withstats = [
            f
            for f in small
            if ca in stats.get(f, {})
            and cb in stats.get(f, {})
            and _num(stats[f][ca][0])
            and _num(stats[f][cb][0])
        ]
        # quantize each dim's footer MIN over the candidates to a
        # 10-bit grid, then order by the Morton interleave — driver
        # work is O(candidate files), never row-sized
        def _grid(vals: list) -> dict:
            lo, hi = min(vals), max(vals)
            span = (hi - lo) or 1
            return {v: int((v - lo) * 1023 / span) for v in set(vals)}

        if withstats:
            ga = _grid([stats[f][ca][0] for f in withstats])
            gb = _grid([stats[f][cb][0] for f in withstats])

            def _z(f: str) -> int:
                x = ga[stats[f][ca][0]]
                y = gb[stats[f][cb][0]]
                z = 0
                for i in range(10):
                    z |= ((x >> i) & 1) << (2 * i)
                    z |= ((y >> i) & 1) << (2 * i + 1)
                return z

            small.sort(
                key=lambda f: (0, _z(f), f) if f in set(withstats) else (1, 0, f)
            )
    # first-fit bins over the ordered candidates — whole files only,
    # so every output's row provenance is exact metadata
    bins = _pack_bins(small, sizes, target_file_bytes)
    if len(bins) >= len(small):
        return head, 0
    rc = snap.row_counts
    with _Txn(snap, spark) as txn:
        added: list[str] = []
        segments: dict[str, list] = {}
        for bin_files in bins:
            packed = (
                snap.scan(spark, bin_files, keep_pos=True, dvs=[])
                .coalesce(1)
                .sortWithinPartitions("__dv_file", "__dv_pos")
                .drop("__dv_file", "__dv_pos")
            )
            _, a = txn.stage(packed)
            added += a
            if a:
                segs = []
                # rows in the output sort by (source name, position),
                # which may differ from the bin's cluster_stat pack order
                for f in sorted(bin_files):
                    n = rc.get(f)
                    if n is None:
                        n = _file_row_count(os.path.join(path, f))
                    if n > 0:
                        segs.append([f, 0, n])
                segments[a[0]] = segs
        txn.commit(
            "compact",
            added=added,
            removed=small,
            dv_added=[],
            dv_removed=[],
            dv_targets={},
            segments=segments,
        )
    return txn.version, len(small)


def manifest_auto_optimize(
    spark: SparkSession,
    path: str,
    *,
    max_files: int = 64,
    max_deleted_fraction: float = 0.2,
    target_files: int = 8,
    cluster_by: list[str] | None = None,
) -> dict:
    """The maintenance policy a 100 TB table needs on a schedule, as one
    idempotent call: MATERIALIZE deletion vectors when the deleted-row
    fraction of the affected files crosses ``max_deleted_fraction``
    (vectored reads pay an anti-join per scan — a bounded read tax worth
    paying only while deletes are a sliver), then COMPACT to
    ``target_files`` when the live file count exceeds ``max_files``
    (small-file pressure is the other read tax; compaction also retires
    any remaining vectors and re-tightens footer stats / blooms via
    ``cluster_by``). Data-visible content is a no-op throughout — the
    same snapshot-hash contract the compaction oracle pins.

    Returns {"materialized": n_files_rewritten, "compacted": bool,
    "version": head_after} — all zeros/False when no threshold trips, in
    which case NO version is committed (idempotent under cron)."""
    snap = _snapshot(path)
    out = {"materialized": 0, "compacted": False, "version": snap.version}
    dv_targets = snap.dv_targets
    if dv_targets:
        rc = snap.row_counts
        affected_rows = sum(
            rc.get(f, 0) for f in dv_targets if f in rc
        )
        deleted = sum(dv_targets.values())
        if affected_rows and deleted / affected_rows > max_deleted_fraction:
            _v, n = manifest_materialize_deletes(spark, path)
            out["materialized"] = n
    if len(live_files(path)) > max_files:
        manifest_compact(
            spark, path, target_files=target_files, cluster_by=cluster_by
        )
        out["compacted"] = True
    out["version"] = latest_version(path)
    return out


def manifest_vacuum(path: str, *, keep_from_version: int) -> int:
    """Physically delete data files referenced ONLY by versions older
    than ``keep_from_version`` (after this, time travel below the
    horizon fails loudly — their version docs are dropped too). The
    oldest retained version doc is rewritten as a CHECKPOINT carrying
    its full live file set, so replay never needs the dropped chain.
    Returns the number of files deleted."""
    versions = list_versions(path)
    keep_versions = [v for v in versions if v >= keep_from_version]
    if not keep_versions:
        raise ValueError(
            f"keep_from_version {keep_from_version} retains no versions"
        )
    base = keep_versions[0]
    # ONE walk of the log: the folded state at each retained version
    # names what must survive, and at the base it becomes the checkpoint
    state = _Snapshot(path)
    retained: set[str] = set()
    ever: set[str] = set()
    # CATALOG-TRANSACTION tags (sources/catalog.py) of the base and its
    # dropped ancestors: roll-forward's idempotency scan must still find
    # them, or a lost marker file would let it RE-APPLY the txn
    dropped_txns: list = []
    for v in versions:
        doc = read_version_doc(path, v)
        state.advance(v, doc)
        ever.update(doc["added"])
        ever.update(doc.get("dv_added", []))
        ever.update(doc.get("dv_matched", []))
        if v <= base:
            for t in [doc.get("catalog_txn")] + doc.get(
                "catalog_txns_applied", []
            ):
                if t is not None and t not in dropped_txns:
                    dropped_txns.append(t)
        if v == base:
            # the base doc becomes self-contained (full live set, no
            # parent), so later docs still apply incrementally on top
            base_doc = state.checkpoint_doc(
                doc, version=base, operation="checkpoint"
            )
        if v < base:
            continue
        retained.update(state.files)
        retained.update(state.dv_files)
        # a retained doc's own dv_added / dv_matched must stay readable
        # even after the vectors are retired from live state —
        # read_changes / read_change_feed over retained ranges scan them
        # directly
        retained.update(doc.get("dv_added", []))
        retained.update(doc.get("dv_matched", []))
        # likewise data files appended by retained data-changing commits:
        # read_changes scans the ORIGINAL files even after an in-range
        # rewrite retired them from the live set. SEGMENTED rewrite
        # outputs are feed-scannable too (read_changes follows mixed
        # rewrites through their recorded provenance), so they survive
        # vacuum the same way
        if doc.get("operation", "append") not in (
            "compact",
            "materialize",
            "checkpoint",
        ) or doc.get("segments"):
            retained.update(doc["added"])
    if dropped_txns:
        base_doc["catalog_txns_applied"] = dropped_txns
    # checkpoint the base BEFORE dropping its ancestors. Maintenance op
    # → os.replace, not the create-if-absent commit path.
    _replace_doc(_version_doc_path(path, base), base_doc)

    doomed = sorted(ever - retained)
    for f in doomed:
        fp = os.path.join(path, f)
        if os.path.exists(fp):
            os.unlink(fp)
    for v in versions:
        if v < keep_from_version:
            os.unlink(_version_doc_path(path, v))
    return len(doomed)


def manifest_clone(
    src: str,
    dst: str,
    *,
    version: int | None = None,
) -> int:
    """SHALLOW CLONE: create an independent table at ``dst`` whose
    version 0 is a self-contained snapshot of ``src`` at ``version``
    (default: head) — zero data copy (Delta ``CREATE TABLE ... SHALLOW
    CLONE`` semantics, re-expressed for a filesystem/object-store
    manifest).

    Every live data file, live deletion vector, and their stats/blooms
    are carried into one checkpoint-style "clone" commit under the SAME
    relative paths, so every reader (snapshot, time-travel-from-0,
    change feed, metadata-only aggregate, bloom/min-max pruning) works
    on the clone unchanged. Bytes are shared via ``os.link`` (hardlink
    refcounts are this filesystem's conditional-GC: each table's VACUUM
    unlinks only its own references, and the OS frees the bytes when the
    last table drops them — no cross-table retention hazard, unlike
    path-reference clones where vacuuming the source breaks the clone).
    Cross-device clones degrade to a byte copy per file, loudly
    recorded in the commit doc (``"linked": false``).

    The source's exactly-once stream replay guard (all committed
    ``stream_batch_id``s at or below ``version``) is carried into the
    clone doc: re-delivering an already-cloned micro-batch to the clone
    is a no-op, exactly as it would be against the source.

    Clone and source diverge freely after this commit — appends,
    deletes, schema changes, compaction, and vacuum on either side
    never observe the other. Returns the clone's head version (0).
    """
    if os.path.isdir(_manifest_dir(dst)) and list_versions(dst):
        raise FileExistsError(f"manifest table already exists at {dst}")
    snap = _snapshot(src, version)
    files, dv_files = snap.files, snap.dv_files
    linked = True
    for rel in [*files, *dv_files]:
        sfp = os.path.join(src, rel)
        dfp = os.path.join(dst, rel)
        os.makedirs(os.path.dirname(dfp), exist_ok=True)
        try:
            os.link(sfp, dfp)
        except FileExistsError:
            # another cloner racing on the same dst linked this rel
            # first; identical by construction (same source inode) —
            # verify rather than trust
            if os.stat(sfp).st_ino != os.stat(dfp).st_ino:
                raise
        except OSError:
            shutil.copy2(sfp, dfp)  # cross-device (EXDEV): real copy
            linked = False
    doc = snap.checkpoint_doc(
        version=0,
        operation="clone",
        clone_source=os.path.abspath(src),
        clone_source_version=snap.version,
        linked=linked,
    )
    try:
        return _commit_version(dst, doc)
    except ConcurrentCommitError:
        # another cloner won version 0; drop any of OUR links its doc
        # does not reference (racers cloning different source versions
        # would otherwise leak unreferenced hardlinks forever — vacuum
        # only deletes files some version doc has named)
        winner = read_version_doc(dst, 0)
        keep = set(winner["added"]) | set(winner.get("dv_added", []))
        for rel in [*files, *dv_files]:
            if rel not in keep:
                try:
                    os.unlink(os.path.join(dst, rel))
                except FileNotFoundError:
                    pass
        raise


def describe_history(spark: SparkSession, path: str) -> DataFrame:
    """The table's commit history as a DataFrame — Delta's ``DESCRIBE
    HISTORY`` grain, answered from the MANIFEST ALONE (no data file is
    opened at any table size): one row per version with the operation,
    wall-clock commit time, file/row deltas, and the provenance fields
    the other layers stamp (stream batch ids, catalog transaction tags,
    clone sources). Newest first."""
    rows = []
    for v, doc in reversed(_snapshot(path).log):
        rc = doc.get("row_counts", {})
        txn = doc.get("catalog_txn")
        rows.append(
            (
                v,
                doc.get("operation", "append"),
                int(doc.get("committed_at", 0)) / 1e9 or None,
                len(doc.get("added", [])),
                len(doc.get("removed", [])),
                sum(rc.values()) if rc else None,
                sum(doc.get("dv_targets", {}).values()) or None,
                # stringified: batch ids are ints for file-replay
                # streams but CONTENT keys ("slice:min:max:count") for
                # CDC merge streams (streaming/events.py) — a long
                # column would make createDataFrame raise on the latter
                None
                if doc.get("stream_batch_id") is None
                else str(doc["stream_batch_id"]),
                f"{txn['catalog']}@v{txn['catalog_version']}"
                if txn
                else None,
                doc.get("clone_source"),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, operation string, committed_at double,"
        " n_files_added int, n_files_removed int, rows_added long,"
        " rows_deleted long, stream_batch_id string, catalog_txn string,"
        " clone_source string",
    )


def changes_between_timestamps(
    spark: SparkSession,
    path: str,
    since_ts: float,
    until_ts: float | None = None,
) -> DataFrame:
    """Timestamp form of :func:`read_changes`: rows that became live in
    the version range ``(version_at(since_ts), version_at(until_ts)]``
    — both endpoints resolved through the monotone commit-stamp series,
    so the range means "changes a reader who last looked at ``since_ts``
    has not yet seen". ``since_ts`` before the first commit raises
    LOUDLY (read a full snapshot instead): silently mapping it to
    version 0 would under-emit on tables whose version 0 itself carries
    rows — a clone's entire snapshot lives in its v0 — the same
    fail-loud rule read_changes applies to vacuumed ranges."""
    lo = version_at_timestamp(path, since_ts)
    hi = (
        None
        if until_ts is None
        else version_at_timestamp(path, until_ts)
    )
    return read_changes(spark, path, lo, hi)
