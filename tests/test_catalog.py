"""Atomic multi-table commits (sources/catalog.py): the write-ahead
catalog log, idempotent roll-forward, crash windows, races, and
consistent cross-table pins."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ihop_reddit_spark.sources import catalog as C
from ihop_reddit_spark.sources import manifest as M


def _mk_tables(spark, tmp_path):
    fact = str(tmp_path / "fact")
    roll = str(tmp_path / "roll")
    M.manifest_init(fact)
    M.manifest_init(roll)
    cat = str(tmp_path / "cat")
    C.catalog_init(cat, {"fact": fact, "roll": roll})
    return cat, fact, roll


def _txn(spark, cat, lo, hi):
    """One transaction: rows [lo,hi) into fact + their sum into roll."""
    t = C.CatalogTransaction(cat)
    t.append(
        "fact", spark.range(lo, hi).withColumn("v", F.col("id") * 2)
    )
    t.append(
        "roll",
        spark.createDataFrame(
            [(lo, sum(2 * i for i in range(lo, hi)))], "lo long, s long"
        ),
    )
    return t


def test_txn_commit_is_atomic_and_pins_are_consistent(spark, tmp_path):
    cat, fact, roll = _mk_tables(spark, tmp_path)
    _txn(spark, cat, 0, 10).commit()
    _txn(spark, cat, 10, 30).commit()

    # plain-table readers see both materialized txns
    assert M.read_snapshot(spark, fact).count() == 30
    assert M.read_snapshot(spark, roll).count() == 2

    # catalog pins at version 1: ONLY txn 1, in both tables
    f1 = C.read_catalog_table(spark, cat, "fact", 1)
    r1 = C.read_catalog_table(spark, cat, "roll", 1)
    assert f1.count() == 10
    assert [r["s"] for r in r1.collect()] == [
        sum(2 * i for i in range(10))
    ]
    # cross-table invariant holds at EVERY catalog version: sum(fact.v)
    # == sum(roll.s) as of the same pin
    for cv in (1, 2):
        fv = C.read_catalog_table(spark, cat, "fact", cv).agg(
            F.sum("v")
        ).collect()[0][0]
        rv = C.read_catalog_table(spark, cat, "roll", cv).agg(
            F.sum("s")
        ).collect()[0][0]
        assert fv == rv


def test_torn_txn_invisible_then_completed_by_reader(spark, tmp_path):
    """Crash AFTER the catalog doc, BEFORE roll-forward: the txn is
    committed — the next reader materializes it. Crash BEFORE the
    catalog doc: nothing visible anywhere, orphans reclaimable."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    _txn(spark, cat, 0, 10).commit()

    # simulate die-after-catalog-doc: stage + write doc, skip roll-forward
    t = _txn(spark, cat, 10, 20)
    head = C.catalog_latest(cat)
    C._commit_catalog_doc(
        cat,
        {
            "version": head + 1,
            "parent": head,
            "operation": "txn",
            "txn": t._payloads,
        },
    )
    # plain table log hasn't advanced yet
    assert M.read_snapshot(spark, fact).count() == 10
    # a catalog reader completes the roll-forward and sees it, consistently
    assert C.read_catalog_table(spark, cat, "fact").count() == 20
    assert C.read_catalog_table(spark, cat, "roll").count() == 2
    assert M.read_snapshot(spark, fact).count() == 20

    # simulate die-BEFORE-catalog-doc: stage only
    t2 = _txn(spark, cat, 20, 25)
    n_staged = len(t2._stage_dirs)
    assert n_staged == 2
    del t2  # "crash": no commit, no abort
    assert C.read_catalog_table(spark, cat, "fact").count() == 20
    # the default grace window protects a possibly-live transaction...
    assert C.catalog_vacuum_orphans(cat) == 0
    # ...and an expired one is reclaimed exactly once
    assert C.catalog_vacuum_orphans(cat, min_age_seconds=0) > 0
    assert C.catalog_vacuum_orphans(cat, min_age_seconds=0) == 0
    # nothing visible was touched
    assert C.read_catalog_table(spark, cat, "fact").count() == 20
    assert M.read_snapshot(spark, roll).count() == 2


def test_racing_txns_serialize_and_both_apply(spark, tmp_path):
    """Two transactions staged against the same catalog head: the loser
    auto-retries (append payloads never conflict) — both land, in
    catalog-serialization order, with no lost updates in either table."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    a = _txn(spark, cat, 0, 10)
    b = _txn(spark, cat, 10, 30)
    assert a.commit() == 1
    assert b.commit() == 2  # staged at head 0, retried onto head 1

    assert M.read_snapshot(spark, fact).count() == 30
    pins = C.catalog_pins(cat)
    assert pins == {"fact": 2, "roll": 2}
    # roll-forward is idempotent under repeated invocation
    before = C.roll_forward(cat)
    assert C.roll_forward(cat) == before


def test_interleaved_direct_commit_does_not_break_txns(spark, tmp_path):
    """A direct-to-table append between catalog-doc publish and
    roll-forward: materialization retries on top of it; catalog pins
    serialize the direct commit before the pending txn."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    t = _txn(spark, cat, 0, 10)
    head = C.catalog_latest(cat)
    C._commit_catalog_doc(
        cat,
        {
            "version": head + 1,
            "parent": head,
            "operation": "txn",
            "txn": t._payloads,
        },
    )
    # direct append sneaks in before anyone rolls forward
    M.manifest_append(
        spark.range(100, 105).withColumn("v", F.col("id") * 2), fact
    )
    applied = C.roll_forward(cat)
    assert applied[1]["fact"] == 2  # landed after the direct commit
    assert M.read_snapshot(spark, fact).count() == 15
    # the catalog pin includes the txn (and, transitively, the earlier
    # direct rows below it in the log)
    assert C.read_catalog_table(spark, cat, "fact", 1).count() == 15


def test_base_pins_and_bad_table_errors(spark, tmp_path):
    fact = str(tmp_path / "fact")
    M.manifest_init(fact)
    M.manifest_append(spark.range(5).withColumn("v", F.col("id")), fact)
    cat = str(tmp_path / "cat")
    C.catalog_init(cat, {"fact": fact})
    # pre-catalog data is pinned at the init-time head
    assert C.read_catalog_table(spark, cat, "fact").count() == 5

    with pytest.raises(FileExistsError):
        C.catalog_init(cat, {"fact": fact})
    t = C.CatalogTransaction(cat)
    with pytest.raises(KeyError):
        t.append("nope", spark.range(3))
    with pytest.raises(ValueError, match="does not match table schema"):
        t.append("fact", spark.range(3))  # missing column v
    with pytest.raises(ValueError, match="empty transaction"):
        t.commit()
    # abort removes staged files
    t.append("fact", spark.range(3).withColumn("v", F.col("id")))
    rel = t._stage_dirs[0][1]
    assert os.path.isdir(os.path.join(fact, rel))
    t.abort()
    assert not os.path.isdir(os.path.join(fact, rel))


def test_roll_forward_never_reapplies_after_vacuum(spark, tmp_path):
    """Vacuum durability for roll-forward idempotency: a table vacuumed
    PAST a transaction's version docs, plus a lost marker file, must
    not let roll-forward re-apply the transaction (the checkpoint doc
    folds dropped catalog_txn tags into catalog_txns_applied)."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    _txn(spark, cat, 0, 10).commit()
    _txn(spark, cat, 10, 20).commit()

    # push both tables' histories past the txns: compact, then vacuum
    # with the horizon at head — every txn-tagged doc is dropped
    for p in (fact, roll):
        M.manifest_compact(spark, p, target_files=1)
        M.manifest_vacuum(p, keep_from_version=M.latest_version(p))

    # simulate marker loss (a roll-forwarder that died pre-marker)
    for f in os.listdir(os.path.join(cat, "_catalog")):
        if f.startswith("applied-"):
            os.unlink(os.path.join(cat, "_catalog", f))

    before = M.read_snapshot(spark, fact).count()
    applied = C.roll_forward(cat)  # must verify, never re-apply
    assert M.read_snapshot(spark, fact).count() == before == 20
    assert M.read_snapshot(spark, roll).count() == 2
    # pins resolve to the checkpoint version for below-horizon txns
    assert set(applied) == {1, 2}
    # and new transactions still work on the vacuumed tables
    _txn(spark, cat, 20, 25).commit()
    assert M.read_snapshot(spark, fact).count() == 25


def test_pin_below_retention_horizon_clamps_to_checkpoint(spark, tmp_path):
    """Review finding (r11s2): after a table's vacuum folds a pinned
    version into its checkpoint, the catalog read must clamp to the
    checkpoint (which holds the pinned rows) instead of silently
    returning the empty below-horizon prefix."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    _txn(spark, cat, 0, 10).commit()
    C.catalog_pins(cat)  # markers written at pin {fact:1, roll:1}
    for p in (fact, roll):
        M.manifest_compact(spark, p, target_files=1)
        M.manifest_vacuum(p, keep_from_version=M.latest_version(p))
    # marker still names the vacuumed version; the read clamps
    assert C.read_catalog_table(spark, cat, "fact", 1).count() == 10
    assert C.read_catalog_table(spark, cat, "roll", 1).count() == 1


def test_roll_forward_respects_interleaved_schema_evolution(spark, tmp_path):
    """Review finding (r11s2): an alter_schema landing between the
    catalog doc and roll-forward must stay in force — materializing the
    stage-time schema verbatim would silently revert it."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    _txn(spark, cat, 0, 5).commit()
    t = _txn(spark, cat, 5, 10)
    head = C.catalog_latest(cat)
    C._commit_catalog_doc(
        cat,
        {"version": head + 1, "parent": head, "operation": "txn",
         "txn": t._payloads},
    )
    # alter lands while the txn is committed-but-unapplied
    M.manifest_alter_schema(fact, add=[("tier", "string")])
    C.roll_forward(cat)
    snap = M.read_snapshot(spark, fact)
    assert "tier" in snap.columns  # the alter survived
    assert snap.count() == 10
    assert snap.where(F.col("tier").isNull()).count() == 10


def test_concurrent_roll_forwarder_cannot_double_apply(spark, tmp_path):
    """Review finding (r11s2): the head is pinned BEFORE the
    idempotency scan. Simulate the losing interleaving: a 'concurrent'
    roll-forwarder materializes the txn (and its marker is lost); the
    second roll-forward must verify via the tag, never re-commit."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    t = _txn(spark, cat, 0, 10)
    head = C.catalog_latest(cat)
    C._commit_catalog_doc(
        cat,
        {"version": head + 1, "parent": head, "operation": "txn",
         "txn": t._payloads},
    )
    # "concurrent winner": materialize fact's payload by hand, with tag
    p = t._payloads["fact"]
    M._commit_version(
        fact,
        {"version": 1, "parent": 0, "operation": "append",
         "schema": p["schema"], "added": p["added"], "removed": [],
         "stats": p["stats"], "row_counts": p["row_counts"],
         "blooms": p["blooms"],
         "catalog_txn": {"catalog": os.path.abspath(cat),
                          "catalog_version": 1}},
    )
    applied = C.roll_forward(cat)
    assert applied[1]["fact"] == 1  # verified, not re-applied
    assert M.read_snapshot(spark, fact).count() == 10  # rows ONCE
    assert M.read_snapshot(spark, roll).count() == 1


def test_stream_guard_closes_check_then_act_race(spark, tmp_path):
    """Review finding (r11s2): a concurrent delivery of the SAME
    micro-batch wins the catalog race; the loser's commit must detect
    the recorded stream_batch_id, abort its duplicate stage, and return
    the winner's version — not retry the batch in twice."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    a = _txn(spark, cat, 0, 10)
    b = _txn(spark, cat, 0, 10)  # same logical micro-batch
    assert a.commit(extra={"stream_batch_id": 42}) == 1
    assert b.commit(extra={"stream_batch_id": 42}) == 1  # winner's cv
    assert C.catalog_latest(cat) == 1
    assert M.read_snapshot(spark, fact).count() == 10  # not 20
    # the loser's staged files were aborted, not leaked
    assert C.catalog_vacuum_orphans(cat, min_age_seconds=0) == 0


def test_stream_guard_duplicate_landing_after_version_listing(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: commit() must read head FIRST and scan only versions
    <= head for the stream_batch_id. A duplicate delivery landing right
    AFTER a version listing is computed must force a create-if-absent
    conflict and a rescan — the old scan-then-read-head order let the
    duplicate advance the head so our commit landed the batch twice."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    a = _txn(spark, cat, 0, 10)
    b = _txn(spark, cat, 0, 10)  # same logical micro-batch
    real = C.catalog_versions
    state = {"fired": False}

    def versions_then_duplicate(c):
        out = real(c)  # listing computed BEFORE the duplicate lands
        if not state["fired"]:
            state["fired"] = True
            a.commit(extra={"stream_batch_id": 7})
        return out

    monkeypatch.setattr(C, "catalog_versions", versions_then_duplicate)
    assert b.commit(extra={"stream_batch_id": 7}) == 1  # winner's cv
    assert C.catalog_latest(cat) == 1
    assert M.read_snapshot(spark, fact).count() == 10  # ONCE, not twice
    assert C.catalog_vacuum_orphans(cat, min_age_seconds=0) == 0


def test_constraint_added_between_stage_and_commit_gates_txn(
    spark, tmp_path
):
    """ADVICE r11: a CHECK constraint landing between staging and
    commit still gates the txn's rows (table-log order puts the
    constraint BEFORE the txn's materialized version). Pre-publish
    failure is clean: catalog untouched, stage deleted."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    t = _txn(spark, cat, 0, 10)  # staged fact rows have v = id*2 <= 18
    M.manifest_add_constraint(spark, fact, "v_small", "v < 10")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.commit()
    assert C.catalog_latest(cat) == 0
    assert not M.live_files(fact, M.latest_version(fact))
    assert C.catalog_vacuum_orphans(cat, min_age_seconds=0) == 0


def test_roll_forward_reverifies_constraint_delta(spark, tmp_path):
    """The publish-time residue of the same race: the catalog doc is
    already committed when the constraint lands — roll_forward must
    refuse to materialize the violating staged rows, and dropping the
    constraint unblocks the write-ahead log."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    t = _txn(spark, cat, 0, 10)
    C._commit_catalog_doc(
        cat,
        {"version": 1, "parent": 0, "operation": "txn",
         "txn": t._payloads},
    )
    M.manifest_add_constraint(spark, fact, "v_small", "v < 10")
    with pytest.raises(ValueError, match="CHECK constraint"):
        C.roll_forward(cat)
    assert not M.live_files(fact, M.latest_version(fact))  # nothing landed
    M.manifest_drop_constraint(fact, "v_small")
    C.roll_forward(cat)
    assert M.read_snapshot(spark, fact).count() == 10
    assert M.read_snapshot(spark, roll).count() == 1


def test_constraint_on_column_added_after_staging_passes_as_null(
    spark, tmp_path
):
    """Review r12: the constraint-delta re-verify must read staged
    files under the table's CURRENT schema — a CHECK on a column added
    after staging sees NULL (SQL UNKNOWN passes), not an
    unresolved-column crash; and an empty staged batch passes
    trivially."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    _txn(spark, cat, 0, 5).commit()  # seed: fact now has a schema
    t = _txn(spark, cat, 5, 15)
    M.manifest_alter_schema(fact, add=[("c", "long")])
    M.manifest_add_constraint(spark, fact, "c_pos", "c > 0")
    cv = t.commit()  # staged rows have no c -> NULL -> passes
    assert cv == 2
    assert M.read_snapshot(spark, fact).count() == 15

    # empty staged half + constraint delta: nothing to violate
    t2 = C.CatalogTransaction(cat)
    t2.append("fact", spark.range(0, 0).withColumn(
        "v", F.col("id") * 2).withColumn("c", F.lit(1).cast("long")))
    t2.append("roll", spark.createDataFrame([(99, 0)], "lo long, s long"))
    M.manifest_add_constraint(spark, fact, "c_big", "c > 100")
    assert t2.commit() == 3


def test_commit_retry_after_post_publish_error_is_idempotent(
    spark, tmp_path, monkeypatch
):
    """Review r12: commit() that raised AFTER publishing its doc must
    not publish a second doc over the same staged files on retry — the
    rows would land twice."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    t = _txn(spark, cat, 0, 10)
    real = C.roll_forward
    state = {"raised": False}

    def boom_once(c):
        if not state["raised"]:
            state["raised"] = True
            raise RuntimeError("injected post-publish failure")
        return real(c)

    monkeypatch.setattr(C, "roll_forward", boom_once)
    with pytest.raises(RuntimeError, match="injected"):
        t.commit()
    assert C.catalog_latest(cat) == 1  # doc IS published
    cv = t.commit()  # retry: same doc, no second publish
    assert cv == 1
    assert C.catalog_latest(cat) == 1
    assert M.read_snapshot(spark, fact).count() == 10  # ONCE


def test_catalog_snapshot_asof_version_and_timestamp(spark, tmp_path):
    """Multi-table AS-OF snapshots: pins serialize an independent
    direct-to-table append AFTER the pinned transaction; a wall-clock
    timestamp between commits resolves through the monotone stamps."""
    import time

    cat, fact, roll = _mk_tables(spark, tmp_path)
    _txn(spark, cat, 0, 10).commit()  # cv1 -> fact v1
    ts_mid = time.time()
    # independent advance between catalog commits (fact v2)
    M.manifest_append(
        spark.range(100, 105).withColumn("v", F.col("id") * 2), fact
    )
    _txn(spark, cat, 10, 30).commit()  # cv2 -> fact v3

    assert C.catalog_version_at_timestamp(cat, ts_mid) == 1
    assert C.catalog_version_at_timestamp(cat, time.time()) == 2

    s1 = C.catalog_snapshot_asof(spark, cat, version=1)
    assert sorted(s1) == ["fact", "roll"]
    # cv1: the direct append is NOT visible (pin is the cv1 txn doc)
    assert s1["fact"].count() == 10
    assert s1["roll"].count() == 1
    st = C.catalog_snapshot_asof(spark, cat, as_of_timestamp=ts_mid)
    assert st["fact"].count() == 10
    # head: cv2's txn materialized ON TOP of the direct append, which
    # is therefore serialized in
    sh = C.catalog_snapshot_asof(spark, cat)
    assert sh["fact"].count() == 10 + 5 + 20
    assert sh["roll"].count() == 2
    pins = C.catalog_pins(cat)
    assert pins["fact"] == 3  # v2 was the direct append

    with pytest.raises(ValueError, match="not both"):
        C.catalog_snapshot_asof(
            spark, cat, version=1, as_of_timestamp=ts_mid
        )
    with pytest.raises(ValueError, match="precedes"):
        C.catalog_version_at_timestamp(cat, 1.0)


def test_catalog_append_records_the_verified_constraint_snapshot(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12: the constraint set recorded in the payload must BE
    the set verified at stage time — a constraint landing between the
    stage-time verify and payload assembly must read as a DELTA (and be
    re-verified at commit), never as already-seen."""
    cat, fact, roll = _mk_tables(spark, tmp_path)
    _txn(spark, cat, 1, 5).commit()

    t = C.CatalogTransaction(cat)
    real_stats = M._stage_stats

    def add_constraint_mid_append(path, added):
        # lands AFTER staging+verify, BEFORE payload assembly — the
        # old second constraints_of read recorded it as seen
        if not M.constraints_of(fact):
            # passes the 4 pre-existing rows (v in 2..8), violates the
            # staged batch (v in 10..14)
            M.manifest_add_constraint(spark, fact, "v_cap", "v < 10")
        return real_stats(path, added)

    monkeypatch.setattr(M, "_stage_stats", add_constraint_mid_append)
    t.append("fact", spark.range(5, 8).withColumn("v", F.col("id") * 2))
    monkeypatch.setattr(M, "_stage_stats", real_stats)
    # the payload must NOT claim the mid-window constraint was seen
    assert "v_cap" not in t._payloads["fact"]["constraints"]
    t.append("roll", spark.createDataFrame([(5, 0)], "lo long, s long"))
    # commit's delta re-verify now catches the violation CLEAN:
    # stage aborted, catalog untouched
    with pytest.raises(ValueError, match="v_cap"):
        t.commit()
    assert C.catalog_latest(cat) == 1
    assert M.read_snapshot(spark, fact).count() == 4


@pytest.mark.parametrize(
    "commit, doc_path",
    [
        (M._commit_version, M._version_doc_path),
        (C._commit_catalog_doc, C._cat_doc_path),
    ],
    ids=["table", "catalog"],
)
def test_nested_commit_of_one_version_has_one_winner(
    tmp_path, monkeypatch, commit, doc_path
):
    """Two commits of one version from the same process: the second runs
    to completion inside the first one's publish. Each must stage its own
    temp file, so the inner commit wins with its own bytes and the outer
    one loses cleanly."""
    root = str(tmp_path / "t")
    real_link = os.link
    inner: list = []

    def link_with_nested_commit(src, dst):
        if not inner:
            inner.append(None)  # the nested commit links for real
            inner[0] = commit(root, {"version": 1, "operation": "inner"})
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", link_with_nested_commit)
    with pytest.raises(M.ConcurrentCommitError):
        commit(root, {"version": 1, "operation": "outer"})
    assert inner == [1]
    with open(doc_path(root, 1)) as fh:
        published = json.load(fh)
    assert published["operation"] == "inner"
    with open(doc_path(root, 1)) as fh:
        assert fh.read() == json.dumps(published, indent=1, sort_keys=True)
    assert os.listdir(os.path.dirname(doc_path(root, 1))) == ["v00000001.json"]


def test_clustered_stage_temp_name_is_unique_per_attempt(spark, tmp_path):
    """Two attempts of one partition must not share a staging temp file.
    A leftover at the per-partition temp name — here a directory, which
    no write can replace — must not stop a later attempt from staging
    every row under the deterministic final names."""
    df = spark.range(0, 40).select(
        (F.col("id") % 8).alias("k"), F.col("id").alias("v")
    )
    out = tmp_path / "stage"
    for pid in range(2):
        for fi in range(4):
            name = f".part-{pid:05d}-{fi:04d}.parquet.inprogress"
            (out / name).mkdir(parents=True)
    M._write_clustered_stage(df, str(out), "k", tasks=2, files_cap=8)
    files = sorted(p.name for p in out.glob("*.parquet"))
    assert files and all(f.startswith("part-") for f in files)
    back = spark.read.parquet(*[str(out / f) for f in files])
    assert sorted(r.v for r in back.collect()) == list(range(40))


def test_nested_replace_of_one_doc_keeps_the_last_writer(tmp_path, monkeypatch):
    """The retention checkpoint and the roll-forward marker overwrite a
    doc in place. A second overwrite of the same doc from the same process
    runs to completion inside the first one's ``os.replace``: both must
    succeed, the outer (last) writer's bytes stay, no temp file is left."""
    dst = str(tmp_path / "_catalog" / "applied-v00000001.json")
    real_replace = os.replace
    inner: list = []

    def replace_with_nested_write(src, target):
        if not inner:
            inner.append(None)  # the nested write replaces for real
            M._replace_doc(dst, {"writer": "inner"})
        return real_replace(src, target)

    monkeypatch.setattr(os, "replace", replace_with_nested_write)
    M._replace_doc(dst, {"writer": "outer"})
    with open(dst) as fh:
        assert json.load(fh) == {"writer": "outer"}
    assert os.listdir(os.path.dirname(dst)) == ["applied-v00000001.json"]
