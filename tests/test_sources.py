"""Source/sink round-trip tests (SURVEY §2.1, S1-S7 + corrupt-record channel).

Mirrors the reference's fixture style (tiny JSON-lines inputs,
``tests/test_import_data.py`` in /root/reference) with engine additions:
compressed round-trips, partitioned parquet, and observable corrupt rows.
"""

from __future__ import annotations

import bz2
import os

import pytest

from pyspark.sql import functions as F

from ihop_reddit_spark.sources.io import (
    write_compressed_csv,
    write_parquet,
    write_single_csv,
)
from ihop_reddit_spark.sources.reddit import (
    corrupt_record_count,
    read_comments,
    read_contexts_csv,
    read_jsonl,
    read_parquet_tables,
)

COMMENT = (
    '{"id": "c1", "parent_id": "t3_s1", "score": 4, "link_id": "t3_s1",'
    ' "author": "alice", "subreddit": "aww", "body": "hello",'
    ' "created_utc": 1609459200, "extra_field_ignored": true}'
)
BAD_LINE = '{"id": "c2", "score": "not-a-number"}'


def test_read_jsonl_fixed_schema_and_corrupt_channel(spark, tmp_path):
    p = tmp_path / "comments.json"
    p.write_text(COMMENT + "\n" + BAD_LINE + "\n")
    df = read_comments(spark, str(p))
    rows = df.collect()
    # fixed projection: extra JSON fields pruned at parse time, bad row nulled
    assert "extra_field_ignored" not in df.columns
    good = [r for r in rows if r["id"] == "c1"]
    assert good[0]["subreddit"] == "aww" and good[0]["score"] == 4

    with_corrupt = read_comments(spark, str(p), keep_corrupt=True)
    assert corrupt_record_count(with_corrupt) == 1
    assert corrupt_record_count(df) == 0  # channel off → 0 by definition


def test_read_jsonl_bz2_transparent_decompression(spark, tmp_path):
    p = tmp_path / "comments.json.bz2"
    p.write_bytes(bz2.compress((COMMENT + "\n").encode()))
    df = read_comments(spark, str(p))
    assert df.count() == 1 and df.head()["author"] == "alice"


def test_read_jsonl_zst_roundtrip(spark, tmp_path):
    """zstd JSON-lines through the streaming ``zstjsonl`` scan: one task
    per file, parsed rows and the corrupt-record channel as in the
    uncompressed path (blank lines skipped)."""
    import pyarrow as pa

    from ihop_reddit_spark.schemas import COMMENTS_SCHEMA
    from ihop_reddit_spark.sources.reddit import CORRUPT_COL, read_jsonl_zst

    bad = '{"id": broken'
    d = tmp_path / "dumps"
    d.mkdir()
    for name, text in (
        ("a.zst", COMMENT + "\n"),
        ("b.zst", bad + "\n\nnot json at all"),
    ):
        with pa.output_stream(str(d / name), compression="zstd") as out:
            out.write(text.encode())
    df = read_jsonl_zst(spark, str(d), COMMENTS_SCHEMA)
    assert df.rdd.getNumPartitions() == 2  # one task per .zst file
    rows = df.collect()
    assert len(rows) == 3
    c1 = next(r for r in rows if r["id"] == "c1")
    assert c1["author"] == "alice" and c1["score"] == 4
    # corrupt-record channel parity with the uncompressed path
    with_corrupt = read_jsonl_zst(
        spark, [str(d / "a.zst"), str(d / "b.zst")], COMMENTS_SCHEMA,
        keep_corrupt=True,
    )
    assert with_corrupt.rdd.getNumPartitions() == 2
    got = sorted((r["id"], r[CORRUPT_COL]) for r in with_corrupt.collect()
                 if r[CORRUPT_COL] is not None)
    assert got == sorted([(None, bad), (None, "not json at all")])
    assert corrupt_record_count(with_corrupt) == 2


def test_read_jsonl_zst_registers_the_source_once_per_session(
    spark, tmp_path, monkeypatch
):
    """Two reads in one session register ``zstjsonl`` once: Spark logs a
    replaced-data-source warning on every re-registration."""
    import weakref

    import pyarrow as pa
    from pyspark.sql.datasource import DataSourceRegistration

    from ihop_reddit_spark.schemas import COMMENTS_SCHEMA
    from ihop_reddit_spark.sources import reddit

    p = tmp_path / "a.zst"
    with pa.output_stream(str(p), compression="zstd") as out:
        out.write((COMMENT + "\n").encode())
    calls = []
    real = DataSourceRegistration.register

    def counting(self, source):
        calls.append(source.name())
        return real(self, source)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    # forget earlier tests' reads: this session starts unregistered
    monkeypatch.setattr(reddit, "_ZST_SESSIONS", weakref.WeakSet())
    for _ in range(2):
        df = reddit.read_jsonl_zst(spark, str(p), COMMENTS_SCHEMA)
        assert df.count() == 1
    assert calls == ["zstjsonl"]


def test_read_jsonl_zst_reads_in_a_child_session(spark, tmp_path):
    """A session made by ``newSession()`` reads ``.zst`` after its parent
    did (Spark checks a new source's name against the active session's
    registry), and the parent stays the active session and still reads."""
    import pyarrow as pa

    from ihop_reddit_spark.schemas import COMMENTS_SCHEMA
    from ihop_reddit_spark.sources.reddit import read_jsonl_zst

    p = tmp_path / "a.zst"
    with pa.output_stream(str(p), compression="zstd") as out:
        out.write((COMMENT + "\n" + COMMENT + "\n").encode())
    assert read_jsonl_zst(spark, str(p), COMMENTS_SCHEMA).count() == 2
    child = spark.newSession()
    assert read_jsonl_zst(child, str(p), COMMENTS_SCHEMA).count() == 2
    active = spark.sparkContext._jvm.org.apache.spark.sql.SparkSession
    assert active.getActiveSession().get().equals(spark._jsparkSession)
    assert read_jsonl_zst(spark, str(p), COMMENTS_SCHEMA).count() == 2


def test_parquet_sink_partitioned_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2021-04", "a"), (2, "2021-04", "b"), (3, "2021-05", "c")],
        "id long, month string, v string",
    )
    out = str(tmp_path / "part")
    write_parquet(df, out, partition_by=["month"])
    assert os.path.isdir(os.path.join(out, "month=2021-04"))
    back = spark.read.parquet(out)
    assert back.count() == 3
    # partition pruning: only one directory read for a month predicate
    pruned = back.where(F.col("month") == "2021-05")
    assert pruned.count() == 1


def test_orc_sink_partitioned_roundtrip(spark, tmp_path):
    from ihop_reddit_spark.sources.io import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "2021-04", "a"), (2, "2021-04", "b"), (3, "2021-05", "c")],
        "id long, month string, v string",
    )
    out = str(tmp_path / "orc")
    write_orc(df, out, partition_by=["month"])
    assert os.path.isdir(os.path.join(out, "month=2021-04"))
    back = read_orc(spark, out)
    assert back.count() == 3
    assert back.where(F.col("month") == "2021-05").count() == 1
    assert {tuple(r) for r in back.select("id", "month", "v").collect()} == {
        (1, "2021-04", "a"), (2, "2021-04", "b"), (3, "2021-05", "c")
    }


def test_csv_sinks_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("alice sub1 sub2",), ("bob sub3",)], "context string"
    )
    bz_dir = str(tmp_path / "ctx_bz2")
    write_compressed_csv(df, bz_dir)
    assert any(f.endswith(".bz2") for f in os.listdir(bz_dir))
    back = read_contexts_csv(spark, bz_dir)
    assert sorted(r[0] for r in back.collect()) == ["alice sub1 sub2", "bob sub3"]

    single = str(tmp_path / "single")
    write_single_csv(df.toDF("context"), single)
    files = [f for f in os.listdir(single) if f.endswith(".csv")]
    assert len(files) == 1  # coalesced to one part file


def test_read_parquet_tables(spark, sf_dir):
    tables = read_parquet_tables(spark, sf_dir, ["region", "nation"])
    assert set(tables) == {"region", "nation"}
    assert tables["region"].count() > 0


def test_jsonl_sink_roundtrip(spark, tmp_path):
    from ihop_reddit_spark.sources.io import write_jsonl
    from ihop_reddit_spark.sources.reddit import read_jsonl

    df = spark.createDataFrame(
        [(1, "2021-04", "hello world"), (2, "2021-04", "emoji 🎉"),
         (3, "2021-05", 'quotes "and" commas,')],
        "id long, month string, body string",
    )
    out = str(tmp_path / "jsonl")
    write_jsonl(df, out, partition_by=["month"], compression="gzip")
    assert os.path.isdir(os.path.join(out, "month=2021-04"))
    part = os.path.join(out, "month=2021-04")
    assert any(f.endswith(".json.gz") for f in os.listdir(part))
    back = read_jsonl(spark, out, schema="id long, body string")
    got = {(r["id"], r["body"]) for r in back.select("id", "body").collect()}
    assert got == {(1, "hello world"), (2, "emoji 🎉"),
                   (3, 'quotes "and" commas,')}


def test_zordered_layout_bounds_both_dimensions(spark, tmp_path):
    from ihop_reddit_spark.sources.layout import write_zordered

    # 64x64 grid; 16 output files → ideal z-blocks are 16x16 squares
    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(grid, zpath, F.col("x"), F.col("y"), num_files=16, bits=6)
    # naive comparison layout: sorted by x only
    grid.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(spath)

    def spans(path):
        df = spark.read.parquet(path).withColumn(
            "f", F.input_file_name()
        ).groupBy("f").agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        return [(r["sx"], r["sy"]) for r in df.collect()]

    zs, ss = spans(zpath), spans(spath)
    # x-only sort leaves files spanning (almost) the full y range
    assert sum(sy for _, sy in ss) / len(ss) > 55
    # z-order bounds BOTH dims: every file a small rectangle
    assert max((sx + 1) * (sy + 1) for sx, sy in zs) <= 4 * 256
    assert sum(sy for _, sy in zs) / len(zs) <= 32


def test_compact_parquet_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from ihop_reddit_spark.sources.io import compact_parquet, parquet_file_stats

    src = str(tmp_path / "fragmented")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(64).write.parquet(src)  # simulate small-files accretion
    n_before, total_bytes = parquet_file_stats(src)
    assert n_before == 64

    out = str(tmp_path / "compacted")
    # target sized to land ~4 files from the measured bytes
    n_out = compact_parquet(spark, src, out, target_file_bytes=total_bytes // 4 + 1)
    n_after, _ = parquet_file_stats(out)
    assert n_after == n_out <= 4

    before = {r.doc_id for r in docs.collect()}
    after_df = spark.read.parquet(out)
    after = {r.doc_id for r in after_df.collect()}
    assert after == before
    assert sorted(after_df.columns) == sorted(docs.columns)


def test_overwrite_partitions_touches_only_present_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from ihop_reddit_spark.sources.io import overwrite_partitions, write_parquet

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "id long, part string, v long",
    )
    path = str(tmp_path / "tbl")
    write_parquet(base, path, partition_by=["part"])

    # backfill partition 'a' only, with corrected values
    fixed = spark.createDataFrame(
        [(1, "a", 11), (2, "a", 21)], "id long, part string, v long"
    )
    overwrite_partitions(fixed, path, ["part"])
    got = {
        (r.id, r.part): r.v for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a"): 11, (2, "a"): 21, (3, "b"): 30, (4, "c"): 40}

    # idempotent: re-running the same backfill changes nothing
    overwrite_partitions(fixed, path, ["part"])
    again = {
        (r.id, r.part): r.v for r in spark.read.parquet(path).collect()
    }
    assert again == got


def test_zstjsonl_datasource_parallel_read(spark, tmp_path):
    """The raw ``zstjsonl`` scan: one task per file, one ``value`` row per
    non-blank line, and a line that straddles the 1 MiB read chunk comes
    back whole."""
    import pyarrow as pa

    from ihop_reddit_spark.sources.zst_datasource import ZstJsonlDataSource

    spark.dataSource.register(ZstJsonlDataSource)
    long_line = '{"id": 4, "body": "' + "x" * ((1 << 20) + 7) + '"}'
    rows1 = b'{"id": 1, "body": "hello"}\n{"id": 2, "body": "world"}\n'
    rows2 = ('{"id": 3, "body": "third"}\n\nnot json at all\n'
             + long_line).encode()
    d = tmp_path / "dumps"
    d.mkdir()
    for name, payload in (("a.zst", rows1), ("b.zst", rows2)):
        with pa.output_stream(str(d / name), compression="zstd") as out:
            out.write(payload)

    df = spark.read.format("zstjsonl").option("path", str(d)).load()
    # one task per .zst file
    assert df.rdd.getNumPartitions() == 2
    got = sorted(r["value"] for r in df.collect())
    assert got == sorted([
        '{"id": 1, "body": "hello"}', '{"id": 2, "body": "world"}',
        '{"id": 3, "body": "third"}', "not json at all", long_line,
    ])


def test_observed_write_reports_metrics_in_one_pass(spark, tmp_path):
    from ihop_reddit_spark.sources.io import observed_write

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None)], ["k", "v"]
    )
    out = str(tmp_path / "obs")
    m = observed_write(
        df,
        out,
        {
            "rows_written": F.count(F.lit(1)),
            "v_nulls": F.sum(F.col("v").isNull().cast("long")),
            "v_sum": F.sum("v"),
        },
    )
    assert m == {"rows_written": 3, "v_nulls": 1, "v_sum": 30.0}
    assert spark.read.parquet(out).count() == 3


@pytest.mark.slow
def test_targeted_delete_prunes_and_scrubs(spark, tmp_path):
    """GDPR-style deletion: only partitions containing deleted keys are
    rewritten; untouched partition FILES stay byte-identical; a fully
    emptied partition's directory is removed."""
    import glob
    import os

    from pyspark.sql import functions as F

    from ihop_reddit_spark.sources.io import targeted_delete

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(uid, uid % 4, f"row{uid}") for uid in range(40)]
        + [(100, 9, "solo")],  # partition 9 holds exactly one key
        "user_id long, shard int, payload string",
    )
    df.write.partitionBy("shard").parquet(path)
    untouched = sorted(glob.glob(f"{path}/shard=1/*.parquet"))
    stamps = [(f, os.path.getmtime(f)) for f in untouched]

    deletes = spark.createDataFrame(
        [(0, 0), (8, 0), (2, 2), (100, 9)], "user_id long, shard int"
    )
    out = targeted_delete(spark, path, deletes, "user_id", "shard")
    assert out == {
        "partitions_rewritten": 2,   # shards 0 and 2
        "partitions_removed": 1,     # shard 9, fully emptied
        "rows_deleted": 4,
    }

    back = spark.read.parquet(path)
    assert back.where(
        F.col("user_id").isin(0, 8, 2, 100)
    ).count() == 0
    assert back.count() == 41 - 4
    # untouched partition: same files, same mtimes
    assert [
        (f, os.path.getmtime(f)) for f in sorted(
            glob.glob(f"{path}/shard=1/*.parquet")
        )
    ] == stamps
    # emptied partition directory is gone
    assert not os.path.exists(f"{path}/shard=9")

    # idempotent re-run: nothing more to delete, and NO file churn —
    # unchanged partitions are not rewritten on retries
    again = targeted_delete(spark, path, deletes, "user_id", "shard")
    assert again == {
        "partitions_rewritten": 0,
        "partitions_removed": 0,
        "rows_deleted": 0,
    }

    # pair scope: deleting (user 5, shard 0) must NOT touch user 5's
    # row in its actual shard (5 % 4 == 1) — the request names a
    # (key, partition) pair, not a key
    noop = targeted_delete(
        spark, path,
        spark.createDataFrame([(5, 0)], "user_id long, shard int"),
        "user_id", "shard",
    )
    assert noop["rows_deleted"] == 0
    assert spark.read.parquet(path).where("user_id = 5").count() == 1
    # the durable-lineage temp dir is cleaned up after every call
    assert not glob.glob(f"{path}/.__delete_tmp_*")


def test_targeted_delete_escaped_partition_values(spark, tmp_path):
    """Emptied-partition removal must use Spark's partition-path
    encoding: a string partition value with characters Spark
    URL-escapes in directory names (space, colon, percent) would be
    silently MISSED by a str(p) path — rows reported deleted would
    survive on disk (ADVICE r4)."""
    import os

    from ihop_reddit_spark.sources.io import targeted_delete

    path = str(tmp_path / "tbl")
    tricky = "a b:c%d"  # space, colon, percent — all escaped by Spark
    df = spark.createDataFrame(
        [(1, tricky, "x"), (2, "plain", "y"), (3, "plain", "z")],
        "user_id long, region string, payload string",
    )
    df.write.partitionBy("region").parquet(path)
    # Spark wrote an escaped directory name, not the literal value
    dirs = [d for d in os.listdir(path) if d.startswith("region=")]
    assert f"region={tricky}" not in dirs and len(dirs) == 2

    out = targeted_delete(
        spark, path,
        spark.createDataFrame([(1, tricky)], "user_id long, region string"),
        "user_id", "region",
    )
    assert out == {
        "partitions_rewritten": 0,
        "partitions_removed": 1,
        "rows_deleted": 1,
    }
    assert [
        d for d in os.listdir(path)
        if d.startswith("region=") and "plain" not in d
    ] == []
    back = spark.read.parquet(path)
    assert back.count() == 2 and back.where("user_id = 1").count() == 0


# ---------------------------------------------------------------------------
# WARC source (sources/warc.py — round 6)
# ---------------------------------------------------------------------------
def test_warc_writer_parser_round_trip():
    """Plain and per-record-gzip WARC round-trip bit-exactly: warcinfo
    head record, HTTP status/content-type/body split, deterministic
    record ids (md5, no uuid/clock)."""
    import gzip
    import io

    from ihop_reddit_spark.sources.warc import (
        iter_warc_records,
        warc_record_bytes,
        write_warc,
    )

    recs = [
        warc_record_bytes(
            f"http://ex.com/{i}", f"<html>doc {i}</html>".encode()
        )
        for i in range(3)
    ]
    for gz in (False, True):
        path = f"/tmp/warc_rt_test.warc{'.gz' if gz else ''}"
        write_warc(path, recs, gzip_members=gz)
        raw = open(path, "rb")
        stream = gzip.GzipFile(fileobj=raw) if gz else raw
        got = list(iter_warc_records(stream))
        raw.close()
        assert [r["record_type"] for r in got] == [
            "warcinfo", "response", "response", "response"
        ]
        for i, r in enumerate(got[1:]):
            assert r["url"] == f"http://ex.com/{i}"
            assert r["http_status"] == 200
            assert r["content_type"] == "text/html"
            assert r["payload"] == f"<html>doc {i}</html>".encode()
    # same-path rewrite is byte-identical (mtime=0, md5 record ids)
    a = open("/tmp/warc_rt_test.warc.gz", "rb").read()
    write_warc("/tmp/warc_rt_test.warc.gz", recs, gzip_members=True)
    assert a == open("/tmp/warc_rt_test.warc.gz", "rb").read()
    # truncated payload fails loudly, never silently drops the tail
    import pytest

    with pytest.raises(ValueError):
        list(iter_warc_records(io.BytesIO(recs[0][: len(recs[0]) // 2])))


def test_warc_datasource_parallel_read(spark, tmp_path):
    from pyspark.sql import functions as F

    from ihop_reddit_spark.sources.warc import (
        WarcDataSource,
        warc_record_bytes,
        write_warc,
    )

    spark.dataSource.register(WarcDataSource)
    d = tmp_path / "crawl"
    d.mkdir()
    write_warc(
        str(d / "a.warc.gz"),
        [warc_record_bytes("http://ex.com/1", b"<p>one</p>"),
         warc_record_bytes("http://ex.com/2", b"<p>two</p>", status=404)],
    )
    write_warc(
        str(d / "b.warc"),
        [warc_record_bytes("http://ex.com/3", b"<p>three</p>")],
        gzip_members=False,
    )
    df = spark.read.format("warc").option("path", str(d)).load()
    # one planner task per file (gzip members stream but don't split)
    assert df.rdd.getNumPartitions() == 2
    got = df.where(F.col("record_type") == "response").collect()
    by_url = {r["url"]: r for r in got}
    assert set(by_url) == {f"http://ex.com/{i}" for i in (1, 2, 3)}
    assert by_url["http://ex.com/2"]["http_status"] == 404
    assert bytes(by_url["http://ex.com/3"]["payload"]) == b"<p>three</p>"
    # warcinfo head records ride along with NULL url/status
    infos = df.where(F.col("record_type") == "warcinfo").collect()
    assert len(infos) == 2
    assert all(r["url"] is None and r["http_status"] is None for r in infos)


# ---------------------------------------------------------------------------
# Versioned manifest tables (sources/manifest)
# ---------------------------------------------------------------------------
def test_manifest_snapshot_changes_and_time_travel(spark, tmp_path):
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    assert M.manifest_init(root) == 0
    df1 = spark.range(0, 10).withColumn("v", F.col("id") * 2)
    df2 = spark.range(10, 25).withColumn("v", F.col("id") * 2)
    assert M.manifest_append(df1.repartition(3), root) == 1
    assert M.manifest_append(df2.repartition(2), root) == 2

    assert M.read_snapshot(spark, root, 1).count() == 10
    assert M.read_snapshot(spark, root).count() == 25
    # incremental grain: exactly the rows that became live in (1, 2]
    assert sorted(
        r["id"] for r in M.read_changes(spark, root, 1).collect()
    ) == list(range(10, 25))
    assert M.read_changes(spark, root, 2).count() == 0
    # double-init and schema drift fail loudly
    with pytest.raises(FileExistsError):
        M.manifest_init(root)
    with pytest.raises(ValueError, match="does not match table schema"):
        M.manifest_append(spark.range(3), root)


def test_manifest_delete_rewrites_only_hit_files(spark, tmp_path):
    import hashlib
    import os

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    # batch 1: ids 0..9 (contains multiples of 5); batch 2: 11..19 skipping
    # multiples of 5 — batch 2's files must survive BYTE-identical
    M.manifest_append(spark.range(0, 10).repartition(2), root)
    clean = spark.range(11, 20).where(F.col("id") % 5 != 0)
    M.manifest_append(clean.repartition(2), root)

    before = {
        f: hashlib.md5(open(os.path.join(root, f), "rb").read()).hexdigest()
        for f in M.live_files(root)
    }
    v3, n_rw = M.manifest_delete_where(spark, root, F.col("id") % 5 == 0)
    doc = M.read_version_doc(root, v3)
    assert n_rw == len(doc["removed"]) > 0
    # only batch-1 files were touched
    assert all(f.startswith("data/b00000001-") for f in doc["removed"])
    untouched = [f for f in before if f not in set(doc["removed"])]
    assert untouched
    for f in untouched:
        assert (
            hashlib.md5(open(os.path.join(root, f), "rb").read()).hexdigest()
            == before[f]
        )
    got = sorted(r["id"] for r in M.read_snapshot(spark, root).collect())
    assert got == [i for i in range(20) if i % 5 != 0 and i != 10]
    # deleting nothing is a no-op version-wise
    v_same, n0 = M.manifest_delete_where(spark, root, F.col("id") < 0)
    assert (v_same, n0) == (v3, 0)
    # a NULL-evaluating predicate keeps rows (never silently drops)
    v4, _ = M.manifest_delete_where(
        spark, root, F.when(F.col("id") == 1, True)
    )
    assert sorted(r["id"] for r in M.read_snapshot(spark, root).collect()) == [
        i for i in range(20) if i % 5 != 0 and i not in (1, 10)
    ]


def test_manifest_compact_vacuum_and_commit_race(spark, tmp_path):
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 10).repartition(4), root)
    M.manifest_append(spark.range(10, 20).repartition(4), root)
    before = sorted(r["id"] for r in M.read_snapshot(spark, root).collect())

    v3 = M.manifest_compact(spark, root, target_files=1)
    assert len(M.live_files(root)) == 1
    assert sorted(r["id"] for r in M.read_snapshot(spark, root).collect()) == before
    # pre-compaction layout still time-travels
    assert sorted(r["id"] for r in M.read_snapshot(spark, root, 2).collect()) == before

    # losing a version race raises ConcurrentCommitError
    doc = M.read_version_doc(root, v3)
    with pytest.raises(M.ConcurrentCommitError):
        M._commit_version(root, doc)

    # vacuum drops pre-horizon versions + their unreferenced files, but
    # the checkpointed base still reads the SAME data
    n_del = M.manifest_vacuum(root, keep_from_version=v3)
    assert n_del == 8  # the two 4-file batches
    assert M.list_versions(root) == [v3]
    assert M.read_version_doc(root, v3)["operation"] == "checkpoint"
    assert sorted(r["id"] for r in M.read_snapshot(spark, root).collect()) == before
    # appends continue on top of the checkpoint
    M.manifest_append(spark.range(20, 23), root)
    assert M.read_snapshot(spark, root).count() == 23


def test_manifest_stats_pruning_skips_files_conservatively(spark, tmp_path):
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    # range-partitioned batches → tight per-file id ranges
    M.manifest_append(
        spark.range(0, 100).repartitionByRange(4, "id"), root
    )
    M.manifest_append(
        spark.range(100, 200).repartitionByRange(4, "id"), root
    )
    files = M.live_files(root)
    stats = M.live_file_stats(root)
    assert len(files) == 8 and all(stats[f].get("id") for f in files)

    pruned = M._prune_files(files, stats, {"id": (150, 160)})
    assert 0 < len(pruned) < len(files)
    # pruning is an I/O optimization only: pruned read + real filter ==
    # full read + real filter
    full = sorted(
        r["id"]
        for r in M.read_snapshot(spark, root)
        .where(F.col("id").between(150, 160))
        .collect()
    )
    fast = sorted(
        r["id"]
        for r in M.read_snapshot(spark, root, prune={"id": (150, 160)})
        .where(F.col("id").between(150, 160))
        .collect()
    )
    assert full == fast == list(range(150, 161))
    # files without stats are always kept
    assert M._prune_files(["x"], {"x": {}}, {"id": (0, 1)}) == ["x"]
    # open-ended bounds
    assert M._prune_files(files, stats, {"id": (None, -1)}) == []
    assert len(M._prune_files(files, stats, {"id": (190, None)})) == 1
    # stats survive compaction and the vacuum checkpoint
    v = M.manifest_compact(spark, root, target_files=2)
    M.manifest_vacuum(root, keep_from_version=v)
    stats2 = M.live_file_stats(root)
    assert all(s.get("id") for s in stats2.values())
    assert sorted(
        r["id"]
        for r in M.read_snapshot(spark, root, prune={"id": (5, 7)})
        .where(F.col("id").between(5, 7))
        .collect()
    ) == [5, 6, 7]


def test_manifest_additive_schema_and_clustered_compaction(spark, tmp_path):
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 50).withColumn("v", F.col("id") * 2), root)
    widened = (
        spark.range(50, 100)
        .withColumn("v", F.col("id") * 2)
        .withColumn("extra", F.col("id") + 1)
    )
    # strict append refuses; additive accepts
    with pytest.raises(ValueError, match="allow_additive"):
        M.manifest_append(widened, root)
    M.manifest_append(widened, root, allow_additive=True)

    head = M.read_snapshot(spark, root)
    assert set(head.columns) == {"id", "v", "extra"}
    rows = {r["id"]: r["extra"] for r in head.collect()}
    assert rows[10] is None and rows[60] == 61  # old files read NULL
    # time travel surfaces the narrower v1 schema
    assert set(M.read_snapshot(spark, root, 1).columns) == {"id", "v"}
    # dropping an existing column is NOT additive
    with pytest.raises(ValueError, match="allow_additive"):
        M.manifest_append(
            spark.range(3).withColumn("extra", F.lit(1)),
            root,
            allow_additive=True,
        )

    # clustered compaction: data no-op, and file skipping now bites
    before = sorted((r["id"], r["v"], r["extra"]) for r in head.collect())
    M.manifest_compact(spark, root, target_files=4, cluster_by=["id"])
    after_snap = M.read_snapshot(spark, root)
    after = sorted((r["id"], r["v"], r["extra"]) for r in after_snap.collect())
    assert before == after
    files = M.live_files(root)
    stats = M.live_file_stats(root)
    assert len(files) == 4
    pruned = M._prune_files(files, stats, {"id": (10, 12)})
    assert len(pruned) == 1  # tight disjoint ranges after clustering

    # 2-column Morton clustering is also a data no-op
    M.manifest_compact(
        spark, root, target_files=4, cluster_by=["id", "v"], zorder_bits=7
    )
    assert sorted(
        (r["id"], r["v"], r["extra"])
        for r in M.read_snapshot(spark, root).collect()
    ) == before


def test_manifest_deletion_vectors_merge_on_read(spark, tmp_path):
    """Row-level deletes write POSITIONS, not rewritten files: data
    files stay byte-identical after manifest_delete_rows; reads,
    time travel, changes-since, and re-deletes all honor the vectors;
    materialization rewrites ONLY the affected files."""
    import os

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    # range-partitioned so file → id range is known: one file will have
    # no deleted rows and must survive materialization untouched
    M.manifest_append(
        spark.range(0, 90)
        .withColumn("v", F.col("id") * 3)
        .repartitionByRange(3, "id"),
        root,
    )
    data_files_before = M.live_files(root)
    mtimes = {
        f: os.path.getmtime(os.path.join(root, f)) for f in data_files_before
    }

    v, n = M.manifest_delete_rows(spark, root, F.col("id") < 30)
    assert (v, n) == (2, 30)
    # merge-on-read: same live data files, byte-untouched
    assert M.live_files(root) == data_files_before
    assert all(
        os.path.getmtime(os.path.join(root, f)) == mtimes[f]
        for f in data_files_before
    )
    assert sorted(r["id"] for r in M.read_snapshot(spark, root).collect()) \
        == list(range(30, 90))
    assert M.read_snapshot(spark, root, 1).count() == 90  # time travel
    # NULL-evaluating predicates keep rows; overlap is not re-counted
    v2, n2 = M.manifest_delete_rows(
        spark, root, F.when(F.col("id") < 40, True)
    )
    assert n2 == 10 and v2 == 3
    same_v, zero = M.manifest_delete_rows(spark, root, F.col("id") < 35)
    assert (same_v, zero) == (3, 0)  # all already deleted → no commit
    # changes-since applies vectors live at the range end
    assert M.read_changes(spark, root, 0, 3).count() == 50

    # metadata-only count is exact under live vectors; min/max refuses
    assert M.metadata_only_stats(root)["n_rows"] == 50
    with pytest.raises(ValueError, match="materialize"):
        M.metadata_only_stats(root, columns=["id"])

    mv, rewritten = M.manifest_materialize_deletes(spark, root)
    assert rewritten == 2  # the id>=60 file had no deletions
    untouched = [f for f in data_files_before if f in M.live_files(root)]
    assert len(untouched) == 1
    assert os.path.getmtime(os.path.join(root, untouched[0])) \
        == mtimes[untouched[0]]
    assert sorted(r["id"] for r in M.read_snapshot(spark, root).collect()) \
        == list(range(40, 90))
    # vectors retired: second materialize is a no-op, min/max serves
    assert M.manifest_materialize_deletes(spark, root) == (mv, 0)
    stats = M.metadata_only_stats(root, columns=["id", "v"])
    assert stats == {
        "n_rows": 50,
        "min": {"id": 40, "v": 120},
        "max": {"id": 89, "v": 267},
    }
    # time travel to the vectored layout still works pre-vacuum
    assert M.read_snapshot(spark, root, v2).count() == 50


def test_manifest_dv_interplay_with_other_operations(spark, tmp_path):
    """Vectors compose with file-targeted delete, compaction (which
    doubles as materialization), vacuum checkpointing, and tables whose
    own schema has file/pos columns."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    # adversarial schema: the table's own columns are named file/pos
    df = (
        spark.range(0, 60)
        .select(
            F.col("id"),
            F.concat(F.lit("f"), (F.col("id") % 5).cast("string")).alias(
                "file"
            ),
            (F.col("id") % 7).alias("pos"),
        )
        .repartitionByRange(3, "id")
    )
    M.manifest_append(df, root)
    M.manifest_delete_rows(spark, root, F.col("id") % 2 == 0)
    assert M.read_snapshot(spark, root).count() == 30
    # file-targeted delete on top of live vectors: survivors must
    # exclude vectored rows, and already-deleted rows don't trigger it
    v, n_rw = M.manifest_delete_where(spark, root, F.col("id") >= 40)
    # range boundaries come from sampling, so 1 or (rarely) 2 of the 3
    # files contain an id>=40 hit — never all three
    assert 1 <= n_rw <= 2
    got = sorted(r["id"] for r in M.read_snapshot(spark, root).collect())
    assert got == [i for i in range(40) if i % 2 == 1]
    # vacuum with vectors still live at the base checkpoint
    M.manifest_delete_rows(spark, root, F.col("id") == 5)
    base = M.latest_version(root)
    M.manifest_append(spark.range(100, 103).select(
        F.col("id"),
        F.lit("fx").alias("file"),
        F.lit(0).cast("long").alias("pos"),
    ), root)
    M.manifest_vacuum(root, keep_from_version=base)
    got = sorted(r["id"] for r in M.read_snapshot(spark, root).collect())
    assert got == [i for i in range(40) if i % 2 == 1 and i != 5] + [
        100,
        101,
        102,
    ]
    assert M.metadata_only_stats(root)["n_rows"] == len(got)
    # compaction retires the surviving vectors and is a data no-op
    M.manifest_compact(spark, root, target_files=1)
    assert M.live_dv_state(root) == ([], {})
    assert sorted(r["id"] for r in M.read_snapshot(spark, root).collect()) \
        == got


def test_manifest_bloom_equality_file_skipping(spark, tmp_path):
    """Per-file bloom filters prune equality probes: a present key scans
    a strict subset of files (still returning exactly its rows), an
    absent key scans zero files, plain appends inherit the table's bloom
    config, and rewrites + the vacuum checkpoint preserve skipping."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    keyed = lambda lo, hi: (  # noqa: E731
        spark.range(lo, hi)
        .select(
            F.concat(F.lit("k"), F.col("id")).alias("k"),
            F.col("id").alias("n"),
        )
        .repartition(3)
    )
    M.manifest_append(
        keyed(0, 3000), root, bloom_columns=["k"], bloom_bits=1 << 14,
        bloom_hashes=5,
    )
    # no bloom_columns: inherits the live config
    M.manifest_append(keyed(3000, 6000), root)
    files = M.live_files(root)
    blooms = M.live_file_blooms(root)
    assert len(files) == 6 and all(blooms[f].get("k") for f in files)

    kept = M._prune_files_eq(spark, files, blooms, {"k": "k1234"})
    assert 0 < len(kept) < len(files)
    got = (
        M.read_snapshot(spark, root, prune_eq={"k": "k1234"})
        .where(F.col("k") == "k1234")
        .collect()
    )
    assert [(r["k"], r["n"]) for r in got] == [("k1234", 1234)]
    # an absent key prunes every file (true negative — m sized for ~1k
    # distinct per file, so a stray false positive is the rare exception,
    # and correctness never depends on it)
    assert (
        M.read_snapshot(spark, root, prune_eq={"k": "nope"})
        .where(F.col("k") == "nope")
        .count()
        == 0
    )
    # missing blooms / None probe values keep the file
    assert M._prune_files_eq(spark, ["x"], {"x": {}}, {"k": "v"}) == ["x"]
    assert M._prune_files_eq(spark, files, blooms, {"k": None}) == files

    # IN-list form (r9): a file is kept iff ANY listed value is admitted;
    # an all-absent list prunes everything; the batched probe agrees with
    # the single-value path; empty list = no constraint
    kept_in = M._prune_files_eq(
        spark, files, blooms, {"k": ["k1234", "k5555"]}
    )
    assert set(kept_in) >= set(kept) and 0 < len(kept_in) < len(files)
    assert M._prune_files_eq(spark, files, blooms, {"k": ["no1", "no2"]}) == []
    assert M._prune_files_eq(spark, files, blooms, {"k": []}) == files
    assert M._probe_bloom_bits_many(
        spark, ["k1234"], blooms[files[0]]["k"]["m"], blooms[files[0]]["k"]["k"]
    )["k1234"] == M._probe_bloom_bits(
        spark, "k1234", blooms[files[0]]["k"]["m"], blooms[files[0]]["k"]["k"]
    )
    got_in = (
        M.read_snapshot(spark, root, prune_eq={"k": ["k1234", "k5555"]})
        .where(F.col("k").isin("k1234", "k5555"))
        .collect()
    )
    assert sorted((r["k"], r["n"]) for r in got_in) == [
        ("k1234", 1234), ("k5555", 5555)
    ]

    # deletion vectors only ADD false positives — reads stay correct
    M.manifest_delete_rows(spark, root, F.col("n") == 1234)
    assert (
        M.read_snapshot(spark, root, prune_eq={"k": "k1234"})
        .where(F.col("k") == "k1234")
        .count()
        == 0
    )
    # compaction rebuilds blooms for the rewritten files
    v = M.manifest_compact(spark, root, target_files=2)
    assert all(b.get("k") for b in M.live_file_blooms(root).values())
    # vacuum checkpoint carries them
    M.manifest_vacuum(root, keep_from_version=v)
    assert all(b.get("k") for b in M.live_file_blooms(root).values())
    assert (
        M.read_snapshot(spark, root, prune_eq={"k": "k5555"})
        .where(F.col("k") == "k5555")
        .count()
        == 1
    )


def test_manifest_dv_free_read_has_no_join(spark, tmp_path):
    """The zero-overhead claim: a snapshot read of a table with no live
    vectors plans as a plain parquet scan — no join, no metadata
    columns."""
    from ihop_reddit_spark.sources import manifest as M

    import io
    from contextlib import redirect_stdout

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 10), root)
    plan = plan_of(M.read_snapshot(spark, root))
    assert "Join" not in plan and "row_index" not in plan
    # and with vectors live, the anti-join appears
    M.manifest_delete_rows(spark, root, F.col("id") == 0)
    plan2 = plan_of(M.read_snapshot(spark, root))
    assert "LeftAnti" in plan2


def test_manifest_auto_optimize_policy(spark, tmp_path):
    """Thresholded maintenance: below thresholds → no commit (idempotent
    under cron); a heavy delete trips materialization; small-file
    pressure trips compaction; data-visible content is a no-op."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 100).repartition(4), root)
    head = M.latest_version(root)

    # nothing trips → no new version
    r = M.manifest_auto_optimize(spark, root, max_files=64)
    assert r == {"materialized": 0, "compacted": False, "version": head}

    # a small vectored delete (5%) stays merge-on-read...
    M.manifest_delete_rows(spark, root, F.col("id") < 5)
    r = M.manifest_auto_optimize(
        spark, root, max_files=64, max_deleted_fraction=0.2
    )
    assert r["materialized"] == 0 and M.live_dv_state(root)[1]
    # ...a heavy one (now 30%) trips materialization
    M.manifest_delete_rows(spark, root, F.col("id") < 30)
    r = M.manifest_auto_optimize(
        spark, root, max_files=64, max_deleted_fraction=0.2
    )
    assert r["materialized"] > 0 and M.live_dv_state(root) == ([], {})
    assert sorted(x["id"] for x in M.read_snapshot(spark, root).collect()) \
        == list(range(30, 100))

    # small-file pressure trips compaction
    for lo in range(100, 140, 10):
        M.manifest_append(spark.range(lo, lo + 10).repartition(3), root)
    before = sorted(
        x["id"] for x in M.read_snapshot(spark, root).collect()
    )
    r = M.manifest_auto_optimize(
        spark, root, max_files=6, target_files=2
    )
    assert r["compacted"] and len(M.live_files(root)) == 2
    assert sorted(
        x["id"] for x in M.read_snapshot(spark, root).collect()
    ) == before


def test_manifest_merge_upsert_atomic(spark, tmp_path):
    """One commit replaces matched keys (as a deletion vector) and
    appends the update batch — readers see pre- or post-merge, never a
    half-applied state; untouched files stay byte-identical."""
    import os

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    base = spark.range(0, 50).select(
        F.col("id"), (F.col("id") * 10).alias("v")
    )
    M.manifest_append(base.repartitionByRange(2, "id"), root)
    files_before = M.live_files(root)
    mtimes = {
        f: os.path.getmtime(os.path.join(root, f)) for f in files_before
    }

    updates = spark.range(40, 60).select(
        F.col("id"), (F.col("id") * 1000).alias("v")
    )
    v, n_rep, n_app = M.manifest_merge_upsert(spark, root, updates, "id")
    assert (v, n_rep, n_app) == (2, 10, 20)
    # merge is ONE version; old data files untouched
    assert M.latest_version(root) == 2
    assert all(
        os.path.getmtime(os.path.join(root, f)) == mtimes[f]
        for f in files_before
    )
    got = {r["id"]: r["v"] for r in M.read_snapshot(spark, root).collect()}
    assert len(got) == 60
    assert got[10] == 100 and got[45] == 45000 and got[55] == 55000
    # time travel to pre-merge
    pre = {r["id"]: r["v"] for r in M.read_snapshot(spark, root, 1).collect()}
    assert pre[45] == 450 and 55 not in pre
    # metadata count stays exact under the merge's vectors
    assert M.metadata_only_stats(root)["n_rows"] == 60
    # a second merge on already-updated keys replaces the NEW copies
    v2, n_rep2, n_app2 = M.manifest_merge_upsert(
        spark, root, spark.range(55, 62).select(
            F.col("id"), F.lit(7).cast("long").alias("v")
        ), "id",
    )
    assert n_rep2 == 5 and n_app2 == 7
    got2 = {r["id"]: r["v"] for r in M.read_snapshot(spark, root).collect()}
    assert len(got2) == 62 and got2[55] == 7 and got2[61] == 7
    # an insert-only merge writes no vector commit fields
    v3, n_rep3, _ = M.manifest_merge_upsert(
        spark, root, spark.range(100, 103).select(
            F.col("id"), F.lit(0).cast("long").alias("v")
        ), "id",
    )
    assert n_rep3 == 0
    assert M.read_version_doc(root, v3)["dv_added"] == []
    # schema drift is refused like any append
    with pytest.raises(ValueError, match="schema"):
        M.manifest_merge_upsert(
            spark, root, spark.range(3).select(F.col("id")), "id"
        )


def test_manifest_change_feed_inserts_and_deletes(spark, tmp_path):
    """Row-level change feed: range-appended rows as inserts (end-state
    vectors applied), vector-deleted rows as deletes with their full
    content; a row inserted AND deleted within the range nets out."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    base = spark.range(0, 40).select(
        F.col("id"), (F.col("id") * 10).alias("v")
    )
    M.manifest_append(base.repartitionByRange(2, "id"), root)  # v1
    # v2: merge — replaces ids 30..39, inserts 100..109
    updates = spark.range(30, 40).select(
        F.col("id"), F.lit(-1).cast("long").alias("v")
    ).unionByName(
        spark.range(100, 110).select(
            F.col("id"), (F.col("id") * 10).alias("v")
        )
    )
    M.manifest_merge_upsert(spark, root, updates, "id")
    # v3: vector-delete ids % 7 == 0 (hits seed rows AND range-added)
    M.manifest_delete_rows(spark, root, F.col("id") % 7 == 0)

    feed = M.read_change_feed(spark, root, 1).collect()
    ins = {(r["id"], r["v"]) for r in feed if r["_change_type"] == "insert"}
    del_ = {(r["id"], r["v"]) for r in feed if r["_change_type"] == "delete"}
    # inserts: the update batch minus rows vector-deleted within range
    want_ins = {(i, -1) for i in range(30, 40) if i % 7 != 0} | {
        (i, i * 10) for i in range(100, 110) if i % 7 != 0
    }
    # deletes: seed rows replaced by the merge (with ORIGINAL content)
    # plus surviving seed rows hit by the %7 delete
    want_del = {(i, i * 10) for i in range(30, 40)} | {
        (i, i * 10) for i in range(0, 30) if i % 7 == 0
    }
    assert ins == want_ins
    assert del_ == want_del
    # a consumer applying the feed to the v1 snapshot lands on the head
    v1 = {(r["id"], r["v"]) for r in M.read_snapshot(spark, root, 1).collect()}
    head = {(r["id"], r["v"]) for r in M.read_snapshot(spark, root).collect()}
    assert (v1 - want_del) | want_ins == head
    # empty range → inserts only, none
    assert M.read_change_feed(spark, root, M.latest_version(root)).count() == 0


def test_manifest_changes_skip_rewrites(spark, tmp_path):
    """A rewrite (compact/materialize) inside a changes-since range is a
    data no-op: it neither re-emits the table as inserts nor evicts
    range-appended files from the feed, and range-committed deletion
    vectors keep applying even after an in-range rewrite retires them
    (retirement folds deletes into data — it never resurrects rows)."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 50), root)  # v1 — archive
    # compaction alone in the range used to re-feed the whole archive
    M.manifest_compact(spark, root, target_files=1)  # v2
    assert M.read_changes(spark, root, 1).count() == 0
    assert M.read_change_feed(spark, root, 1).count() == 0

    M.manifest_append(spark.range(50, 70), root)  # v3
    # v4: vector-delete some archive AND some range-appended rows
    M.manifest_delete_rows(spark, root, F.col("id").isin(10, 55, 60))
    # v5: compact — folds the vectors, retires them from live state
    M.manifest_compact(spark, root, target_files=1)
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    # range inserts = v3's rows minus its vector-deleted ones; the
    # archive (v1, rewritten twice inside the range) never re-appears
    assert got == [i for i in range(50, 70) if i not in (55, 60)]
    # head is consistent throughout
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == [i for i in range(70) if i not in (10, 55, 60)]
    # a range below the vacuum/retention horizon fails loudly
    M.manifest_vacuum(root, keep_from_version=3)
    with pytest.raises(ValueError, match="oldest retained"):
        M.read_changes(spark, root, 1)


def test_manifest_changes_delete_where_in_range(spark, tmp_path):
    """An in-range ``manifest_delete_where`` hitting an ARCHIVE file
    (live before the range) removes nothing from the feed and never
    re-emits its survivor rewrites (pre-range data; appending them
    would double-process downstream). Hitting a wholly RANGE-NEW file
    stays row-exact: the hit file exits and its survivors — rows that
    became live in the range and are live at its end — are emitted."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 50).coalesce(1), root)  # v1 archive
    M.manifest_append(spark.range(50, 70).coalesce(1), root)  # v2 range
    # v3: delete hits ONLY the archive file; 5..49 survive via rewrite
    M.manifest_delete_where(spark, root, F.col("id") < 5)
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    # feed = v2's rows only; archive survivors are NOT re-emitted
    assert got == list(range(50, 70))
    # the GDPR delete is replayed row-exactly on the feed's delete side
    # (rows 0..4 were visible at since_version) via its dv_matched vector
    feed = M.read_change_feed(spark, root, 1).collect()
    assert sorted(
        r["id"] for r in feed if r["_change_type"] == "insert"
    ) == list(range(50, 70))
    assert sorted(
        r["id"] for r in feed if r["_change_type"] == "delete"
    ) == list(range(5))
    # head remains consistent
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == list(range(5, 70))

    # v4: delete hits the RANGE-APPENDED file — row-exact: survivors
    # became live in the range and are still live at its end
    M.manifest_delete_where(spark, root, F.col("id") == 55)
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    assert got == [i for i in range(50, 70) if i != 55]
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == [i for i in range(5, 70) if i != 55]


def test_manifest_changes_rewrite_then_delete_in_range(spark, tmp_path):
    """Rewrite indirection must not defeat delete tracking: a range
    append compacted into a new file which an in-range delete then
    hits. Pure case (table born in the range): the feed follows the
    rewrite, so the delete evicts the rewritten file and emits its
    survivors — row-exact. Mixed case (compaction folded archive files
    in): the co-located range rows exit at file grain, and the DELETED
    rows are never emitted as inserts."""
    from ihop_reddit_spark.sources import manifest as M

    # --- pure: every compaction input is range-new ---
    root = str(tmp_path / "pure")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 50).coalesce(1), root)  # v1
    M.manifest_append(spark.range(50, 70).coalesce(1), root)  # v2
    M.manifest_compact(spark, root, target_files=1)  # v3: pure rewrite
    M.manifest_delete_where(spark, root, F.col("id") < 10)  # v4 hits it
    got = sorted(r["id"] for r in M.read_changes(spark, root, 0).collect())
    assert got == list(range(10, 70))
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == list(range(10, 70))

    # --- mixed: compaction folds an archive file into the hit file ---
    root = str(tmp_path / "mixed")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 50).coalesce(1), root)  # v1 archive
    M.manifest_append(spark.range(100, 120).coalesce(1), root)  # v2 range
    M.manifest_compact(spark, root, target_files=1)  # v3: mixed rewrite
    M.manifest_delete_where(spark, root, F.col("id") == 105)  # v4
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    # the deleted row is NOT emitted; the range rows co-located in the
    # mixed hit file exit at file grain (documented boundary) — never
    # over-emit, never replay archive rows
    assert got == []
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == [i for i in range(50)] + [i for i in range(100, 120) if i != 105]


def test_manifest_changes_delete_optimize_append_in_range(spark, tmp_path):
    """delete → compact → append composed inside ONE range: the feed
    equals exactly the range-new rows live at range end — the delete's
    survivors (row-exact, pure hit file), not re-emitted by the mixed
    compaction, plus the tail append."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 50).coalesce(1), root)  # v1 archive
    M.manifest_append(spark.range(50, 70).coalesce(1), root)  # v2 range
    M.manifest_delete_where(spark, root, F.col("id") == 55)  # v3
    M.manifest_compact(spark, root, target_files=1)  # v4: mixed rewrite
    M.manifest_append(spark.range(70, 80).coalesce(1), root)  # v5
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    assert got == [i for i in range(50, 80) if i != 55]
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == [i for i in range(80) if i != 55]


def test_manifest_changes_mixed_direct_delete_is_row_exact(spark, tmp_path):
    """ONE delete hitting an archive file AND a range-appended file
    simultaneously: the dv_matched vector keeps the range file in the
    feed minus exactly its deleted rows (previously the whole file
    exited at file grain), and the change feed replays the
    archive-visible matches as delete rows — fully row-exact both sides."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 50).coalesce(1), root)  # v1 archive
    M.manifest_append(spark.range(50, 70).coalesce(1), root)  # v2 range
    # v3: id % 20 == 3 hits rows in BOTH files (3,23,43 | 63)
    M.manifest_delete_where(spark, root, F.col("id") % 20 == 3)
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    assert got == [i for i in range(50, 70) if i != 63]
    feed = M.read_change_feed(spark, root, 1).collect()
    assert sorted(
        r["id"] for r in feed if r["_change_type"] == "insert"
    ) == [i for i in range(50, 70) if i != 63]
    # only matches visible at since_version appear as deletes (63 nets out)
    assert sorted(
        r["id"] for r in feed if r["_change_type"] == "delete"
    ) == [3, 23, 43]
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == [i for i in range(70) if i % 20 != 3]
    # vacuum keeps the matched vectors of retained delete commits: the
    # same feed reconstructs after dropping pre-range history
    M.manifest_vacuum(root, keep_from_version=1)
    assert sorted(
        r["id"] for r in M.read_changes(spark, root, 1).collect()
    ) == [i for i in range(50, 70) if i != 63]


def test_manifest_changes_dv_after_pure_rewrite(spark, tmp_path):
    """Deletion vectors committed AFTER an in-range pure rewrite use
    the rewritten file's coordinates; because the feed follows pure
    rewrites, those vectors land on the scanned files and the deleted
    rows are correctly absent. Vectors folded by the rewrite stay
    applied (retirement never resurrects rows)."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 20).coalesce(1), root)  # v1
    M.manifest_delete_rows(spark, root, F.col("id") == 3)  # v2 dv
    M.manifest_compact(spark, root, target_files=1)  # v3 folds the dv
    M.manifest_delete_rows(spark, root, F.col("id") == 7)  # v4 dv on B
    got = sorted(r["id"] for r in M.read_changes(spark, root, 0).collect())
    assert got == [i for i in range(20) if i not in (3, 7)]
    assert M.read_snapshot(spark, root).count() == 18


def test_manifest_stage_race_two_writers(spark, tmp_path):
    """Two writers racing on the same head+1 stage into DISTINCT
    directories — the loser's cleanup cannot touch the winner's files,
    and after a retry both appends are visible."""
    import threading

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 10), root)  # v1

    # deterministic variant: two transactions on the same snapshot
    # stage at version 2, then both commit
    d_a = spark.range(100, 110)
    d_b = spark.range(200, 210)
    snap = M._snapshot(root)
    txn_a, txn_b = M._Txn(snap, spark), M._Txn(snap, spark)
    dir_a, files_a = txn_a.stage(d_a)
    dir_b, files_b = txn_b.stage(d_b)
    assert dir_a != dir_b  # unique per-writer stage dirs
    assert all(os.path.exists(os.path.join(root, f)) for f in files_a + files_b)
    with txn_a:
        txn_a.commit("append", added=files_a, schema=d_a.schema)
    with pytest.raises(M.ConcurrentCommitError), txn_b:
        txn_b.commit("append", added=files_b, schema=d_b.schema)
    # loser cleaned up its own stage; winner's files are intact
    assert not os.path.exists(os.path.join(root, dir_b))
    assert all(os.path.exists(os.path.join(root, f)) for f in files_a)
    assert sorted(
        r["id"] for r in M.read_changes(spark, root, 1).collect()
    ) == list(range(100, 110))

    # threaded variant: concurrent manifest_append with retry-on-loss
    errs, done = [], []

    def writer(lo, hi):
        for _ in range(5):
            try:
                M.manifest_append(spark.range(lo, hi), root)
                done.append((lo, hi))
                return
            except M.ConcurrentCommitError:
                continue
        errs.append((lo, hi))

    t1 = threading.Thread(target=writer, args=(300, 310))
    t2 = threading.Thread(target=writer, args=(400, 410))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs and len(done) == 2
    got = sorted(r["id"] for r in M.read_snapshot(spark, root).collect())
    assert got == sorted(
        list(range(0, 10)) + list(range(100, 110))
        + list(range(300, 310)) + list(range(400, 410))
    )


def test_manifest_vacuum_preserves_stream_ids_and_dv_history(spark, tmp_path):
    """Vacuum's checkpoint doc must not lose the exactly-once stream
    replay guard (stream_batch_id of dropped ancestors) or writer-extra
    fields, and dv files referenced by retained docs stay readable for
    change-feed reads over retained ranges."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        spark.range(0, 30), root, extra={"stream_batch_id": 7}
    )  # v1
    M.manifest_append(
        spark.range(30, 60), root,
        extra={"stream_batch_id": 8, "lineage": "runA"},
    )  # v2
    M.manifest_delete_rows(spark, root, F.col("id").isin(5, 35))  # v3 dv
    M.manifest_materialize_deletes(spark, root)  # v4 — retires the dv

    assert M.committed_stream_batches(root) == {7, 8}
    M.manifest_vacuum(root, keep_from_version=2)
    # v1 was dropped, but its batch id survives in the checkpoint;
    # the base's own id and extra fields carry over verbatim
    assert M.committed_stream_batches(root) == {7, 8}
    base_doc = M.read_version_doc(root, 2)
    assert base_doc["operation"] == "checkpoint"
    assert base_doc["lineage"] == "runA"
    # v3's dv files survive vacuum (referenced by a retained doc) even
    # though v4 retired them from live state → the change feed over the
    # retained range still reconstructs the deletes with full content
    feed = M.read_change_feed(spark, root, 2).collect()
    dels = {(r["id"],) for r in feed if r["_change_type"] == "delete"}
    assert dels == {(5,), (35,)}
    assert M.read_snapshot(spark, root).count() == 58


@pytest.mark.slow
def test_manifest_compact_small_bin_packs_only_small_files(spark, tmp_path):
    """Partial compaction: files under the size threshold bin-pack into
    fewer outputs, large files stay byte-identical, vectored files are
    left for materialize_deletes, the snapshot is unchanged, and time
    travel still reaches the pre-compaction layout."""
    import os as _os

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    # v1: one LARGE file (high-entropy payload so parquet can't compress
    # it under the threshold), v2..v4: six tiny files
    big = spark.range(0, 20000).select(
        F.col("id"),
        F.concat(
            *(
                F.sha2(F.concat(F.col("id").cast("string"), F.lit(s)), 256)
                for s in "abcdefgh"
            )
        ).alias("pad"),
    )
    M.manifest_append(big.coalesce(1), root)
    for lo in (20000, 20040, 20080):
        M.manifest_append(
            spark.range(lo, lo + 40)
            .select("id", F.lit("y").alias("pad"))
            .repartition(2),
            root,
        )
    before_files = M.live_files(root)
    big_files = [
        f
        for f in before_files
        if _os.path.getsize(_os.path.join(root, f)) >= 1 << 20
    ]
    assert len(big_files) == 1 and len(before_files) == 7
    before = sorted(r["id"] for r in M.read_snapshot(spark, root).collect())
    head_before = M.latest_version(root)

    v, n = M.manifest_compact_small(
        spark, root, max_file_bytes=1 << 20, target_file_bytes=1 << 30
    )
    assert v == head_before + 1 and n == 6
    after_files = M.live_files(root)
    # the large file is untouched (same name, same bytes); the six small
    # files packed into one
    assert big_files[0] in after_files
    assert len(after_files) == 2
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == before
    # time travel reaches the pre-pack layout
    assert M.live_files(root, head_before) == before_files

    # a vectored small file is NOT packed (vector retirement is
    # materialize/compact's all-or-nothing job)
    M.manifest_append(
        spark.range(30000, 30040).select("id", F.lit("z").alias("pad")).repartition(2),
        root,
    )
    M.manifest_delete_rows(spark, root, F.col("id") == 30001)
    dv_files, dv_targets = M.live_dv_state(root)
    assert dv_targets
    v2, n2 = M.manifest_compact_small(
        spark, root, max_file_bytes=1 << 20, target_file_bytes=1 << 30
    )
    # only the non-vectored small files packed; the vectored target stayed
    assert set(dv_targets) <= set(M.live_files(root))
    assert sorted(r["id"] for r in M.read_snapshot(spark, root).collect()) == [
        i for i in before + list(range(30000, 30040)) if i != 30001
    ]
    # no-commit cases: nothing small enough / packing cannot reduce
    head = M.latest_version(root)
    assert M.manifest_compact_small(
        spark, root, max_file_bytes=1, target_file_bytes=1 << 30
    ) == (head, 0)


@pytest.mark.slow
def test_manifest_changes_segmented_compaction_row_exact(spark, tmp_path):
    """Bin-packing compaction records exact per-output SEGMENTS, so a
    MIXED rewrite no longer exits the feed at file grain: the feed scans
    the packed file restricted to its range-new position ranges, and a
    later delete_where / rowdelete against the packed file nets out
    row-exactly — the r9 residual boundary, closed."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 50).coalesce(1), root)  # v1 archive
    M.manifest_append(spark.range(100, 120).coalesce(1), root)  # v2 range
    M.manifest_append(spark.range(200, 230).coalesce(1), root)  # v3 range
    # v4: pack archive + range files into ONE output (mixed, segmented)
    v, n = M.manifest_compact_small(
        spark, root, max_file_bytes=1 << 30, target_file_bytes=1 << 30
    )
    assert n == 3
    doc = M.read_version_doc(root, v)
    assert doc["segments"]  # provenance recorded
    (out,) = doc["added"]
    assert [s[2] for s in doc["segments"][out]] == [50, 20, 30]
    # v5: delete hits the packed file across archive AND range rows
    M.manifest_delete_where(spark, root, F.col("id") % 10 == 5)
    want = [
        i
        for i in list(range(100, 120)) + list(range(200, 230))
        if i % 10 != 5
    ]
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    assert got == want  # row-exact: survivors of range rows only
    # v6: a deletion vector against the delete_where SURVIVOR file — its
    # rows are scanned via the packed original, whose coordinates the
    # vector cannot address. The feed must exit that lineage at file
    # grain (under-emission), NEVER emit the deleted row (over-emission)
    M.manifest_delete_rows(spark, root, F.col("id") == 101)
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    assert 101 not in got
    assert set(got) <= set(want)
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == [
        i
        for i in list(range(50)) + list(range(100, 120)) + list(range(200, 230))
        if i % 10 != 5 and i != 101
    ]
    # the change feed's delete side replays archive-visible matches
    feed = M.read_change_feed(spark, root, 1).collect()
    assert sorted(
        r["id"] for r in feed if r["_change_type"] == "delete"
    ) == [5, 15, 25, 35, 45]


def test_manifest_changes_segments_compose_across_packs(spark, tmp_path):
    """Two bin-packing generations compose: a segmented output packed
    again maps its range-new ranges through the second pack's segments
    (pure interval arithmetic), and a vector against the second output
    still nets row-exactly."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 40).coalesce(1), root)  # v1 archive
    M.manifest_append(spark.range(100, 130).coalesce(1), root)  # v2 range
    M.manifest_compact_small(
        spark, root, max_file_bytes=1 << 30, target_file_bytes=1 << 30
    )  # v3: O1 (segments: archive + range)
    M.manifest_append(spark.range(200, 210).coalesce(1), root)  # v4 range
    M.manifest_compact_small(
        spark, root, max_file_bytes=1 << 30, target_file_bytes=1 << 30
    )  # v5: O2 packs O1 + v4 (O1 self-addressed ranged)
    M.manifest_delete_rows(spark, root, F.col("id").isin(7, 105, 205))  # v6
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    assert got == [i for i in range(100, 130) if i != 105] + [
        i for i in range(200, 210) if i != 205
    ]
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == [
        i
        for i in list(range(40)) + list(range(100, 130)) + list(range(200, 210))
        if i not in (7, 105, 205)
    ]


def test_manifest_changes_vector_on_unsegmented_mixed_output(spark, tmp_path):
    """Over-emission regression: a deletion vector targeting a
    SEGMENT-LESS mixed rewrite output (full compact folding archive
    files in) addresses coordinates the feed's original-file scan cannot
    net — the feed must evict that lineage at file grain rather than
    silently emit the deleted row."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 50).coalesce(1), root)  # v1 archive
    M.manifest_append(spark.range(100, 120).coalesce(1), root)  # v2 range
    M.manifest_compact(spark, root, target_files=1)  # v3 mixed, no segments
    M.manifest_delete_rows(spark, root, F.col("id") == 105)  # v4 vector
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    assert 105 not in got  # never over-emit a deleted row
    assert set(got) <= {i for i in range(100, 120)}
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == [i for i in range(120) if i != 105 and not (50 <= i < 100)]


def test_manifest_changes_materialize_segments_row_exact(spark, tmp_path):
    """A MIXED materialize (vectors on archive AND range files folded in
    one commit) records whole-file-survivors segments, so the feed
    follows it at row grain: range survivors emitted exactly, archive
    rows never, and a LATER vector against the materialized output still
    nets out (coordinates line up because the feed scans the output)."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 50).coalesce(1), root)  # v1 archive
    M.manifest_append(spark.range(100, 130).coalesce(1), root)  # v2 range
    # v3: ONE vector delete hitting both files
    M.manifest_delete_rows(spark, root, F.col("id") % 10 == 4)
    # v4: materialize — mixed rewrite, segments with the -1 sentinel
    v, n = M.manifest_materialize_deletes(spark, root)
    assert n == 2
    doc = M.read_version_doc(root, v)
    assert doc["segments"]
    segs = next(iter(doc["segments"].values()))
    assert [s[1] for s in segs] == [-1, -1]  # whole-file survivors
    assert [s[2] for s in segs] == [45, 27]
    want = [i for i in range(100, 130) if i % 10 != 4]
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    assert got == want
    # v5: a vector against the MATERIALIZED output (the live file)
    M.manifest_delete_rows(spark, root, F.col("id") == 101)
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    assert got == [i for i in want if i != 101]
    # v6: bin-pack the materialized output with a fresh range append —
    # -1 segments compose through the second pack (whole-file source)
    M.manifest_append(spark.range(200, 210).coalesce(1), root)
    M.manifest_compact_small(
        spark, root, max_file_bytes=1 << 30, target_file_bytes=1 << 30
    )
    got = sorted(r["id"] for r in M.read_changes(spark, root, 1).collect())
    # the packed output's source ranges are PARTIAL for the materialized
    # file (a vector landed on it), and its segment is non-affine (-1) —
    # the feed must fall back to file grain for that subtree, never
    # resurrect 101 or emit archive rows
    assert 101 not in got
    assert all(i >= 100 for i in got)
    assert set(got) >= set(range(200, 210))
    snap = sorted(r["id"] for r in M.read_snapshot(spark, root).collect())
    assert snap == [
        i
        for i in list(range(50)) + list(range(100, 130))
        if i % 10 != 4 and i != 101
    ] + list(range(200, 210))  # appended after the vector delete


def test_manifest_version_doc_cache_returns_defensive_copies(spark, tmp_path):
    """A caller mutating the dict returned by read_version_doc (in-place
    append / key pop) must not poison the process-lifetime cache — every
    call, hit or fill, gets an independent structure."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 5), root)

    doc = M.read_version_doc(root, 1)
    doc["added"].append("junk/poison.parquet")
    doc.pop("row_counts", None)

    fresh = M.read_version_doc(root, 1)  # cache hit
    assert fresh is not doc
    assert "junk/poison.parquet" not in fresh["added"]
    assert "row_counts" in fresh
    # mutating the hit's copy is equally harmless
    fresh["added"].clear()
    assert M.read_version_doc(root, 1)["added"]


def test_manifest_segment_mismatch_removes_staged_dirs(
    spark, tmp_path, monkeypatch
):
    """When the post-staging segment/row-count consistency check fires,
    the staged (never-committed) output dirs must be deleted before the
    raise — vacuum only deletes files referenced by version docs, so a
    leaked stage would be permanent."""
    import os

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    for i in range(3):
        M.manifest_append(spark.range(i * 4, i * 4 + 4).repartition(1), root)
    data_dirs_before = set(os.listdir(os.path.join(root, "data")))

    real = M._stage_stats

    def corrupt_stats(path, added):
        stats, rc = real(path, added)
        return stats, {k: v + 1 for k, v in rc.items()}

    monkeypatch.setattr(M, "_stage_stats", corrupt_stats)
    with pytest.raises(ValueError, match="segment rows disagree"):
        M.manifest_compact_small(spark, root)
    # no orphaned stage directory survives the failure
    assert set(os.listdir(os.path.join(root, "data"))) == data_dirs_before
    monkeypatch.undo()
    # the table itself is untouched and still compacts cleanly
    v, n = M.manifest_compact_small(spark, root)
    assert n == 3
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == list(range(12))


def test_bloom_bits_python_matches_jvm(spark, tmp_path):
    """The driver-side bloom path (pure-Python XxHash64 mirror) must be
    BIT-identical to the JVM expressions it replaces — across the
    stripe path (>= 32 bytes), word/tail lengths, unicode, empty
    string, negative ints, and NULL — and a driver-built bloom doc must
    equal the distributed build byte-for-byte."""
    from ihop_reddit_spark.sources import manifest as M

    m, k = 1 << 17, 7
    values = [
        "", "a", "abcd", "abcdefg", "abcdefgh", "example7.com",
        "x" * 31, "x" * 32, "y" * 33, "z" * 100,
        "ünïcødé-ブロッサム", "http://www.example0.com/page123",
        0, 1, -7, 12345, 2**62, -(2**62), None,
    ]
    # JVM reference bits through the very expressions the build uses
    df = spark.createDataFrame(
        [(str(v) if v is not None else None,) for v in values], "v string"
    )
    jvm = [
        [int(b) for b in r["bits"]]
        for r in df.select(
            F.array(*M._bloom_position_cols("v", m, k)).alias("bits")
        ).collect()
    ]
    py = [M._bloom_bits_py(v, m, k) for v in values]
    assert py == jvm

    # whole-bitmap equivalence: driver build == distributed build
    df2 = spark.createDataFrame(
        [(i, f"dom{i % 5}.com" if i % 7 else None) for i in range(200)],
        "id long, dom string",
    )
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    rel, added = M._stage_batch(df2.repartition(3), root, 1)
    drv = M._build_blooms_driver(root, added, ["dom", "id"], m, k)
    assert drv is not None
    cap = M._BLOOM_DRIVER_MAX_ROWS
    try:
        M._BLOOM_DRIVER_MAX_ROWS = -1  # force the distributed pass
        dist = M._build_blooms(spark, root, added, ["dom", "id"], m, k)
    finally:
        M._BLOOM_DRIVER_MAX_ROWS = cap
    assert drv == dist
    # a float column refuses the driver path (cast formatting diverges)
    df3 = spark.createDataFrame([(1.5,)], "x double")
    rel3, added3 = M._stage_batch(df3, root, 2)
    assert M._build_blooms_driver(root, added3, ["x"], m, k) is None


def test_manifest_changes_vector_on_delete_survivor_row_exact(spark, tmp_path):
    """The r10 file-grain boundary, closed: a deletion vector aimed at a
    DELETE-SURVIVOR file (whose range rows the feed scans via the
    immutable originals) is re-addressed to source coordinates through
    the delete commit's order-pinned segments — the feed stays
    row-exact instead of evicting the survivor's lineage wholesale."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 10).repartition(2), root)  # v1 archive
    since = 1
    M.manifest_append(spark.range(10, 20).repartition(2), root)  # v2 range
    # v3: mixed-hit GDPR delete (multiples of 5 live in archive AND
    # range files) → row-exact path, survivor rewrite records segments
    v3, n_rw = M.manifest_delete_where(spark, root, F.col("id") % 5 == 0)
    doc3 = M.read_version_doc(root, v3)
    assert doc3.get("segments"), "delete commit must record segments"
    assert set(doc3["segments"]) == set(doc3["added"])
    # v4: row-level vector aimed at the live SURVIVOR file(s)
    keys = spark.createDataFrame([(11,), (16,), (3,)], "id long")
    v4, n_del = M.manifest_delete_rows(spark, root, keys=keys, on="id")
    assert n_del == 3
    # feed: range-new rows still live = 10..19 minus where-deleted
    # (10, 15) minus vectored (11, 16); the pre-range vector hit (3)
    # must not leak in
    got = sorted(r["id"] for r in M.read_changes(spark, root, since).collect())
    assert got == [12, 13, 14, 17, 18, 19]
    # the snapshot agrees (sanity: translation never touches live reads)
    snap = sorted(r["id"] for r in M.read_snapshot(spark, root).collect())
    assert snap == [
        i for i in range(20) if i % 5 != 0 and i not in (3, 11, 16)
    ]
    # change feed: deletes replay the where-matches AND the vectored
    # rows that were visible at `since`; 11/16 (range-new, netted) are
    # inserts-side removals, not deletes
    feed = M.read_change_feed(spark, root, since)
    dels = sorted(
        r["id"] for r in feed.where(F.col("_change_type") == "delete").collect()
    )
    assert dels == [0, 3, 5]


def test_manifest_changes_vector_on_materialize_fallback_row_exact(
    spark, tmp_path
):
    """Chained case: a segmented compaction leaves RANGED outputs, a
    materialize folds a vector over them (partial ranges over
    whole-file-survivors segments → the feed keeps scanning the
    compaction outputs), and a LATER vector aimed at the materialize
    output must still net row-exactly via the recorded segments +
    folded-vector re-ranking."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 10).coalesce(1), root)  # v1 archive
    since = 1
    M.manifest_append(spark.range(10, 20).coalesce(1), root)  # v2 range
    # v3: mixed bin-pack → segmented output, feed scans it RANGED
    v3, n = M.manifest_compact_small(spark, root)
    assert n == 2
    # v4: vector into the packed file (kills a range row)
    M.manifest_delete_rows(spark, root, F.col("id") == 12)
    # v5: materialize folds it → whole-file-survivors segments over a
    # PARTIAL-range source → non-mappable → fallback lineage + prov
    M.manifest_materialize_deletes(spark, root)
    # v6: later vector aimed at the materialize output
    M.manifest_delete_rows(spark, root, F.col("id") == 17)
    got = sorted(r["id"] for r in M.read_changes(spark, root, since).collect())
    assert got == [10, 11, 13, 14, 15, 16, 18, 19]
    snap = sorted(r["id"] for r in M.read_snapshot(spark, root).collect())
    assert snap == [i for i in range(20) if i not in (12, 17)]


def test_manifest_changes_delete_on_indirect_hit_row_exact(spark, tmp_path):
    """A SECOND delete_where whose hit set includes the first delete's
    survivor file (an indirectly-scanned output): its matched vector
    translates to source coordinates through the first delete's
    segments, the underlying scans carry to the new survivor output's
    lineage, and the feed stays row-exact on both sides."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 10).repartition(2), root)  # v1 archive
    since = 1
    M.manifest_append(spark.range(10, 20).repartition(2), root)  # v2 range
    M.manifest_delete_where(spark, root, F.col("id") % 5 == 0)  # v3 mixed
    # v4: hits ONLY the survivor file (ids 3 and 17 live; 10 already gone)
    v4, n_rw = M.manifest_delete_where(spark, root, F.col("id") % 7 == 3)
    assert n_rw == 1  # exactly the survivor file was hit
    got = sorted(r["id"] for r in M.read_changes(spark, root, since).collect())
    assert got == [11, 12, 13, 14, 16, 18, 19]
    snap = sorted(r["id"] for r in M.read_snapshot(spark, root).collect())
    assert snap == [
        i for i in range(20) if i % 5 != 0 and i % 7 != 3
    ]
    feed = M.read_change_feed(spark, root, since)
    dels = sorted(
        r["id"] for r in feed.where(F.col("_change_type") == "delete").collect()
    )
    assert dels == [0, 3, 5]
    ins = sorted(
        r["id"] for r in feed.where(F.col("_change_type") == "insert").collect()
    )
    assert ins == got


def test_manifest_update_where(spark, tmp_path):
    """UPDATE...SET...WHERE as one merge-on-read commit: matched rows
    vectored + post-images appended atomically; NULL predicates keep
    rows; already-vectored rows stay dead; time travel sees the
    pre-update table; the change feed replays delete(pre) + insert(post);
    unknown SET columns fail loudly."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    df = spark.range(0, 20).withColumn("v", F.col("id") * 2)
    M.manifest_append(df.repartition(2), root)  # v1
    M.manifest_delete_rows(spark, root, F.col("id") == 4)  # v2: vector
    since = M.latest_version(root)
    v3, n = M.manifest_update_where(
        spark, root, F.col("id") % 5 == 0, {"v": F.col("v") + 1000}
    )
    assert (v3, n) == (since + 1, 4)  # ids 0,5,10,15
    got = {r["id"]: r["v"] for r in M.read_snapshot(spark, root).collect()}
    assert got == {
        i: i * 2 + (1000 if i % 5 == 0 else 0)
        for i in range(20) if i != 4
    }
    # time travel: pre-update values intact
    old = {r["id"]: r["v"] for r in M.read_snapshot(spark, root, since).collect()}
    assert old == {i: i * 2 for i in range(20) if i != 4}
    # the commit is atomic: one version doc carries vector AND data
    doc = M.read_version_doc(root, v3)
    assert doc["dv_added"] and doc["added"]
    # change feed: delete(pre-image) + insert(post-image) pairs
    feed = M.read_change_feed(spark, root, since)
    pre = sorted(
        (r["id"], r["v"])
        for r in feed.where(F.col("_change_type") == "delete").collect()
    )
    post = sorted(
        (r["id"], r["v"])
        for r in feed.where(F.col("_change_type") == "insert").collect()
    )
    assert pre == [(0, 0), (5, 10), (10, 20), (15, 30)]
    assert post == [(0, 1000), (5, 1010), (10, 1020), (15, 1030)]
    # NULL-evaluating predicate keeps rows; nothing matched = no commit
    head = M.latest_version(root)
    v_same, n0 = M.manifest_update_where(
        spark, root, F.lit(None).cast("boolean"), {"v": F.lit(0).cast("long")}
    )
    assert (v_same, n0) == (head, 0)
    with pytest.raises(ValueError, match="unknown columns"):
        M.manifest_update_where(
            spark, root, F.col("id") == 1, {"nope": F.lit(1)}
        )


def test_manifest_evict_admit_race_cleans_both_stages(spark, tmp_path):
    """An evict_admit writer that loses the version race must remove
    BOTH its staged directories (the vector stage and the data stage) —
    nothing references them — and a retry on the new head succeeds."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 10).coalesce(1), root)  # v1

    state = M.read_snapshot(spark, root, with_pos=True)
    hits = state.where(F.col("id") < 3).select("__dv_file", "__dv_pos")
    admit = spark.range(100, 105)

    # another writer wins version 2 between this writer's snapshot and
    # its commit: force it by committing v2 out from under evict_admit
    real_snapshot = M._snapshot

    def stale_then_real(path, version=None):
        M._snapshot = real_snapshot
        snap = real_snapshot(path, version)
        M.manifest_append(spark.range(50, 55), root)  # the racing winner
        return snap

    M._snapshot = stale_then_real
    try:
        with pytest.raises(M.ConcurrentCommitError):
            M.manifest_evict_admit(spark, root, hits=hits, df=admit)
    finally:
        M._snapshot = real_snapshot
    # both of the loser's stage dirs are gone: data/ holds only files
    # referenced by version docs
    referenced = set()
    for v in M.list_versions(root):
        doc = M.read_version_doc(root, v)
        for f in doc.get("added", []) + doc.get("dv_added", []):
            referenced.add(f.split("/")[1])
    on_disk = set(os.listdir(os.path.join(root, "data")))
    assert on_disk == referenced
    # retry on the new head applies cleanly
    v, n_ev, n_ad = M.manifest_evict_admit(spark, root, hits=hits, df=admit)
    assert (n_ev, n_ad) == (3, 5)
    got = sorted(r["id"] for r in M.read_snapshot(spark, root).collect())
    assert got == list(range(3, 10)) + list(range(50, 55)) + list(range(100, 105))


def test_manifest_vector_translation_survives_vacuum(spark, tmp_path):
    """The vector-translation feed needs the delete commit's sources and
    folded vector files AFTER a vacuum: retention keeps every retained
    version's dv_matched/dv_added and data-changing added files, so a
    feed over the retained range still nets row-exactly."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 10).coalesce(1), root)   # v1
    M.manifest_append(spark.range(10, 20).coalesce(1), root)  # v2
    since = 2
    M.manifest_append(spark.range(20, 30).coalesce(1), root)  # v3 range
    M.manifest_delete_where(spark, root, F.col("id") % 5 == 0)  # v4 mixed
    keys = spark.createDataFrame([(23,), (7,)], "id long")
    M.manifest_delete_rows(spark, root, keys=keys, on="id")     # v5 vector
    # vacuum everything below v2 (v1's files stay: still live)
    M.manifest_vacuum(root, keep_from_version=2)
    got = sorted(r["id"] for r in M.read_changes(spark, root, since).collect())
    assert got == [21, 22, 24, 26, 27, 28, 29]
    snap = sorted(r["id"] for r in M.read_snapshot(spark, root).collect())
    assert snap == [i for i in range(30) if i % 5 != 0 and i not in (7, 23)]


def test_manifest_alter_schema_rename_widen_add(spark, tmp_path):
    """Metadata-only evolution: rename via column mapping (files stay
    byte-identical under their physical names), widen via parquet type
    promotion, add as read-time NULL — and time travel surfaces each
    version's OWN names and types."""
    import hashlib
    import os as _os

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    df1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id int, name string, bal double"
    )
    M.manifest_append(df1.coalesce(1), root)
    v_pre = M.latest_version(root)
    pre_files = {
        f: hashlib.md5(
            open(_os.path.join(root, f), "rb").read()
        ).hexdigest()
        for f in M.live_files(root)
    }

    M.manifest_alter_schema(
        root,
        rename={"name": "label"},
        widen={"id": "bigint"},
        add=[("tier", "string")],
    )
    # data files untouched — the alter is O(1) metadata
    assert {
        f: hashlib.md5(
            open(_os.path.join(root, f), "rb").read()
        ).hexdigest()
        for f in M.live_files(root)
    } == pre_files

    snap = M.read_snapshot(spark, root)
    assert snap.schema.simpleString() == (
        "struct<id:bigint,label:string,bal:double,tier:string>"
    )
    assert sorted((r.id, r.label, r.tier) for r in snap.collect()) == [
        (1, "a", None),
        (2, "b", None),
    ]
    # appends arrive in the NEW schema and stage under physical names
    M.manifest_append(
        spark.createDataFrame(
            [(3, "c", 30.0, "gold")],
            "id bigint, label string, bal double, tier string",
        ).coalesce(1),
        root,
    )
    assert sorted(
        (r.id, r.label, r.tier)
        for r in M.read_snapshot(spark, root).collect()
    ) == [(1, "a", None), (2, "b", None), (3, "c", "gold")]
    # time travel: the PRE-alter version reads its own names and types
    old = M.read_snapshot(spark, root, v_pre)
    assert old.schema.simpleString() == (
        "struct<id:int,name:string,bal:double>"
    )
    assert sorted((r.id, r.name) for r in old.collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    # non-widening alter is refused
    with pytest.raises(ValueError, match="not a lossless"):
        M.manifest_alter_schema(root, widen={"bal": "int"})
    with pytest.raises(ValueError, match="not a lossless"):
        M.manifest_alter_schema(root, widen={"id": "double"})  # long→double


def test_manifest_alter_drop_and_readd_never_resurrects(spark, tmp_path):
    """Dropping a column retires its PHYSICAL name; re-adding the same
    logical name maps to a fresh physical name, so the old files' bytes
    stay invisible — including after vacuum folds the mapping into the
    checkpoint doc."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        spark.createDataFrame(
            [(1, "secret"), (2, "hidden")], "id int, note string"
        ).coalesce(1),
        root,
    )
    M.manifest_alter_schema(root, drop=["note"])
    assert M.read_snapshot(spark, root).columns == ["id"]
    # additive append of a RETIRED name is refused (would resurrect the
    # dropped bytes under the new column)
    with pytest.raises(ValueError, match="collide with physical"):
        M.manifest_append(
            spark.createDataFrame([(3, "x")], "id int, note string"),
            root,
            allow_additive=True,
        )
    M.manifest_alter_schema(root, add=[("note", "string")])
    assert [r.note for r in M.read_snapshot(spark, root).collect()] == [
        None,
        None,
    ]
    # mapping and retirement survive retention
    M.manifest_append(
        spark.createDataFrame([(3, "new")], "id int, note string"
        ).coalesce(1),
        root,
    )
    hv = M.latest_version(root)
    M.manifest_vacuum(root, keep_from_version=hv)
    got = sorted(
        (r.id, r.note) for r in M.read_snapshot(spark, root).collect()
    )
    assert got == [(1, None), (2, None), (3, "new")]
    M.manifest_alter_schema(root, drop=["note"])
    M.manifest_alter_schema(root, add=[("note", "string")])
    assert [
        r.note for r in M.read_snapshot(spark, root).collect()
    ] == [None, None, None]


@pytest.mark.slow
def test_manifest_alter_interplay_delete_update_feed_pruning(
    spark, tmp_path
):
    """Renamed/widened tables keep the full mutation surface: delete,
    atomic update, change feed, stats + bloom pruning and metadata-only
    aggregates all address columns by their LOGICAL names."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)],
            "id int, name string, bal double",
        ).coalesce(1),
        root,
    )
    v_pre = M.latest_version(root)
    M.manifest_alter_schema(
        root, rename={"name": "label"}, widen={"id": "bigint"}
    )
    M.manifest_append(
        spark.createDataFrame(
            [(30, "c", 30.0)], "id bigint, label string, bal double"
        ).coalesce(1),
        root,
        bloom_columns=("label",),
    )
    M.manifest_delete_where(spark, root, F.col("label") == "b")
    v, n = M.manifest_update_where(
        spark, root, F.col("id") == 30, {"bal": F.col("bal") + 1}
    )
    assert n == 1
    assert sorted(
        (r.id, r.label, r.bal)
        for r in M.read_snapshot(spark, root).collect()
    ) == [(1, "a", 10.0), (30, "c", 31.0)]
    # change feed across the alter nets to the range's visible delta,
    # emitted under the END version's logical names
    feed = M.read_change_feed(spark, root, v_pre)
    assert sorted(
        (r.id, r._change_type) for r in feed.collect()
    ) == [(2, "delete"), (30, "insert")]
    # logical-name pruning: stats ranges and bloom equality both map to
    # the physical footer keys
    assert sorted(
        r.id
        for r in M.read_snapshot(
            spark, root, prune={"id": (25, 99)}
        ).collect()
    ) == [30]
    pruned = M.read_snapshot(spark, root, prune_eq={"label": "zzz"})
    assert 30 not in {r.id for r in pruned.collect()}
    M.manifest_materialize_deletes(spark, root)
    meta = M.metadata_only_stats(root, columns=("id",))
    assert meta["n_rows"] == 2
    assert meta["min"]["id"] == 1 and meta["max"]["id"] == 30


def test_manifest_alter_rename_chain_swap_and_compaction(spark, tmp_path):
    """Rename chains (a→tmp→b) and swap-adjacent renames resolve through
    the mapping, and rewrites (compact, compact_small with a renamed
    cluster_stat) restage under the frozen physical names."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    for lo in (0, 50):
        M.manifest_append(
            spark.range(lo, lo + 50)
            .withColumn("v", F.col("id") * 2)
            .coalesce(1),
            root,
        )
    M.manifest_alter_schema(root, rename={"id": "tmp"})
    M.manifest_alter_schema(root, rename={"tmp": "key", "v": "id"})
    snap = M.read_snapshot(spark, root)
    assert snap.columns == ["key", "id"]
    assert snap.where(F.col("id") == 2 * F.col("key")).count() == 100
    # compact_small orders by the RENAMED column's footer stat
    v, n = M.manifest_compact_small(
        spark, root, max_file_bytes=1 << 30, cluster_stat="key"
    )
    assert n == 2
    snap = M.read_snapshot(spark, root)
    assert snap.columns == ["key", "id"]
    assert snap.count() == 100
    M.manifest_compact(spark, root, target_files=1)
    snap = M.read_snapshot(spark, root)
    assert snap.where(F.col("id") == 2 * F.col("key")).count() == 100
    # a NEW column may reuse a vacated LOGICAL name but never a live
    # physical one: adding "tmp" is fine (physical "tmp" never existed —
    # the rename kept physical "id"), adding "id" gets a fresh physical
    M.manifest_alter_schema(root, add=[("tmp", "string")])
    assert M.read_snapshot(spark, root).columns == ["key", "id", "tmp"]


def test_warc_content_encoding_transparent_decode():
    """HTTP bodies compressed with gzip/deflate/br/zstd (and chained
    codings) decode transparently in the record iterator; unknown
    codings fail loudly. br/zstd ride pyarrow's bundled codecs — no
    extra dependency."""
    import io

    import pytest

    from ihop_reddit_spark.sources.warc import (
        decode_content_encoding,
        iter_warc_records,
        warc_record_bytes,
    )

    body = b"<html><body>" + b"the quick brown fox " * 40 + b"</body></html>"
    recs = [
        warc_record_bytes(
            f"http://x.test/{enc}", body, content_encoding=enc
        )
        for enc in (None, "gzip", "deflate", "br", "zstd")
    ]
    out = list(iter_warc_records(io.BytesIO(b"".join(recs))))
    assert len(out) == 5
    assert all(r["payload"] == body for r in out)
    # fixture bytes are deterministic (gzip mtime=0, md5 record ids)
    assert warc_record_bytes(
        "http://x/y", body, content_encoding="gzip"
    ) == warc_record_bytes("http://x/y", body, content_encoding="gzip")
    # chained codings apply right-to-left; identity is a no-op
    import zlib

    chained = zlib.compress(body)
    assert decode_content_encoding(chained, "identity, deflate") == body
    # raw-deflate servers (no zlib wrapper) still decode
    raw = zlib.compressobj(wbits=-15)
    raw_body = raw.compress(body) + raw.flush()
    assert decode_content_encoding(raw_body, "deflate") == body
    with pytest.raises(ValueError, match="unsupported Content-Encoding"):
        decode_content_encoding(body, "compress")


@pytest.mark.slow
def test_manifest_changes_across_mid_range_alter(spark, tmp_path):
    """A rename/widen INSIDE the feed range: read_changes emits the END
    version's logical names and both the pre- and post-alter appends'
    rows — the physical scan resolves old int32 and new int64 files
    under one widened schema."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        spark.createDataFrame([(0, "seed")], "id int, name string")
        .coalesce(1),
        root,
    )  # v1 (pre-range)
    since = M.latest_version(root)
    M.manifest_append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
        .coalesce(1),
        root,
    )  # v2 (in range, OLD names + int32)
    M.manifest_alter_schema(
        root, rename={"name": "label"}, widen={"id": "bigint"}
    )  # v3 (in range, metadata only)
    M.manifest_append(
        spark.createDataFrame([(3, "c")], "id bigint, label string")
        .coalesce(1),
        root,
    )  # v4 (in range, NEW names + int64)
    M.manifest_delete_rows(spark, root, F.col("label") == "b")  # v5
    feed = M.read_changes(spark, root, since)
    assert feed.columns == ["id", "label"]
    assert sorted((r.id, r.label) for r in feed.collect()) == [
        (1, "a"),
        (3, "c"),
    ]
    cf = M.read_change_feed(spark, root, since)
    got = sorted((r.id, r._change_type) for r in cf.collect())
    # 2 was inserted AND deleted within the range — nets out entirely
    assert got == [(1, "insert"), (3, "insert")]


def test_manifest_clone_zero_copy_and_divergence(spark, tmp_path):
    """SHALLOW CLONE: version 0 of the clone is a self-contained
    snapshot sharing bytes via hardlinks (inode-equal, zero copy);
    afterwards the two tables diverge with no cross-talk."""
    from ihop_reddit_spark.sources import manifest as M

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    M.manifest_init(src)
    M.manifest_append(
        spark.range(0, 40).withColumn("v", F.col("id") * 2).repartition(3),
        src,
    )
    M.manifest_append(
        spark.range(40, 60).withColumn("v", F.col("id") * 2), src
    )
    # a live deletion vector must survive the clone too
    M.manifest_delete_rows(spark, src, F.col("id").isin(5, 45))

    assert M.manifest_clone(src, dst) == 0

    # zero copy: every data + dv file is the SAME inode in both tables
    for rel in M.live_files(dst, 0) + M.live_dv_state(dst, 0)[0]:
        s = os.stat(os.path.join(src, rel))
        d = os.stat(os.path.join(dst, rel))
        assert s.st_ino == d.st_ino and s.st_nlink >= 2
    assert sorted(r["id"] for r in M.read_snapshot(spark, dst).collect()) == [
        i for i in range(60) if i not in (5, 45)
    ]

    # divergence: delete on src, append on dst — neither sees the other
    M.manifest_delete_where(spark, src, F.col("id") >= 50)
    M.manifest_append(
        spark.range(100, 110).withColumn("v", F.col("id") * 2), dst
    )
    assert M.read_snapshot(spark, src).count() == 48  # 60-2-10
    assert M.read_snapshot(spark, dst).count() == 68  # 60-2+10
    # clone change feed since its snapshot: exactly the appended rows
    assert sorted(
        r["id"] for r in M.read_changes(spark, dst, 0).collect()
    ) == list(range(100, 110))

    # a second clone into the same dst fails loudly
    with pytest.raises(FileExistsError):
        M.manifest_clone(src, dst)


def test_manifest_clone_survives_source_vacuum(spark, tmp_path):
    """The vacuum-across-clones hazard: source rewrites everything and
    vacuums its history — the clone must still read its full snapshot
    (hardlink refcounts keep shared bytes alive until the LAST table
    drops them), and vice versa vacuuming the clone never touches
    source-visible bytes."""
    from ihop_reddit_spark.sources import manifest as M

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    M.manifest_init(src)
    M.manifest_append(
        spark.range(0, 30).withColumn("v", F.col("id")).repartition(2), src
    )
    M.manifest_clone(src, dst)

    # source: full rewrite then drop all pre-rewrite history
    M.manifest_delete_where(spark, src, F.col("id") % 2 == 0)
    M.manifest_compact(spark, src, target_files=1)
    head = M.latest_version(src)
    M.manifest_vacuum(src, keep_from_version=head)
    # the clone still reads the ORIGINAL snapshot in full
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, dst).collect()
    ) == list(range(30))

    # clone vacuum (no-op horizon) and a clone rewrite never affect src
    M.manifest_compact(spark, dst, target_files=1)
    M.manifest_vacuum(dst, keep_from_version=M.latest_version(dst))
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, src).collect()
    ) == [i for i in range(30) if i % 2 == 1]


def test_manifest_clone_carries_mapping_blooms_and_stream_guard(
    spark, tmp_path
):
    """Clone fidelity beyond raw rows: renamed-column mapping, bloom
    file skipping, footer-stat metadata aggregates, and the
    exactly-once stream replay guard all carry into the clone doc."""
    from ihop_reddit_spark.sources import manifest as M

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    M.manifest_init(src)
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    M.manifest_append(
        df, src, bloom_columns=("k",), extra={"stream_batch_id": 7}
    )
    M.manifest_alter_schema(src, rename={"v": "val"})

    M.manifest_clone(src, dst)

    # renamed logical schema readable; physical mapping carried
    snap = M.read_snapshot(spark, dst)
    assert snap.columns == ["k", "val"]
    assert M._snapshot(dst, 0).mapping == M._snapshot(src).mapping
    # blooms carried (same per-file entries), so point lookups skip
    assert M.live_file_blooms(dst, 0) == M.live_file_blooms(
        src, M.latest_version(src)
    )
    # metadata-only count answered from the clone doc alone
    meta = M.metadata_only_stats(dst)
    assert meta["n_rows"] == 20
    # replay guard: the cloned batch id is already committed
    assert 7 in M.committed_stream_batches(dst)
    # an append to the clone under the renamed schema round-trips
    M.manifest_append(
        spark.range(20, 25).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("val")
        ),
        dst,
    )
    assert M.read_snapshot(spark, dst).count() == 25


@pytest.mark.slow
def test_manifest_check_constraints_gate_every_write_path(spark, tmp_path):
    """CHECK constraints: existing-data validation on add, staged-abort
    (stage deleted, table untouched) on violating append / merge /
    UPDATE post-image, SQL-standard NULL-passes semantics, drop, and
    the rename/drop guard for referenced columns."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, None)], "k long, v long"
        ),
        root,
    )
    # a constraint existing rows violate is refused
    with pytest.raises(ValueError, match="existing row"):
        M.manifest_add_constraint(spark, root, "v_big", "v >= 15")
    # NULL passes (SQL standard): v >= 0 admits the NULL row
    M.manifest_add_constraint(spark, root, "v_nonneg", "v >= 0")
    M.manifest_add_constraint(spark, root, "k_pos", "k > 0")
    assert M.constraints_of(root) == {
        "v_nonneg": "v >= 0", "k_pos": "k > 0"
    }

    head = M.latest_version(root)
    with pytest.raises(ValueError, match="v_nonneg.*2 row"):
        M.manifest_append(
            spark.createDataFrame(
                [(4, -1), (5, -2), (-6, 7)], "k long, v long"
            ),
            root,
        )
    # aborted write: no new version, no orphaned stage dirs
    assert M.latest_version(root) == head
    batches = os.listdir(os.path.join(root, "data"))
    live_dirs = {f.split("/")[1] for f in M.live_files(root)}
    assert set(batches) == live_dirs
    # a clean append still lands, NULL v included
    M.manifest_append(
        spark.createDataFrame([(7, None)], "k long, v long"), root
    )
    assert M.read_snapshot(spark, root).count() == 4

    # UPDATE post-image enforcement: making v negative must abort both
    # halves (vector + append) — table unchanged
    with pytest.raises(ValueError, match="v_nonneg"):
        M.manifest_update_where(
            spark, root, F.col("k") == 1, {"v": F.lit(-5).cast("long")}
        )
    assert sorted(
        (r["k"], r["v"])
        for r in M.read_snapshot(spark, root).collect()
    ) == [(1, 10), (2, 20), (3, None), (7, None)]
    # the aborted UPDATE's already-staged eviction vectors must not
    # leak either: every surviving batch dir is doc-referenced
    referenced = {
        f.split("/")[1]
        for f in M.live_files(root) + M.live_dv_state(root)[0]
    }
    assert set(os.listdir(os.path.join(root, "data"))) == referenced
    # a legal update passes
    M.manifest_update_where(
        spark, root, F.col("k") == 1, {"v": F.lit(99).cast("long")}
    )
    assert {
        r["v"] for r in M.read_snapshot(spark, root).collect()
    } == {99, 20, None}

    # referenced columns can't be renamed or dropped under a constraint
    with pytest.raises(ValueError, match="referenced by CHECK"):
        M.manifest_alter_schema(root, rename={"v": "val"})
    M.manifest_drop_constraint(root, "v_nonneg")
    M.manifest_alter_schema(root, rename={"v": "val"})  # now fine
    # the remaining constraint still enforces under the new schema
    with pytest.raises(ValueError, match="k_pos"):
        M.manifest_append(
            spark.createDataFrame([(-1, 5)], "k long, val long"), root
        )


def test_manifest_constraints_survive_vacuum_and_clone(spark, tmp_path):
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        spark.range(1, 10).select(F.col("id").alias("k")), root
    )
    M.manifest_add_constraint(spark, root, "k_pos", "k > 0")
    M.manifest_compact(spark, root, target_files=1)
    M.manifest_vacuum(root, keep_from_version=M.latest_version(root))
    # the alter-constraint doc is below the horizon; the checkpoint
    # carries the set
    assert M.constraints_of(root) == {"k_pos": "k > 0"}
    with pytest.raises(ValueError, match="k_pos"):
        M.manifest_append(
            spark.createDataFrame([(0,)], "k long"), root
        )

    dst = str(tmp_path / "clone")
    M.manifest_clone(root, dst)
    assert M.constraints_of(dst) == {"k_pos": "k > 0"}
    with pytest.raises(ValueError, match="k_pos"):
        M.manifest_append(spark.createDataFrame([(-3,)], "k long"), dst)


def test_manifest_ops_replay_the_log_once(spark, tmp_path, monkeypatch):
    """Each operation reads the commit log through ONE snapshot: one
    listing and at most one read per version doc, so head, schema,
    mapping and vector state all come from the same version."""
    import collections

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    for i in range(4):
        M.manifest_append(
            spark.range(i * 10, i * 10 + 10).withColumn("v", F.col("id")),
            root,
        )
    calls: collections.Counter = collections.Counter()
    real_list, real_read = M.list_versions, M.read_version_doc

    def counting_list(path):
        calls["list"] += 1
        return real_list(path)

    def counting_read(path, version):
        calls["read"] += 1
        return real_read(path, version)

    monkeypatch.setattr(M, "list_versions", counting_list)
    monkeypatch.setattr(M, "read_version_doc", counting_read)
    ops = {
        "manifest_append": lambda: M.manifest_append(
            spark.range(100, 105).withColumn("v", F.col("id")), root
        ),
        # leaves a live deletion vector for the two ops after it
        "manifest_merge_upsert": lambda: M.manifest_merge_upsert(
            spark, root, spark.range(0, 3).withColumn("v", -F.col("id")),
            "id",
        ),
        "manifest_delete_where": lambda: M.manifest_delete_where(
            spark, root, F.col("id") == 15
        ),
        "read_snapshot": lambda: M.read_snapshot(spark, root).count(),
    }
    for name, op in ops.items():
        n_versions = len(real_list(root))
        calls.clear()
        op()
        assert calls["list"] == 1, (name, calls)
        assert calls["read"] <= n_versions, (name, calls)
    assert M.read_snapshot(spark, root).count() == 44


def test_manifest_commit_doc_keys_per_operation(spark, tmp_path):
    """Every table write commits one version doc of a fixed shape: the
    sorted key set (``committed_at`` aside) per operation is pinned, so
    a change to the write path cannot add, drop or rename a field."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)

    def rows(lo, hi, k=F.col("id") % 5):
        return spark.range(lo, hi).select("id", k.cast("long").alias("k"))

    base = ["added", "operation", "parent", "removed", "schema", "version"]
    data = base + ["blooms", "row_counts", "stats"]
    dv = ["dv_added", "dv_removed", "dv_targets"]
    ops = [
        ("append", data, lambda: M.manifest_append(
            rows(0, 20).repartition(2), root, bloom_columns=["k"])),
        ("append", data + ["stream_batch_id"], lambda: M.manifest_append(
            rows(20, 24), root, extra={"stream_batch_id": 3})),
        ("merge", data + dv, lambda: M.manifest_merge_upsert(
            spark, root, rows(0, 3, F.lit(9)), "id")),
        ("rowdelete", base + dv, lambda: M.manifest_delete_rows(
            spark, root, F.col("id") == 5)),
        ("merge", data + dv, lambda: M.manifest_update_where(
            spark, root, F.col("id") == 6, {"k": F.lit(7).cast("long")})),
        ("merge", data + dv, lambda: M.manifest_evict_admit(
            spark, root, hits=None, df=rows(30, 32))),
        ("materialize", data + dv + ["segments"], lambda:
            M.manifest_materialize_deletes(spark, root)),
        ("delete", data + ["dv_matched", "segments"], lambda:
            M.manifest_delete_where(spark, root, F.col("id") == 7)),
        ("compact", data + dv + ["segments"], lambda:
            M.manifest_compact_small(spark, root)),
        ("compact", data + dv, lambda: M.manifest_compact(
            spark, root, cluster_by=["id"])),
        ("alter_schema", base + ["mapping", "retired_physical"], lambda:
            M.manifest_alter_schema(root, rename={"k": "kk"})),
        ("alter_constraint", base + ["constraints"], lambda:
            M.manifest_add_constraint(spark, root, "id_nn", "id >= 0")),
        ("alter_constraint", base + ["constraints"], lambda:
            M.manifest_drop_constraint(root, "id_nn")),
    ]
    for operation, keys, op in ops:
        head = M.latest_version(root)
        op()
        doc = M.read_version_doc(root, head + 1)
        doc.pop("committed_at")
        assert (doc["operation"], sorted(doc)) == (operation, sorted(keys))
        assert (doc["version"], doc["parent"]) == (head + 1, head)
    assert M.latest_version(root) == len(ops)


def _fault_kv(spark, lo, hi, k=None):
    k = F.col("id") % 5 if k is None else k
    return spark.range(lo, hi).select("id", k.cast("long").alias("k"))


def _fault_evict_admit(spark, root):
    from ihop_reddit_spark.sources import manifest as M

    hits = M.read_snapshot(spark, root, with_pos=True).where(F.col("id") < 3)
    return M.manifest_evict_admit(
        spark, root, hits=hits.select("__dv_file", "__dv_pos"),
        df=_fault_kv(spark, 30, 32),
    )


def _fault_cases():
    """{write path: (set-up, reaches stats and blooms, write, live ids
    after the write)} over a two-file table of ids 0..19 with a bloom
    on ``k``. A row delete stages only a vector, so it reaches the
    publish and no stats or blooms."""
    from ihop_reddit_spark.sources import manifest as M

    def vector(spark, root):
        M.manifest_delete_rows(spark, root, F.col("id") == 5)

    def without(n):
        return [i for i in range(20) if i != n]

    return {
        "append_bloom": (None, True, lambda spark, root: M.manifest_append(
            _fault_kv(spark, 20, 24), root, bloom_columns=["k"]
        ), list(range(24))),
        "merge_upsert": (None, True, lambda spark, root:
            M.manifest_merge_upsert(
                spark, root, _fault_kv(spark, 0, 3, F.lit(9)), "id"
            ), list(range(20))),
        "delete_where": (None, True, lambda spark, root:
            M.manifest_delete_where(spark, root, F.col("id") == 7),
            without(7)),
        "delete_rows": (None, False, lambda spark, root:
            M.manifest_delete_rows(spark, root, F.col("id") == 5),
            without(5)),
        "evict_admit": (None, True, _fault_evict_admit,
                        list(range(3, 20)) + [30, 31]),
        "materialize": (vector, True, lambda spark, root:
            M.manifest_materialize_deletes(spark, root), without(5)),
        "compact_small": (None, True, lambda spark, root:
            M.manifest_compact_small(spark, root), list(range(20))),
    }


def _write_faults(reaches_stats: bool):
    """The fault points of a table write: footer stats, the bloom build,
    and the publish, failing both as a crash and as a lost race."""
    from ihop_reddit_spark.sources import manifest as M

    publish = [
        ("_commit_version", RuntimeError("injected: publish")),
        ("_commit_version", M.ConcurrentCommitError("injected: lost race")),
    ]
    if not reaches_stats:
        return publish
    return [
        ("_stage_stats", RuntimeError("injected: stats")),
        ("_build_blooms", RuntimeError("injected: blooms")),
    ] + publish


@pytest.mark.parametrize("case", sorted(_fault_cases()))
def test_manifest_write_fault_leaves_table_unchanged(
    spark, tmp_path, monkeypatch, case
):
    """A write that fails anywhere between staging and publishing
    raises the original error and leaves the table as it was: the same
    ``data/`` listing (no stage directory leaks — vacuum only deletes
    files some version doc names), the same head and the same rows. A
    retry with the faults gone commits the expected rows."""
    from ihop_reddit_spark.sources import manifest as M

    setup, reaches_stats, op, want = _fault_cases()[case]
    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        _fault_kv(spark, 0, 20).repartition(2), root, bloom_columns=["k"]
    )
    if setup is not None:
        setup(spark, root)

    def state():
        return (
            sorted(os.listdir(os.path.join(root, "data"))),
            M.latest_version(root),
            sorted(tuple(r) for r in M.read_snapshot(spark, root).collect()),
        )

    before = state()
    for name, exc in _write_faults(reaches_stats):

        def boom(*args, _exc=exc, **kwargs):
            raise _exc

        monkeypatch.setattr(M, name, boom)
        with pytest.raises(type(exc)) as got:
            op(spark, root)
        monkeypatch.undo()
        assert got.value is exc, (name, got.value)
        assert state() == before, name
    op(spark, root)
    assert M.latest_version(root) == before[1] + 1
    assert sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    ) == want


def test_manifest_snapshot_survives_vacuum_and_clone_whole(spark, tmp_path):
    """Every replayed field — files, schema, column mapping, retired
    names, constraints, per-file stats/row counts/blooms, live vectors,
    stream batch ids — reads the same at each retained version after
    vacuum folds the chain into a checkpoint, and from a clone."""
    import dataclasses

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(  # v1
        spark.range(0, 12).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            F.lit("x").alias("w"),
        ).repartition(2),
        root, bloom_columns=("k",), extra={"stream_batch_id": 1},
    )
    M.manifest_alter_schema(root, rename={"v": "val"}, drop=["w"])  # v2
    M.manifest_add_constraint(spark, root, "k_nonneg", "k >= 0")  # v3

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("val")
        )

    M.manifest_append(batch(12, 20), root, extra={"stream_batch_id": 2})
    M.manifest_delete_rows(  # v5: a live deletion vector
        spark, root, F.col("k") == 3, extra={"stream_batch_id": 3}
    )
    M.manifest_append(batch(20, 24), root, extra={"stream_batch_id": 4})
    head = M.latest_version(root)
    assert head == 6
    before = {v: M._snapshot(root, v) for v in range(4, head + 1)}
    top = before[head]
    assert top.mapping == {"val": "v"} and top.retired == ["w"]
    assert top.constraints == {"k_nonneg": "k >= 0"}
    assert top.dv_files and top.dv_targets
    assert all(top.blooms[f] for f in top.files)
    assert top.stream_batch_ids == {1, 2, 3, 4}

    M.manifest_vacuum(root, keep_from_version=4)
    assert M.list_versions(root) == [4, 5, 6]
    for v, snap in before.items():
        assert M._snapshot(root, v) == snap, v

    for v in (5, head):
        dst = str(tmp_path / f"clone{v}")
        M.manifest_clone(root, dst, version=v)
        clone = M._snapshot(dst, 0)
        assert dataclasses.replace(clone, version=v) == before[v], v
    assert M.read_snapshot(spark, dst).count() == 23


def test_catalog_txn_append_enforces_constraints(spark, tmp_path):
    """A violating half aborts the WHOLE transaction at stage time —
    nothing visible in either table."""
    from ihop_reddit_spark.sources import catalog as C
    from ihop_reddit_spark.sources import manifest as M

    fact = str(tmp_path / "fact")
    roll = str(tmp_path / "roll")
    M.manifest_init(fact)
    M.manifest_init(roll)
    M.manifest_append(
        spark.createDataFrame([(1, 1)], "k long, v long"), fact
    )
    M.manifest_add_constraint(spark, fact, "v_pos", "v > 0")
    cat = str(tmp_path / "cat")
    C.catalog_init(cat, {"fact": fact, "roll": roll})

    t = C.CatalogTransaction(cat)
    t.append("roll", spark.createDataFrame([(1,)], "n long"))
    with pytest.raises(ValueError, match="v_pos"):
        t.append(
            "fact",
            spark.createDataFrame([(2, -1)], "k long, v long"),
        )
    t.abort()
    assert M.read_snapshot(spark, fact).count() == 1
    assert C.catalog_latest(cat) == 0


def test_manifest_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: commit stamps resolve monotonically even when a
    writer's clock regressed, boundaries are inclusive, pre-first-commit
    raises, and vacuum keeps the base stamp."""
    import json as _json
    import time as _time

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 5).select("id"), root)
    t1 = M.read_version_doc(root, 1)["committed_at"] / 1e9
    _time.sleep(0.01)
    M.manifest_append(spark.range(5, 9).select("id"), root)

    # clock REGRESSION: rewrite v2's stamp earlier than v1's
    p2 = M._version_doc_path(root, 2)
    d2 = _json.load(open(p2))
    d2["committed_at"] = int(t1 * 1e9) - 5_000_000
    _json.dump(d2, open(p2, "w"))
    M._VERSION_DOC_CACHE.clear()

    # monotone resolution: at t1 the table is v1 OR LATER-with-earlier-
    # stamp — the effective series clamps v2 to t1, so ts==t1 sees v2
    assert M.version_at_timestamp(root, t1) == 2
    # just before t1: only v0/v1 existed; v1's stamp <= t1 by def
    assert M.version_at_timestamp(root, t1 - 0.001) <= 1
    # far future resolves to head; pre-creation raises
    assert M.version_at_timestamp(root, _time.time() + 3600) == 2
    with pytest.raises(ValueError, match="precedes the first commit"):
        M.version_at_timestamp(root, 1.0)

    assert (
        M.read_snapshot(
            spark, root, as_of_timestamp=_time.time() + 60
        ).count()
        == 9
    )
    with pytest.raises(ValueError, match="not both"):
        M.read_snapshot(spark, root, 1, as_of_timestamp=t1)

    # vacuum: the checkpoint keeps the base version's original stamp
    M.manifest_compact(spark, root, target_files=1)
    head = M.latest_version(root)
    M.manifest_vacuum(root, keep_from_version=head)
    assert "committed_at" in M.read_version_doc(root, head)


def test_describe_history_and_timestamp_changes(spark, tmp_path):
    """DESCRIBE HISTORY is metadata-only and carries every layer's
    provenance stamps; timestamp-range change feeds resolve through the
    monotone stamp series."""
    import time as _time

    from ihop_reddit_spark.sources import catalog as C
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    t0 = _time.time()
    M.manifest_append(
        spark.range(0, 10).withColumn("v", F.col("id")), root,
        extra={"stream_batch_id": 3},
    )
    t1 = _time.time()
    _time.sleep(0.01)
    M.manifest_append(spark.range(10, 25).withColumn("v", F.col("id")), root)
    M.manifest_delete_rows(spark, root, F.col("id") == 4)

    h = {r["version"]: r for r in M.describe_history(spark, root).collect()}
    assert h[0]["operation"] == "init"
    assert h[1]["operation"] == "append" and h[1]["rows_added"] == 10
    # stringified so CDC-merge CONTENT keys ("slice:...") fit the column
    assert h[1]["stream_batch_id"] == "3"
    assert h[2]["rows_added"] == 15
    assert h[3]["operation"] == "rowdelete"
    assert h[3]["rows_deleted"] == 1
    assert h[1]["committed_at"] >= t0

    # catalog txn tag surfaces in history
    cat = str(tmp_path / "cat")
    C.catalog_init(cat, {"t": root})
    tx = C.CatalogTransaction(cat)
    tx.append("t", spark.range(25, 30).withColumn("v", F.col("id")))
    tx.commit()
    h2 = M.describe_history(spark, root).collect()[0]
    assert h2["catalog_txn"] and h2["catalog_txn"].endswith("@v1")

    # timestamp change feed: everything after t1 = second append + txn
    got = sorted(
        r["id"]
        for r in M.changes_between_timestamps(spark, root, t1).collect()
    )
    assert got == list(range(10, 30))
    # pre-creation since_ts fails LOUDLY (a clone's v0 snapshot would
    # otherwise be silently skipped — review finding r11s2)
    with pytest.raises(ValueError, match="precedes the first commit"):
        M.changes_between_timestamps(spark, root, 1.0)


def test_describe_history_on_cdc_merge_content_keys(spark, tmp_path):
    """ADVICE r13: merge_into_stream stamps STRING content keys
    ("slice:min:max:count") into stream_batch_id; describe_history on
    such a table used to raise (LongType cannot accept a str)."""
    from pyspark.sql import functions as F

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        spark.range(0, 10).withColumn("v", F.col("id")), root,
        extra={"stream_batch_id": "slice:0:9:10"},
    )
    M.manifest_append(
        spark.range(10, 12).withColumn("v", F.col("id")), root,
        extra={"stream_batch_id": 1},
    )
    h = {r["version"]: r for r in M.describe_history(spark, root).collect()}
    assert h[1]["stream_batch_id"] == "slice:0:9:10"
    assert h[2]["stream_batch_id"] == "1"


def test_version_at_timestamp_stampless_table_raises(spark, tmp_path):
    """Review finding (r11s2): a table whose docs predate commit stamps
    must raise for ANY timestamp — not silently resolve to head."""
    import json as _json

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(5).select("id"), root)
    for v in M.list_versions(root):
        p = M._version_doc_path(root, v)
        d = _json.load(open(p))
        d.pop("committed_at", None)
        _json.dump(d, open(p, "w"))
    M._VERSION_DOC_CACHE.clear()
    import time as _time

    with pytest.raises(ValueError, match="predates commit stamps"):
        M.version_at_timestamp(root, _time.time())


@pytest.mark.slow
def test_manifest_changes_chained_double_indirection_row_exact(
    spark, tmp_path
):
    """VERDICT r11 item 5: a delete whose hit file is indirect over
    ANOTHER indirect file (survivor-of-survivor chains) used to exit at
    file grain. The hop-by-hop chain translation re-addresses each
    matched vector through every intermediate's recorded segments, so
    THREE stacked delete_where survivors stay row-exact on both feed
    sides."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(spark.range(0, 10).coalesce(1), root)  # v1 archive
    since = 1
    M.manifest_append(spark.range(10, 20).coalesce(1), root)  # v2 range
    M.manifest_delete_where(spark, root, F.col("id") % 5 == 0)  # v3: S1
    M.manifest_delete_where(spark, root, F.col("id") % 7 == 3)  # v4: S2
    # v5 hits S2 — a survivor file indirect over S1, itself indirect
    # over the originals (the formerly file-grain chained case)
    v5, n5 = M.manifest_delete_where(spark, root, F.col("id") == 11)
    assert n5 == 1
    got = sorted(
        r["id"] for r in M.read_changes(spark, root, since).collect()
    )
    assert got == [12, 13, 14, 16, 18, 19]
    # one hop deeper: v6 hits S3 (indirect over S2 over S1)
    v6, n6 = M.manifest_delete_where(spark, root, F.col("id") == 18)
    assert n6 == 1
    got = sorted(
        r["id"] for r in M.read_changes(spark, root, since).collect()
    )
    assert got == [12, 13, 14, 16, 19]
    snap = sorted(
        r["id"] for r in M.read_snapshot(spark, root).collect()
    )
    assert snap == [
        i for i in range(20)
        if i % 5 != 0 and i % 7 != 3 and i not in (11, 18)
    ]
    feed = M.read_change_feed(spark, root, since)
    dels = sorted(
        r["id"]
        for r in feed.where(F.col("_change_type") == "delete").collect()
    )
    assert dels == [0, 3, 5]  # only archive-visible matches replay
    ins = sorted(
        r["id"]
        for r in feed.where(F.col("_change_type") == "insert").collect()
    )
    assert ins == got


def test_manifest_merge_into_full_clauses(spark, tmp_path):
    """Full conditional MERGE INTO: matched-delete evaluated first,
    conditional matched-update with source-referencing SET, conditional
    not-matched insert, conditional not-matched-by-source delete — all
    in ONE commit, replayed by the change feed as delete+insert pairs."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    tgt = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    M.manifest_append(tgt.repartition(2), root)  # v1
    since = 1
    src = spark.createDataFrame(
        [(k, k * 3) for k in range(0, 20, 2)] + [(100, 300), (101, 303)],
        "k long, v long",
    )
    version, n_upd, n_del, n_ins = M.manifest_merge_into(
        spark, root, src, "k",
        matched_delete_condition="t.k % 10 = 0",
        matched_update={"v": F.expr("s.v")},
        matched_update_condition="s.v > t.v",
        not_matched_insert=True,
        not_matched_insert_condition="s.k < 101",
        not_matched_by_source_delete=True,
        not_matched_by_source_delete_condition="k % 9 = 0",
    )
    assert version == 2  # ONE commit
    assert (n_upd, n_del, n_ins) == (8, 3, 1)  # upd: evens-{0,10};
    # del: matched {0,10} + unmatched-by-source {9}; ins: {100}
    got = {
        r["k"]: r["v"]
        for r in M.read_snapshot(spark, root).collect()
    }
    want = {}
    for k in range(20):
        if k in (0, 10, 9):
            continue
        want[k] = k * 3 if k % 2 == 0 else k * 2
    want[100] = 300
    assert got == want
    # change feed: pre-images of every vectored row + post-images/new
    feed = M.read_change_feed(spark, root, since)
    pre = sorted(
        (r["k"], r["v"])
        for r in feed.where(F.col("_change_type") == "delete").collect()
    )
    assert pre == sorted(
        [(0, 0), (10, 20), (9, 18)]
        + [(k, 2 * k) for k in range(2, 20, 2) if k != 10]
    )
    post = sorted(
        (r["k"], r["v"])
        for r in feed.where(F.col("_change_type") == "insert").collect()
    )
    assert post == sorted(
        [(100, 300)] + [(k, 3 * k) for k in range(2, 20, 2) if k != 10]
    )


def test_manifest_merge_into_guards(spark, tmp_path):
    """Multi-match refusal (Delta semantics), duplicate not-matched
    source rows still insert (no modification ambiguity), empty-target
    insert-only path, no-op merge commits nothing."""
    import pytest

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), root
    )
    dup = spark.createDataFrame(
        [(1, 11), (1, 12)], "k long, v long"
    )
    with pytest.raises(ValueError, match="more than one source row"):
        M.manifest_merge_into(
            spark, root, dup, "k", matched_update={"v": F.expr("s.v")}
        )
    assert M.latest_version(root) == 1  # refused merge committed nothing
    # duplicate source keys that only INSERT are fine (Delta allows)
    dup_new = spark.createDataFrame(
        [(7, 70), (7, 71)], "k long, v long"
    )
    v, n_upd, n_del, n_ins = M.manifest_merge_into(
        spark, root, dup_new, "k", not_matched_insert=True
    )
    assert (n_upd, n_del, n_ins) == (0, 0, 2)
    # no clause fires -> no commit
    v2 = M.manifest_merge_into(
        spark, root,
        spark.createDataFrame([(999, 0)], "k long, v long"), "k",
        matched_update={"v": F.expr("s.v")},
    )
    assert v2 == (v, 0, 0, 0)
    # empty target: insert-only path
    root2 = str(tmp_path / "empty")
    M.manifest_init(root2)
    M.manifest_append(
        spark.createDataFrame([], "k long, v long"), root2
    )
    v3, _, _, n3 = M.manifest_merge_into(
        spark, root2,
        spark.createDataFrame([(5, 50)], "k long, v long"), "k",
        not_matched_insert=True,
    )
    assert n3 == 1
    assert [tuple(r) for r in M.read_snapshot(spark, root2).collect()] == [
        (5, 50)
    ]


def test_manifest_merge_into_empty_target_projects_helper_columns(
    spark, tmp_path
):
    """Review r12: the empty-target insert path must project to the
    table schema like the non-empty path — CDC helper columns neither
    crash the schema check nor leak into the table."""
    import pytest

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        spark.createDataFrame([(1, 10)], "k long, v long").coalesce(1),
        root,
    )
    M.manifest_delete_where(spark, root, F.col("k") >= 0)  # now empty
    assert not M.live_files(root, M.latest_version(root))
    src = spark.createDataFrame(
        [(2, 20, 1)], "k long, v long, helper long"
    )
    v, n_upd, n_del, n_ins = M.manifest_merge_into(
        spark, root, src, "k", not_matched_insert=True
    )
    assert (n_upd, n_del, n_ins) == (0, 0, 1)
    snap = M.read_snapshot(spark, root)
    assert snap.columns == ["k", "v"]  # helper column did not leak
    assert [tuple(r) for r in snap.collect()] == [(2, 20)]
    # and a source MISSING a table column is refused
    with pytest.raises(ValueError, match="missing"):
        M.manifest_merge_into(
            spark, root,
            spark.createDataFrame([(3,)], "k long"), "k",
            not_matched_insert=True,
        )


def test_manifest_merge_into_schema_evolution(spark, tmp_path):
    """with_schema_evolution (Delta withSchemaEvolution, INSERT scope):
    extra source columns widen the target in the SAME atomic commit —
    inserts carry source values, updated rows re-append NULL, pre-widen
    time travel surfaces the old schema, and the change feed replays
    across the widen."""
    import pytest

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k long, v long"
        ),
        root,
    )
    base = M.latest_version(root)
    src = spark.createDataFrame(
        [(2, 200, "b"), (3, 0, "c"), (4, 400, "d")],
        "k long, v long, tag string",
    )
    ver, n_upd, n_del, n_ins = M.manifest_merge_into(
        spark, root, src, "k",
        matched_update={"v": F.expr("s.v")},
        matched_delete_condition="s.v = 0",
        not_matched_insert=True,
        with_schema_evolution=True,
    )
    assert ver == base + 1  # ONE commit widened AND merged
    assert (n_upd, n_del, n_ins) == (1, 1, 1)
    snap = M.read_snapshot(spark, root)
    assert snap.columns == ["k", "v", "tag"]
    got = {(r["k"], r["v"], r["tag"]) for r in snap.collect()}
    # updated row re-appends NULL for the new column; insert carries it
    assert got == {(1, 10, None), (2, 200, None), (4, 400, "d")}
    # pre-widen time travel: the old 2-column schema
    assert M.read_snapshot(spark, root, base).columns == ["k", "v"]
    # change feed across the widen: pre-images read old files under the
    # widened schema (tag NULL), inserts carry the new values
    feed = M.read_change_feed(spark, root, base, ver)
    rows = {
        (r["k"], r["v"], r["tag"], r["_change_type"])
        for r in feed.collect()
    }
    assert rows == {
        (2, 20, None, "delete"),
        (3, 30, None, "delete"),
        (2, 200, None, "insert"),
        (4, 400, "d", "insert"),
    }
    # evolution without the INSERT clause is meaningless — refused
    with pytest.raises(ValueError, match="not_matched_insert"):
        M.manifest_merge_into(
            spark, root, src, "k",
            matched_update={"v": F.expr("s.v")},
            with_schema_evolution=True,
        )
    # a new column colliding with a RETIRED physical name is refused
    # (the dropped column's bytes would resurrect)
    M.manifest_alter_schema(root, drop=["tag"])
    with pytest.raises(ValueError, match="collide"):
        M.manifest_merge_into(
            spark, root,
            spark.createDataFrame(
                [(9, 90, "z")], "k long, v long, tag string"
            ),
            "k",
            not_matched_insert=True,
            with_schema_evolution=True,
        )


def test_manifest_merge_into_empty_target_schema_evolution(
    spark, tmp_path
):
    """The empty-target insert-only path also widens under evolution
    (and still projects away nothing — every source column lands)."""
    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        spark.createDataFrame([(1, 10)], "k long, v long").coalesce(1),
        root,
    )
    M.manifest_delete_where(spark, root, F.col("k") >= 0)
    v, _u, _d, n_ins = M.manifest_merge_into(
        spark, root,
        spark.createDataFrame([(5, 50, "w")], "k long, v long, tag string"),
        "k",
        not_matched_insert=True,
        with_schema_evolution=True,
    )
    assert n_ins == 1
    snap = M.read_snapshot(spark, root)
    assert snap.columns == ["k", "v", "tag"]
    assert [tuple(r) for r in snap.collect()] == [(5, 50, "w")]


def test_manifest_merge_into_not_matched_by_source_update(
    spark, tmp_path
):
    """WHEN NOT MATCHED BY SOURCE THEN UPDATE (Delta parity): target-only
    rows get SET expressions over plain target names; the DELETE clause
    wins where both fire; NULL conditions do not fire; counts attribute
    NBS updates to n_updated."""
    import pytest

    from ihop_reddit_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    M.manifest_init(root)
    M.manifest_append(
        spark.createDataFrame(
            [(k, 10 * k, "live") for k in range(8)],
            "k long, v long, st string",
        ),
        root,
    )
    src = spark.createDataFrame([(1, 111), (2, 222)], "k long, v long")
    ver, n_upd, n_del, n_ins = M.manifest_merge_into(
        spark, root, src, "k",
        matched_update={"v": F.expr("s.v")},
        not_matched_by_source_delete=True,
        not_matched_by_source_delete_condition="k % 3 = 0",
        not_matched_by_source_update={
            "st": F.lit("stale"), "v": F.expr("v + 1")
        },
        not_matched_by_source_update_condition="k >= 4",
    )
    assert ver == 2  # ONE commit
    # matched updates {1,2} + NBS updates {4,5,7}; deletes {0,3,6}
    assert (n_upd, n_del, n_ins) == (5, 3, 0)
    got = {
        (r["k"], r["v"], r["st"])
        for r in M.read_snapshot(spark, root).collect()
    }
    assert got == {
        (1, 111, "live"), (2, 222, "live"),
        (4, 41, "stale"), (5, 51, "stale"), (7, 71, "stale"),
    }
    # unknown SET column refused
    with pytest.raises(ValueError, match="not_matched_by_source_update"):
        M.manifest_merge_into(
            spark, root, src, "k",
            not_matched_by_source_update={"nope": F.lit(1)},
        )


def test_compact_small_cluster_stat_pair_packs_rectangles(spark, tmp_path):
    """r14 (VERDICT r13 item 6): OPTIMIZE ZORDER at the maintenance
    grain — pack candidates order by the Morton code of their quantized
    footer (min_a, min_b), so each bin covers a bounded RECTANGLE in
    both dims, where single-column (or name) ordering leaves bins
    spanning the full range of the other dim. Rows are untouched (whole
    files, order-pinned segments), so the snapshot stays identical."""
    import os

    from ihop_reddit_spark.sources import manifest as M

    def build(root, order_pair):
        M.manifest_init(root)
        # 4x4 grid of cells appended ROW-MAJOR: name order clusters a
        # but spans the full b range inside any 4-file bin
        for gx in range(4):
            for gy in range(4):
                cell = spark.range(20).select(
                    (F.col("id") % 10 + gx * 100).alias("a"),
                    (F.col("id") / 10).cast("long").alias("h"),
                ).select(
                    "a", (F.col("h") * 5 + gy * 100).alias("b")
                )
                M.manifest_append(cell.coalesce(1), root)
        fsize = max(
            os.path.getsize(os.path.join(root, f))
            for f in M.live_files(root)
        )
        v, packed = M.manifest_compact_small(
            spark,
            root,
            max_file_bytes=1 << 30,
            target_file_bytes=int(fsize * 4.5),
            cluster_stat_pair=("a", "b") if order_pair else None,
        )
        assert packed == 16
        stats = M.live_file_stats(root)
        return [
            (s["a"][1] - s["a"][0], s["b"][1] - s["b"][0])
            for s in stats.values()
        ]

    zspans = build(str(tmp_path / "z"), True)
    nspans = build(str(tmp_path / "n"), False)
    assert len(zspans) == 4 and len(nspans) == 4
    # Morton pack order: every bin a 2x2 quadrant — bounded in BOTH dims
    assert max(sa for sa, _ in zspans) <= 120
    assert max(sb for _, sb in zspans) <= 120
    # row-major name order: a tight, b spans the whole grid
    assert max(sb for _, sb in nspans) >= 300

    # data no-op + provenance: snapshot identical to the 16-cell union
    snap = M.read_snapshot(spark, str(tmp_path / "z"))
    assert snap.count() == 16 * 20
    assert snap.agg(F.sum("a"), F.sum("b")).collect()[0] == \
        M.read_snapshot(spark, str(tmp_path / "n")).agg(
            F.sum("a"), F.sum("b")
        ).collect()[0]

    with pytest.raises(ValueError, match="mutually exclusive"):
        M.manifest_compact_small(
            spark, str(tmp_path / "z"),
            cluster_stat="a", cluster_stat_pair=("a", "b"),
        )


def test_matview_incremental_equals_full_recompute(spark, tmp_path):
    """r14: the incrementally-refreshed materialized aggregate equals a
    full recompute after appends, vector deletes, predicate deletes,
    and a data-no-op compaction — and the refresh is watermark-
    idempotent."""
    from ihop_reddit_spark.sources import manifest as M
    from ihop_reddit_spark.sources.matview import (
        matview_create,
        matview_refresh,
    )

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    M.manifest_init(src)
    rows = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        (F.col("id") * 3).alias("v"),
    )
    M.manifest_append(rows.repartition(2), src)
    matview_create(
        spark, src, view, ["g"],
        {"n": ("count", None), "s": ("sum", "v")},
    )

    # mutations: new group 9, growth, partial + full deletes
    M.manifest_append(
        spark.range(300, 340).select(
            F.col("id").alias("k"),
            F.lit(9).cast("long").alias("g"),
            (F.col("id") * 3).alias("v"),
        ).coalesce(1),
        src,
    )
    M.manifest_delete_rows(spark, src, F.col("k") % 7 == 3)
    _v, nd = matview_refresh(spark, view)
    assert nd >= 1
    M.manifest_delete_where(spark, src, F.col("g") == 9)  # group exits
    M.manifest_compact(spark, src, target_files=1)
    matview_refresh(spark, view)

    got = {
        (r["g"], r["n"], r["s"])
        for r in M.read_snapshot(spark, view).collect()
    }
    want = {
        (r["g"], r["n"], r["s"])
        for r in M.read_snapshot(spark, src)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
        )
        .collect()
    }
    assert got == want
    assert not any(g == 9 for g, _n, _s in got)  # dead group left

    head = M.latest_version(view)
    assert matview_refresh(spark, view) == (head, 0)  # idempotent
    assert M.latest_version(view) == head


def test_matview_refuses_non_additive_and_countless_specs(spark, tmp_path):
    from ihop_reddit_spark.sources import manifest as M
    from ihop_reddit_spark.sources.matview import (
        matview_create,
        matview_refresh,
    )

    src = str(tmp_path / "src")
    M.manifest_init(src)
    M.manifest_append(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("g"),
            F.col("id").alias("v"),
        ),
        src,
    )
    with pytest.raises(ValueError, match="additive"):
        matview_create(
            spark, src, str(tmp_path / "v1"), ["g"],
            {"n": ("count", None), "m": ("max", "v")},
        )
    with pytest.raises(ValueError, match="count"):
        matview_create(
            spark, src, str(tmp_path / "v2"), ["g"],
            {"s": ("sum", "v")},
        )
    # a plain manifest table is not a view
    with pytest.raises(ValueError, match="spec"):
        matview_refresh(spark, src)


def test_matview_join_incremental_equals_full_recompute(spark, tmp_path):
    """r14 join-view IVM: after fact appends/deletes AND dimension
    appends/deletes (including the cascade and late-arriving-dimension
    cases), the incrementally-refreshed join rollup equals a full
    recompute of A ⋈ B at both heads."""
    from ihop_reddit_spark.sources import manifest as M
    from ihop_reddit_spark.sources.matview import (
        matview_join_create,
        matview_join_refresh,
    )

    a_root, b_root = str(tmp_path / "a"), str(tmp_path / "b")
    view = str(tmp_path / "view")
    facts = spark.range(0, 400).select(
        F.col("id").alias("fid"),
        (F.col("id") % 20).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    dims = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    M.manifest_init(a_root)
    M.manifest_append(facts.repartition(2), a_root)
    M.manifest_init(b_root)
    M.manifest_append(dims.coalesce(1), b_root)
    matview_join_create(
        spark, a_root, b_root, view, "k", ["g"],
        {"n": ("count", None), "s": ("sum", "v")},
    )

    # facts for a dimension that does not exist yet (k=25) + growth
    M.manifest_append(
        spark.range(400, 450).select(
            F.col("id").alias("fid"),
            F.when(F.col("id") % 2 == 0, 25).otherwise(3)
            .cast("long").alias("k"),
            (F.col("id") * 2).alias("v"),
        ).coalesce(1),
        a_root,
    )
    M.manifest_delete_rows(spark, a_root, F.col("fid") % 9 == 4)
    M.manifest_delete_where(spark, b_root, F.col("k") % 5 == 2)  # cascade
    matview_join_refresh(spark, view)
    # the dimension arrives: k=25 joins a NEW group g=7
    M.manifest_append(
        spark.createDataFrame([(25, 7)], "k long, g long"), b_root
    )
    matview_join_refresh(spark, view)
    head = M.latest_version(view)
    assert matview_join_refresh(spark, view) == (head, 0)

    got = {
        (r["g"], r["n"], r["s"])
        for r in M.read_snapshot(spark, view).collect()
    }
    want = {
        (r["g"], r["n"], r["s"])
        for r in M.read_snapshot(spark, a_root)
        .join(M.read_snapshot(spark, b_root), "k")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
        )
        .collect()
    }
    assert got == want
    assert any(g == 7 for g, _n, _s in got)  # late dimension landed

    # column-collision refusal
    with pytest.raises(ValueError, match="collide"):
        matview_join_create(
            spark, a_root, a_root, str(tmp_path / "bad"), "k", ["k"],
            {"n": ("count", None)},
        )
    # single-table refresh refuses a join view
    from ihop_reddit_spark.sources.matview import matview_refresh

    with pytest.raises(ValueError, match="join view"):
        matview_refresh(spark, view)
