"""`zstjsonl` — a Spark 4 Python Data Source that streams zstd-compressed
JSON-lines (the Pushshift dump format the reference pre-decompresses in a
shell stage, ``dvc.yaml:3-9``) as raw lines, one ``value string`` row per
non-blank line. :func:`~.reddit.read_jsonl_zst` parses those lines with
``from_json`` under the fixed schema and its PERMISSIVE
``_corrupt_record`` channel::

    spark.dataSource.register(ZstJsonlDataSource)
    lines = spark.read.format("zstjsonl").load("dumps/RC_2023-01.zst")

Each path is a file, a glob, or a directory searched recursively for
``*.zst``; ``load([...])`` takes several. The planner sees a real scan
with one task per file — single-frame zstd is not splittable, so one
file per task IS the parallelism ceiling, the reference's
one-dump-per-month unit — and files enumerate at planning time. Each
task streams its file in 1 MiB chunks, so no dump is ever held whole:
the ``binaryFile`` row per file this replaced was capped at 2 GiB and
decoded in one step. Bytes that are not UTF-8 decode with replacement
characters, so they reach the parser as a corrupt line instead of
failing the task.

This module also hosts ``eventgen``, the streaming source below.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _zst_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            glob.glob(os.path.join(path, "**", "*.zst"), recursive=True)
        )
    return sorted(glob.glob(path)) or [path]


def _text_lines(raw_lines) -> Iterator[tuple[str]]:
    for raw in raw_lines:
        if raw.strip():
            yield (raw.decode("utf-8", "replace"),)


class ZstJsonlReader(DataSourceReader):
    def __init__(self, options: dict):
        # load(path) sets "path"; load([...]) sets "paths" to a JSON list
        paths = json.loads(options.get("paths", "[]")) or [options.get("path")]
        if not all(paths):
            raise ValueError("zstjsonl requires a path")
        self.files = [f for p in paths for f in _zst_files(p)]

    def partitions(self) -> Sequence[InputPartition]:
        # one task per file: single-frame zstd is not splittable
        return [_FilePartition(f) for f in self.files]

    def read(self, partition: _FilePartition) -> Iterator[tuple[str]]:
        import pyarrow as pa  # executor-side import

        with pa.input_stream(partition.path, compression="zstd") as stream:
            buf = b""
            while chunk := stream.read(1 << 20):
                buf += chunk
                *lines, buf = buf.split(b"\n")
                yield from _text_lines(lines)
            yield from _text_lines([buf])


class ZstJsonlDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "zstjsonl"

    def schema(self) -> str:
        return "value string"

    def reader(self, schema) -> ZstJsonlReader:
        return ZstJsonlReader(self.options)


# ---------------------------------------------------------------------------
# `eventgen` — a Spark 4 Python STREAMING data source: a deterministic,
# replayable synthetic event stream (the testing/demo twin of a Kafka
# topic). Offsets are plain row counters, every field is a pure function
# of the row index (md5-free integer mixing), so any (start, end) range
# replays bit-identically — exactly-once semantics fall out of
# determinism + offset tracking, and tests can assert exact batch
# contents. Usage:
#
#     spark.dataSource.register(EventGenDataSource)
#     (spark.readStream.format("eventgen")
#           .option("rowsPerBatch", 100).load())
#
# Schema mirrors the events table: event_id, user_id, event_type, value.
# ---------------------------------------------------------------------------
_EVENT_TYPES = ("view", "click", "purchase", "refund", "error")


def _gen_rows(start: int, end: int):
    for i in range(start, end):
        mixed = (i * 2654435761) % (1 << 32)  # Knuth multiplicative hash
        yield (
            i,
            mixed % 1000,
            _EVENT_TYPES[mixed % len(_EVENT_TYPES)],
            round((mixed % 10_000) / 100.0, 2),
        )


class EventGenStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.rows_per_batch = int(options.get("rowsPerBatch", 100))
        self.max_rows = int(options.get("maxRows", 0))  # 0 = unbounded

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def read(self, start: dict):
        begin = start["offset"]
        end = begin + self.rows_per_batch
        if self.max_rows:
            end = min(end, self.max_rows)
        # a list-backed ITERATOR: the runtime drives it with next() AND
        # pickles it into the prefetch cache (a plain generator fails the
        # pickle, a bare list fails the next())
        return iter(list(_gen_rows(begin, end))), {"offset": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay — the recovery path after a failure
        return iter(list(_gen_rows(start["offset"], end["offset"])))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: the generator has no retained state


class EventGenDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "eventgen"

    def schema(self):
        return (
            "event_id long, user_id long, event_type string, value double"
        )

    def simpleStreamReader(self, schema) -> EventGenStreamReader:
        return EventGenStreamReader(self.options)
