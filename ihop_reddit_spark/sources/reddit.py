"""Sources (SURVEY §2.1, S1-S4, S9).

Schema-on-read everywhere: JSON scans ALWAYS carry an explicit schema (an
inference pass over 100 TB of JSON is a full extra scan) plus a
``_corrupt_record`` channel so bad rows are observable instead of silently
null-filled (the reference's known failure mode, ``README.md:84``).
"""

from __future__ import annotations

import weakref
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import COMMENTS_SCHEMA, CONTEXTS_SCHEMA, SUBMISSIONS_SCHEMA

CORRUPT_COL = "_corrupt_record"

#: sessions the ``zstjsonl`` data source is registered with: Spark warns
#: on every re-registration; weak, so a discarded session drops out
_ZST_SESSIONS: weakref.WeakSet = weakref.WeakSet()


def read_jsonl(
    spark: SparkSession,
    paths: str | Iterable[str],
    schema: T.StructType,
    mode: str = "PERMISSIVE",
    keep_corrupt: bool = False,
) -> DataFrame:
    """S1 — JSON-lines scan with fixed schema.

    Reference: ``get_spark_dataframe`` (``ihop/import_data.py:181-194``),
    ``spark.read.format("json").option("mode", "PERMISSIVE").schema(...)``.
    Compressed inputs (bz2/gzip/zstd) decompress transparently via Hadoop
    codecs (S2) — no shell pre-stage needed.
    """
    if isinstance(paths, str):
        paths = [paths]
    read_schema = schema
    if keep_corrupt and CORRUPT_COL not in [f.name for f in schema.fields]:
        read_schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
    df = (
        spark.read.format("json")
        .option("mode", mode)
        .schema(read_schema)
        .load(list(paths))
    )
    if keep_corrupt:
        return df
    return df.drop(CORRUPT_COL) if CORRUPT_COL in df.columns else df


def read_jsonl_zst(
    spark: SparkSession,
    paths: str | Iterable[str],
    schema: T.StructType,
    mode: str = "PERMISSIVE",
    keep_corrupt: bool = False,
) -> DataFrame:
    """S2 — zstd-compressed JSON-lines (the Pushshift ``.zst`` dumps the
    reference pre-decompresses in a shell stage, ``dvc.yaml:3-9`` /
    ``README.md:84``).

    This container's Hadoop lacks the native zstd codec (NativeCodeLoader
    falls back to builtin-java, which has no zstd), so the lines come
    from the ``zstjsonl`` Python Data Source
    (:mod:`.zst_datasource`): one task per ``.zst`` file, each streaming
    its file through pyarrow's zstd decoder in 1 MiB chunks. The lines
    then take the same schema-on-read path as :func:`read_jsonl`
    (``from_json`` + ``_corrupt_record`` channel). On a cluster with the
    native codec installed, plain ``read_jsonl`` over ``*.zst`` subsumes
    this.

    Scale note: single-frame ``.zst`` (Pushshift's layout) is not
    splittable, so one file = one task is the honest parallelism ceiling —
    exactly the reference's one-dump-per-month unit. Repartition after
    parsing when files are few and large.
    """
    from .zst_datasource import ZstJsonlDataSource

    if isinstance(paths, str):
        paths = [paths]
    read_schema = schema
    if CORRUPT_COL not in [f.name for f in schema.fields]:
        read_schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
    if spark not in _ZST_SESSIONS:
        spark.dataSource.register(ZstJsonlDataSource)
        _ZST_SESSIONS.add(spark)
    lines = spark.read.format("zstjsonl").load(list(paths))
    parsed = lines.select(
        F.from_json(
            F.col("value"),
            read_schema,
            {"mode": mode, "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("r"),
        "value",
    ).select("r.*", "value")
    # from_json leaves the corrupt column null on parse failure instead of
    # echoing the raw line (SPARK-25243 semantics) — restore read_jsonl's
    # behavior by filling it from the original line when every schema field
    # is null
    if keep_corrupt:
        data_cols = [f.name for f in schema.fields if f.name != CORRUPT_COL]
        all_null = None
        for c in data_cols:
            cond = F.col(c).isNull()
            all_null = cond if all_null is None else (all_null & cond)
        return parsed.withColumn(
            CORRUPT_COL,
            F.when(all_null, F.col("value")).otherwise(F.col(CORRUPT_COL)),
        ).drop("value")
    return parsed.drop("value").drop(CORRUPT_COL)


def read_comments(spark: SparkSession, paths, **kwargs) -> DataFrame:
    """Comments table (``ihop/import_data.py:33-34`` schema)."""
    return read_jsonl(spark, paths, COMMENTS_SCHEMA, **kwargs)


def read_submissions(spark: SparkSession, paths, **kwargs) -> DataFrame:
    """Submissions table (``ihop/import_data.py:35`` schema; epoch normalized
    to LONG instead of the reference's STRING)."""
    return read_jsonl(spark, paths, SUBMISSIONS_SCHEMA, **kwargs)


def read_contexts_csv(spark: SparkSession, paths) -> DataFrame:
    """S3 — one-column context CSV (``ihop/community2vec.py:64-71``)."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.csv(list(paths), header=False, schema=CONTEXTS_SCHEMA)


def read_parquet_tables(
    spark: SparkSession, sf_dir: str, names: Iterable[str]
) -> dict[str, DataFrame]:
    """S4 — load the driver's synthetic tables from a scale-factor dir."""
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}


def corrupt_record_count(df: DataFrame) -> int:
    """Observability for PERMISSIVE scans: how many rows failed the schema.

    Spark refuses queries that reference ONLY ``_corrupt_record`` on a raw
    JSON scan (the column is populated during parsing, so a corrupt-only
    projection would re-parse inconsistently); the documented pattern is to
    materialize the parsed rows first, which this does with a scoped cache.
    """
    if CORRUPT_COL not in df.columns:
        return 0
    df.cache()
    try:
        return df.where(F.col(CORRUPT_COL).isNotNull()).count()
    finally:
        df.unpersist()
