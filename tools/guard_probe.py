"""Guard probe: up to what input size should an operator finish on the
driver instead of in Spark?

For each size N it builds one input (written once under ``WORKDIR``) and
times both sides of the operator's guard, each in its own ``local[4]``
process, after a warm-up call on a small slice:

* ``spark``: the guard patched to 0, so the Spark plan runs;
* ``driver``: the guard patched to N (and any driver budget lifted), so
  one Arrow collect and numpy finish the job.

A side's time is the call plus one aggregate over its output, which is
also its ``result``. The peak RSS of the Python driver (``ru_maxrss``) and
of the JVM (``VmHWM``) are process-lifetime peaks, which is why each side
gets a fresh process. Operators (``OP``):

* ``semantic`` — ``semantic.sign_lsh_semantic_dedup`` at ``n_bits=4``
  (guard ``MAX_LOCAL_ROWS``) over N vectors: sf0.1 embeddings (2,000 ×
  dim 64) replicated with a per-replica cyclic dimension rotation, which
  keeps within-replica cosines exactly and decorrelates replicas;
* ``jaccard`` — ``dedup.ngram_jaccard_pairs`` with corpus prep's settings
  (n 3, threshold 0.4, df cap 10,000; guards ``MAX_LOCAL_DOCS`` and
  ``MAX_LOCAL_POSTING_PAIRS``) over N documents: the sf0.1 documents
  (5,000), where replica r > 0 appends ``~r`` to each word whose
  ``xxhash64(word, r)`` is even, so each replica keeps its own near-dup
  pairs and shares the unchanged shingles with the others; the driver
  side also reports ``posting_pairs``, Σ C(df, 2) over the kept shingles;
* ``components`` — ``dedup.duplicate_components`` (guard
  ``MAX_DRIVER_EDGES``) over N random edges on 1.6·N node ids; the spark
  side also reports its star ``rounds``.

Prints one JSON line per size: {"op", "n", "spark", "driver", "same"}.

Usage: python tools/guard_probe.py OP [N ...] [--timeout S]
(a side that runs past S seconds, default 1800, is reported as
{"timeout_s": S}).
"""

from __future__ import annotations

import json
import os
import resource
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scaling_probe import BASE_SF  # noqa: E402  (the same sf0.1 tables)

WORKDIR = os.path.join(tempfile.gettempdir(), "spark_graft_guard_probe")


def _replicas(spark, table: str, n: int):
    """(base frame, replica frame ``__r``, factor) for ``n`` rows of
    ``table``; a replica's id is ``id·factor + r``."""
    base = spark.read.parquet(f"{BASE_SF}/{table}.parquet")
    factor = -(-n // base.count())
    return base, spark.range(factor).withColumnRenamed("id", "__r"), factor


def _semantic_input(spark, n: int):
    from pyspark.sql import functions as F

    emb, reps, factor = _replicas(spark, "embeddings", n)
    dim = len(emb.select("embedding").head()["embedding"])
    shift = F.col("__r") % dim
    return emb.crossJoin(reps).select(
        (F.col("vec_id") * factor + F.col("__r")).alias("vec_id"),
        # cyclic shift by replica index: slice(r+1..dim) ++ slice(1..r)
        F.when(shift == 0, F.col("embedding"))
        .otherwise(
            F.concat(
                F.slice("embedding", (shift + 1).cast("int"), (F.lit(dim) - shift).cast("int")),
                F.slice("embedding", 1, shift.cast("int")),
            )
        )
        .alias("embedding"),
    ).orderBy("vec_id").limit(n)


def _jaccard_input(spark, n: int):
    from pyspark.sql import functions as F

    docs, reps, factor = _replicas(spark, "documents", n)
    r = F.col("__r")
    words = F.transform(
        F.split("text", " "),
        lambda w: F.when(
            (r > 0) & (F.pmod(F.xxhash64(w, r), F.lit(2)) == 0),
            F.concat(w, F.lit("~"), r.cast("string")),
        ).otherwise(w),
    )
    return docs.crossJoin(reps).select(
        (F.col("doc_id") * factor + r).alias("doc_id"),
        F.array_join(words, " ").alias("text"),
    ).orderBy("doc_id").limit(n)


def _components_input(spark, n: int):
    from pyspark.sql import functions as F

    span = int(n * 1.6)
    return spark.range(n).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(span)).alias("left_id"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(span)).alias("right_id"),
    )


def _run(op: str, frame, side: str) -> dict:
    """The call plus one aggregate over its output."""
    from pyspark.sql import functions as F

    from ihop_reddit_spark.datapipe import dedup, semantic

    if op == "semantic":
        out = semantic.sign_lsh_semantic_dedup(frame, n_bits=4)
        aggs = [F.count("*"), F.sum("vec_id")]
    elif op == "jaccard":
        out = dedup.ngram_jaccard_pairs(
            frame, "text", "doc_id", n=3, threshold=0.4, max_shingle_df=10_000
        )
        aggs = [F.count("*"), F.sum("left_id"), F.sum("right_id"), F.sum("inter")]
    else:
        out = dedup.duplicate_components(frame)
        aggs = [F.count("*"), F.sum("component_id")]
    res = {"result": list(out.agg(*aggs).collect()[0])}
    if op == "components" and side == "spark":
        res["rounds"] = out._cc_rounds
    frame.sparkSession.catalog.clearCache()
    return res


def _posting_pairs(frame) -> int:
    """Σ C(df, 2) over the shingles the Jaccard join keeps."""
    from pyspark.sql import functions as F

    from ihop_reddit_spark.datapipe.dedup import exploded_word_shingles

    df = exploded_word_shingles(frame, "text", "doc_id").groupBy("__g").count()
    return df.where(F.col("count") <= 10_000).agg(
        F.sum(F.col("count") * (F.col("count") - 1) / 2)
    ).collect()[0][0]


def _one(op: str, n: int, side: str) -> dict:
    """Time one side of ``op`` at size ``n`` in this process."""
    from ihop_reddit_spark.datapipe import dedup, semantic
    from ihop_reddit_spark.session import get_spark_session

    spark = get_spark_session(
        "guard_probe",
        {"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"},
        master="local[4]",
    )
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    path = f"{WORKDIR}/{op}-n{n}.parquet"
    if not os.path.exists(path):
        build = {"semantic": _semantic_input, "jaccard": _jaccard_input}.get(op, _components_input)
        build(spark, n).write.mode("overwrite").parquet(path)
    frame = spark.read.parquet(path)
    guard = n if side == "driver" else 0
    if op == "semantic":
        semantic.MAX_LOCAL_ROWS = guard
    elif op == "jaccard":
        dedup.MAX_LOCAL_DOCS = guard
        dedup.MAX_LOCAL_POSTING_PAIRS = 2**62
    else:
        dedup.MAX_DRIVER_EDGES = guard
    _run(op, frame.limit(200), side)  # warm-up
    t = time.perf_counter()
    res = _run(op, frame, side)
    res["wall_s"] = round(time.perf_counter() - t, 2)
    with open(f"/proc/{jvm_pid}/status") as fh:
        hwm = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    res["py_peak_rss_mb"] = round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
    res["jvm_peak_rss_mb"] = round(hwm / 1024)
    res["peak_rss_mb"] = res["py_peak_rss_mb"] + res["jvm_peak_rss_mb"]
    if op == "jaccard" and side == "driver":  # after the peaks are read
        res["posting_pairs"] = int(_posting_pairs(frame))
    spark.stop()
    return res


def main(op: str, sizes: list[int], timeout: float) -> None:
    for n in sizes:
        row: dict = {"op": op, "n": n}
        for side in ("spark", "driver"):
            try:
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--one", op, str(n), side],
                    capture_output=True, text=True, timeout=timeout, check=True,
                )
                row[side] = json.loads(proc.stdout.strip().splitlines()[-1])
            except subprocess.TimeoutExpired:
                row[side] = {"timeout_s": timeout}
        if "result" in row["spark"] and "result" in row["driver"]:
            row["same"] = row["spark"]["result"] == row["driver"]["result"]
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    args = sys.argv[1:]
    if args[:1] == ["--one"]:
        print(json.dumps(_one(args[1], int(args[2]), args[3])))
    else:
        timeout = 1800.0
        if "--timeout" in args:
            i = args.index("--timeout")
            timeout = float(args[i + 1])
            del args[i : i + 2]
        op, sizes = args[0], [int(a) for a in args[1:]]
        main(op, sizes or [5000, 20000, 50000, 100000], timeout)
