"""Guard probe for sign-LSH semantic dedup (datapipe/semantic.py): where
should ``sign_lsh_semantic_dedup`` stop finishing on the driver?

For each corpus size N it builds N vectors from the sf0.1 embeddings
(2,000 × dim 64), replicated with a per-replica cyclic dimension rotation
(within-replica pairwise cosines are EXACTLY preserved — rotation is a
permutation applied to both sides — while cross-replica pairs
decorrelate), and times both sides of ``semantic.MAX_LOCAL_ROWS`` at
``n_bits=4``:

* ``spark``: the guard patched to 0, so the Catalyst plan runs;
* ``driver``: the guard patched to N, so one Arrow collect and numpy
  finish the job.

With ``n_bits`` fixed the (table, bucket) cells grow with N, so both
sides' work grows with Σ(cell size)²·dim. Each side runs in its own
``local[4]`` process (a warm-up call on 200 vectors first), times the call
plus one aggregate over its survivors (count and id sum), and reads the peak RSS of the
Python driver (``ru_maxrss``) and of the JVM (``VmHWM``); both are
process-lifetime peaks, which is why each side gets a fresh process.

Prints one JSON line per size:
{"n": N, "spark": {...}, "driver": {...}, "same_survivors": bool}.

Usage: python tools/semantic_scale_probe.py [N ...] [--timeout S]
(default sizes 5000 10000 20000 50000; a side that runs past S seconds,
default 1800, is reported as {"timeout_s": S}).
"""

from __future__ import annotations

import json
import os
import resource
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE_SF = "/root/testdata/sf0.1"
WORKDIR = "/tmp/spark_graft_semantic_scale"
N_BITS = 4


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def _rotated(spark, n: int):
    """``n`` rotated replicas' worth of the base embeddings."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{BASE_SF}/embeddings.parquet")
    base = emb.count()
    dim = len(emb.select("embedding").head()["embedding"])
    factor = -(-n // base)
    reps = spark.range(factor).withColumnRenamed("id", "__r")
    shift = F.col("__r") % dim
    return emb.crossJoin(reps).select(
        (F.col("vec_id") * factor + F.col("__r")).alias("vec_id"),
        F.col("label"),
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


def _one(n: int, side: str) -> dict:
    """Time one side at size ``n`` in this process."""
    from pyspark.sql import functions as F

    from ihop_reddit_spark.datapipe import semantic
    from ihop_reddit_spark.session import get_spark_session

    spark = get_spark_session(
        "semantic_scale_probe",
        {"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"},
        master="local[4]",
    )
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    path = f"{WORKDIR}/n{n}.parquet"
    if not os.path.exists(path):
        _rotated(spark, n).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    semantic.MAX_LOCAL_ROWS = n if side == "driver" else 0

    def run(frame) -> list[int]:
        """(count, id sum) of the survivors."""
        out = semantic.sign_lsh_semantic_dedup(frame, n_bits=N_BITS)
        row = out.agg(F.count("*"), F.sum("vec_id")).collect()[0]
        spark.catalog.clearCache()
        return list(row)

    run(df.where(F.col("vec_id") < 200))  # warm-up
    t = time.perf_counter()
    survivors = run(df)
    res = {
        "wall_s": round(time.perf_counter() - t, 2),
        "survivors": survivors,
        "py_peak_rss_mb": round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024),
        "jvm_peak_rss_mb": round(_vm_hwm_mb(jvm_pid)),
    }
    res["peak_rss_mb"] = res["py_peak_rss_mb"] + res["jvm_peak_rss_mb"]
    spark.stop()
    return res


def main(sizes: list[int], timeout: float) -> None:
    for n in sizes:
        row: dict = {"n": n, "n_bits": N_BITS}
        for side in ("spark", "driver"):
            try:
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--one", str(n), side],
                    capture_output=True, text=True, timeout=timeout, check=True,
                )
                row[side] = json.loads(proc.stdout.strip().splitlines()[-1])
            except subprocess.TimeoutExpired:
                row[side] = {"timeout_s": timeout}
        if "survivors" in row["spark"] and "survivors" in row["driver"]:
            row["same_survivors"] = row["spark"]["survivors"] == row["driver"]["survivors"]
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    args = sys.argv[1:]
    if args[:1] == ["--one"]:
        print(json.dumps(_one(int(args[1]), args[2])))
    else:
        timeout = 1800.0
        if "--timeout" in args:
            i = args.index("--timeout")
            timeout = float(args[i + 1])
            del args[i : i + 2]
        main([int(a) for a in args] or [5000, 10000, 20000, 50000], timeout)
