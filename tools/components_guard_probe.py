"""Components guard probe: where should ``duplicate_components`` stop
contracting and finish on the driver?

Builds a random edge set of N edges over 1.6·N node ids in Spark (no
Python transfer), materializes it once, then times, in one ``local[4]``
session with a 4 GB driver heap:

* ``driver``: after a warm-up call, the call at the default guard — one guarded collect and
  ``_driver_components`` (numpy hook-and-compress);
* ``star``: the call with the guard at 0 — checkpointed star rounds to a
  fixpoint; ``star_round_s`` is its time per round.

Each time is the call plus one ``count()`` of its output.

Peak RSS is read from ``ru_maxrss`` (Python driver) and the JVM's
``VmHWM`` in ``/proc/<pid>/status``; both are process-lifetime peaks, so
the driver path runs first and ``--skip-star`` leaves the star path out.

Usage: python tools/components_guard_probe.py N [--skip-star]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def main(n_edges: int, skip_star: bool) -> dict:
    from pyspark.sql import functions as F

    from ihop_reddit_spark.datapipe import dedup
    from ihop_reddit_spark.session import get_spark_session

    spark = get_spark_session(
        "components_guard_probe",
        {"spark.driver.memory": "4g", "spark.ui.showConsoleProgress": "false"},
        master="local[4]",
    )
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    span = int(n_edges * 1.6)
    pairs = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(span)).alias("left_id"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(span)).alias("right_id"),
    ).localCheckpoint()
    out = {"edges": n_edges}
    # warm-up: the JVM's first jobs are not the guard's cost
    dedup.duplicate_components(
        spark.createDataFrame([(1, 2)], "left_id long, right_id long")
    ).count()

    t = time.perf_counter()
    rows = dedup.duplicate_components(pairs).count()
    out["driver_s"] = round(time.perf_counter() - t, 2)
    out["nodes"] = rows
    out["driver_py_peak_rss_mb"] = round(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    )
    out["driver_jvm_peak_rss_mb"] = round(_vm_hwm_mb(jvm_pid))

    if not skip_star:
        dedup.MAX_DRIVER_EDGES = 0
        t = time.perf_counter()
        comp = dedup.duplicate_components(pairs)
        assert comp.count() == rows
        out["star_s"] = round(time.perf_counter() - t, 2)
        out["star_rounds"] = comp._cc_rounds
        out["star_round_s"] = round(out["star_s"] / max(comp._cc_rounds, 1), 2)
        out["star_jvm_peak_rss_mb"] = round(_vm_hwm_mb(jvm_pid))
    spark.stop()
    return out


if __name__ == "__main__":
    print(json.dumps(main(int(sys.argv[1]), "--skip-star" in sys.argv[2:])))
