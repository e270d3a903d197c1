"""Outside-in benchmark of the ihop_reddit_spark engine.

    python3 perfbench/run.py --workload paper_dag --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one closed-loop client, one
``local[N]`` session (N = min(4, cores)). A run sets the session up once,
then runs passes until ``--seconds`` have been measured, at least one. The
first pass runs in a fresh session, as a pipeline run or the first session
after the explorer starts does; with the committed ``run_seconds`` it is
the only one. The last line of standard output is one
JSON object: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it summarises the run, with per-type request
latencies and their sample counts. A traced run also writes its spans to
``.perfbench_work/traces/<workload>-seed<seed>.json``.

End-to-end metrics: ``setup_s`` is the time from process start (Python and
package import) through the JVM launch and session build to the end of one
warm-up job. ``pass_s`` is the wall time of the layer calls in a pass.
``pass_cpu_s`` is the CPU time this process, the JVM and its Python workers
used during those same calls; unlike wall time it leaves out time the host
steals from the VM. Both stop their clocks around the output checks, so
neither counts the benchmark's own work. ``peak_rss_mb`` is the peak RSS of
the driver JVM plus this process.

Every file the run writes lives under ``.perfbench_work/`` in the
checkout: span files stay there, the rest is removed at exit.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from inputs import DATA_DIR, fingerprint  # noqa: E402
from counters import SparkCounters, cpu_seconds, descendants, jvm_pid, peak_rss_mb  # noqa: E402
from oracle import load_expected  # noqa: E402
from spans import Ledger, Tracer, latency_by_type, median, self_seconds  # noqa: E402
from workloads import WORKLOADS, Context, warmup_job  # noqa: E402

CORES = min(4, os.cpu_count() or 1)
MASTER = f"local[{CORES}]"
DRIVER_MEMORY = "2g"
#: A fixed heap and young generation: with adaptive sizing the driver JVM's
#: peak RSS varied by a quarter between runs of identical work.
JVM_HEAP = "-Xms2g -Xmn256m"

END_TO_END = ("setup_s", "pass_s", "pass_cpu_s", "peak_rss_mb")
COUNTERS = ("busy_s", "driver_s", "jobs", "tasks", "shuffle_mb")


def counters_of(site: str) -> tuple[str, ...]:
    """plans and datapipe calls also report exchanges; datapipe calls also
    report task_skew."""
    extra = ()
    if site.startswith("plans."):
        extra = ("exchanges",)
    elif site.startswith("datapipe."):
        extra = ("exchanges", "task_skew")
    return COUNTERS + extra


def per_layer_names() -> list[tuple[str, str]]:
    """(metric name, unit) for every per-layer metric, in report order."""
    units = {"busy_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
             "shuffle_mb": "MiB", "exchanges": "count", "task_skew": "ratio"}
    out = [("session.get_spark_session.busy_s", "s"), ("trace.pass_s", "s"),
           ("trace.pass_self_s", "s"), ("trace.overhead_s", "s")]
    for wl in WORKLOADS.values():
        for site in wl.call_sites:
            out += [(f"{site}.{c}", units[c]) for c in counters_of(site)]
    out.append(("sources.manifest_delete_where.rows_rewritten_per_deleted", "ratio"))
    return out


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_conf(work: str) -> dict[str, str]:
    os.makedirs(os.path.join(work, "jvm-tmp"), exist_ok=True)
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')} -XX:-UsePerfData {JVM_HEAP}"
        ),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of those processes has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    children = descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    # fail fast, before any set-up, when the program is not in the checkout
    import ihop_reddit_spark  # noqa: F401
    from ihop_reddit_spark.session import get_spark_session

    cache = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(cache, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # keep every scratch file of Python, the JVM and Spark inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "py-tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = os.environ["TMPDIR"]
    spark, wl = None, None
    try:
        spark = get_spark_session("perfbench", spark_conf(work), master=MASTER)
        spark.sparkContext.setLogLevel("ERROR")
        warmup_job(spark, DATA_DIR)
        setup_s = time.perf_counter() - T_START

        expected = load_expected()
        counters = SparkCounters(spark)
        pid = jvm_pid(spark)
        ctx = Context(
            spark, DATA_DIR, work, args.seed, Tracer(counters.next_job_id, enabled=bool(args.trace)),
            Ledger(), expected, fingerprint() == expected["table_fingerprint"], lambda: cpu_seconds(pid),
        )
        workload = WORKLOADS[args.workload](ctx)
        workload.prepare()
        wl = workload  # closed at exit once prepared

        passes, jobs_lo = [], 0
        measured, overhead = 0.0, []
        while not passes or measured < args.seconds:
            ctx.tracer.pass_id += 1
            cost0 = ctx.tracer.cost
            t = time.perf_counter()
            with ctx.tracer.span("pass"):
                passes.append(wl.run_pass())
            measured += time.perf_counter() - t
            overhead.append(ctx.tracer.cost - cost0)
            if args.trace:
                jobs_hi = counters.next_job_id()
                counters.collect(jobs_lo, jobs_hi)
                jobs_lo = jobs_hi
        pass_s = median([p.seconds for p in passes])
        latencies = latency_by_type(s for p in passes for s in p.latencies)
        rss_jvm, rss_py = peak_rss_mb(pid), resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

        ledger = ctx.ledger
        for op, what in ledger.failures:
            print(f"FAILED op {op}: {what}", file=sys.stderr)
        summary = {
            "workload": args.workload, "seed": args.seed, "passes": len(passes),
            "error_rate": ledger.error_rate,
            "pass_s": [round(p.seconds, 3) for p in passes],
            "pass_cpu_s": [round(p.cpu_seconds, 3) for p in passes],
            "setup_s": round(setup_s, 3),
            "peak_rss_mb": {"jvm": round(rss_jvm, 1), "python": round(rss_py, 1)},
            "latency_ms": {k: {q: v[q] if q == "n" else round(v[q] * 1e3, 1) for q in v}
                           for k, v in latencies.items()},
        }
        print(json.dumps(summary))

        if args.trace:
            write_spans(os.path.join(cache, "traces", f"{args.workload}-seed{args.seed}.json"), ctx.tracer)
            metrics = layer_metrics(ctx.tracer, counters, wl)
            metrics["session.get_spark_session.busy_s"] = setup_s
            metrics["trace.pass_s"] = pass_s
            metrics["trace.pass_self_s"] = median(
                [t for sp, t in zip(ctx.tracer.spans, self_seconds(ctx.tracer.spans)) if sp.name == "pass"]
            )
            metrics["trace.overhead_s"] = median(overhead)
            units = dict(per_layer_names())
            out = {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()}
        else:
            out = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "pass_s": {"value": pass_s, "unit": "s"},
                "pass_cpu_s": {"value": median([p.cpu_seconds for p in passes]), "unit": "s"},
                "peak_rss_mb": {"value": rss_jvm + rss_py, "unit": "MiB"},
            }
        result = {
            "correct": ledger.failed == 0,
            "attempted": ledger.attempted,
            "failed": ledger.failed,
            "metrics": out,
        }
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def write_spans(path: str, tracer) -> None:
    """The traced run's spans, kept in memory until now, as one JSON list."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump([dataclasses.asdict(s) for s in tracer.spans], f, indent=1)


def layer_metrics(tracer, counters, wl) -> dict[str, float]:
    """Median over calls of each call site's counters. For the explorer's
    request types ``busy_s`` is the median request latency."""
    by_site: dict[str, list[dict]] = {}
    for span in tracer.spans:
        if span.name != "pass":
            by_site.setdefault(span.name, []).append(counters.call_counters(span))
    out: dict[str, float] = {}
    for site, rows in by_site.items():
        for c in counters_of(site):
            out[f"{site}.{c}"] = median([r[c] for r in rows])
    if getattr(wl, "rows_rewritten_per_deleted", None):
        out["sources.manifest_delete_where.rows_rewritten_per_deleted"] = median(wl.rows_rewritten_per_deleted)
    return out


if __name__ == "__main__":
    sys.exit(main())
