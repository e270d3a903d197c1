"""Spark-side counters for traced runs, read from the in-process status
stores (both are populated with ``spark.ui.enabled=false``).

``next_job_id`` is the only call made while a timed call is open; every
other read happens after the pass, so it never lands inside a span.
"""

from __future__ import annotations

import os

from spans import Job, Span, driver_seconds, jobs_in_window, median, stage_owners, stages_in_window

MIB = float(1 << 20)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jobs: dict[int, Job] = {}
        self._owners: dict[int, int] = {}  # stage id -> the job that created it
        self._exec_seen = -1
        self._exchanges_by_job: dict[int, int] = {}

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    # -- reads after the timed calls ------------------------------------
    def collect(self, lo: int, hi: int) -> None:
        """Load jobs ``lo..hi-1`` and the SQL executions that ran them."""
        for jid in range(lo, hi):
            if jid in self._jobs:
                continue
            j = self._store.job(jid)
            sub, done = j.submissionTime(), j.completionTime()
            start = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
            end = done.get().getTime() / 1000.0 if done.isDefined() else start
            stages = tuple(int(s) for s in _iter(j.stageIds()))
            self._jobs[jid] = Job(jid, start, end, int(j.numCompletedTasks()), stages)
        self._owners = stage_owners(self._jobs.values())
        for e in _iter(self._sql.executionsList()):
            eid = int(e.executionId())
            if eid <= self._exec_seen:
                continue
            jobs = [int(k) for k in _iter(e.jobs().keys())]
            if not jobs or any(j >= hi for j in jobs):
                continue  # still running or beyond this window
            self._exec_seen = max(self._exec_seen, eid)
            graph = self._sql.planGraph(eid)
            n = sum(
                1
                for node in _iter(graph.allNodes())
                if node.name().endswith("Exchange") and not node.name().startswith("Reused")
            )
            # one execution's exchanges are charged to its first job
            self._exchanges_by_job[min(jobs)] = self._exchanges_by_job.get(min(jobs), 0) + n

    def call_counters(self, span: Span) -> dict[str, float]:
        jobs = jobs_in_window(span, self._jobs.values())
        shuffle = 0
        largest = None
        for sid in stages_in_window(span, self._owners):
            st = self._store.lastStageAttempt(sid)
            if str(st.status().toString()) != "COMPLETE":
                # Skipped. On Spark 4.1 a job that reuses a shuffle lists the
                # map stage under a new id, which is recorded as SKIPPED with
                # no metrics; the stage that wrote the output keeps its record.
                continue
            shuffle += int(st.shuffleWriteBytes())
            run = int(st.executorRunTime())
            if largest is None or run > largest[0]:
                largest = (run, sid, int(st.attemptId()), int(st.numTasks()))
        return {
            "busy_s": span.seconds,
            "driver_s": driver_seconds(span, jobs),
            "jobs": float(len(jobs)),
            "tasks": float(sum(j.tasks for j in jobs)),
            "shuffle_mb": shuffle / MIB,
            "exchanges": float(sum(self._exchanges_by_job.get(j.job_id, 0) for j in jobs)),
            "task_skew": self._task_skew(largest),
        }

    def _task_skew(self, largest) -> float:
        """Max over median task duration in the stage with the most
        executor run time; 1.0 when the call ran no stage."""
        if largest is None:
            return 1.0
        _, sid, attempt, n = largest
        durations = [
            float(t.duration().get()) if t.duration().isDefined() else 0.0
            for t in _iter(self._store.taskList(sid, attempt, max(n, 1)))
        ]
        mid = median(durations) if durations else 0.0
        return max(durations) / mid if mid > 0 else 1.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM's Python workers)."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def cpu_seconds(jvm: int) -> float:
    """CPU time used so far by this process, the JVM and the JVM's
    workers, reaped ones included. Time the host steals from the VM is not
    in it."""
    t = os.times()
    total = t.user + t.system
    tick = os.sysconf("SC_CLK_TCK")
    for pid in [jvm, *descendants(jvm)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between the listing and the read
        total += sum(int(x) for x in fields[11:15]) / tick  # utime stime cutime cstime
    return total
