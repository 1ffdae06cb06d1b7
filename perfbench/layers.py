"""Spans around the calls into each layer, and per-layer attribution.

A :class:`Tracer` records a span (kind, start, end, parent) around
each call the benchmark makes into the engine: ``catalog.load`` scans,
``Query.build``, the materialization, and ``release_checkpoints``.
Every span gets its own Spark job group, so the jobs, stages and tasks
it caused can be read back from Spark's status store when the run
ends (:func:`attribute`). Spans stay in memory until then.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

#: job-group property; the job description is left alone so that SQL
#: executions keep their call site ("localCheckpoint at ...").
GROUP_PROP = "spark.jobGroup.id"

#: status-store retention for the traced run, high enough that no job,
#: stage, task or SQL execution of one run is evicted (checked by
#: :func:`attribute`).
TRACE_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.retainedTasks": "10000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}


class Tracer:
    """In-memory spans; a disabled tracer records nothing and leaves
    the job group alone, so untraced runs execute plain engine calls."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        self.sc.setLocalProperty(GROUP_PROP, span["id"] if span else None)

    @contextmanager
    def span(self, kind: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"perfbench-{len(self.spans)}",
            "kind": kind,
            "parent": parent["id"] if parent else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _contiguous(ids: list[int], what: str, first: int | None = 0) -> None:
    """Ids are handed out one by one, so a gap (or, where the first id
    is known, a missing head) means the store evicted entries."""
    if not ids:
        return
    lo = min(ids) if first is None else first
    if sorted(ids) != list(range(lo, max(ids) + 1)):
        raise RuntimeError(f"status store evicted {what}: raise its spark.ui.retained* limit")


def attribute(spark, spans: list[dict]) -> None:
    """Add to every span the jobs, stages and tasks its job group ran.

    Sets on each span: ``jobs``, ``checkpoint_jobs`` (jobs of SQL
    executions started by ``localCheckpoint``/``checkpoint``), ``stages``
    (stages that ran), ``tasks``, per-task ``task_ms`` and
    ``sched_delay_ms`` lists, and the stage sums ``run_ms``, ``cpu_ns``,
    ``gc_ms``, ``input_rows``, ``shuffle_write_bytes``,
    ``shuffle_read_bytes``, ``fetch_wait_ms`` and ``spill_bytes``. (Stage
    input bytes are left out: the vectorized parquet reader reports
    only a few KiB per scan.) Raises if the store evicted anything.
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList

    jobs_seq = store.jobsList(empty())
    by_group: dict[str, list[int]] = {}
    job_stages: dict[int, list[int]] = {}
    for i in range(jobs_seq.length()):
        job = jobs_seq.apply(i)
        jid = job.jobId()
        group = _opt(job.jobGroup())
        sids = job.stageIds()
        job_stages[jid] = [sids.apply(k) for k in range(sids.length())]
        if group is not None:
            by_group.setdefault(group, []).append(jid)
    _contiguous(list(job_stages), "jobs")

    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    checkpoint_jobs: set[int] = set()
    exec_ids = []
    for i in range(execs.length()):
        ex = execs.apply(i)
        exec_ids.append(ex.executionId())
        if ex.description().startswith(("localCheckpoint at", "checkpoint at")):
            keys = ex.jobs().keys().toSeq()
            checkpoint_jobs.update(keys.apply(k) for k in range(keys.length()))
    # execution ids are unique per JVM, not per context: only gaps show
    _contiguous(exec_ids, "SQL executions", first=None)

    stages_seq = store.stageList(empty(), False, False, sc._gateway.new_array(jvm.double, 0), empty())
    stage_ids = set()
    ran: dict[int, list] = {}
    for i in range(stages_seq.length()):
        st = stages_seq.apply(i)
        stage_ids.add(st.stageId())
        if st.status().toString() in ("COMPLETE", "FAILED"):
            ran.setdefault(st.stageId(), []).append(st)
    _contiguous(list(stage_ids), "stages")

    wanted = {j for s in spans for j in by_group.get(s["id"], ())}
    stage_stats: dict[int, dict] = {}
    for jid in wanted:
        for sid in job_stages[jid]:
            if sid in stage_stats or sid not in ran:
                continue
            agg = {
                "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                "input_rows": 0, "shuffle_write_bytes": 0,
                "shuffle_read_bytes": 0, "fetch_wait_ms": 0, "spill_bytes": 0,
                "task_ms": [], "sched_delay_ms": [],
            }
            for st in ran[sid]:
                agg["run_ms"] += st.executorRunTime()
                agg["cpu_ns"] += st.executorCpuTime()
                agg["gc_ms"] += st.jvmGcTime()
                agg["input_rows"] += st.inputRecords()
                agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                agg["shuffle_read_bytes"] += st.shuffleReadBytes()
                agg["fetch_wait_ms"] += st.shuffleFetchWaitTime()
                agg["spill_bytes"] += st.diskBytesSpilled()
                tasks = store.taskList(sid, st.attemptId(), 2**31 - 1)
                if tasks.length() != st.numTasks():
                    raise RuntimeError(f"status store evicted tasks of stage {sid}")
                for k in range(tasks.length()):
                    t = tasks.apply(k)
                    agg["task_ms"].append(_opt(t.duration(), 0))
                    agg["sched_delay_ms"].append(t.schedulerDelay())
                agg["tasks"] += tasks.length()
            stage_stats[sid] = agg

    for s in spans:
        jids = by_group.get(s["id"], [])
        s["jobs"] = len(jids)
        s["checkpoint_jobs"] = sum(1 for j in jids if j in checkpoint_jobs)
        # a stage shared by two jobs of one span (a reused shuffle) counts once
        sids = sorted({sid for j in jids for sid in job_stages[j] if sid in stage_stats})
        s["stages"] = len(sids)
        for key in ("tasks", "run_ms", "cpu_ns", "gc_ms", "input_rows",
                    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes"):
            s[key] = sum(stage_stats[sid][key] for sid in sids)
        s["task_ms"] = [v for sid in sids for v in stage_stats[sid]["task_ms"]]
        s["sched_delay_ms"] = [v for sid in sids for v in stage_stats[sid]["sched_delay_ms"]]


# --- process counters -------------------------------------------------


def _proc_stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, own + reaped-children CPU seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, rest = f.read().rsplit(") ", 1)
    except OSError:
        return None
    fields = rest.split()
    hz = os.sysconf("SC_CLK_TCK")
    cpu = sum(int(fields[i]) for i in (11, 12, 13, 14)) / hz
    return int(fields[1]), head.split("(", 1)[1], cpu


def _process_tree() -> tuple[dict[int, tuple[int, str, float]], dict[int, list[int]]]:
    """(``_proc_stat`` of every process, children of every pid)."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                procs[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    return procs, kids


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the Python worker processes under the JVM, with
    the CPU of workers they have already reaped."""
    procs, kids = _process_tree()
    total, stack = 0.0, list(kids.get(jvm_pid, ()))
    while stack:
        pid = stack.pop()
        _, comm, cpu = procs[pid]
        if comm.startswith("python"):
            total += cpu
        stack.extend(kids.get(pid, ()))
    return total


def tree_cpu_s() -> float:
    """CPU seconds of this process and its live descendants, with the
    CPU of every descendant already reaped (a Python worker that exits
    mid-pass still counts)."""
    procs, kids = _process_tree()
    total, stack = 0.0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += procs[pid][2] if pid in procs else 0.0
        stack.extend(kids.get(pid, ()))
    return total


def status_mb(field: str, pid: int | str = "self") -> float:
    """A ``/proc/<pid>/status`` memory field (``VmHWM``, ``VmRSS``) in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no {field} for pid {pid}")
