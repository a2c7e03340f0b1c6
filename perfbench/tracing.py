"""Spans, Spark stage metrics and process CPU for one benchmark run.

Everything here observes the engine from outside:

- a span is a timed call into one of the engine's public functions;
  spans live in memory and are written out once, when the run ends;
- a traced span runs its call under its own Spark job group, and
  afterwards reads that group's jobs and stages from the application
  status store (``sc._jsc.sc().statusStore()``), which keeps working
  with the UI disabled;
- CPU time and resident memory come from ``/proc`` for the driver JVM
  and for every Python worker process below it. Spark's own
  ``executorCpuTime`` counts JVM threads only, so the Python fold is
  visible only through ``/proc``.

With tracing disabled a span records its start and end and nothing
else, so untraced runs pay for two clock reads per call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time

_TICK = float(os.sysconf("SC_CLK_TCK"))
_QUANTILES = (0.5, 0.95, 1.0)


# ------------------------------------------------------------------- /proc
def _proc_stat(pid: int) -> tuple[str, int, int, int]:
    """(command name, ppid, own CPU ticks, CPU ticks of reaped children)."""
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    # the command name may hold spaces or ')' — fields start after the last ')'
    comm = data[data.index("(") + 1:data.rindex(")")]
    rest = data[data.rindex(")") + 2:].split()
    return comm, int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


class ProcSampler:
    """CPU and memory of the driver JVM and of the Python workers it forks."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_workers_kb = 0

    def _descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                ppid = _proc_stat(int(name))[1]
            except (OSError, ValueError, IndexError):
                continue  # the process ended while we listed /proc
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> dict:
        """Cumulative CPU seconds of the JVM, of its Python workers and of
        the other commands it runs (Hadoop's local file system shells out
        for file status).

        Python workers fork from one long-lived daemon, which reaps them,
        so their CPU moves into the daemon's children counters: summing
        own + reaped ticks over the live Python processes counts every
        worker once. Reaped commands land in the JVM's children counters."""
        _, _, jvm_own, jvm_reaped = _proc_stat(self.jvm_pid)
        py_ticks, other_ticks, rss_kb = 0, jvm_reaped, 0
        for pid in self._descendants():
            try:
                comm, _, own, reaped = _proc_stat(pid)
                kb = _status_kb(pid, "VmRSS")
            except (OSError, ValueError, IndexError):
                continue
            if comm.startswith("python"):
                py_ticks += own + reaped
                rss_kb += kb
            else:
                other_ticks += own + reaped
        self.peak_workers_kb = max(self.peak_workers_kb, rss_kb)
        return {"jvm_cpu_s": jvm_own / _TICK, "py_cpu_s": py_ticks / _TICK,
                "other_cpu_s": other_ticks / _TICK}

    def jvm_peak_rss_mb(self) -> float:
        return _status_kb(self.jvm_pid, "VmHWM") / 1024.0


# ------------------------------------------------------------ status store
def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class StageReader:
    """Jobs and stages of one Spark job group, from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        gw = self.sc._gateway
        self._q = gw.new_array(gw.jvm.double, len(_QUANTILES))
        for i, q in enumerate(_QUANTILES):
            self._q[i] = q

    def group(self, group_id: str) -> dict:
        # the status store is fed by an asynchronous listener: drain it so
        # the jobs that just returned are complete in the store
        self._bus.waitUntilEmpty()
        jobs, stage_ids = [], []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group_id):
            j = self._store.job(jid)
            jobs.append({"id": jid, "start_ms": _opt_ms(j.submissionTime()),
                         "end_ms": _opt_ms(j.completionTime())})
            stage_ids.extend(_seq(j.stageIds()))
        stages = []
        for sid in sorted(set(stage_ids)):
            try:
                attempts = _seq(self._store.stageData(sid, False, None, False, None))
            except Exception:  # py4j: stage was never submitted (skipped)
                continue
            for sd in attempts:
                if sd.status().toString() != "COMPLETE":
                    continue
                stages.append(self._stage(sd))
        return {"jobs": jobs, "stages": stages}

    def _stage(self, sd) -> dict:
        s = {
            "id": sd.stageId(), "attempt": sd.attemptId(), "name": sd.name(),
            "tasks": sd.numTasks(),
            "start_ms": _opt_ms(sd.submissionTime()),
            "end_ms": _opt_ms(sd.completionTime()),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "input_records": sd.inputRecords(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_read_records": sd.shuffleReadRecords(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "shuffle_write_records": sd.shuffleWriteRecords(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        }
        dist = self._store.taskSummary(sd.stageId(), sd.attemptId(), self._q)
        if dist.isDefined():
            run = _seq(dist.get().executorRunTime())
            s["task_p50_s"], s["task_p95_s"], s["task_max_s"] = (v / 1e3 for v in run)
        else:
            s["task_p50_s"] = s["task_p95_s"] = s["task_max_s"] = 0.0
        # a stage that writes shuffle output is a map stage; the rest end a
        # job (the fold / merge write, a collect, a noop write)
        s["role"] = "map" if s["shuffle_write_bytes"] > 0 else "result"
        return s


def union_seconds(intervals: list[tuple[int, int]], lo_ms: int, hi_ms: int) -> float:
    """Length of the union of [start, end] ms intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo_ms), min(e, hi_ms)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


# ------------------------------------------------------------------- spans
class Tracer:
    """Records spans around calls into the engine.

    ``enabled`` turns on job groups, stage metrics and /proc samples; a
    span opened with ``traced=False`` inside an enabled tracer is timed
    like an untraced one, which is how a traced run measures its own
    overhead."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._stages: StageReader | None = None
        self._proc: ProcSampler | None = None
        self._pending: list[dict] = []

    def attach(self, spark) -> None:
        if not self.enabled:
            return
        self._stages = StageReader(spark)
        self._proc = ProcSampler(spark._jvm.java.lang.ProcessHandle.current().pid())

    @property
    def proc(self) -> ProcSampler | None:
        return self._proc

    @contextlib.contextmanager
    def span(self, name: str, spark=None, traced: bool = True, **attrs):
        """Time one call. With ``spark`` given and tracing on, the call
        runs under its own job group, whose stage metrics :meth:`flush`
        attaches later, outside every timed span."""
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "traced": bool(self.enabled and traced), "attrs": dict(attrs)}
        deep = rec["traced"] and self._stages is not None
        if deep and spark is not None:
            rec["group"] = f"{self.run_id}/{sid}/{name}"
            spark.sparkContext.setJobGroup(rec["group"], name)
        cpu0 = self._proc.sample() if deep else None
        self._stack.append(sid)
        rec["start"] = time.time()
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            rec["seconds"] = time.monotonic() - t0
            rec["end"] = rec["start"] + rec["seconds"]
            self._stack.pop()
            if deep:
                cpu1 = self._proc.sample()
                rec["proc"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
                if spark is not None:
                    # later jobs on this thread must not inherit the group
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                    self._pending.append(rec)
            if self.enabled:
                self.spans.append(rec)

    def flush(self) -> None:
        """Attach stage metrics to the job-group spans closed since the
        last flush. Call it between ops, never inside a timed span."""
        for rec in self._pending:
            rec["spark"] = self._stages.group(rec["group"])
            lo, hi = int(rec["start"] * 1e3), int(rec["end"] * 1e3) + 1
            jobs = [(j["start_ms"], j["end_ms"]) for j in rec["spark"]["jobs"]
                    if j["start_ms"] is not None and j["end_ms"] is not None]
            rec["spark"]["job_s"] = union_seconds(jobs, lo, hi)
        self._pending.clear()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")
