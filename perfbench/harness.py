"""Closed-loop driver, tracing and metrics shared by the workloads.

One client runs a workload's fixed operation sequence (a *pass*) a set
number of times: each operation starts when the previous one has
finished and its output has been checked. Checks and fixture resets
run outside the timed region. The number of passes comes from the
run's time budget and the workload's nominal pass time, so every run
of a workload takes the same number of samples.

With tracing on, :class:`Tracer` records a span around every call the
workloads make into a module's public functions (name, start, end,
parent, operation id) plus the Spark jobs, stages and tasks each span
caused, read from Spark's public ``statusTracker``. Spans stay in memory
and are written out at the end with each span's self time.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql.streaming import StreamingQueryListener

from metrics import SPARK_COUNTS

#: Driver heap (local mode: the executors share it).
HEAP = "2g"
#: An operation slower than this counts as failed (timed out).
OP_TIMEOUT_S = 60.0


def configure_env(root: Path, cores: int) -> None:
    """Point every temp, warehouse and Spark local directory inside ``root``
    and size the session; must run before pyspark starts the JVM."""
    tmp = root / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(root / "warehouse")
    # A fixed, pre-touched heap: the JVM's resident size no longer
    # depends on when the collector chose to grow the heap, so
    # peak_rss_mb moves only with Python-side and off-heap memory (a
    # heap the workload outgrows fails the run instead).
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        f" -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch' pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = str(tmp)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


class _StreamRuns(StreamingQueryListener):
    """Records the run id of every streaming query started
    (``onQueryStarted`` runs synchronously with ``start()``)."""

    def __init__(self, run_ids: list):
        self.run_ids = run_ids

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a no-op when disabled."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None
        self._stream_runs: list[str] = []
        if spark is not None:
            spark.streams.addListener(_StreamRuns(self._stream_runs))

    @contextmanager
    def span(self, name: str):
        """Time the enclosed call into ``name``'s layer. Yields the
        span's ``counts`` dict for the caller to add counts to."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        s = Span(len(self.spans), name, self._stack[-1].id if self._stack else None,
                 self.op, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-{s.id}"
        # jobs of a streaming query run under the query's own group (its
        # run id), not the caller's
        runs_before = len(self._stream_runs)
        sc.setJobGroup(group, name)
        s.start = time.perf_counter()
        try:
            yield s.counts
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"perfbench-{self._stack[-1].id}", self._stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            tracker = sc.statusTracker()
            jobs = set(tracker.getJobIdsForGroup(group))
            for run_id in self._stream_runs[runs_before:]:
                jobs |= set(tracker.getJobIdsForGroup(run_id))
            s.counts.update(self._spark_counts(jobs))

    def _spark_counts(self, jobs: set) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        stages = tasks = failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
        return {"spark_jobs": len(jobs), "spark_stages": stages,
                "spark_tasks": tasks, "spark_failed_tasks": failed}

    # -- reporting -----------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its children cover."""
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.id: (s.end - s.start) - child[s.id] for s in self.spans}

    def write(self, path: Path) -> None:
        selft = self.self_times()
        rows = [
            {"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
             "start": s.start, "end": s.end, "self_s": selft[s.id], **s.counts}
            for s in self.spans
        ]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(rows, indent=0))

    def per_op(self, name: str, key: str | None = None) -> list[float]:
        """Per operation: total duration (or summed count ``key``) of the
        spans called ``name``, for the operations that had one."""
        acc: dict = {}
        for s in self.spans:
            if s.name == name:
                v = (s.end - s.start) if key is None else s.counts.get(key, 0)
                acc[s.op] = acc.get(s.op, 0) + v
        return list(acc.values())

    def layer_counts(self, layer: str) -> dict[str, float]:
        """Median per operation of the Spark counts caused under the
        layer's outermost spans (children of other layers included)."""
        by_id = {s.id: s for s in self.spans}
        inclusive = {s.id: dict.fromkeys(SPARK_COUNTS, 0) for s in self.spans}
        for s in reversed(self.spans):  # children are created after parents
            for k in SPARK_COUNTS:
                inclusive[s.id][k] += s.counts.get(k, 0)
                if s.parent is not None:
                    inclusive[s.parent][k] += inclusive[s.id][k]

        def in_layer(s):
            return s.name == layer or s.name.startswith(layer + ".")

        def top(s):
            p = s.parent
            while p is not None:
                if in_layer(by_id[p]):
                    return False
                p = by_id[p].parent
            return True

        per_op: dict = {}
        for s in self.spans:
            if in_layer(s) and top(s):
                d = per_op.setdefault(s.op, dict.fromkeys(SPARK_COUNTS, 0))
                for k in SPARK_COUNTS:
                    d[k] += inclusive[s.id][k]
        return {k: med([d[k] for d in per_op.values()]) for k in SPARK_COUNTS}


def med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would not even
    reach the median, so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n < 20:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    return vm_hwm_mb(jvm_pid(spark)) + vm_hwm_mb(os.getpid())


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pids: tuple[int, ...]) -> float:
    """User + system CPU seconds used so far by ``pids`` (time the
    hypervisor stole from the machine is not charged to a process)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _TICK


def steal_share() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


@dataclass
class Op:
    """One operation of a pass: ``run`` is timed; ``prepare`` (before)
    and ``check`` (after) are not. ``check`` gets run's result and
    returns an error string or None."""

    kind: str
    run: Callable[[], object]
    check: Callable[[object], str | None]
    prepare: Callable[[], None] | None = None


@dataclass
class LoopResult:
    latencies: list[float] = field(default_factory=list)
    kinds: list[str] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)
    op_traced: list[bool] = field(default_factory=list)
    pass_walls: list[float] = field(default_factory=list)
    pass_cpu: list[float] = field(default_factory=list)
    pass_traced: list[bool] = field(default_factory=list)
    steal: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


def closed_loop(workload, passes: int, tracer: Tracer,
                alternate_trace: bool = False, pids: tuple[int, ...] = ()) -> LoopResult:
    """Run ``passes`` whole passes of the workload's fixed sequence.
    With ``alternate_trace``, passes are traced in the order ABBA ABBA
    (A traced), so a steady drift in speed cancels out of the traced
    minus untraced difference. ``pids`` are the processes whose CPU time
    each operation is charged."""
    res = LoopResult()
    op_id = 0
    steal0, total0 = steal_share()
    for p in range(passes):
        tracer.enabled = alternate_trace and p % 4 in (0, 3)
        workload.reset()
        wall = cpu = 0.0
        for op in workload.pass_ops():
            res.attempted += 1
            t0 = None
            try:
                if op.prepare is not None:
                    op.prepare()
                tracer.op = op_id
                c0 = cpu_s(pids)
                t0 = time.perf_counter()
                out = op.run()
                err = None
            except Exception as e:  # a failed operation is counted, not fatal
                out, err = None, f"{op.kind}: {type(e).__name__}: {e}"
                traceback.print_exc()
            dt = 0.0 if t0 is None else time.perf_counter() - t0
            dc = 0.0 if t0 is None else cpu_s(pids) - c0
            tracer.op = None
            if err is None and dt > OP_TIMEOUT_S:
                err = f"{op.kind}: timed out ({dt:.1f} s > {OP_TIMEOUT_S} s)"
            if err is None:
                try:
                    err = op.check(out)
                except Exception as e:
                    err = f"{op.kind} check: {type(e).__name__}: {e}"
            if err is not None:
                res.failed += 1
                res.errors.append(err)
            res.latencies.append(dt)
            res.cpu.append(dc)
            res.op_traced.append(tracer.enabled)
            res.kinds.append(op.kind)
            wall += dt
            cpu += dc
            op_id += 1
        res.pass_walls.append(wall)
        res.pass_cpu.append(cpu)
        res.pass_traced.append(tracer.enabled)
    tracer.enabled = False
    steal1, total1 = steal_share()
    res.steal = (steal1 - steal0) / max(1, total1 - total0)
    return res
