"""Measurement plumbing shared by the workloads: host-sized Spark session,
per-op job groups and their status-store stage deltas, in-memory spans,
and the JVM's high-water RSS from /proc.

All measurement is taken from outside ``geowarp_spark``: wall time
around calls into its public functions, plus the Spark status store.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# an op that has not finished after this long is cancelled (its job
# group) and counted as failed
OP_TIMEOUT_S = 60.0


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def prepare_env(work: str) -> None:
    """Size the session to this host and keep every temp file inside
    ``work``: local[nproc] and a MemTotal/8 driver heap, fully pre-touched
    (the session's pretouch path) so the heap never grows mid-run and
    peak RSS reads the same from run to run."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    mem = host_mem_mb()
    tmp = os.path.join(work, "tmp")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # Python workers unpickle the engine's UDFs, so they import it too
    path = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.update({
        "PYTHONPATH": path,
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_GRAFT_PRETOUCH": "1",
        "SPARK_GRAFT_DRIVER_MEM": f"{mem // 8}m",
        "SPARK_GRAFT_XMS": f"{mem // 8}m",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def start_session(work: str):
    from geowarp_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # one full run of any workload is a few hundred stages; keep
        # all of them so per-op deltas can be read after the run
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext, end the gateway JVM (and with it the Python
    worker daemon) and wait until every process of its tree has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    tree = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    while tree and time.monotonic() < deadline:
        tree = [p for p in tree if _alive(p)]
        time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans (name, layer, start, end, parent, run id).  A
    disabled tracer records nothing, so timed runs pay no span cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run: str | None = None

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name, layer,
                  self._stack[-1] if self._stack else None, self.run,
                  time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def subtree(self, root: int) -> list[Span]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.id)
        out, todo = [], [root]
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo.extend(kids.get(i, []))
        return out

    def self_times(self, root: int) -> dict[str, float]:
        """Per-layer self time over ``root``'s subtree: each span's
        duration minus the part its children cover (children of one span
        run one after another, so their durations add)."""
        spans = self.subtree(root)
        child_sum: dict[int, float] = {}
        for s in spans:
            if s.parent is not None and s.id != root:
                child_sum[s.parent] = child_sum.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - child_sum.get(s.id, 0.0)
        return out

    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [{"id": s.id, "name": s.name, "layer": s.layer,
                 "parent": s.parent, "run": s.run,
                 "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                 **s.attrs} for s in self.spans]


# ------------------------------------------------------- status store


class StageReader:
    """Per-job-group stage totals from the Spark status store (works
    with spark.ui.enabled=false): task run time, GC time, shuffle
    bytes/records and failed or killed task attempts, summed over every
    attempt of every stage the group's jobs ran."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def group_stats(self, group: str) -> dict:
        stage_ids: set[int] = set()
        jobs = self._tracker.getJobIdsForGroup(group)
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        tot = {"jobs": len(jobs), "stages": 0, "busy_s": 0.0, "cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_bytes": 0, "shuffle_write_records": 0,
               "failed_tasks": 0}
        if not stage_ids:
            return tot
        it = self._store.stageList(None, False, False, self._no_quantiles,
                                   None).iterator()
        while it.hasNext():
            sd = it.next()
            if int(sd.stageId()) not in stage_ids:
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED", "ACTIVE"):
                continue
            tot["stages"] += 1
            tot["busy_s"] += sd.executorRunTime() / 1e3
            tot["cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            tot["shuffle_write_records"] += sd.shuffleWriteRecords()
            tot["failed_tasks"] += sd.numFailedTasks() + sd.numKilledTasks()
        return tot


# ------------------------------------------------------------ processes


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def _descendants(root_pid: int) -> list[int]:
    """root_pid and every process below it."""
    children, out, todo = _children(), [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size of one process (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ------------------------------------------------------------- ops


class CheckFailed(AssertionError):
    """An op's output disagreed with its oracle."""


@dataclass
class Op:
    """One public call of a workload.  ``plan(ctx)`` is the call into
    geowarp_spark that returns a DataFrame (or a handle); ``action``
    materializes it into a small Python value; ``check`` compares that
    value with the oracle and raises CheckFailed.  ``layer`` names the
    module the public call belongs to."""
    name: str
    layer: str
    call: str
    plan: object
    action: object
    check: object


@dataclass
class OpResult:
    name: str
    group: str
    plan_s: float = 0.0
    exec_s: float = 0.0
    ok: bool = False
    error: str = ""
    value: object = None


def run_ops(spark, ops: list[Op], tracer: Tracer, run_id: str,
            ctx: dict) -> tuple[float, list[OpResult]]:
    """One full run: every op back to back (closed loop, one client),
    then every output check.  Returns (run wall seconds, op results);
    checks run after the wall clock stops."""
    sc = spark.sparkContext
    results: list[OpResult] = []
    tracer.run = run_id
    with tracer.span(f"run.{run_id}", "bench") as run_span:
        t_run = time.perf_counter()
        for op in ops:
            res = OpResult(op.name, f"{run_id}:{op.name}")
            sc.setJobGroup(res.group, res.group, interruptOnCancel=True)
            timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [res.group])
            timer.start()
            try:
                with tracer.span(f"op.{op.name}", "operators"):
                    t0 = time.perf_counter()
                    with tracer.span(op.call, op.layer):
                        handle = op.plan(ctx)
                    t1 = time.perf_counter()
                    with tracer.span(f"action.{op.name}", "operators"):
                        res.value = op.action(handle)
                    t2 = time.perf_counter()
                res.plan_s, res.exec_s, res.ok = t1 - t0, t2 - t1, True
                ctx[op.name] = res.value
            except Exception as e:  # an op failure is counted, never fatal
                res.error = f"{type(e).__name__}: {e}"[:500]
                ctx.pop(op.name, None)
            finally:
                timer.cancel()
            results.append(res)
        wall = time.perf_counter() - t_run
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    if run_span is not None:
        run_span.attrs["wall_s"] = wall
    for op, res in zip(ops, results):
        if not res.ok:
            continue
        try:
            op.check(res.value)
        except Exception as e:
            res.ok = False
            res.error = f"check: {type(e).__name__}: {e}"[:500]
    return wall, results


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
