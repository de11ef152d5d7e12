"""Process plumbing shared by every workload: the Spark session and its
teardown, the working directory, the process-tree memory sampler, host-load
context, percentile helpers and the span tracer.

Nothing here imports the engine; the workloads do.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import threading
import time
from contextlib import contextmanager


# ----------------------------------------------------------------- numbers
def median(values):
    return statistics.median(values) if values else 0.0


def p90(values):
    """90th percentile (Python's exclusive method); the max below 10 samples."""
    if len(values) < 10:
        return max(values) if values else 0.0
    return statistics.quantiles(values, n=10)[8]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ------------------------------------------------------------ process tree
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid is the 2nd field after the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """Running, or not yet reaped by anyone who would notice: zombies count
    as ended."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:].split()[0] != b"Z"


def _command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between processes (the forked
    Python workers share most of theirs) count once across the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class MemSampler:
    """Peak of the summed PSS of this process and all its descendants (the
    JVM and the Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            sizes = [(p, _pss_bytes(p)) for p in [me] + descendants(me)]
            total = sum(b for _p, b in sizes)
            if total > self.peak:
                self.peak = total
                by: dict[str, int] = {}
                for p, b in sizes:
                    by[_command(p)] = by.get(_command(p), 0) + b
                self.peak_by_command = by
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------ host context
def host_context() -> dict:
    """Load average and a fixed single-thread CPU calibration loop: context
    for comparing two sets of runs, not a metric."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i
        best = min(best, time.perf_counter() - t0)
    return {
        "loadavg": list(os.getloadavg()),
        "calib_mloops_per_s": round(1.0 / best, 4),
        "cpus": len(os.sched_getaffinity(0)),
    }


# ------------------------------------------------------------ spark session
def start_session(work: str, cores: int):
    """local[cores] session whose scratch files all stay under ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # inherited by the JVM and the Python workers
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # a fixed, pre-touched heap: how far the JVM grows its heap between
        # collections would otherwise swing the peak memory by a third
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # job and stage records must outlive a run so the tracer can count
        # tasks per span after the fact
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.log.level", "ERROR")
        .getOrCreate()
    )


def stop_session(spark, timeout: float = 30.0) -> None:
    """Stop Spark, end the JVM and wait for every process this run started."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait(timeout=timeout)
        # the Python workers outlive the JVM briefly; end them now
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in procs:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout / 2
            while any(_alive(p) for p in procs) and time.monotonic() < deadline:
                time.sleep(0.02)


@contextmanager
def work_dir(root: str):
    path = os.path.join(root, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(path))
        except OSError:
            pass


# ------------------------------------------------------------------ tracing
class Tracer:
    """In-memory spans around calls into the engine's modules.

    Each span runs under its own Spark job group, so the status tracker
    yields the exact jobs, tasks and failed tasks each span launched. With
    ``enabled=False`` every span is a no-op and no job group is set."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op, "parent": parent, "group": f"perfbench-{sid}"}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.spans[parent]["group"], self.spans[parent]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def resolve(self) -> None:
        """Attach self time and Spark job/task counts to every span. Self
        time is the span minus the time its child spans cover (children
        never overlap: one closed-loop client)."""
        tracker = self.sc.statusTracker()
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["dur_s"]
        for s in self.spans:
            s["self_s"] = s["dur_s"] - child_time.get(s["id"], 0.0)
            jobs = tracker.getJobIdsForGroup(s["group"])
            tasks = failed = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else ():
                    si = tracker.getStageInfo(st)
                    if si is not None:
                        tasks += si.numCompletedTasks
                        failed += si.numFailedTasks
            s["jobs"], s["tasks"], s["failed_tasks"] = len(jobs), tasks, failed

    def subtree(self, sid: int, key: str) -> int:
        """Sum of ``key`` over a span and all its descendants."""
        total = self.spans[sid][key]
        for s in self.spans:
            if s["parent"] == sid:
                total += self.subtree(s["id"], key)
        return total

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)
