"""Measurement plumbing shared by the workloads: spans around layer calls,
Spark job/stage/task counts per call, process-tree memory and CPU from
/proc, and task totals from Spark's event log.

Everything here observes the engine from outside: it wraps the calls the
workloads make and reads what Spark and the kernel already report.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; the run
    writes them with its results at exit.  Once `spark` is set, a span
    opened with `count_jobs` is also a Spark job group, so the jobs,
    stages and tasks it launched can be counted."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, count_jobs: bool = False):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = None
        sc = self.spark.sparkContext if (count_jobs and self.spark is not None) else None
        if sc is not None:
            self._groups += 1
            group = f"{self.run_id}-{self._groups}"
            sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.update(job_counts(sc, group))


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numCompletedTasks > 0:  # skipped stages run none
                stages += 1
                tasks += stage.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


# ---- /proc: the benchmark's process tree ----------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return "X"
    return stat[stat.rfind(")") + 2]


def wait_for_children(timeout_s: float) -> None:
    """Wait until this process has no live descendants left; kill any that
    outlive `timeout_s`.  Exited children are reaped on the way."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = [pid for pid in process_tree()[1:] if _state(pid) not in "ZX"]
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def proc_cpu(pids: list[int]) -> dict[int, tuple[str, float]]:
    """pid -> (command name, user+system CPU seconds)."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.find("(") + 1:stat.rfind(")")]
        fields = stat[stat.rfind(")") + 2:].split()
        out[pid] = (comm, (int(fields[11]) + int(fields[12])) / _CLK_TCK)
    return out


class TreeSampler:
    """Samples the peak resident set (VmHWM) of the JVM and Python
    processes in the tree on a daemon thread.  Each process keeps the
    highest value seen, so workers that exit before the end still count;
    the peak is the sum over processes."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.hwm_kb: dict[int, int] = {}
        self.comm: dict[int, str] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-mem", daemon=True)

    def reset(self) -> None:
        """Forget the peaks so far: each process's VmHWM restarts from its
        current resident set, and processes that have exited drop out."""
        with self._lock:
            for pid in process_tree():
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as fh:
                        fh.write("5")
                except OSError:
                    pass
            self.hwm_kb.clear()
            self.comm.clear()
        self.sample()

    def sample(self) -> None:
        with self._lock:
            self._sample()

    def _sample(self) -> None:
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
            except OSError:
                continue
            # only the JVM and Python processes: a helper the JVM forks
            # (chmod, readlink) briefly shows the JVM's whole resident set
            if comm != "java" and not comm.startswith("python"):
                continue
            self.comm[pid] = comm
            kb = _status_kb(pid, "VmHWM:")
            if kb > self.hwm_kb.get(pid, 0):
                self.hwm_kb[pid] = kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB.  Stopping again changes
        nothing."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.sample()
        return sum(self.hwm_kb.values()) / 1024.0

    def breakdown(self) -> dict[str, float]:
        """Peak MB per command name (java, python3, ...)."""
        out: dict[str, float] = {}
        for pid, kb in self.hwm_kb.items():
            name = self.comm.get(pid, "?")
            out[name] = out.get(name, 0.0) + kb / 1024.0
        return out


class CpuWindow:
    """CPU seconds the JVM and the Python processes of the tree spent
    between `start()` and `stop()`."""

    def start(self) -> None:
        self._t0 = proc_cpu(process_tree())

    def stop(self) -> dict[str, float]:
        t1 = proc_cpu(process_tree())
        jvm = py = 0.0
        for pid, (comm, cpu) in t1.items():
            delta = cpu - self._t0.get(pid, (comm, 0.0))[1]
            if comm == "java":
                jvm += delta
            elif comm.startswith("python"):
                py += delta
        return {"jvm_cpu_s": jvm, "python_cpu_s": py}


# ---- Spark event log ------------------------------------------------------


def event_log_totals(log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Sum task metrics over the tasks that finished inside [t0_ms, t1_ms]
    (wall-clock epoch ms) in the single uncompressed event log file."""
    totals = {"gc_s": 0.0, "executor_cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0, "tasks": 0}
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    for path in files:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line[:64]:
                    continue
                ev = json.loads(line)
                finish = ev.get("Task Info", {}).get("Finish Time", 0)
                if not (t0_ms <= finish <= t1_ms):
                    continue
                m = ev.get("Task Metrics") or {}
                totals["tasks"] += 1
                totals["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                totals["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                totals["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                totals["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return totals
