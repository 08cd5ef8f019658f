"""Measurement plumbing of the benchmark: spans, peak RSS, event log.

Everything here observes the engine from outside: spans are recorded by
the benchmark around its own calls into the library, memory is read from
``/proc`` (psutil is not installed), and the Spark engine counters come
from the event log Spark writes when the traced run enables it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


_HZ = os.sysconf("SC_CLK_TCK")


def _steal_ticks() -> int:
    """CPU time the hypervisor ran something else while this VM's vCPUs
    were ready to run (``steal`` column of /proc/stat), all vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


class Stopwatch:
    """Elapsed wall time minus the steal time of one vCPU on average.

    The benchmark runs on shared VMs whose hosts now and then take CPU
    from it for minutes at a time; that time belongs to no program in
    the VM.  On a host that steals nothing this is the wall time.
    """

    def __init__(self):
        self.cpus = os.cpu_count() or 1
        self.t0 = time.perf_counter()
        self.steal0 = _steal_ticks()

    def stolen(self) -> float:
        return (_steal_ticks() - self.steal0) / _HZ / self.cpus

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0 - self.stolen()


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once
    at the end of the run.  Disabled, ``span`` costs one branch, so the
    untraced run measures the engine without the tracer's bookkeeping."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# /proc peak-RSS sampler
# ---------------------------------------------------------------------------


def _proc_kb(pid: int, path: str, field: str) -> int:
    """A ``<field>: <n> kB`` line of /proc/<pid>/<path>; 0 once it exited."""
    try:
        with open(f"/proc/{pid}/{path}") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Every live descendant pid of ``root`` (one /proc walk)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                tail = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(int(tail[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak memory of the JVM plus its Python worker processes.

    The JVM's own peak is exact (``VmHWM``, reset through ``clear_refs``
    when sampling starts, so set-up does not count).  Python workers
    come and go, so their summed memory is polled and its maximum kept.
    Workers are forked from one daemon and map the same libraries, so
    each counts its proportional share (``Pss``): an idle worker that
    only holds those shared pages adds little, as it does to the host.
    """

    def __init__(self, jvm_pid: int, period_s: float = 0.1):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.worker_peak_kb = 0
        self.worker_peak_n = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        try:
            with open(f"/proc/{self.jvm_pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # peak then includes set-up; still a peak
        self._thread.start()
        return self

    def _loop(self):
        while not self._stop.is_set():
            kids = descendants(self.jvm_pid)
            kb = sum(_proc_kb(p, "smaps_rollup", "Pss") for p in kids)
            if kb > self.worker_peak_kb:
                self.worker_peak_kb, self.worker_peak_n = kb, len(kids)
            self._stop.wait(self.period_s)

    def __exit__(self, *exc):
        self.jvm_peak_kb = _proc_kb(self.jvm_pid, "status", "VmHWM")
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return (self.jvm_peak_kb + self.worker_peak_kb) / 1024.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# SQL metrics of the Python exec nodes, as the task accumulables name them
_ARROW_ACC = {
    "data sent to Python workers": "arrow.to_python_bytes",
    "data returned from Python workers": "arrow.from_python_bytes",
    "time to run Python workers": "arrow.python_run_s",
}


def event_log_files(log_dir: str) -> list[str]:
    """Spark 4 writes rolling logs: ``eventlog_v2_<app>/events_<n>_<app>``."""

    def index(path: str) -> int:
        return int(os.path.basename(path).split("_")[1])

    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                  key=index)


def spark_metrics(log_dir: str, job_group: str, n_ops: int) -> dict[str, float]:
    """Engine counters of the jobs run under ``job_group``, per operation.

    ``spark.task_skew`` is the longest over the median task run time in
    the stage with the most total task time.
    """
    stage_group: dict[int, str | None] = {}
    tasks: list[tuple[int, dict, dict, bool]] = []
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif kind == "SparkListenerTaskEnd":
                    ok = ev.get("Task End Reason", {}).get("Reason") == "Success"
                    tasks.append((ev["Stage ID"], ev.get("Task Info", {}),
                                  ev.get("Task Metrics") or {}, ok))
    out = {k: 0.0 for k in (
        "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
        "spark.tasks", "spark.tasks_failed", "spark.shuffle_write_bytes",
        "spark.fetch_wait_s", "spark.spill_bytes", *_ARROW_ACC.values())}
    per_stage: dict[int, list[float]] = {}
    for sid, info, tm, ok in tasks:
        if stage_group.get(sid) != job_group:
            continue
        run_s = tm.get("Executor Run Time", 0) / 1e3
        per_stage.setdefault(sid, []).append(run_s)
        out["spark.tasks"] += 1
        out["spark.tasks_failed"] += 0 if ok else 1
        out["spark.executor_run_s"] += run_s
        out["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        out["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        out["spark.shuffle_write_bytes"] += (
            tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
        out["spark.fetch_wait_s"] += (
            tm.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3)
        out["spark.spill_bytes"] += (
            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0))
        for acc in info.get("Accumulables", []):
            name = _ARROW_ACC.get(acc.get("Name"))
            if name is not None:
                v = float(acc.get("Update", 0))
                out[name] += v / 1e3 if name.endswith("_s") else v  # timing: ms
    out = {k: v / max(n_ops, 1) for k, v in out.items()}
    skew = 0.0
    if per_stage:
        heavy = max(per_stage.values(), key=sum)
        med = statistics.median(heavy)
        skew = max(heavy) / med if med > 0 else 1.0
    out["spark.task_skew"] = skew
    return out
