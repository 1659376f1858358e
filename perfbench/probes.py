"""Measurement helpers that watch the engine from outside: a resident-
memory (PSS) sampler over the JVM and its Python workers, a summary of
Spark's (uncompressed) event log over chosen time windows, and a
teardown that waits until every child process has exited."""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import threading
import time


def descendants(pid: int) -> list[int]:
    """Every descendant of ``pid``, from one scan of the process table
    (cheaper than walking every JVM thread's ``children`` file)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    todo, seen = list(kids.get(pid, [])), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(kids.get(p, []))
    return seen


def _pss_bytes(pid: int) -> int:
    """Proportional set size: each resident page shared by n processes
    counts 1/n, so pages a forked Python worker shares with
    ``pyspark.daemon`` (or a JVM fork with the JVM) count once in a sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak of the summed proportional resident memory (PSS) of every
    descendant of this process -- the JVM and the Python workers -- sampled
    every ``interval`` seconds.  The interval is coarse so the sampler
    takes little of this process's interpreter lock; resident memory
    seldom falls back within a run, so a peak outlasts the gap between
    samples."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in descendants(me)))
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway down and wait until the
    JVM and every Python worker have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


#: SQL metric (ms) of the Arrow/pandas UDF and mapInPandas operators
#: that carries Python worker time
PYTHON_TIME_METRIC = "time to run Python workers"


def summarize_event_log(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Task/stage/job totals over the jobs submitted inside one of the
    wall-clock ``windows`` (epoch ms), plus a job count per job group.
    Windows rather than job groups select the jobs because streaming
    micro-batches run under their own query's job group."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    selected: set[int] = set()  # stages of the selected jobs
    stage_tasks: dict[int, list[float]] = {}
    stages_done: dict[int, int] = {}
    totals = {
        "jobs": 0, "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
        "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
        "input": 0, "output": 0, "python_ms": 0.0, "tasks": 0,
    }
    jobs_per_group: dict[str, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    at = ev.get("Submission Time", 0)
                    if not any(lo <= at <= hi for lo, hi in windows):
                        continue
                    jobs_per_group[group] = jobs_per_group.get(group, 0) + 1
                    totals["jobs"] += 1
                    selected.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    if sid not in selected:
                        continue
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    totals["tasks"] += 1
                    totals["run_ms"] += m.get("Executor Run Time", 0)
                    totals["cpu_ns"] += m.get("Executor CPU Time", 0)
                    totals["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    totals["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    totals["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    totals["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    totals["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    totals["output"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    stage_tasks.setdefault(sid, []).append(
                        (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    )
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == PYTHON_TIME_METRIC:
                            totals["python_ms"] += float(acc.get("Update", 0))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in selected:
                        stages_done[sid] = ev["Stage Info"].get("Number of Tasks", 0)
    tails = [max(d) - statistics.median(d) for d in stage_tasks.values()]
    return {
        "jobs": totals["jobs"],
        "stages": len(stages_done),
        "tasks": totals["tasks"],
        "single_task_stages": sum(1 for n in stages_done.values() if n == 1),
        "executor_run_s": totals["run_ms"] / 1000.0,
        "executor_cpu_s": totals["cpu_ns"] / 1e9,
        "gc_s": totals["gc_ms"] / 1000.0,
        "shuffle_read_bytes": totals["shuffle_read"],
        "shuffle_write_bytes": totals["shuffle_write"],
        "spill_bytes": totals["spill"],
        "input_bytes": totals["input"],
        "output_bytes": totals["output"],
        "python_s": totals["python_ms"] / 1000.0,
        "stage_tail_s": sum(tails),
        "jobs_per_group": jobs_per_group,
    }
