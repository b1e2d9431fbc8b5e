"""Measurement helpers that sit outside the engine.

- ``RssSampler`` samples the resident memory of this process and every
  descendant (the driver JVM and its Python workers) from ``/proc``;
  ``tree_cpu_seconds`` reads their CPU time there.
- ``spark_layer_metrics`` reads Spark's own event log (enabled through
  ``get_spark(extra_conf=...)`` for the traced run) into the ``spark.*``
  per-layer metrics.
"""

from __future__ import annotations

import glob
import json
import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _tree(root_pid: int) -> list[tuple[int, int]]:
    """(resident bytes, CPU ticks) of ``root_pid`` and each descendant.

    CPU ticks are user + system time, including that of children already
    waited for (Python workers reaped by their daemon)."""
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:  # the process ended between listdir and open
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        usage[int(d)] = (pages * _PAGE, sum(int(x) for x in fields[11:15]))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in usage:
            out.append(usage[pid])
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process and its descendants."""
    return sum(ticks for _, ticks in _tree(os.getpid())) / _TICK


class RssSampler:
    """Peak RSS of the process tree, sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, sum(rss for rss, _ in _tree(pid)))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# SQL metric names (Spark 4.1 PythonSQLMetrics) -> per-layer metric
_PY_METRICS = {
    "time to run Python workers": "spark.python_run_s",
    "time to start Python workers": "spark.python_boot_s",
    "data sent to Python workers": "spark.python_bytes_sent",
}
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", ()):
        if m["name"] in _PY_METRICS:
            out[m["accumulatorId"]] = (_PY_METRICS[m["name"]], m["metricType"])
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def _union_length(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(spans):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def spark_layer_metrics(log_dir: str, window: tuple[float, float]) -> dict[str, float]:
    """Sum the event log of every application in ``log_dir`` over jobs
    submitted inside ``window`` (epoch seconds)."""
    m = dict.fromkeys(
        (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
            "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
            "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
            "spark.spill_bytes", "spark.python_run_s", "spark.python_boot_s",
            "spark.python_bytes_sent",
        ),
        0.0,
    )
    lo, hi = window[0] * 1000, window[1] * 1000
    spans: list[tuple[float, float]] = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        job_start: dict[int, float] = {}
        stages: set[int] = set()
        accums: dict[int, tuple[str, str]] = {}
        with open(path) as f:
            events = [json.loads(line) for line in f if line.strip()]
        for ev in events:
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(ev["sparkPlanInfo"], accums)
            elif kind == "SparkListenerJobStart":
                if lo <= ev["Submission Time"] <= hi:
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
                spans.append((job_start[ev["Job ID"]], ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                m["spark.tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    m["spark.failed_tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sr = tm.get("Shuffle Read Metrics") or {}
                m["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                m["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                m["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                for acc in ev["Task Info"].get("Accumulables", ()):
                    hit = accums.get(acc["ID"])
                    if hit and "Update" in acc:
                        m[hit[0]] += float(acc["Update"]) * _UNIT_SCALE.get(hit[1], 1.0)
        m["spark.jobs"] += len(job_start)
        m["spark.stages"] += len(stages)
    wall = window[1] - window[0]
    m["spark.driver_gap_s"] = wall - _union_length(spans) / 1000
    return m
