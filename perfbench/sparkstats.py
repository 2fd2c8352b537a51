"""Spark's own metrics, read from outside the program.

* ``python_worker_rss_mb``: peak RSS (``VmHWM``) summed over the Python
  workers the local JVM forked (children of its ``pyspark.daemon``).
* ``ActionStats``: per-action numbers from Spark's status REST API
  (the Spark UI server on the loopback interface).  SQL executions are
  found by the job description the benchmark sets before the action;
  their ``ArrowEvalPython`` node metrics are the Python-boundary cost,
  their stages give CPU, GC and task times.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field


def children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat[stat.rindex(b")") + 2 :].split()[1]) == pid:
            out.append(int(d))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\x00", b" ").decode(errors="replace")
    except OSError:
        return ""


def _vmhwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_workers() -> list[int]:
    """PIDs of the Python workers forked by this process's Spark JVM."""
    workers = []
    for jvm in children(os.getpid()):
        for daemon in children(jvm):
            if "pyspark.daemon" in _cmdline(daemon):
                workers.extend(children(daemon))
    return workers


def python_worker_rss_mb() -> float:
    return sum(_vmhwm_kb(p) for p in python_workers()) / 1024.0


# --- status REST API ----------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

# ArrowEvalPython metric display names -> benchmark names
PYTHON_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_total_s",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
}


def parse_metric_value(text: str) -> float:
    """Total of a formatted SQL metric: ``"1.6 s"``, ``"12,000"`` or
    ``"total (min, med, max ...)\\n7.5 s (3.7 s, ...)"`` (seconds / bytes)."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if m is None:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


@dataclass
class ActionStats:
    """Spark's numbers for all SQL executions under one description."""

    python: dict = field(default_factory=lambda: {v: 0.0 for v in PYTHON_METRICS.values()})
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    tasks: int = 0
    task_s: list = field(default_factory=list)


class StatusClient:
    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.load(resp)

    def action_stats(self, description: str, wait_s: float = 10.0) -> ActionStats:
        """Wait until the listener bus has recorded every execution
        tagged ``description`` as completed, then sum their metrics."""
        deadline = time.monotonic() + wait_s
        while True:
            execs = [e for e in self._get("/sql?details=true&planDescription=false&length=100000")
                     if e.get("description") == description]
            done = execs and all(
                e["status"] == "COMPLETED" and not e["runningJobIds"] for e in execs
            )
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not done:
            raise RuntimeError(f"status store never completed {description!r}")

        st = ActionStats()
        stage_ids = set()
        for e in execs:
            for node in e["nodes"]:
                if node["nodeName"] != "ArrowEvalPython":
                    continue
                for m in node["metrics"]:
                    name = PYTHON_METRICS.get(m["name"])
                    if name:
                        st.python[name] += parse_metric_value(m["value"])
            for job in e["successJobIds"]:
                stage_ids.update(self._get(f"/jobs/{job}")["stageIds"])
        for sid in sorted(stage_ids):
            try:
                attempts = self._get(f"/stages/{sid}")
            except urllib.error.HTTPError:
                continue  # skipped stage (its shuffle output was reused)
            for a in attempts:
                if a["status"] != "COMPLETE":
                    continue
                st.executor_cpu_s += a["executorCpuTime"] / 1e9
                st.gc_s += a["jvmGcTime"] / 1e3
                st.tasks += a["numTasks"]
                tl = self._get(f"/stages/{sid}/{a['attemptId']}/taskList?length=100000")
                st.task_s.extend(t["duration"] / 1e3 for t in tl if "duration" in t)
        return st


def merge(stats: list[ActionStats], docs: int) -> dict:
    """Per-action means of the Spark numbers plus per-document bytes."""
    n = max(1, len(stats))
    py = {k: sum(s.python[k] for s in stats) for k in PYTHON_METRICS.values()}
    task_s = [t for s in stats for t in s.task_s]
    return {
        "spark.python_init_s": py["python_init_s"] / n,
        "spark.python_total_s": py["python_total_s"] / n,
        "spark.python_us_per_doc": py["python_total_s"] * 1e6 / max(1, docs),
        "spark.python_sent_bytes_per_doc": py["python_sent_bytes"] / max(1, docs),
        "spark.python_returned_bytes_per_doc": py["python_returned_bytes"] / max(1, docs),
        "spark.executor_cpu_s": sum(s.executor_cpu_s for s in stats) / n,
        "spark.gc_s": sum(s.gc_s for s in stats) / n,
        "spark.tasks": sum(s.tasks for s in stats) / n,
        "spark.task_s_p50": statistics.median(task_s) if task_s else 0.0,
        "spark.task_s_max": max(task_s, default=0.0),
    }
