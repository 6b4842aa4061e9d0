"""Readers the benchmark uses to observe the program from outside.

Two sources:

- ``/proc``: CPU and peak RSS of the measured process tree, split into the
  driver Python process, the JVM and the pyspark Python workers, plus the
  machine's steal time, load and CPU pressure.
- Spark's status stores: the AppStatusStore (jobs, stages) and the SQL
  status store (executions, their final plan graph and SQL metrics). Work
  is attributed to a call by the job and execution IDs created during it,
  never by diffing list totals, because the stores keep only a bounded
  number of entries (``spark.ui.retainedStages`` and friends).
"""

from __future__ import annotations

import json
import os
import re

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


# ---------------------------------------------------------------- /proc


def stat_fields(pid: int) -> list[str] | None:
    """``/proc/<pid>/stat`` as ``[comm, state, ppid, pgrp, ...]``, or None
    when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    return [comm] + raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> dict[int, str]:
    """``{pid: role}`` for ``root`` and its descendants; role is
    ``driver`` (root), ``jvm`` or ``pyworker``."""
    children: dict[int, list[int]] = {}
    comms: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = stat_fields(int(entry))
        if fields is None:
            continue
        comms[int(entry)] = fields[0]
        children.setdefault(int(fields[2]), []).append(int(entry))
    tree, todo = {root: "driver"}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        tree[pid] = "jvm" if comms.get(pid) == "java" else "pyworker"
        todo.extend(children.get(pid, []))
    return tree


# Last CPU reading of every JIT compiler thread seen, by (pid, tid, start
# time). HotSpot stops compiler threads when its queue drains, and a
# stopped thread's CPU leaves /proc/<pid>/task; its last reading stays here.
_compiler_cpu: dict[tuple[int, str, str], float] = {}


def _read_compiler_threads(pid: int) -> None:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if "CompilerThre" not in raw[raw.index("(") + 1 : raw.rindex(")")]:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        _compiler_cpu[(pid, tid, fields[19])] = (int(fields[11]) + int(fields[12])) / CLK_TCK


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds by role, including reaped children of each process.
    ``jit`` is the part of ``jvm`` spent in the JIT compiler threads."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, role in process_tree(root).items():
        fields = stat_fields(pid)
        if fields is not None:
            out[role] += sum(int(x) for x in fields[12:16]) / CLK_TCK
            if role == "jvm":
                _read_compiler_threads(pid)
    out["total"] = out["driver"] + out["jvm"] + out["pyworker"]
    out["jit"] = sum(_compiler_cpu.values())
    return out


def tree_hwm_kb(root: int) -> dict[int, tuple[str, int]]:
    """``{pid: (role, VmHWM kB)}`` over the process tree."""
    out = {}
    for pid, role in process_tree(root).items():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = (role, int(line.split()[1]))
        except OSError:
            pass
    return out


def machine_env() -> dict:
    """Steal seconds, load averages and CPU pressure: recorded, not gated on."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    env = {"steal_s": int(cpu[8]) / CLK_TCK, "load_avg": load, "nproc": os.cpu_count()}
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
        env["psi_cpu_some_avg10"] = float(some[1].split("=")[1])
        env["psi_cpu_some_total_s"] = int(some[4].split("=")[1]) / 1e6
    except (OSError, IndexError, ValueError):
        pass
    return env


# ------------------------------------------------------ SQL metric strings

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Parse a SQL-metric display string to bytes, seconds or a count.

    Handles ``205.4 KiB``, ``3.0 s``, ``956 ms``, ``3,836`` and the
    per-task form ``total (min, med, max (stageId: taskId))\\n5.5 s (...)``,
    whose first value after the header is the total.
    """
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else text.split(")", 2)[-1]
    m = _NUM.match(text)
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def jvm_heap_mb(spark) -> dict[str, float]:
    """The driver JVM's heap from its management beans: the ``-Xmx`` cap,
    what is committed now, and the sum of the heap pools' peak use."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    heap = mgmt.getMemoryMXBean().getHeapMemoryUsage()
    pools = mgmt.getMemoryPoolMXBeans()
    peak = sum(
        pools.get(i).getPeakUsage().getUsed()
        for i in range(pools.size())
        if pools.get(i).getType().name() == "HEAP"
    )
    return {"max": heap.getMax() / MB, "committed": heap.getCommitted() / MB, "peak_used": peak / MB}


# ------------------------------------------------------ Spark status stores


class SparkStatus:
    """Reads jobs, stages and SQL executions created since the last mark."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until listeners have seen every posted event."""
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> tuple[int, int]:
        """``(last job id, last SQL execution id)`` seen so far."""
        self.drain()
        jobs = self._app.jobsList(None)
        last_job = jobs.apply(0).jobId() if jobs.size() else -1
        n = self._sql.executionsCount()
        execs = self._sql.executionsList(max(0, n - 1), 1)
        last_exec = execs.apply(0).executionId() if execs.size() else -1
        return last_job, last_exec

    def jobs_since(self, last_job: int) -> list[dict]:
        """Jobs with id > ``last_job``, newest first (jobsList is newest first)."""
        jobs, out = self._app.jobsList(None), []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= last_job:
                break
            out.append(self._json(job))
        return out

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        """Stages run (not skipped) by ``jobs``, one entry per stage id."""
        out = []
        for sid in sorted({s for job in jobs for s in job["stageIds"]}):
            stage = self._json(self._app.lastStageAttempt(sid))
            if stage["status"] != "SKIPPED":
                out.append(stage)
        return out

    def executions_since(self, last_exec: int) -> list[dict]:
        """SQL executions with id > ``last_exec``: final plan graph nodes
        with their metric values attached."""
        n = self._sql.executionsCount()
        execs = self._sql.executionsList(max(0, n - 200), min(n, 200))
        out = []
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= last_exec:
                continue
            values = self._json(self._sql.executionMetrics(eid))
            nodes = self._json(self._sql.planGraph(eid).allNodes())
            out.append(
                {
                    "id": eid,
                    "nodes": [
                        {
                            "name": node["name"],
                            "metrics": {
                                m["name"]: values[str(m["accumulatorId"])]
                                for m in node.get("metrics", [])
                                if str(m["accumulatorId"]) in values
                            },
                        }
                        for node in nodes
                    ],
                }
            )
        return out


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Sums over stages of the task metrics the per-layer report uses."""
    return {
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "input_mb": sum(s["inputBytes"] for s in stages) / MB,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
    }


_PYWORKER_METRICS = {
    "time to start Python workers": "start_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "returned_mb",
}


def plan_totals(executions: list[dict]) -> dict[str, float]:
    """Exchanges, file scans, sort-fallback tasks and Python-worker SQL
    metrics over the final plan graphs of ``executions``."""
    out = {"exchanges": 0, "scans": 0, "agg_fallback_tasks": 0}
    out.update({key: 0.0 for key in _PYWORKER_METRICS.values()})
    for execution in executions:
        for node in execution["nodes"]:
            name = node["name"]
            if name.endswith("Exchange") and not name.startswith("Reused"):
                out["exchanges"] += 1
            elif name.startswith("Scan parquet"):
                out["scans"] += 1
            for metric, text in node["metrics"].items():
                if metric == "number of sort fallback tasks":
                    out["agg_fallback_tasks"] += parse_metric(text)
                elif metric in _PYWORKER_METRICS:
                    value = parse_metric(text)
                    key = _PYWORKER_METRICS[metric]
                    out[key] += value / MB if key.endswith("_mb") else value
    return out
