"""Measurements taken from outside the program: process CPU and memory
from ``/proc``, engine counters from Spark's status stores, and the box
and build the run happened on.  Nothing here changes what Spark executes.
"""

from __future__ import annotations

import os
import platform
import re
import subprocess
import time
from dataclasses import dataclass
from typing import Dict, List, Optional

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- /proc --------------------------------------------------------------------


def _stat(pid: int) -> Optional[list]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants(root: int) -> List[int]:
    kids = children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pids: List[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


@dataclass
class CpuSample:
    """CPU seconds so far of this process (the PySpark client), its JVM and
    the JVM's Python workers (reaped workers count through their parent's
    child times)."""

    wall: float
    client: float
    jvm: float
    python: float


def cpu_sample() -> CpuSample:
    me = os.getpid()
    st = _stat(me)
    client = (int(st[11]) + int(st[12])) / _TICK
    jvm = python = 0.0
    kids = children_map()
    for pid in kids.get(me, []):
        if _comm(pid) != "java":
            continue
        s = _stat(pid)
        if s is not None:
            jvm += (int(s[11]) + int(s[12])) / _TICK
        todo = list(kids.get(pid, []))
        while todo:
            w = todo.pop()
            ws = _stat(w)
            if ws is not None:
                python += sum(int(x) for x in ws[11:15]) / _TICK
            todo.extend(kids.get(w, []))
    return CpuSample(time.perf_counter(), client, jvm, python)


def cpu_delta(a: CpuSample, b: CpuSample) -> Dict[str, float]:
    wall = b.wall - a.wall
    py = b.python - a.python
    busy = (b.client - a.client) + (b.jvm - a.jvm) + py
    cores = wall * nproc()
    return {
        "cpu.client_s": b.client - a.client,
        "cpu.jvm_s": b.jvm - a.jvm,
        "cpu.python_workers_s": py,
        "cpu.engine_share": 1.0 - py / cores,
        "cpu.idle_share": 1.0 - busy / cores,
    }


# -- Spark status stores ------------------------------------------------------


_EXCHANGE = re.compile(r"(\w*Exchange) \(\d+\)")


def exchanges_in(plan: str) -> int:
    """Exchange nodes in the AQE-final plan of one SQL execution."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    else:
        plan = plan.split("\n\n", 1)[0]
    return len(_EXCHANGE.findall(plan))


@dataclass
class EngineMark:
    stage_id: int
    job_id: int
    executions: int


class EngineCounters:
    """Deltas of Spark's own accounting since a mark: jobs, stages, tasks,
    task time, shuffle bytes, and Exchange nodes of the executed plans.

    The status store lists jobs and stages newest first, so a delta touches
    only what ran since the mark."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = sc._jvm
        self._stage_args = [getattr(self._store, f"stageList$default${i}")() for i in range(2, 6)]

    def _newest(self, seq, key, after: int):
        out = []
        for i in range(seq.length()):
            item = seq.apply(i)
            if key(item) <= after:
                break
            out.append(item)
        return out

    def _stages(self):
        return self._store.stageList(self._jvm.java.util.ArrayList(), *self._stage_args)

    def _jobs(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    def mark(self) -> EngineMark:
        stages, jobs = self._stages(), self._jobs()
        return EngineMark(
            stages.apply(0).stageId() if stages.length() else -1,
            jobs.apply(0).jobId() if jobs.length() else -1,
            self._sql.executionsCount(),
        )

    def exchanges_since(self, mark: EngineMark) -> float:
        seq = self._sql.executionsList(mark.executions, 1 << 30)
        return float(
            sum(exchanges_in(seq.apply(i).physicalPlanDescription() or "") for i in range(seq.length()))
        )

    def since(self, mark: EngineMark) -> Dict[str, float]:
        stages = [
            s
            for s in self._newest(self._stages(), lambda s: s.stageId(), mark.stage_id)
            if s.status().toString() == "COMPLETE"
        ]
        jobs = self._newest(self._jobs(), lambda j: j.jobId(), mark.job_id)
        return {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(s.numCompleteTasks() for s in stages)),
            "spark.task_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "spark.task_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "spark.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "spark.shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / 2**20,
            "spark.exchanges": self.exchanges_since(mark),
        }


# -- box and build ------------------------------------------------------------


def _first_line(cmd: List[str]) -> str:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=20)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    text = (out.stdout or out.stderr).strip()
    return text.splitlines()[0] if text else "unknown"


def _meminfo_total() -> str:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _commit(root: str) -> str:
    """HEAD of the checkout when it is a git work tree, else a digest of the
    program's sources so two builds can still be told apart."""
    rev = _first_line(["git", "-C", root, "rev-parse", "HEAD"])
    if re.fullmatch(r"[0-9a-f]{40}", rev):
        return rev
    import hashlib

    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(root, "seq2rel_ds_spark"))):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(base, name), "rb") as f:
                    h.update(f.read())
    with open(os.path.join(root, "__spark_entry__.py"), "rb") as f:
        h.update(f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def box_info(root: str, spark) -> dict:
    import pandas
    import pyarrow

    system = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": nproc(),
        "cpu_model": _cpu_model(),
        "mem_total": _meminfo_total(),
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "python": platform.python_version(),
        "commit": _commit(root),
    }
