"""Measurement helpers: process-tree CPU and memory, host shape, spans and
Spark job counts.  Everything here reads /proc or Spark's public status
tracker; nothing changes the host."""

from __future__ import annotations

import json
import mmap
import os
import threading
import time
import uuid
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, including children
    that have already exited and been reaped inside the tree."""
    total = 0
    for pid in tree_pids():
        f = _stat(pid)
        if f is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_pss_bytes() -> int:
    """Proportional set size of the process tree: a page shared by k
    processes (a forked worker and its parent) counts 1/k to each, so the
    sum is the memory the tree holds."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class MemorySampler:
    """Peak proportional set size of the process tree, sampled on a
    thread between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(self.interval_s)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=10)
            self.peak = max(self.peak, tree_pss_bytes())


def fault_us_per_page(mb: int = 64) -> float:
    """First-touch page-fault cost: time to write one byte into each page
    of a fresh anonymous mapping."""
    size = mb << 20
    with mmap.mmap(-1, size) as m:
        view = memoryview(m)
        t0 = time.perf_counter()
        for off in range(0, size, _PAGE):
            view[off] = 1
        dt = time.perf_counter() - t0
        view.release()
    return dt / (size // _PAGE) * 1e6


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def host_shape() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "cores": os.cpu_count(),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "fault_us_per_page": round(fault_us_per_page(), 3),
    }


class Tracer:
    """Spans at layer boundaries: name, start, end and parent, all sharing
    one run id.  Kept in memory; ``dump`` writes them at the end."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # a SparkContext, once there is one
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a block.  With a Spark session, the block's jobs run under
        a job group named after the span, so they can be counted."""
        sid = len(self.spans)
        rec = {
            "run_id": self.run_id, "id": sid, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"{self.run_id}:{sid}:{name}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self.sc is not None:
                rec.update(spark_counts(self.sc, group))
                parent = self.spans[self._stack[-1]] if self._stack else None
                if parent is not None:
                    self.sc.setJobGroup(
                        f"{self.run_id}:{parent['id']}:{parent['name']}", parent["name"]
                    )
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def seconds(self, name: str) -> float:
        """Wall time of the last span called ``name``."""
        rec = [s for s in self.spans if s["name"] == name][-1]
        return rec["end"] - rec["start"]

    def counts(self, name: str) -> dict:
        """Spark job/stage/task counts of the last span called ``name``
        and of every span nested inside it."""
        top = [s for s in self.spans if s["name"] == name][-1]
        ids = {top["id"]}
        total = {"jobs": 0, "stages": 0, "tasks": 0}
        for s in self.spans[top["id"]:]:
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                for k in total:
                    total[k] += s.get(k, 0)
        return total

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")


def spark_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks that ran under one job group (stages skipped
    because their shuffle output was reused count as stages, not tasks)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                tasks += sinfo.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}
