"""Measurement from outside the package: spans around each call into a
layer, Spark counters per span read back through job groups, and the
memory of the whole process tree.

Nothing here patches or wraps the package; every number comes from timing
a public call or from Spark's own status store.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def first_line(exc: BaseException) -> str:
    text = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {text[0] if text else ''}"[:300]


class Tracer:
    """In-memory spans: id, name, layer, start, end, parent, and the id of
    the operation they belong to.  With ``counters`` on, every span runs
    under its own Spark job group so its jobs can be read back later."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 1
        self.sc = None
        self.counters = False
        #: seconds spent in setJobGroup calls: tracing's cost to the driver
        self.group_s = 0.0

    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    def _group(self, rec: dict | None) -> None:
        if not (self.counters and self.sc):
            return
        t0 = time.perf_counter()
        if rec is None:
            self.sc.setJobGroup("pb:none", "perfbench")
        else:
            self.sc.setJobGroup(f"pb:{rec['id']}", rec["name"])
        self.group_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self.current()
        sid = self._next_id
        self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent and not attrs.get("new_op") else sid,
            **attrs,
        }
        self._stack.append(rec)
        self._group(rec)
        rec["start"] = time.perf_counter()
        rec["wall_start"] = time.time()
        try:
            yield rec
        except Exception as exc:
            rec["error"] = first_line(exc)
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            self._group(self.current())


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its children cover.  Children of one
    span run one after another, so their intervals do not overlap."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


class SparkCounters:
    """Reads job and stage data back from the application status store,
    which stays live with the UI disabled."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the finished jobs."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # private API; the numbers are only later
            time.sleep(1.0)

    def jobs(self, group: str) -> list[dict]:
        out = []
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            sub = self.store.job(jid).submissionTime()
            rec = {
                "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "tasks": 0, "shuffle_bytes": 0, "input_bytes": 0, "run_ms": 0,
            }
            for sid in info.stageIds if info else []:
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # stage skipped: its output was reused
                    continue
                rec["tasks"] += st.numCompleteTasks()
                rec["shuffle_bytes"] += st.shuffleWriteBytes()
                rec["input_bytes"] += st.inputBytes()
                rec["run_ms"] += st.executorRunTime()
            out.append(rec)
        return out

    def storage_mb(self) -> float:
        """Executor storage memory in use, summed over executors."""
        status = self.sc._jsc.sc().getExecutorMemoryStatus()
        it = status.values().iterator()
        used = 0
        while it.hasNext():
            pair = it.next()
            used += pair._1() - pair._2()
        return used / 1e6


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _pss_mb(pid: int) -> float:
    """Proportional set size: resident pages, with each shared page split
    among the processes sharing it, so forked Python workers are not
    counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler(threading.Thread):
    """Peak resident memory (PSS) of this process plus every descendant
    (the driver JVM and the Python workers), sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        #: at the peak: when (perf_counter) and MB per process kind
        self.peak_at = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        parts: dict[str, float] = defaultdict(float)
        parts["python_driver"] = _pss_mb(me)
        for pid in descendants(me):
            parts["jvm" if _comm(pid) == "java" else "python_workers"] += _pss_mb(pid)
        total = sum(parts.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_at, self.peak_parts = total, time.perf_counter(), dict(parts)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()
