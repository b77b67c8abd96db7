"""Spans, per-layer Spark task counts and process memory for the benchmark.

Spans are recorded only by the benchmark, around its calls into the
engine's modules; the engine itself is not instrumented. Each layer call
runs under its own Spark job group, so the task and shuffle counts read
back from the status tracker belong to that layer alone.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span log plus per-layer Spark counters.

    A span is ``{name, start, end, parent, job}`` in seconds since the
    tracer was created. ``layer(name)`` sets a job group named after the
    layer for the calls inside it; ``tasks(name)`` then sums the
    completed and failed tasks and the shuffle bytes written of every
    job in that group.
    """

    def __init__(self, sc):
        self.sc = sc
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._groups: dict[str, list[str]] = {}
        self._seq = 0

    def now(self) -> float:
        return time.perf_counter() - self.t0

    @contextmanager
    def span(self, name: str, job: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = self.now()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                {"name": name, "start": start, "end": self.now(),
                 "parent": parent, "job": job}
            )

    @contextmanager
    def layer(self, name: str, job: str):
        """A span whose Spark jobs run under a job group of their own."""
        self._seq += 1
        group = f"perfbench-{name}-{self._seq}"
        self._groups.setdefault(name, []).append(group)
        self.sc.setJobGroup(group, name)
        try:
            with self.span(name, job):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def busy_s(self, name: str, job: str | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (job is None or s["job"] == job)
        )

    def wait_for_listeners(self, timeout_ms: int = 10_000) -> None:
        """Let the status store catch up with the jobs that just ended:
        Spark delivers task and stage events to it asynchronously."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)

    def tasks(self, name: str) -> dict:
        """Completed tasks, failed task attempts and shuffle MB written by
        the jobs of every ``layer(name)`` call so far."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        done = failed = 0
        shuffle = 0
        seen: set[int] = set()
        for group in self._groups.get(name, []):
            for jid in st.getJobIdsForGroup(group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    stage = st.getStageInfo(sid)
                    if stage is None:
                        continue
                    done += stage.numCompletedTasks
                    failed += stage.numFailedTasks
                    if stage.numCompletedTasks:
                        shuffle += int(
                            store.lastStageAttempt(sid).shuffleWriteBytes()
                        )
        return {"tasks": done, "failed_tasks": failed,
                "shuffle_mb": shuffle / 1e6}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb(root: int | None = None) -> float:
    """Summed peak resident set (VmHWM) of ``root`` and every live
    descendant: this process, the JVM it launched and the Python workers
    the JVM forked. Read from /proc, so it needs no extra package."""
    root = os.getpid() if root is None else root
    kids = _children()
    total_kb = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
