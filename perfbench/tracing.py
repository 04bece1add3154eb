"""Outside-in measurement: spans around the benchmark's calls into each
layer, Spark job/stage/task counts per request, filesystem-seam call
counts, store bytes and peak resident memory.

Everything here observes the engine through public seams only:
``SparkContext.setJobGroup`` + ``statusTracker()``, ``fsio.using_backend``,
a directory walk and ``/proc``. Spans are kept in memory and written out
once, at the end of a run.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    """In-memory spans: (name, start, end, parent index, op id).

    Disabled, ``span`` is a no-op: the untraced run pays one context
    manager per layer call and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self.spans.append(
            {
                "name": name,
                "op": self.op_id,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(),
            }
        )
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self.spans[self._stack.pop()]["end"] = time.perf_counter()

    def self_times(self, ops: set | None = None) -> dict[str, float]:
        """Seconds per span name minus the part of each span its children
        cover. ``ops`` restricts to spans of those op ids."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if ops is None or s["op"] in ops:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)


class SparkCounters:
    """Spark jobs, stages, tasks and failed tasks per request, read from
    the status tracker under a per-request job group."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.totals = defaultdict(int)

    def begin(self, op_id: int) -> str:
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str) -> None:
        for jid in self.tracker.getJobIdsForGroup(group):
            self.totals["jobs"] += 1
            job = self.tracker.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                st = self.tracker.getStageInfo(sid)
                if st is None:  # skipped (reused shuffle) or evicted
                    continue
                self.totals["stages"] += 1
                self.totals["tasks"] += st.numTasks
                self.totals["failed_tasks"] += st.numFailedTasks


class CountingBackend:
    """Wraps an fsio backend: counts every call by kind and records it as
    an ``fsio`` span, so its time is the seam's self time and not the
    caller's."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        self.calls: dict[str, int] = defaultdict(int)

    def __getattr__(self, name):
        fn = getattr(self._inner, name)
        if not callable(fn):
            return fn

        def counted(*args, **kwargs):
            self.calls[name] += 1
            with self._tracer.span("fsio"):
                return fn(*args, **kwargs)

        return counted


class ByteLedger:
    """Bytes written under a set of directories, from directory walks: a
    file counts as written once per distinct (path, size, mtime)."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        self.seen: set = set()
        self.written = 0

    def _files(self):
        for root in self.roots:
            for d, _, files in os.walk(root):
                for f in files:
                    path = os.path.join(d, f)
                    try:
                        st = os.stat(path)
                    except FileNotFoundError:
                        continue
                    yield path, st.st_size, st.st_mtime_ns

    def scan(self) -> int:
        """Walk now; returns the current stored bytes."""
        total = 0
        for key in self._files():
            total += key[1]
            if key not in self.seen:
                self.seen.add(key)
                self.written += key[1]
        return total


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")
