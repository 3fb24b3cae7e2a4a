"""Span recorder for the traced run.

The wrappers live here, in the benchmark, around the public functions of
each ``index_spark`` layer; nothing inside the program changes. A span is
(name, start, end, parent, op id, thread); spans stay in memory and are
written out once, when the run ends. Self time is a span's duration minus
the durations of its children (children of one span run on its thread,
one after another, so they never overlap).
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from collections import defaultdict
from typing import Any, Callable, Optional


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "thread")

    def __init__(self, name: str, start: float, parent: Optional["Span"], op: Optional[int]):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.op = op
        self.thread = threading.get_ident()

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Collects spans while installed; a no-op otherwise. Point and range
    reads also record how many files their result scans
    (``DataFrame.inputFiles()``, taken after the span ends)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.files: dict[str, list[int]] = {"point": [], "range": []}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[Any, str, Any]] = []

    # -- op context (set by the client loop around every op)
    def set_op(self, op_id: Optional[int]) -> None:
        self._local.op = op_id

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, name: str, fn: Callable, files: Optional[str]) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = self._stack()
            sp = Span(name, time.perf_counter(), stack[-1] if stack else None,
                      getattr(self._local, "op", None))
            stack.append(sp)
            try:
                out = fn(*args, **kwargs)
            finally:
                sp.end = time.perf_counter()
                stack.pop()
                with self._lock:
                    self.spans.append(sp)
            if files is not None:
                n = len(out.inputFiles())
                with self._lock:
                    self.files[files].append(n)
            return out

        return wrapper

    def patch(self, owner: Any, attr: str, name: str, files: Optional[str] = None) -> None:
        original = owner.__dict__[attr]
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self._wrap(name, original, files))

    def install(self, dataframe_cls: type) -> None:
        """Wrap the public layer functions the workloads call."""
        from index_spark import catalog
        from index_spark.index import SortedIndex
        from index_spark.sharded import ShardedIndex
        from index_spark.snapshots import SnapshotStore, VersionedIndex

        self.patch(catalog, "read_latest", "catalog.read_latest")
        self.patch(catalog, "commit", "catalog.commit")
        for attr in ("latest", "at_version", "read"):
            self.patch(SnapshotStore, attr, f"snapshots.{attr}")
        self.patch(SnapshotStore, "commit", "snapshots.store_commit")
        self.patch(VersionedIndex, "read_point", "snapshots.read_point", files="point")
        self.patch(VersionedIndex, "read_range", "snapshots.read_range", files="range")
        for attr in ("read_points", "execute", "compact"):
            self.patch(VersionedIndex, attr, f"snapshots.{attr}")
        self.patch(ShardedIndex, "range", "sharded.range", files="range")
        for attr in ("get_all", "in_order", "as_of", "execute"):
            self.patch(ShardedIndex, attr, f"sharded.{attr}")
        for attr in ("get", "get_all", "in_order", "gt", "lt", "range", "next_key", "previous_key"):
            self.patch(SortedIndex, attr, f"index.{attr}")
        self.patch(dataframe_cls, "collect", "spark.collect")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- analysis
    def self_ms(self) -> dict[int, float]:
        child = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child[id(sp.parent)] += sp.ms
        return {id(sp): sp.ms - child[id(sp)] for sp in self.spans}

    def by_name(self, *names: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name in names]

    def median_ms(self, *names: str, self_time: bool = False) -> float:
        """Median (self) duration of the named spans; 0 when none ran."""
        spans = self.by_name(*names)
        if not spans:
            return 0.0
        if self_time:
            st = self.self_ms()
            return statistics.median(st[id(sp)] for sp in spans)
        return statistics.median(sp.ms for sp in spans)

    def descendants_named(self, root: Span, name: str) -> int:
        n = 0
        for sp in self.spans:
            if sp.name != name:
                continue
            p = sp.parent
            while p is not None and p is not root:
                p = p.parent
            n += p is root
        return n

    def dump(self, path: str) -> None:
        """One JSON object per span: name, start/end (s), parent index, op."""
        index = {id(sp): i for i, sp in enumerate(self.spans)}
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "name": sp.name, "start": sp.start, "end": sp.end,
                    "parent": index.get(id(sp.parent)) if sp.parent else None,
                    "op": sp.op, "thread": sp.thread,
                }) + "\n")


class JobCounter:
    """Spark jobs and tasks per op, read from the status tracker by job
    group (one group per traced op)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def begin(self, op_id: int) -> str:
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str) -> tuple[int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self.tracker.getStageInfo(s)
                tasks += st.numTasks if st else 0
        self.sc.setJobGroup(None, None)
        return len(jobs), tasks
