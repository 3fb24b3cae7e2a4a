"""Closed-loop client runner, latency samples and resource readings.

Every client thread sends its next op only after the previous one returned
(the index API is synchronous, so callers form a closed loop). An op is a
``(kind, call, check)`` triple: ``call`` runs the op against the program and
is timed; ``check`` compares its result with the benchmark's own model,
outside the timed region, and returns an error string or None.
"""

from __future__ import annotations

import itertools
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from typing import Any, Callable, Optional

import numpy as np

Op = tuple[str, Callable[[], Any], Callable[[Any], Optional[str]]]


@dataclass
class Sample:
    kind: str
    ms: float
    ok: bool
    start: float  # perf_counter() when the op was sent
    end: float  # perf_counter() when it returned
    jobs: int = 0
    tasks: int = 0


class Schedule:
    """Smooth weighted round-robin over op kinds: every window of the
    sequence holds the kinds close to their weights, so a short run sees
    the same mix on every seed (the seed drives the op arguments)."""

    def __init__(self, weights: dict[str, int]):
        self.weights = weights
        self.total = sum(weights.values())
        self.reset()

    def reset(self) -> None:
        self.current = dict.fromkeys(self.weights, 0)
        self.seen: set[str] = set()

    def complete(self) -> bool:
        """Every kind was sent since the last reset."""
        return len(self.seen) == len(self.weights)

    def next(self) -> str:
        for k, w in self.weights.items():
            self.current[k] += w
        pick = max(self.current, key=self.current.__getitem__)
        self.current[pick] -= self.total
        self.seen.add(pick)
        return pick


class Client:
    """One closed-loop client. A client keeps sending past the deadline
    while ``mid_unit()``: by default until every kind of its schedule has
    been sent in the phase, so each kind has a sample in every run."""

    schedule: Optional[Schedule] = None
    running = False  # set while closed_loop's thread for this client sends ops

    def next_op(self) -> Op:
        raise NotImplementedError

    def mid_unit(self) -> bool:
        return self.schedule is not None and not self.schedule.complete()

    def restart(self) -> None:
        """Called at the start of every phase: the schedule restarts, so each
        measured phase sends the same sequence of op kinds."""
        if self.schedule is not None:
            self.schedule.reset()


class Interleave(Client):
    """One client alternating between the ops of several: each turn goes to
    the next sub-client in rotation that is still inside its unit, or, when
    none is, to the next one in rotation."""

    def __init__(self, *subs: Client):
        self.subs = list(subs)
        self.turn = 0

    def restart(self) -> None:
        self.turn = 0
        for c in self.subs:
            c.restart()

    def mid_unit(self) -> bool:
        return any(c.mid_unit() for c in self.subs)

    def next_op(self) -> Op:
        order = self.subs[self.turn:] + self.subs[: self.turn]
        pick = next((c for c in order if c.mid_unit()), order[0])
        self.turn = (self.subs.index(pick) + 1) % len(self.subs)
        return pick.next_op()


class Run:
    """Samples of one measured phase (thread-safe appends). The phase's
    window runs from its start to the deadline, or on to the moment the
    last client finished its unit if that is later; ``elapsed`` is its
    length. An op still in flight at the end of the window is a latency
    sample, and counts as completed in it by the share of its duration
    that falls inside the window."""

    def __init__(self) -> None:
        self.samples: list[Sample] = []
        self.errors: list[str] = []
        self.elapsed = 0.0
        self.window_end = 0.0
        self._lock = threading.Lock()

    def add(self, s: Sample, err: Optional[str]) -> None:
        with self._lock:
            self.samples.append(s)
            if err is not None:
                self.errors.append(f"{s.kind}: {err}")

    def ms(self, *kinds: str) -> list[float]:
        """Latencies of the successful ops of ``kinds`` (of all kinds if none)."""
        return [s.ms for s in self.samples if s.ok and (not kinds or s.kind in kinds)]

    def completed(self) -> float:
        """Successful ops done within the window, in-flight ones pro rata."""
        return sum(min(1.0, (self.window_end - s.start) / (s.end - s.start))
                   for s in self.samples if s.ok and s.end > s.start)

    @property
    def attempted(self) -> int:
        return len(self.samples)

    @property
    def failed(self) -> int:
        return sum(not s.ok for s in self.samples)


_op_ids = itertools.count(1)


def closed_loop(clients: list[Client], seconds: float, tracer=None, jobs=None) -> Run:
    """Run every client until ``seconds`` have passed; return the samples."""
    run = Run()
    if not clients:
        return run
    start = time.perf_counter()
    deadline = start + seconds
    unit_ends = [deadline]

    def worker(client: Client) -> None:
        try:
            send(client)
        finally:
            client.running = False

    def send(client: Client) -> None:
        while time.perf_counter() < deadline or client.mid_unit():
            op_id = next(_op_ids)
            try:
                kind, call, check = client.next_op()
            except Exception as e:  # a benchmark defect: fail the run, stop this client
                traceback.print_exc(file=sys.stderr)
                now = time.perf_counter()
                run.add(Sample("next_op", 0.0, False, now, now), f"{type(e).__name__}: {e}")
                return
            if tracer is not None:
                tracer.set_op(op_id)
            group = jobs.begin(op_id) if jobs is not None else None
            t0 = time.perf_counter()
            err = None
            try:
                out = call()
            except Exception as e:  # an op must never kill its client
                out = None
                err = f"unexpected {type(e).__name__}: {str(e)[:300]}"
                traceback.print_exc(file=sys.stderr)
            ms = (time.perf_counter() - t0) * 1000.0
            nj = nt = 0
            if group is not None:
                nj, nt = jobs.end(group)
            if tracer is not None:
                tracer.set_op(None)
            if err is None:
                try:
                    err = check(out)
                except Exception as e:
                    err = f"check raised {type(e).__name__}: {e}"
            end = t0 + ms / 1000.0
            run.add(Sample(kind, ms, err is None, t0, end, nj, nt), err)
            if t0 >= deadline:  # sent only to finish the client's unit
                unit_ends.append(end)

    for c in clients:
        c.restart()
        c.running = True
    threads = [threading.Thread(target=worker, args=(c,), daemon=True) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # an op in flight at the deadline does not extend the window; an op
    # sent after it to finish a unit does
    run.window_end = max(unit_ends)
    run.elapsed = run.window_end - start
    return run


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile; NaN when there is no sample."""
    return float(np.percentile(values, q)) if values else float("nan")


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _java_pid(pid: int) -> Optional[int]:
    """``pid`` itself when it is the JVM, else its java child (spark-submit
    may exec java or wrap it in a shell)."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                return pid
    except OSError:
        return None
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if int(fields[1]) == pid and comm == "java":
            return int(entry)
    return None


def rss_peak_mb(jvm_pid: Optional[int]) -> float:
    """Peak resident memory (VmHWM) of this Python driver plus the JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    if jvm_pid is not None:
        kb += _status_kb(jvm_pid, "VmHWM")
    return kb / 1024.0


def find_jvm_pid(spark) -> Optional[int]:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return _java_pid(proc.pid) if proc is not None else None
