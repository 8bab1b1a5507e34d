"""Measurement around the package's public calls.

Every timed call goes through :meth:`Probe.call`, which counts it as one
operation and records a span (name, start, end, parent, iteration) kept in
memory. In a traced run it also

- tags the call's Spark jobs with a job group and counts them through the
  status tracker,
- counts py4j round trips by wrapping the gateway client's ``send_command``
  (object-release messages excluded).

CPU seconds and peak memory are read from ``/proc`` for this process and
every descendant (the JVM and its Python workers).
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime + stime + cutime + cstime in seconds)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rfind(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])
        table[int(name)] = (int(fields[1]), ticks / _CLK)
    return table


def descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` and all its descendants.

    A process's ``cutime``/``cstime`` hold the CPU of children it has
    reaped, so summing all four counters over the live tree also keeps the
    Python workers that have already exited."""
    root = root if root is not None else os.getpid()
    table = _proc_table()
    return sum(table[p][1] for p in [root, *descendants(root, table)] if p in table)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_peak_rss(pid: int) -> bool:
    """Restart the kernel's peak-RSS counter (``clear_refs`` value 5)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log also uses
    end: float
    parent: int | None
    iteration: int
    group: str | None = None
    jobs: int = 0
    py4j: int = 0
    ok: bool = True


@dataclass
class Probe:
    """Per-run measurement state. Every call is a span; ``trace`` adds
    job tagging and py4j counting."""

    spark: object
    trace: bool
    iteration: int = 0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    spans: list[Span] = field(default_factory=list)
    hook_s: float = 0.0
    _stack: list[int] = field(default_factory=list)
    _seq: itertools.count = field(default_factory=itertools.count)

    def __post_init__(self) -> None:
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self.py4j_total = 0
        if self.trace:
            client = self.sc._gateway._gateway_client
            send = client.send_command
            lock = threading.Lock()

            def counted_send(command, *args, **kwargs):
                # reference releases follow Python's garbage collector, not
                # the calls the program makes, so they are not counted
                if not command.startswith("m\nd\n"):
                    with lock:  # jobs may be submitted from several threads
                        self.py4j_total += 1
                return send(command, *args, **kwargs)

            client.send_command = counted_send

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` as one timed operation of layer ``name``."""
        with self.span(name):
            return fn(*args, **kwargs)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Record one output check as an operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")
        return ok

    @contextmanager
    def span(self, name: str):
        self.attempted += 1
        h0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        group = None
        if self.trace and parent is None:  # only the outermost call tags its jobs
            group = f"pb|{self.iteration}|{name}|{next(self._seq)}"
            self.sc.setJobGroup(group, name)
        sp = Span(name, time.time(), 0.0, parent, self.iteration, group)
        self._stack.append(len(self.spans))
        self.spans.append(sp)
        py0 = self.py4j_total
        self.hook_s += time.perf_counter() - h0
        try:
            yield
        except Exception as exc:
            sp.ok = False
            self.failed += 1
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}")
            raise
        finally:
            sp.end = time.time()
            h1 = time.perf_counter()
            sp.py4j = self.py4j_total - py0
            self._stack.pop()
            if group is not None:
                sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.hook_s += time.perf_counter() - h1


def self_time(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    child: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            child.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(child.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
