"""Layer instrumentation applied from outside the program.

Nothing here edits the program: the tracer wraps the public functions
the benchmark calls (and the module attributes through which the
program calls them), counts py4j commands at the client, reads Spark's
scheduler ids and status store, and reads CPU times from ``/proc``.

* ``Tracer.span`` records ``(name, start, end, parent, op, py4j)`` in
  memory; spans are written once, when the run ends.
* ``Py4jCounter`` counts every command the Python client sends to the
  JVM, by command letter; totals leave out ``m`` (memory release):
  those come from Python's garbage collector and land in whichever
  phase happens to be running.
* ``JvmProbe`` reads jobs, stages and tasks as id deltas from the
  scheduler (the status store's lists keep only the last
  ``spark.ui.retainedJobs`` entries), and rows read and bytes moved
  from the stage records of exactly those new stage ids.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import time
from collections import Counter

from py4j.protocol import Py4JJavaError


class Py4jCounter:
    """Counts py4j client commands by type (``c`` call, ``r`` reflection, ...)."""

    def __init__(self) -> None:
        self.by_type: Counter = Counter()
        self._patched: list = []

    def total(self) -> int:
        return sum(n for t, n in self.by_type.items() if t != "m")

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command
            counter = self.by_type

            def send_command(conn, command, *a, _orig=orig, **k):
                counter[command[:1]] += 1
                return _orig(conn, command, *a, **k)

            cls.send_command = send_command
            self._patched.append((cls, orig))

    def uninstall(self) -> None:
        for cls, orig in self._patched:
            cls.send_command = orig
        self._patched.clear()


def _proc_stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    return data[data.rindex(")") + 2:].split()


_TICK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int, children: bool = False) -> float:
    """utime+stime of ``pid`` (plus its reaped children's), in seconds."""
    f = _proc_stat(pid)
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def child_pids(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (a JVM forks from many)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(p) for p in fh.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``, children first."""
    out, todo = [], [pid]
    while todo:
        for c in child_pids(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is alive (exited or a reaped zombie)."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                if _proc_stat(pid)[0] == "Z":
                    break
            except (OSError, ValueError):
                break
            time.sleep(0.05)


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's Python worker processes: the
    ``pyspark.daemon`` children of the JVM, their live forked workers,
    and the workers they already reaped."""
    total = 0.0
    for pid in child_pids(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
            if b"pyspark" not in cmd:
                continue
            total += proc_cpu_s(pid, children=True)
            for w in child_pids(pid):
                total += proc_cpu_s(w)
        except (OSError, ValueError, IndexError):
            continue
    return total


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_state() -> dict:
    """loadavg and cumulative CPU steal ticks, for the run record."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    steal = None
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("cpu "):
                f = line.split()
                steal = int(f[8]) if len(f) > 8 else 0
                break
    return {"loadavg": load, "steal_ticks": steal, "time": time.time()}


class JvmProbe:
    """Reads the driver JVM's scheduler ids, stage metrics, GC and CPU."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.gateway = sc._gateway
        self.jsc = sc._jsc.sc()
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self._no_doubles = self.gateway.new_array(self.jvm.double, 0)

    def ids(self) -> tuple[int, int, int]:
        ds = self.jsc.dagScheduler()
        return int(ds.nextJobId()), int(ds.nextStageId()), int(self.jsc.taskScheduler().nextTaskId())

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def stage_totals(self, first: int, end: int) -> Counter:
        """Rows read, and shuffle and spill bytes, of stages ``first <= id < end``.

        Input bytes are left out: on Spark 4.1 a stage that reads a local
        parquet file in full records a few KB of it (5,893 bytes for the
        1 MB sf0.01 ``lineitem``), so they do not reflect the scan;
        input records do."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        out: Counter = Counter()
        empty = self.jvm.java.util.ArrayList()
        for sid in range(first, end):
            try:
                attempts = store.stageData(sid, False, empty, False, self._no_doubles)
            except Py4JJavaError:  # a stage that never ran has no record
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                out["input_rows"] += s.inputRecords()
                out["shuffle_read"] += s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead()
                out["shuffle_write"] += s.shuffleWriteBytes()
                out["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


class Tracer:
    """Spans and layer counters.  Disabled, every method is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.py4j = Py4jCounter()
        self.counts: Counter = Counter()
        self._wrapped: list = []

    def start(self) -> None:
        if self.enabled:
            self.py4j.install()

    def stop(self) -> None:
        self.py4j.uninstall()
        for mod, attr, orig in reversed(self._wrapped):
            setattr(mod, attr, orig)
        self._wrapped.clear()

    def begin(self, name: str) -> int | None:
        """Open a span under the innermost open one; returns its id."""
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op, self.py4j.total()])
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, sid: int | None) -> None:
        if sid is None:
            return
        while self._stack and self._stack[-1] != sid:
            self._stack.pop()
        if self._stack:
            self._stack.pop()
        rec = self.spans[sid]
        rec[2] = time.perf_counter()
        rec[5] = self.py4j.total() - rec[5]

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield sid
        finally:
            self.end(sid)

    def replace(self, module, attr: str, fn) -> None:
        """Set ``module.attr`` to ``fn`` until ``stop``."""
        self._wrapped.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def wrap(self, module, attr: str, span_name: str, count: str | None = None,
             cpu: str | None = None) -> None:
        """Replace ``module.attr`` -- and every alias of the same function
        bound in the program's loaded modules -- with a wrapper that
        records a span, bumps ``count`` and adds the Python CPU time of
        the call to ``cpu`` (each when given)."""
        if not self.enabled:
            return
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            if count:
                tracer.counts[count] += 1
            c0 = time.process_time()
            try:
                with tracer.span(span_name):
                    return orig(*a, **k)
            finally:
                if cpu:
                    tracer.counts[cpu] += time.process_time() - c0

        for name, mod in list(sys.modules.items()):
            if not name.startswith("aws_pandas_etl_spark") or mod is None:
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self.replace(mod, key, wrapper)

    def self_times(self, since: int = 0) -> Counter:
        """Sum of each span name's self time (duration minus the part
        its direct children cover) over spans recorded from ``since``."""
        covered: Counter = Counter()
        for rec in self.spans[since:]:
            if rec[3] is not None and rec[3] >= since:
                covered[rec[3]] += rec[2] - rec[1]
        out: Counter = Counter()
        for i, rec in enumerate(self.spans[since:], start=since):
            out[rec[0]] += (rec[2] - rec[1]) - covered[i]
        return out

    def py4j_by_name(self, since: int = 0) -> Counter:
        """py4j commands per span name (inclusive of child spans)."""
        out: Counter = Counter()
        for rec in self.spans[since:]:
            out[rec[0]] += rec[5]
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": r[0], "start": r[1], "end": r[2], "parent": r[3], "op": r[4], "py4j": r[5]}
            for r in self.spans
        ]
