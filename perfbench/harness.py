"""Measurement plumbing shared by the workloads: spans, Spark counters,
peak memory, percentiles and the Spark session lifecycle.

Nothing here changes what the engine computes. Spans are recorded from the
benchmark's side of each public call (or by wrapping a method on one
instance the benchmark created), kept in memory and summarised at the end.
"""

from __future__ import annotations

import contextlib
import math
import os
import subprocess
import time

now = time.perf_counter


class Tracer:
    """In-memory span recorder: (name, start, end, parent index, request id).

    When disabled, ``span`` returns a shared no-op context manager, so the
    untraced run pays one attribute lookup and one call per span site.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.request = 0
        self._null = contextlib.nullcontext()

    def span(self, name: str):
        if not self.enabled:
            return self._null
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        rec = [name, now(), 0.0, parent, self.request]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = now()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call (for instance patching)."""
        def traced(*args, **kwargs):
            with self._span(name):
                return fn(*args, **kwargs)
        return traced

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus direct children."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: dict[str, float] = {}
        for i, (name, start, end, _, _) in enumerate(self.spans):
            out[name] = out.get(name, 0.0) + (end - start) - child[i]
        return out

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for rec in self.spans:
            out[rec[0]] = out.get(rec[0], 0) + 1
        return out


def spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) of one job group, from the status tracker."""
    tracker = sc.statusTracker()
    jobs = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return jobs, tasks, failed


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def children(pid: int) -> list[int]:
    """Direct child processes of ``pid``, from /proc."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def cpu_clock(pids: list[int]):
    """A clock of the CPU seconds used by this process plus ``pids``.

    CPU time leaves out the time other tenants of a shared host take from
    this one (hypervisor steal), which wall time includes. The other
    processes are read from /proc in clock ticks."""
    hz = os.sysconf("SC_CLK_TCK")
    paths = [f"/proc/{pid}/stat" for pid in pids]

    def clock() -> float:
        ticks = 0
        for path in paths:
            try:
                with open(path) as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            ticks += int(fields[11]) + int(fields[12])   # utime + stime
        return time.process_time() + ticks / hz
    return clock


def peak_rss_mb() -> float:
    """VmHWM of this process plus all its descendants (the Spark JVM)."""
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += _status_kb(pid, "VmHWM:")
        todo.extend(children(pid))
    return total / 1024.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


class SparkHost:
    """Owns the SparkSession for one run: build and final stop."""

    def __init__(self) -> None:
        self.spark = None

    def start(self):
        """Launch the JVM and build the session."""
        from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.session import (
            get_spark,
        )
        self.spark = get_spark("perfbench")
        return self.spark

    def close(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM's gateway server exits when its stdin reaches EOF
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
