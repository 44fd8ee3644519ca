"""Closed-loop operation runner.

Each operation runs under its own Spark job group, is timed around the
package call only, and then has its output checked, untimed.  A failure
is an exception or a failed check; log lines are never inspected.
"""

from __future__ import annotations

import contextlib
import time
import traceback
from collections import defaultdict

from perfbench.status import OpStats, StatusReader
from perfbench.trace import Tracer


# plan nodes that run Python workers
PYTHON_NODES = ("MapIn", "FlatMapGroupsIn", "ArrowEvalPython")


class CheckFailed(Exception):
    """An operation returned, but its output is wrong."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class OpRunner:
    """Runs operations one after another and keeps their timings.  With a
    tracer it also records spans and reads the status stores per
    operation."""

    def __init__(self, spark, tracer: Tracer | None = None, cpu_clock=None):
        self.spark = spark
        self._cpu_clock = cpu_clock or (lambda: 0.0)
        self.tracer = tracer
        self.status = StatusReader(spark) if tracer else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.seconds: dict[str, list[float]] = defaultdict(list)
        self.cpu_seconds: dict[str, list[float]] = defaultdict(list)
        # whether the latest operation of each kind succeeded
        self.ok: dict[str, bool] = defaultdict(bool)
        self.stats: dict[str, list[OpStats]] = defaultdict(list)
        self._n = 0
        self._tracing = False  # inside a traced operation

    def cut(self, name: str, **attrs):
        """A child span around one call into a layer (no-op untraced)."""
        if not self._tracing:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def run(self, kind: str, fn, check=None, traced: bool = True,
            durations: bool = False, sql_nodes: tuple[str, ...] = PYTHON_NODES):
        """Run ``fn()`` as one operation of ``kind``; returns its output,
        or None when it failed.  ``check(output)`` raises on a wrong
        output and runs after the timer stops.  In a traced run the
        status stores are read afterwards: per-task times (for skew) when
        ``durations``, and the SQL metrics of the ``sql_nodes`` plan nodes."""
        sc = self.spark.sparkContext
        self._n += 1
        group = f"perfbench-{self._n}"
        sc.setJobGroup(group, kind)
        self.attempted += 1
        trace_it = traced and self.tracer is not None
        root = None
        try:
            span = (self.tracer.span(kind, op_id=self.tracer.new_op())
                    if trace_it else contextlib.nullcontext())
            with span as root:
                self._tracing = trace_it
                c0, t0 = self._cpu_clock(), time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
                dc = self._cpu_clock() - c0
                self._tracing = False
            if check is not None:
                check(out)
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            self.ok[kind] = False
            self.errors.append(
                f"{kind}: " + traceback.format_exception_only(e)[-1].strip()
            )
            return None
        finally:
            self._tracing = False
            sc._jsc.clearJobGroup()
        self.seconds[kind].append(dt)
        self.cpu_seconds[kind].append(dc)
        self.ok[kind] = True
        if trace_it:
            t0 = time.perf_counter()
            st = self.status.op_stats(group, durations, sql_nodes)
            root.attrs["status_read_s"] = time.perf_counter() - t0
            self.stats[kind].append(st)
            root.attrs.update(
                jobs=st.jobs, tasks=st.tasks,
                executor_cpu_s=st.executor_cpu_s, gc_s=st.gc_s,
                shuffle_write_bytes=st.shuffle_write_bytes,
                sql={f"{n} / {m}": v for (n, m), v in st.sql.items()},
            )
        return out

    def last_stats(self, kind: str) -> OpStats:
        return self.stats[kind][-1] if self.stats[kind] else OpStats()
