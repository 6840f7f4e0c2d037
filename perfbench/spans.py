"""In-memory span tracer that the benchmark wraps around the program's
public calls.

A span records name, layer, start, end, parent and the operation it
belongs to. Each span runs under its own Spark job group, so every
Spark job, lazy work included, is attributed to the innermost span
that forced it. A layer's self time is its spans' time minus the time
of their child spans; by construction an operation's self times sum
to the wall time of its root span.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field
from typing import NamedTuple


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    # per-span counts: read from the result, or grown over the call
    counts: dict[str, float] = field(default_factory=dict)


class SparkCounts(NamedTuple):
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class OpTrace:
    """One traced operation: its spans plus Spark counts per span."""

    op: int
    kind: str
    spans: list[Span]
    spark: dict[int, SparkCounts]

    @property
    def wall(self) -> float:
        root = self.spans[0]
        return root.end - root.start

    def self_times(self) -> dict[int, float]:
        own = {s.id: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def layer_self(self) -> dict[str, float]:
        by_layer: dict[str, float] = defaultdict(float)
        own = self.self_times()
        for s in self.spans:
            by_layer[s.layer] += own[s.id]
        return dict(by_layer)

    def layer_spark(self, count: str) -> dict[str, int]:
        by_layer: dict[str, int] = defaultdict(int)
        for s in self.spans:
            by_layer[s.layer] += getattr(self.spark.get(s.id, SparkCounts()), count)
        return dict(by_layer)

    def layer_counts(self) -> dict[str, dict[str, float]]:
        """Counts per layer, taken from the outermost span of each
        nest of same-layer spans so nested calls are not counted
        twice."""
        layer_of = {s.id: s.layer for s in self.spans}
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s.parent is not None and layer_of[s.parent] == s.layer:
                continue
            for k, v in s.counts.items():
                out[s.layer][k] += v
        return out

    def layers(self) -> set[str]:
        return {s.layer for s in self.spans}

    def spark_total(self, count: str) -> int:
        return sum(getattr(v, count) for v in self.spark.values())


class Tracer:
    """Span recorder for one Spark session. ``wrap`` replaces a
    function or method in place and ``unwrap_all`` restores it."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.ops: list[OpTrace] = []
        self._spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._op = -1
        self._kind = ""
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(
            id=self._next_id,
            name=name,
            layer=layer,
            op=self._op,
            parent=parent,
            start=time.perf_counter(),
            group=f"perfbench-{self._op}-{self._next_id}",
        )
        self._next_id += 1
        self._stack.append(span)
        self._spans.append(span)
        self.sc.setJobGroup(span.group, name)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def span(self, name: str, layer: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.span = tracer._open(name, layer)
                return self.span

            def __exit__(self, *exc):
                tracer._close(self.span)
                return False

        return _Ctx()

    def begin_op(self, kind: str):
        """Open the root span of one operation."""
        self._op += 1
        self._kind = kind
        self._spans = []
        return self.span("op", "op")

    def end_op(self) -> OpTrace:
        """Collect Spark counts for the operation just closed."""
        spans = self._spans
        self._wait_listener()
        shuffle = self._stage_shuffle_bytes()
        st = self.sc.statusTracker()
        spark_counts = {}
        for s in spans:
            jobs = st.getJobIdsForGroup(s.group)
            stages = tasks = failed = shuffle_b = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
                    shuffle_b += shuffle.get(sid, 0)
            spark_counts[s.id] = SparkCounts(
                len(jobs), stages, tasks, failed, shuffle_b
            )
        trace = OpTrace(self._op, self._kind, spans, spark_counts)
        self.ops.append(trace)
        return trace

    def _wait_listener(self) -> None:
        # status updates arrive through the asynchronous listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _stage_shuffle_bytes(self) -> dict[int, int]:
        url = (
            f"{self.sc.uiWebUrl}/api/v1/applications/"
            f"{self.sc.applicationId}/stages"
        )
        with urllib.request.urlopen(url) as r:
            out: dict[int, int] = defaultdict(int)
            for s in json.load(r):
                out[s["stageId"]] += s.get("shuffleWriteBytes", 0)
            return out

    # -- wrapping ------------------------------------------------------
    def wrap(self, owner, attr: str, layer: str, name: str | None = None,
             counts=None, probe=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``counts``
        maps the call's result to a dict of per-span counts; ``probe``
        returns cumulative counters whose growth over the call is
        recorded instead."""
        original = getattr(owner, attr)
        label = name or attr
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            before = probe() if probe is not None else None
            span = tracer._open(label, layer)
            try:
                result = original(*args, **kwargs)
                if counts is not None:
                    span.counts.update(counts(result))
                return result
            finally:
                tracer._close(span)
                if probe is not None:
                    after = probe()
                    span.counts.update(
                        {k: after[k] - before[k] for k in after}
                    )

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


class TimedConnection:
    """DB-API connection proxy that times ``execute``/``executemany``
    and counts statements, so the applier layer can be split into time
    inside the database and time waiting on Spark."""

    def __init__(self, conn):
        self._conn = conn
        self.db_s = 0.0
        self.statements = 0

    def _timed(self, fn, *args):
        start = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.db_s += time.perf_counter() - start
            self.statements += 1

    def counters(self) -> dict[str, float]:
        return {"db_s": self.db_s, "statements": self.statements}

    def execute(self, *args):
        return self._timed(self._conn.execute, *args)

    def cursor(self):
        return _TimedCursor(self, self._conn.cursor())

    def commit(self):
        return self._conn.commit()

    def rollback(self):
        return self._conn.rollback()

    def close(self):
        return self._conn.close()


class _TimedCursor:
    def __init__(self, owner: TimedConnection, cur):
        self._owner = owner
        self._cur = cur

    def execute(self, *args):
        self._owner._timed(self._cur.execute, *args)
        return self

    def executemany(self, *args):
        self._owner._timed(self._cur.executemany, *args)
        return self

    def __getattr__(self, name):
        return getattr(self._cur, name)
