"""Spans and counters for the traced run, recorded from outside the program.

Nothing here changes the program's code. Layer spans come from wrapping
public functions of the program's modules: every module of the package
that bound the original function object gets the wrapper, so calls made
through ``from x import f`` bindings are seen as well as ``module.f``
calls. The PySpark driver boundary is traced by wrapping
``DataFrame.collect/first/take/toPandas`` and
``SparkSession.createDataFrame``; Spark's runtime is read as deltas of
the global status store; micro-batch progress comes from a
``StreamingQueryListener``.

All state lives on a :class:`Tracer` that the caller creates, installs
for the timed phase and uninstalls afterwards.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import sys
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

PKG = "utn_dataengineering_stockmarketpipeline_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    jobs: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_seconds(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that its child spans cover."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children if c.end > span.start and c.start < span.end
    ]
    return span.seconds - union_seconds(clipped)


@dataclass
class Tracer:
    """In-memory span and counter store.

    ``job_counter`` returns the number of Spark jobs submitted so far; it
    gives each span its job delta. Spans opened on other threads (a
    ``foreachBatch`` callback, for one) have no parent but keep the op id.
    """

    job_counter: Callable[[], int] | None = None
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    op: int | None = None
    _ids: itertools.count = field(default_factory=itertools.count)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _undo: list = field(default_factory=list)

    def add(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0.0) + value

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    # -- wrapping -----------------------------------------------------------

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Route every package binding of ``module.attr`` through a span."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for name, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, name, wrapper)
                    self._undo.append((mod, name, orig))

    def wrap_public(self, module, span_name: str) -> None:
        """Wrap every public function defined in ``module``."""
        for attr, val in list(vars(module).items()):
            if (not attr.startswith("_") and inspect.isfunction(val)
                    and val.__module__ == module.__name__):
                self.wrap(module, attr, span_name)

    def wrap_boundary(self, spark) -> None:
        """Count and time driver round trips and driver-data re-entry."""
        # the concrete classes: pyspark.sql.DataFrame is only their base
        df_cls, session_cls = type(spark.range(0)), type(spark)
        tracer = self

        def rows_of(name, result):
            if name == "first":
                return 0 if result is None else 1
            return len(result)

        def make(cls, name):
            orig = getattr(cls, name)

            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                depth = getattr(tracer._local, "boundary", 0)
                if depth:  # first() -> take() -> collect(): count once
                    return orig(*args, **kwargs)
                tracer._local.boundary = 1
                t0 = time.perf_counter()
                try:
                    out = orig(*args, **kwargs)
                finally:
                    tracer._local.boundary = 0
                    tracer.add("boundary.s", time.perf_counter() - t0)
                if name == "createDataFrame":
                    data = args[1] if len(args) > 1 else kwargs.get("data")
                    kind = ("pandas" if type(data).__name__ == "DataFrame"
                            else "list")
                    tracer.add(f"boundary.create_df_{kind}_calls")
                else:
                    tracer.add("boundary.collect_calls")
                    tracer.add("boundary.collect_rows", rows_of(name, out))
                return out

            setattr(cls, name, wrapper)
            self._undo.append((cls, name, orig))

        for name in ("collect", "first", "take", "toPandas"):
            make(df_cls, name)
        make(session_cls, "createDataFrame")

    def uninstall(self) -> None:
        for obj, name, orig in reversed(self._undo):
            setattr(obj, name, orig)
        self._undo.clear()

    # -- derived metrics ----------------------------------------------------

    def layer_totals(self) -> dict[str, tuple[float, int, int]]:
        """name -> (seconds, calls, jobs), outermost span of a name only."""
        by_id = {s.id: s for s in self.spans}
        out: dict[str, tuple[float, int, int]] = {}
        for s in self.spans:
            p = by_id.get(s.parent)
            nested = False
            while p is not None:
                if p.name == s.name:
                    nested = True
                    break
                p = by_id.get(p.parent)
            if nested:
                continue
            sec, calls, jobs = out.get(s.name, (0.0, 0, 0))
            out[s.name] = (sec + s.seconds, calls + 1, jobs + s.jobs)
        return out

    def self_time(self, name: str) -> float:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return sum(
            self_seconds(s, kids.get(s.id, []))
            for s in self.spans if s.name == name
        )

    def dump(self) -> dict:
        return {
            "spans": [vars(s) for s in self.spans],
            "counters": dict(self.counters),
        }


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        stack = self.t._stack()
        self.parent = stack[-1] if stack else None
        self.id = next(self.t._ids)
        stack.append(self.id)
        self.jobs0 = self.t.job_counter() if self.t.job_counter else 0
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        jobs = (self.t.job_counter() - self.jobs0) if self.t.job_counter else 0
        self.t._stack().pop()
        with self.t._lock:
            self.t.spans.append(Span(self.id, self.name, self.start, end,
                                     self.parent, self.t.op, jobs))
        return False


def stream_listener(tracer: Tracer):
    """A ``StreamingQueryListener`` that folds progress into counters."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.state_rows: dict[str, int] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            tracer.add("streaming.batches")
            tracer.add("streaming.input_rows", p.numInputRows or 0)
            tracer.add("streaming.trigger_s", d.get("triggerExecution", 0) / 1e3)
            tracer.add("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
            tracer.add("streaming.planning_s", d.get("queryPlanning", 0) / 1e3)
            tracer.add("streaming.wal_commit_s",
                       (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)
            ops = p.stateOperators or []
            tracer.add("streaming.state_commit_s",
                       sum(o.commitTimeMs for o in ops) / 1e3)
            # rows held in state after this query's latest batch
            with tracer._lock:
                self.state_rows[str(p.id)] = sum(o.numRowsTotal for o in ops)
                tracer.counters["streaming.state_rows"] = float(
                    sum(self.state_rows.values())
                )

    return Listener()
