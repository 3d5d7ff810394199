"""In-memory spans around the library's public calls.

A span is (id, name, parent, start, end). The benchmark opens one
root span per operation; in a traced run ``instrument`` also wraps module
functions of the library so that spans open where the library calls them.
Nothing is written while the run is going; callers read ``spans`` at the
end. A disabled tracer hands out a shared no-op span, so an untraced run
pays one attribute lookup per span site.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _NullSpan()


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def _open(self, name: str):
        sp = Span(
            len(self.spans), name, self._stack[-1] if self._stack else None,
            time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def span(self, name: str):
        if not self.enabled:
            return _NULL
        return self._open(name)

    # -- queries over recorded spans --------------------------------------

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], [sp.id]
        while todo:
            pid = todo.pop()
            kids = [s for s in self.spans if s.parent == pid]
            out.extend(kids)
            todo.extend(k.id for k in kids)
        return out

    def self_time(self, sp: Span) -> float:
        return sp.dur - sum(c.dur for c in self.children(sp))


def layer_times(tracer, ops) -> tuple[dict, float]:
    """Seconds per cycle in each traced layer, median over traced cycles.

    A layer's time is the self time of its spans (duration minus child
    spans). The op's own self time and that of pass-through wrappers
    (``operators.scan.build``, ``plans.checkpoint.run``) make
    ``residual_s``, so layers plus residual equal the cycle's wall time.
    Returns the metrics and the largest accounting error seen."""
    wrappers = {"operators.scan.build", "plans.checkpoint.run"}
    per_cycle: dict[int, dict[str, float]] = {}
    worst = 0.0
    for op in ops:
        if op.span is None:
            continue
        acc = per_cycle.setdefault(op.cycle, {"residual_s": 0.0, "cycle_wall": 0.0})
        acc["cycle_wall"] += op.span.dur
        residual = tracer.self_time(op.span)
        layered = 0.0
        for sp in tracer.descendants(op.span):
            st = tracer.self_time(sp)
            if sp.name in wrappers:
                residual += st
                continue
            name = sp.name
            if name == "spark.job":
                parent = tracer.spans[sp.parent].name
                name = "plans.checkpoint.job" if parent == "plans.checkpoint.run" else "operators.scan.job"
            key = f"{name}_s"
            acc[key] = acc.get(key, 0.0) + st
            layered += st
        acc["residual_s"] += residual
        worst = max(worst, abs(layered + residual - op.span.dur))
    if not per_cycle:
        return {}, 0.0
    keys = sorted({k for c in per_cycle.values() for k in c})
    out = {k: statistics.median(c.get(k, 0.0) for c in per_cycle.values()) for k in keys}
    out["trace.cycle_s"] = out.pop("cycle_wall", 0.0)
    return out, worst



# ---------------------------------------------------------------------------
# wrapping library functions (traced runs only)
# ---------------------------------------------------------------------------


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapped(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)

    return wrapped


def _timed_action(tracer: Tracer, rdd, action: str, sink: list):
    """Make ``rdd.<action>()`` a ``spark.job`` span; ``(span, rows)`` of
    each collect go to ``sink`` for the layer metrics that read them."""
    real = getattr(rdd, action)

    def run(*a, **kw):
        with tracer.span("spark.job") as sp:
            out = real(*a, **kw)
        if action == "collect":
            sink.append((sp, out))
        return out

    setattr(rdd, action, run)
    return rdd


@contextlib.contextmanager
def instrument(tracer: Tracer, spark, job_rows: list):
    """Wrap, for the duration of the block, the library entry points the
    workloads reach, so each opens a span where the library calls it:

    - ``operators.scan.parquet_splits`` (also as imported by
      ``plans.checkpoint``) -> ``operators.scan.split_plan``
    - ``operators.scan.build_sketches_scan`` / ``build_sketch_grouped_scan``
    - ``operators.aggregate.merge_partials`` as used by the scan and the
      checkpoint paths -> ``operators.aggregate.fold``
    - ``plans.checkpoint.CheckpointedBuild.completed`` / ``.run``
    - ``SparkContext.parallelize(...).map/mapPartitions(...).collect/count``
      -> ``spark.job`` (the distributed kernel as seen from the driver)
    """
    from tdigest_spark.operators import scan
    from tdigest_spark.plans import checkpoint

    patches = [
        (scan, "parquet_splits", "operators.scan.split_plan"),
        (checkpoint, "parquet_splits", "operators.scan.split_plan"),
        (scan, "merge_partials", "operators.aggregate.fold"),
        (checkpoint, "merge_partials", "operators.aggregate.fold"),
        (scan, "build_sketches_scan", "operators.scan.build"),
        (scan, "build_sketch_grouped_scan", "operators.scan.grouped_job"),
        (checkpoint.CheckpointedBuild, "completed", "plans.checkpoint.completed"),
        (checkpoint.CheckpointedBuild, "run", "plans.checkpoint.run"),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    sc = spark.sparkContext
    real_parallelize = sc.parallelize

    def parallelize(*a, **kw):
        rdd = real_parallelize(*a, **kw)
        for tf in ("map", "mapPartitions"):
            real_tf = getattr(rdd, tf)

            def transformed(*ta, _real=real_tf, **tkw):
                out = _real(*ta, **tkw)
                _timed_action(tracer, out, "collect", job_rows)
                _timed_action(tracer, out, "count", job_rows)
                return out

            setattr(rdd, tf, transformed)
        return rdd

    try:
        for (obj, attr, name), (_, _, fn) in zip(patches, saved):
            setattr(obj, attr, _wrap(tracer, name, fn))
        sc.parallelize = parallelize
        yield
    finally:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)
        del sc.parallelize
