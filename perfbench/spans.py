"""In-memory span tracer for the traced runs.

A span is opened by the benchmark around a call into one layer's
public function. Every span gets its own Spark job group while it is
the innermost open span, so the jobs, stages and tasks Spark runs on
its behalf are counted per span afterwards (``harness.spark_work``).
Spans are kept in memory and summarised when the operation ends:

* ``total(root, name)`` — wall time of the outermost spans with that
  name below ``root``;
* ``Span.self_time`` — a span's duration minus its children's;
* ``Span.work`` / ``Span.inclusive_work()`` — Spark jobs / stages /
  tasks launched while the span was innermost, or anywhere below it.

``patch`` swaps module attributes for wrapped versions for the length
of one traced operation; ``timed_udf_fn`` wraps the Python function
behind an Arrow UDF so its busy time (summed over all worker batches)
and row count are added to Spark accumulators.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import time

import pandas as pd

from harness import add_work, spark_work

_ids = itertools.count()


class Span:
    __slots__ = ("name", "group", "parent", "start", "end", "children", "work")

    def __init__(self, name: str, group: str, parent: "Span | None"):
        self.name = name
        self.group = group
        self.parent = parent
        self.start = time.perf_counter()
        self.end = self.start
        self.children: list[Span] = []
        self.work = {"jobs": 0, "stages": 0, "tasks": 0}

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.dur - sum(c.dur for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def inclusive_work(self) -> dict:
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        for s in self.walk():
            out = add_work(out, s.work)
        return out


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.stack: list[Span] = []
        self.roots: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        # nested calls into the same layer (e.g. a catalog read inside a
        # catalog read) stay inside the outer span
        if any(s.name == name for s in self.stack):
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        sp = Span(name, f"perfbench-{next(_ids)}", parent)
        (parent.children if parent else self.roots).append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kw):
            with self.span(name):
                return fn(*args, **kw)

        return traced

    def collect_work(self, root: Span) -> None:
        for s in root.walk():
            s.work = spark_work(self.sc, s.group)


def total(root: Span, name: str) -> float:
    """Wall time of the outermost spans called ``name`` under root."""
    out = 0.0
    todo = list(root.children)
    while todo:
        s = todo.pop()
        if s.name == name:
            out += s.dur
        else:
            todo.extend(s.children)
    return out


def count(root: Span, name: str) -> int:
    return sum(1 for s in root.walk() if s.name == name)


@contextlib.contextmanager
def patch(pairs):
    """pairs: iterable of (object, attribute, replacement)."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in pairs]
    try:
        for obj, attr, new in pairs:
            setattr(obj, attr, new)
        yield
    finally:
        for obj, attr, old in saved:
            setattr(obj, attr, old)


def timed_udf_fn(fn, n_cols: int, busy_acc, rows_acc):
    """An Arrow UDF body (``n_cols`` Series in, one DataFrame out) that
    calls ``fn`` and adds each batch's wall time and row count to the
    accumulators. Built as a local function so cloudpickle ships it by
    value to the workers."""

    def timed(*cols):
        t0 = time.perf_counter()
        out = fn(*cols)
        busy_acc.add(time.perf_counter() - t0)
        rows_acc.add(len(cols[0]))
        return out

    params = [
        inspect.Parameter(f"c{i}", inspect.Parameter.POSITIONAL_ONLY,
                          annotation=pd.Series)
        for i in range(n_cols)
    ]
    timed.__signature__ = inspect.Signature(params, return_annotation=pd.DataFrame)
    timed.__annotations__ = {p.name: pd.Series for p in params}
    timed.__annotations__["return"] = pd.DataFrame
    return timed
