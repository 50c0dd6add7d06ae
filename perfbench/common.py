"""Shared pieces of the benchmark: order-insensitive result hashing,
percentiles, the span/counter tracer, and readers for Spark's own
job, stage and codegen accounting.

Everything here observes the engine from outside: the tracer wraps
module attributes at run time and Spark's counters are read through
py4j, so the package under test is never edited.
"""

from __future__ import annotations

import decimal
import functools
import hashlib
import math
import threading
import time


# -- result hashing ----------------------------------------------------------


def _canon(v) -> str:
    """Canonical rendering of one value: floats and decimals to 9
    significant digits, booleans lower-case, NULL as a sentinel. The
    same rules the repository's DuckDB parity checker applies, so a
    Spark result and its oracle hash equal exactly when that checker
    would call them equal."""
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.9g}"
    return str(v)


def result_hash(cols: list[str], rows) -> str:
    """sha256 over the sorted column names and the sorted canonical
    rows (columns in name order): independent of row and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\t".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\t".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


# -- statistics --------------------------------------------------------------


def pct(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]; 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return pct(values, 50)


# -- tracer ------------------------------------------------------------------


class Tracer:
    """In-memory spans and counters recorded around calls into the
    package's public functions. Disabled, it installs nothing: the
    untraced run executes the program exactly as shipped."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._undo: list[tuple[object, str, object]] = []

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] = self.counters.get(name, 0) + n

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _record(self, span: dict) -> None:
        with self._lock:
            self.spans.append(span)

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def wrap(self, fn, name: str):
        """A callable that records a span named ``name`` per call."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch_references(self, modules, orig, name: str, replacement=None) -> None:
        """Replace ``orig`` and every module-level alias of it (``from x
        import f as _f``) in ``modules`` with a traced version of
        ``replacement`` (default: ``orig`` itself); ``unpatch_all``
        restores them."""
        if not self.enabled:
            return
        traced = self.wrap(replacement or orig, name)
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, traced)
                    self._undo.append((mod, attr, orig))

    def unpatch_all(self) -> None:
        while self._undo:
            mod, attr, orig = self._undo.pop()
            setattr(mod, attr, orig)

    def durations(self, name: str, since: float = float("-inf")) -> list[float]:
        """Durations of the spans named ``name`` that started at or after
        ``since`` (a ``time.perf_counter()`` reading), in completion order."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["start"] >= since
        ]


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t = tracer
        self.name = name
        self.attrs = attrs

    def __enter__(self):
        if not self.t.enabled:
            return self
        stack = getattr(self.t._local, "stack", None)
        if stack is None:
            stack = self.t._local.stack = []
        self.id = self.t._new_id()
        self.parent = stack[-1] if stack else None
        stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb):
        if not self.t.enabled:
            return False
        end = time.perf_counter()
        self.t._local.stack.pop()
        self.t._record(
            {
                "id": self.id,
                "parent": self.parent,
                "name": self.name,
                "start": self.start,
                "end": end,
                "thread": threading.get_ident(),
                "error": exc_type.__name__ if exc_type else None,
                **self.attrs,
            }
        )
        return False


# -- Spark's own accounting, read from outside -------------------------------


def wait_listener_bus(spark, timeout_ms: int = 30_000) -> None:
    """Let the status store catch up with every posted event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def jobs_snapshot(spark) -> list[dict]:
    """Every job the status store retains: id, group, name,
    submission/completion epoch seconds, task count, stage ids."""
    wait_listener_bus(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    it = store.jobsList(None).iterator()
    out = []
    while it.hasNext():
        j = it.next()
        sub, comp = j.submissionTime(), j.completionTime()
        group = j.jobGroup()
        stage_ids = j.stageIds()
        sit = stage_ids.iterator()
        stages = []
        while sit.hasNext():
            stages.append(int(sit.next()))
        out.append(
            {
                "id": int(j.jobId()),
                "group": group.get() if group.isDefined() else None,
                "name": str(j.name()),
                "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "completed": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
                "tasks": int(j.numTasks()),
                "skipped_tasks": int(j.numSkippedTasks()),
                "stages": stages,
                "skipped_stages": int(j.numSkippedStages()),
            }
        )
    return out


def job_totals(jobs, shuffle: dict[int, int]) -> dict[str, float]:
    """Jobs, stages and tasks run (skipped ones left out) and shuffle
    bytes written, summed over ``jobs`` from ``jobs_snapshot``;
    ``shuffle`` is ``stage_shuffle_bytes``."""
    stage_ids = {s for j in jobs for s in j["stages"]}
    return {
        "exec.jobs": len(jobs),
        "exec.stages": sum(len(j["stages"]) - j["skipped_stages"] for j in jobs),
        "exec.tasks": sum(j["tasks"] - j["skipped_tasks"] for j in jobs),
        "exec.shuffle_write_bytes": sum(shuffle.get(s, 0) for s in stage_ids),
    }


def busy_s(jobs) -> float:
    """Summed wall of ``jobs``, submission to completion."""
    return sum((j["completed"] or j["submitted"]) - j["submitted"] for j in jobs)


def stage_shuffle_bytes(spark) -> dict[int, int]:
    """Shuffle bytes written, per stage id, from the status store."""
    wait_listener_bus(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    # all five parameters: py4j cannot fill Scala default arguments
    it = store.stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
        sc._jvm.java.util.Collections.emptyList(),
    ).iterator()
    out: dict[int, int] = {}
    while it.hasNext():
        s = it.next()
        out[int(s.stageId())] = out.get(int(s.stageId()), 0) + int(
            s.shuffleWriteBytes()
        )
    return out


def codegen_counters(spark) -> tuple[int, float]:
    """(compiles so far, mean compile ms) from Spark's CodegenMetrics
    histogram. The count is exact; the mean comes from the histogram's
    sampling reservoir, so compile_ms derived from it is an estimate."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    hist = cm.METRIC_COMPILATION_TIME()
    return int(hist.getCount()), float(hist.getSnapshot().getMean())
