"""Eager pins for derived tables that feed self-joins, owned by scopes.

Without a pin, each side of a self-join re-runs the ENTIRE upstream
pipeline (scan -> derive -> aggregate): the physical plan shows two
FileScans and zero ReusedExchange, because the join sides shuffle on
different keys than the derivation produced. Pinned tables (shingle
lists, minhash signatures, IVF cells) are orders of magnitude smaller
than their inputs. (At true cluster scale you'd write them to a
parquet stage table; a pin is the in-session equivalent.)

Pins are checkpoint-backed and EAGER. ``localCheckpoint(eager=True)``
materializes exactly once and hands consumers a LogicalRDD leaf, so
composite plans collapse to the post-pin operators (knn_triangles'
formatted plan rendered 4,091 Exchange nodes with full-lineage pins;
build 7.5s -> 4.7s, exec 2.8s -> 0.3s at sf0.1). Partitioning and
ordering are preserved and values are identical. Eager, because when
two consumers sit in one job their tasks race to fill a lazy cache and
each may recompute its partitions (measured as 2-7s run-to-run
variance on the LSH pipeline). localCheckpoint blocks are
unreplicated; a production deployment swaps in reliable
checkpoint(dir) or a parquet stage table.

Every pin belongs to the scope that is current when it is taken. The
process default is the root scope, whose containers are the module's
``_PINNED`` list and ``_SHARED`` memo. ``with scope():`` opens a child
scope with its parent's mode and releases the child's own pins on
exit, never any outside it. ``with full_lineage():`` opens a
full-lineage scope for plan audits that must see THROUGH the pin
boundary: its pins are plan-only ``persist()`` with no job, so
consumer plans keep the complete logical derivation. The current
scope is a context variable: ``build_concurrently`` threads pin into
their caller's scope, and any other new thread (an HTTP handler
thread) starts in the root scope.

Harnesses that loop over many queries in one session (bench.py,
tools/check_oracle.py, external harnesses) call ``unpersist_all()``
between queries so cached tables don't accumulate for the session
lifetime.
"""

from __future__ import annotations

import contextvars
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import TypeVar

from pyspark import InheritableThread
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

T = TypeVar("T")

_PINNED: list[DataFrame] = []
_SHARED: dict[object, DataFrame] = {}


class _Scope:
    """One owner of pins: the pins taken in it, its shared-pin memo
    with per-key build locks, and its mode (checkpoint-backed, or
    full-lineage plan-only persist)."""

    def __init__(self, full_lineage: bool, pinned=None, shared=None):
        self.full_lineage = full_lineage
        self.pinned: list[DataFrame] = [] if pinned is None else pinned
        self.shared: dict[object, DataFrame] = {} if shared is None else shared
        self.locks: dict[object, threading.Lock] = {}
        self.guard = threading.Lock()


_CURRENT: contextvars.ContextVar[_Scope] = contextvars.ContextVar(
    "pin_scope", default=_Scope(False, _PINNED, _SHARED)
)


@contextmanager
def _child(full_lineage: bool) -> Iterator[None]:
    child = _Scope(full_lineage)
    token = _CURRENT.set(child)
    try:
        yield
    finally:
        _CURRENT.reset(token)
        _release_scope(child, ())


def scope():
    """Open a child scope with the current scope's mode; every pin
    taken in it (including on ``build_concurrently`` threads) is
    released on exit. Shared pins are memoized per scope, so a child
    builds its own copy of a key its parent already holds."""
    return _child(_CURRENT.get().full_lineage)


def full_lineage():
    """Open a full-lineage child scope: pins persist without running a
    job, so plan-shape audits (scan counts, anti-pattern sweeps over
    complete trees) see the upstream plan through every pin. Pins
    taken inside are released on exit."""
    return _child(True)


def is_full_lineage() -> bool:
    return _CURRENT.get().full_lineage


def pin(df: DataFrame) -> DataFrame:
    current = _CURRENT.get()
    if current.full_lineage:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    else:
        df = df.localCheckpoint(eager=True)
    current.pinned.append(df)
    return df


def _release(df: DataFrame) -> None:
    """Free a pinned table's storage. persist-pins release through
    ``unpersist()``; checkpoint-pins hold their blocks on the
    underlying RDD (DataFrame.unpersist is a CacheManager no-op for
    them), so the RDD is reached through the LogicalRDD node and
    unpersisted directly — without this, a long multi-query session
    (bench.py over the whole registry) would leak every pin until
    the ContextCleaner's eventual GC."""
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        if analyzed.getClass().getSimpleName() == "LogicalRDD":
            analyzed.rdd().unpersist(False)
            return
    except Exception:
        pass
    df.unpersist()


def shared_pin(key, build) -> DataFrame:
    """Memoized ``pin``: queries that derive the SAME intermediate
    (e.g. the dedup tiers' shingle table — four detectors, one
    artifact) share one materialization instead of re-deriving it
    per query. Keyed by the caller's (name, input-semantic-hash)
    tuple so distinct inputs — different sf_dirs, monkeypatched test
    frames — never collide. The memo belongs to the current scope and
    is cleared with its pins by ``unpersist_all`` (which harnesses
    call between queries), so sharing only ever spans one composite
    query or one deliberate multi-query family. At cluster scale this
    is the stage-table each tier would read instead of re-shingling
    the corpus.

    Thread-safe via double-checked per-key locking, so composite
    queries may build plans that share pinned intermediates from
    concurrent threads (multi-thread job submission): the first
    caller builds, latecomers block on that key only — never a
    duplicate materialization, never a global serialization."""
    current = _CURRENT.get()
    df = current.shared.get(key)
    if df is not None:
        return df
    with current.guard:
        lock = current.locks.setdefault(key, threading.Lock())
    with lock:
        df = current.shared.get(key)
        if df is not None:
            return df
        df = pin(build())
        current.shared[key] = df
        return df


def build_concurrently(*thunks: Callable[[], T]) -> list[T]:
    """Run each thunk on its own thread and return their results in
    thunk order. Composite queries use this to overlap independent
    subtrees' eager pin jobs; concurrent first touches of one shared
    intermediate are safe because ``shared_pin`` locks per key.

    Each thread is a ``pyspark.InheritableThread``, so jobs it submits
    carry the caller's Spark local properties (job group, job
    description, scheduler pool), and each thunk runs in a copy of the
    caller's context, so its pins belong to the caller's scope. If a
    thunk raises, the first failure in thunk order is re-raised once
    every thread has finished."""
    results: list = [None] * len(thunks)
    errors: list[Exception | None] = [None] * len(thunks)

    def run(i: int, ctx: contextvars.Context) -> None:
        try:
            results[i] = ctx.run(thunks[i])
        except Exception as ex:  # re-raised after every thread joins
            errors[i] = ex

    threads = [
        InheritableThread(run, args=(i, contextvars.copy_context()))
        for i in range(len(thunks))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for ex in errors:
        if ex is not None:
            raise ex
    return results


def _release_scope(owner: _Scope, keep: tuple[str, ...]) -> int:
    kept = {
        k: df
        for k, df in owner.shared.items()
        if isinstance(k, tuple) and str(k[0]).startswith(keep)
    }
    kept_ids = {id(df) for df in kept.values()}
    doomed = [df for df in owner.pinned if id(df) not in kept_ids]
    owner.pinned[:] = [df for df in owner.pinned if id(df) in kept_ids]
    for df in reversed(doomed):
        _release(df)
    owner.shared.clear()
    owner.shared.update(kept)
    # shared_pin keys embed input semantic hashes, so a long
    # multi-query session (bench.py over the whole registry) would
    # otherwise accumulate one never-freed lock per (name, input) key.
    with owner.guard:
        for k in [k for k in owner.locks if k not in kept]:
            del owner.locks[k]
    return len(doomed)


def unpersist_all(keep: tuple[str, ...] = ()) -> int:
    """Release every pin of the current scope; returns how many were
    released. Pins of enclosing scopes are untouched. Consumers that
    already materialized their results are unaffected.

    RELEASE-ORDER CONTRACT: a released checkpoint pin is UNRECOVERABLE
    — ``_release`` unpersists the localCheckpointed RDD whose lineage
    was truncated, so a consumer that re-executes a released pin fails
    with a missing-checkpoint error instead of recomputing (and
    unreplicated local-checkpoint blocks likewise die with their
    executor on a real cluster). Every consumer must therefore be fully
    executed BEFORE its scope releases: bench.py, check_oracle.py and
    the test suites finish one query's actions before the release
    between queries, and an HTTP request collects its rows before its
    ``scope()`` exits. Only full-lineage pins recompute after release.

    ``keep``: shared-pin key prefixes. A shared pin whose key is a
    tuple with a first element starting with one of them (and its
    cached table) survives — the family scope harnesses use to let a
    CONSECUTIVE family of composite queries (the dedup audits, which
    all derive the same shingle/signature/pair roots) share one
    materialization while everything else is cleared between queries.
    Keeping a derived pin keeps only ITSELF alive, not its upstream
    lineage — shared chains (capped_inter over capped_shingles) stay
    correct because each level is its own shared pin and the prefix
    keeps the whole family."""
    return _release_scope(_CURRENT.get(), keep)
