"""Round-11 pinning internals: checkpoint-backed pins truncate
lineage, preserve values, and release their storage on
unpersist_all — the properties the optimization round's plan-size /
family-sharing wins rest on."""

from __future__ import annotations

import json
import sys
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from _kafka_streams_scaffold_spark import pinning
from _kafka_streams_scaffold_spark.plans import inspect as pi
from _kafka_streams_scaffold_spark.streaming.http_serving import (
    InteractiveQueryServer,
    RegistryQueryService,
)


def _cached_rdd_count(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _settled_cached_rdd_count(spark, at_most: int) -> int:
    """Checkpoint release is asynchronous; poll until the count falls
    to ``at_most`` or two seconds pass, and return the last count."""
    for _ in range(20):
        n = _cached_rdd_count(spark)
        if n <= at_most:
            return n
        time.sleep(0.1)
    return n


@contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for prop in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(prop, None)


def test_ckpt_pin_truncates_lineage_and_keeps_values(spark):
    df = spark.range(0, 1000).select(
        "id", (F.col("id") % 7).alias("k")
    ).groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    expect = sorted((r.k, r.n) for r in df.collect())

    pinned = pinning.pin(df.groupBy("k").agg(F.sum("n").alias("n")))
    # values identical to the unpinned plan
    direct = sorted(
        (r.k, r.n)
        for r in df.groupBy("k").agg(F.sum("n").alias("n")).collect()
    )
    got = sorted((r.k, r.n) for r in pinned.collect())
    assert got == direct
    assert sorted((r.k, r.n) for r in df.collect()) == expect
    # consumer plans see a leaf, not the aggregation lineage
    plan = pinned._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan
    assert "Aggregate" not in plan
    pinning.unpersist_all()


def test_unpersist_all_frees_checkpoint_blocks(spark):
    pinning.unpersist_all()
    base = _cached_rdd_count(spark)
    pinning.pin(spark.range(0, 100000).select("id", (F.col("id") * 2).alias("x")))
    assert _cached_rdd_count(spark) > base
    released = pinning.unpersist_all()
    assert released == 1
    # storage release is prompt (unlike ContextCleaner GC)
    assert _settled_cached_rdd_count(spark, base) <= base


def test_persist_mode_still_available(spark):
    with pinning.full_lineage():
        pinned = pinning.pin(spark.range(0, 10).select("id"))
        plan = pinned._jdf.queryExecution().withCachedData().toString()
        assert "InMemoryRelation" in plan


def test_shared_pin_keep_scope_survives_family_release(spark):
    """bench.py's family keep: unpersist_all(keep=...) must retain the
    kept shared pin's storage and drop everything else."""
    pinning.unpersist_all()
    a = pinning.shared_pin(
        ("sim.test_keep", 1), lambda: spark.range(0, 10).select("id")
    )
    pinning.shared_pin(
        ("other.test_drop", 1), lambda: spark.range(0, 20).select("id")
    )
    released = pinning.unpersist_all(keep=("sim.",))
    assert released == 1
    # the kept pin is still the memoized object and still readable
    again = pinning.shared_pin(
        ("sim.test_keep", 1), lambda: spark.range(0, 999).select("id")
    )
    assert again is a
    assert again.count() == 10
    pinning.unpersist_all()


def test_build_concurrently_returns_results_in_thunk_order(spark):
    def finishing_in_reverse(i: int):
        def run() -> int:
            time.sleep(0.05 * (3 - i))
            return i

        return run

    thunks = [finishing_in_reverse(i) for i in range(4)]
    assert pinning.build_concurrently(*thunks) == [0, 1, 2, 3]


def test_build_concurrently_reraises_after_every_thunk_finishes(spark):
    finished = []

    def fail():
        raise ValueError("first")

    def slow():
        time.sleep(0.3)
        finished.append("slow")

    def fail_later():
        time.sleep(0.1)
        raise KeyError("second")

    with pytest.raises(ValueError, match="first"):
        pinning.build_concurrently(fail, slow, fail_later)
    assert finished == ["slow"]


def test_build_concurrently_nests(spark):
    """corpus_keep_full builds corpus_keep inside one of its threads,
    which itself builds concurrently: two levels of threads, each
    submitting Spark jobs."""

    def outer(n: int):
        return lambda: pinning.build_concurrently(
            lambda: spark.range(n).count(), lambda: spark.range(2 * n).count()
        )

    assert pinning.build_concurrently(outer(3), outer(5)) == [[3, 6], [5, 10]]


def test_build_concurrently_threads_keep_the_callers_job_group(spark):
    sc = spark.sparkContext
    group = "build-concurrently-test"
    with _job_group(sc, group):

        def read_group():
            spark.range(3).count()
            return sc.getLocalProperty("spark.jobGroup.id")

        seen = pinning.build_concurrently(
            read_group, lambda: pinning.build_concurrently(read_group)[0]
        )
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert seen == [group, group]
    assert len(jobs) >= 2


# ---- pin scopes --------------------------------------------------------------


def test_scope_releases_only_pins_taken_inside_it(spark):
    """A pin taken before a scope survives its exit; pins taken inside
    it, including on (nested) build_concurrently threads, do not."""
    pinning.unpersist_all()
    outer = pinning.pin(spark.range(0, 10).select("id"))
    base = _settled_cached_rdd_count(spark, 1)
    with pinning.scope():
        pinning.build_concurrently(
            lambda: pinning.pin(spark.range(0, 30).select("id")),
            # nested, as corpus_keep_full -> corpus_keep
            lambda: pinning.build_concurrently(
                lambda: pinning.shared_pin(
                    ("test.scope_nested", 1),
                    lambda: spark.range(0, 40).select("id"),
                )
            ),
        )
        assert _cached_rdd_count(spark) >= base + 2
        # the pins belong to the scope, not to the root
        assert pinning._PINNED == [outer] and not pinning._SHARED
    assert _settled_cached_rdd_count(spark, base) <= base
    assert pinning._PINNED == [outer] and outer.count() == 10
    pinning.unpersist_all()


def test_separate_scopes_each_build_a_shared_key(spark):
    """Two threads (as two HTTP requests) in their own scopes: each
    builds its own frame for the same key, and the first scope's
    release leaves the second's frame readable."""
    key = ("test.scope_shared", 1)
    frames: list = [None, None]
    counts: dict[int, int] = {}
    both_built = threading.Barrier(2, timeout=60)
    first_released = threading.Event()

    def request(i: int) -> None:
        with pinning.scope():
            frames[i] = pinning.shared_pin(
                key, lambda: spark.range(0, 50).select("id")
            )
            both_built.wait()
            if i == 1:
                first_released.wait(timeout=60)
                counts[i] = frames[i].count()
        if i == 0:
            first_released.set()

    threads = [threading.Thread(target=request, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert frames[0] is not None and frames[1] is not None
    assert frames[0] is not frames[1]
    assert counts == {1: 50}
    assert key not in pinning._SHARED


def test_scope_pin_tracking_under_thread_contention(spark):
    """More threads than cores pin into one scope and race one shared
    key, with a short switch interval: every pin is tracked once and
    the key is built once. Full-lineage pins run no job, so this
    stresses only the bookkeeping."""
    builds = []
    n = 16
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with pinning.full_lineage():

            def work(i: int):
                def run():
                    pinning.pin(spark.range(i + 1))
                    return pinning.shared_pin(
                        ("test.contended", 1),
                        lambda: builds.append(i) or spark.range(7),
                    )

                return run

            shared = pinning.build_concurrently(*(work(i) for i in range(n)))
            assert all(df is shared[0] for df in shared)
            assert len(builds) == 1
            assert pinning.unpersist_all() == n + 1
    finally:
        sys.setswitchinterval(interval)


def test_full_lineage_pin_submits_no_job(spark):
    sc = spark.sparkContext
    group = "full-lineage-pin-test"
    df = spark.range(0, 100).groupBy((F.col("id") % 3).alias("k")).count()
    with _job_group(sc, group), pinning.full_lineage():
        pinned = pinning.pin(df)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert "InMemoryRelation" in (
            pinned._jdf.queryExecution().withCachedData().toString()
        )
        assert pinned.count() == 3
    assert list(jobs) == []


def test_reads_pinned_raises_outside_full_lineage():
    with pytest.raises(RuntimeError, match="full_lineage"):
        pi.reads_pinned("InMemoryTableScan")
    with pinning.scope(), pytest.raises(RuntimeError, match="full_lineage"):
        pi.reads_pinned("InMemoryTableScan")
    with pinning.full_lineage():
        assert pi.reads_pinned("InMemoryTableScan")
        with pinning.scope():  # a child keeps its parent's mode
            assert pi.reads_pinned("InMemoryTableScan")


def test_registry_http_service_releases_every_request_pin(spark, sf_dir):
    """Each /query/{name} request pins inside its own scope, so after
    any number of requests, sequential or concurrent, the process
    holds no more tracked pins or cached RDDs than before. corpus_keep
    takes every materialization through pinning."""
    pinning.unpersist_all()
    pins_before = len(pinning._PINNED)
    rdds_before = _settled_cached_rdd_count(spark, 0)
    server = InteractiveQueryServer()
    RegistryQueryService(spark, sf_dir, max_rows=100_000).bind(server)
    port = server.start()
    url = f"http://127.0.0.1:{port}/query/corpus_keep"

    def rows() -> list[str]:
        body = json.load(urllib.request.urlopen(url))
        assert body["truncated"] is False
        return sorted(json.dumps(r, sort_keys=True) for r in body["rows"])

    try:
        solo = rows()
        assert solo
        assert len(pinning._PINNED) == pins_before
        assert _settled_cached_rdd_count(spark, rdds_before) <= rdds_before
        with ThreadPoolExecutor(2) as pool:
            concurrent = [f.result() for f in [pool.submit(rows) for _ in "ab"]]
        assert concurrent == [solo, solo]
        assert rows() == solo
    finally:
        server.stop()
    assert len(pinning._PINNED) == pins_before
    assert _settled_cached_rdd_count(spark, rdds_before) <= rdds_before
