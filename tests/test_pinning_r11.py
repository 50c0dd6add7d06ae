"""Round-11 pinning internals: checkpoint-backed pins truncate
lineage, preserve values, and release their storage on
unpersist_all — the properties the optimization round's plan-size /
family-sharing wins rest on."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from _kafka_streams_scaffold_spark import pinning


def _cached_rdd_count(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


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
    # storage release is synchronous (unlike ContextCleaner GC)
    for _ in range(20):
        if _cached_rdd_count(spark) <= base:
            break
        time.sleep(0.1)
    assert _cached_rdd_count(spark) <= base


def test_persist_mode_still_available(spark):
    prev = pinning.set_truncate(False)
    try:
        pinned = pinning.pin(spark.range(0, 10).select("id"))
        plan = pinned._jdf.queryExecution().withCachedData().toString()
        assert "InMemoryRelation" in plan
    finally:
        pinning.unpersist_all()
        pinning.set_truncate(prev)


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
    released = pinning.unpersist_all(
        keep=lambda k: isinstance(k, tuple) and str(k[0]).startswith("sim.")
    )
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
    sc.setJobGroup(group, "build_concurrently job group test")
    try:

        def read_group():
            spark.range(3).count()
            return sc.getLocalProperty("spark.jobGroup.id")

        seen = pinning.build_concurrently(
            read_group, lambda: pinning.build_concurrently(read_group)[0]
        )
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for prop in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(prop, None)
    assert seen == [group, group]
    assert len(jobs) >= 2
