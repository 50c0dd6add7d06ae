"""Batch workload: registry queries run in passes.

One process: set-up (repeated, median reported), an untimed verify
pass that checks every query's result hash, then timed passes until
the run's seconds are used. A pass runs every workload query once in
a seeded order: build (``fn(spark, sf_dir)``, which includes eager pin
materialization), ``write.format("noop")``, ``pinning.unpersist_all()``.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

from perfbench import common
from perfbench.common import median, pct

WORKLOAD_QUERIES = {
    # A pin-heavy LLM-pipeline composite: most of its wall is eager pin
    # materialization inside the Python build, most of the pins taken
    # in the thread-pooled curation gates. One query keeps a pass short
    # enough for two or more timed passes per 10 s run, and a run short
    # enough for the benchmark's total time budget on a slow host.
    "composite-pins": [
        "corpus_keep_full",
    ],
}
SETUPS = 3
# per-layer metrics of the streaming and serving layers, which these
# queries do not run
NOT_APPLICABLE = (
    "filetopic.backlog_files_max", "filetopic.getBatch_ms_p50", "filetopic.latestOffset_ms_p50",
    "gen.late_ms_max", "pipeline.batches", "pipeline.rows_per_batch_p50",
    "pipeline.trigger_ms_p50", "pipeline.trigger_ms_p90", "pipeline.addBatch_ms_p50",
    "pipeline.queryPlanning_ms_p50", "pipeline.walCommit_ms_p50", "pipeline.state_rows",
    "pipeline.state_bytes", "pipeline.state_commit_ms_p50", "pipeline.drain_records_per_s",
    "pipeline.event_latency_p90_ms", "serving.upsert_ms_p50", "serving.get_ms_p50",
    "serving.store_files", "serving.read_amplification", "http.requests",
    "http.overhead_ms_p50", "http.errors", "http.lookup_p50_ms", "http.lookup_p90_ms",
    "http.range_p50_ms",
)
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
PROCESS_START = time.perf_counter()


def calibration(spark) -> float:
    """The repository bench.py's fixed host-state probe (one
    data-independent range -> shuffle -> aggregate job), in seconds."""
    import bench

    return bench._calibration(spark)


def setup_session(conf, data_dir, tracer):
    """The session and, when ``data_dir`` is given, what the registry
    queries need besides: table registration and the Python worker
    pool warm-up of the repository's bench.py."""
    from _kafka_streams_scaffold_spark import session, tables

    with tracer.span("session.build_session"):
        spark = session.build_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    if data_dir is None:
        return spark
    with tracer.span("tables.load"):
        for name in tables.TABLE_NAMES:
            tables.table(spark, data_dir, name)
    cores = spark.sparkContext.defaultParallelism
    spark.range(cores).repartition(cores).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    return spark


def repeated_setup(conf, data_dir, tracer, ready=None):
    """Set up ``SETUPS`` times (stopping the session in between) and
    return the last session and the median set-up time. The first
    set-up counts from process start, so it includes the JVM launch.
    ``ready(spark)`` runs as the last step of every set-up and returns
    (state, seconds to leave out of that set-up's time)."""
    times = []
    spark = state = None
    t0 = PROCESS_START
    for i in range(SETUPS):
        spark = setup_session(conf, data_dir, tracer)
        excluded = 0.0
        if ready:
            state, excluded = ready(spark)
        times.append(time.perf_counter() - t0 - excluded)
        print(f"perfbench: setup {i} ({spark.sparkContext.applicationId}): {times[-1]:.3f}s",
              file=sys.stderr)
        if i < SETUPS - 1:
            if state is not None:
                state.close()
            spark.stop()
            t0 = time.perf_counter()
    return spark, median(times), state


def install_tracing(tracer) -> None:
    """Spans around the pinning layer's public functions, including
    the module-level aliases operator modules import them under."""
    import _kafka_streams_scaffold_spark as pkg
    from _kafka_streams_scaffold_spark import pinning

    mods = [m for n, m in list(sys.modules.items()) if n.startswith(pkg.__name__) and m]
    orig_shared = pinning.shared_pin

    def shared_pin(key, build):
        if key not in pinning._SHARED:
            tracer.count("pinning.shared_pins")
        return orig_shared(key, build)

    tracer.patch_references(mods, pinning.pin, "pinning.pin")
    tracer.patch_references(mods, orig_shared, "pinning.shared_pin", shared_pin)


def run_pass(spark, names, qs, data_dir, tracer, traced, phases):
    """One timed pass; returns (pass seconds, {query: seconds}, failures)."""
    from _kafka_streams_scaffold_spark import pinning

    sc = spark.sparkContext
    walls, failed = {}, 0
    t_pass = time.perf_counter()
    for name in names:
        if traced:
            sc.setJobGroup(f"perfbench:{name}", name)
        t0 = time.perf_counter()
        w0 = time.time()
        try:
            with tracer.span("operators.build", query=name):
                df = qs[name](spark, data_dir)
            w1 = time.time()
            if traced:
                with tracer.span("plan.plan", query=name):
                    df._jdf.queryExecution().executedPlan()
            w2 = time.time()
            with tracer.span("exec.exec", query=name):
                df.write.format("noop").mode("overwrite").save()
            w3 = time.time()
            walls[name] = time.perf_counter() - t0
            phases.append({"query": name, "build": (w0, w1), "exec": (w2, w3)})
        except Exception as ex:  # noqa: BLE001 — a failed query is counted, the run goes on
            print(f"perfbench: {name} failed: {type(ex).__name__}: {ex}", file=sys.stderr)
            failed += 1
        with tracer.span("pinning.release"):
            pinning.unpersist_all()
        if traced:
            sc.setJobGroup("perfbench:idle", "idle")
    return time.perf_counter() - t_pass, walls, failed


def verify_pass(spark, names, qs, data_dir, expected):
    """Untimed: collect every query and compare its order-insensitive
    hash with the committed expectation. Returns (seconds, failures)."""
    from _kafka_streams_scaffold_spark import pinning

    t0 = time.perf_counter()
    failed = 0
    for name in names:
        try:
            df = qs[name](spark, data_dir)
            got = common.result_hash(df.columns, [tuple(r) for r in df.collect()])
            if got != expected[name]["hash"]:
                print(f"perfbench: {name} hash mismatch: {got}", file=sys.stderr)
                failed += 1
        except Exception as ex:  # noqa: BLE001
            print(f"perfbench: {name} failed in verify: {type(ex).__name__}: {ex}", file=sys.stderr)
            failed += 1
        pinning.unpersist_all()
    return time.perf_counter() - t0, failed


def job_metrics(spark, phases, windows, group_prefix, n_passes) -> dict:
    """Job/stage/task/shuffle accounting from the status store over the
    traced passes' windows, split by phase windows; per pass."""
    jobs = [
        j for j in common.jobs_snapshot(spark)
        if j["submitted"] is not None and any(a <= j["submitted"] <= b for a, b in windows)
    ]
    shuffle = common.stage_shuffle_bytes(spark)

    def within(j, key):
        return any(p[key][0] <= j["submitted"] <= p[key][1] for p in phases)

    build_jobs = [j for j in jobs if within(j, "build")]
    exec_jobs = [j for j in jobs if within(j, "exec")]
    pin_jobs = [
        j for j in build_jobs if j["name"].startswith(("localCheckpoint", "count"))
    ]
    attributed = [j for j in jobs if (j["group"] or "").startswith(group_prefix)
                  and j["group"] != group_prefix + "idle"]
    n = max(n_passes, 1)
    out = {k: v / n for k, v in common.job_totals(jobs, shuffle).items()}
    out.update(
        {
            "exec.job_busy_s": common.busy_s(exec_jobs) / n,
            "jobs.attributed_ratio": len(attributed) / len(jobs) if jobs else 0.0,
            "pinning.pin_jobs": len(pin_jobs) / n,
            "pinning.pin_job_s": common.busy_s(pin_jobs) / n,
        }
    )
    return out


def run(workload, seed, seconds, trace, work, data_dir, conf) -> dict:
    names = list(WORKLOAD_QUERIES[workload])
    rng = random.Random(seed)
    tracer = common.Tracer(trace)
    with open(EXPECTED) as fh:
        expected = json.load(fh)

    spark, setup_s, _ = repeated_setup(conf, data_dir, tracer)
    from _kafka_streams_scaffold_spark import pinning, registry

    qs = registry.queries()
    metrics: dict[str, float] = {}
    attempted = failed = 0

    rng.shuffle(names)
    verify_s, bad = verify_pass(spark, names, qs, data_dir, expected)
    attempted += len(names)
    failed += bad
    print(f"perfbench: verify pass {verify_s:.3f}s, {bad} failed", file=sys.stderr)

    if trace:
        calibration(spark)  # warm the probe's plan shape, as bench.py does
        metrics["host.calibration_first_s"] = calibration(spark)

    # Timed passes. A traced run interleaves traced and untraced passes
    # in whole ABBA blocks, starting with either kind as the seed picks,
    # so warm-up and drift weigh on both kinds alike; the per-layer
    # metrics come from the traced ones, and the ratio of the two
    # medians is the tracing overhead.
    phases: list[dict] = []
    windows: list[tuple[float, float]] = []
    pass_times, query_times, untraced = [], [], []
    compiles = 0.0
    cg = common.codegen_counters(spark) if trace else None
    traced_first = rng.random() < 0.5
    t_start = time.perf_counter()
    while (
        len(pass_times) < 2
        or time.perf_counter() - t_start < seconds
        or (trace and (len(pass_times) + len(untraced)) % 4)
    ):
        i = len(pass_times) + len(untraced)
        traced = trace and (i % 4 in (0, 3)) == traced_first
        order = names[:]
        rng.shuffle(order)
        if traced:
            install_tracing(tracer)
        w0 = time.time()
        p, walls, bad = run_pass(
            spark, order, qs, data_dir, tracer if traced else common.Tracer(False), traced, phases
        )
        if traced:
            tracer.unpatch_all()
            windows.append((w0, time.time()))
            cg1 = common.codegen_counters(spark)
            compiles += cg1[0] - cg[0]
            cg = cg1
        elif trace:
            cg = common.codegen_counters(spark)
        (pass_times if not trace or traced else untraced).append(p)
        query_times.extend(walls.values())
        attempted += len(order)
        failed += bad
        print(f"perfbench: {'traced ' if traced else ''}pass {p:.3f}s "
              f"{json.dumps({k: round(v, 3) for k, v in walls.items()})}", file=sys.stderr)
    n = len(pass_times)

    if trace:
        metrics["host.calibration_last_s"] = calibration(spark)
        build = sum(tracer.durations("operators.build")) / n
        plan = sum(tracer.durations("plan.plan")) / n
        exe = sum(tracer.durations("exec.exec")) / n
        metrics.update(
            {
                "session.build_s": median(tracer.durations("session.build_session")),
                "tables.load_s": median(tracer.durations("tables.load")),
                "verify_pass_s": verify_s,
                "operators.build_s": build,
                "operators.build_share": build / (build + plan + exe),
                "plan.plan_s": plan,
                "exec.exec_s": exe,
                "pinning.pins": len(tracer.durations("pinning.pin")) / n,
                "pinning.shared_pins": tracer.counters.get("pinning.shared_pins", 0) / n,
                "pinning.release_s": sum(tracer.durations("pinning.release")) / n,
                "pinning.live_pins_end": len(pinning._PINNED),
                "codegen.compiles": compiles / n,
                "codegen.compile_ms": compiles * cg[1] / n,
                "trace.overhead_share": median(pass_times) / median(untraced) - 1.0,
            }
        )
        metrics.update(job_metrics(spark, phases, windows, "perfbench:", n))
    spark.stop()

    metrics.update(
        {
            "setup_s": setup_s,
            "pass_s": median(pass_times),
            "latency_p50_ms": 1000 * median(query_times),
            "latency_p75_ms": 1000 * pct(query_times, 75),
        }
    )
    print(f"perfbench: {n} timed passes, {len(query_times)} query samples, "
          f"error_rate {failed / attempted:.4f}", file=sys.stderr)
    metrics["run.error_rate"] = failed / attempted
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "not_applicable": NOT_APPLICABLE,
        "spans": tracer.spans if trace else None,
    }
