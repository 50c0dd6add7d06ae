"""Stream-and-serve workload: the reference's wordcount and purchases
topologies fed from FileTopic topics on an open-loop schedule, upserted
into ParquetChangelogStores that the HTTP tier reads at the same time.

Phases of one process:

1. Staging (untimed): the seeded records go through the real
   ``encode_kv`` + ``filetopic.produce`` once per topic, and the
   produced topic is split into one parquet file per release slot.
2. Set-up (repeated, median reported): session, both streaming
   queries started on the default trigger, the HTTP server bound, and
   a first micro-batch committed per topology.
3. Feed: one generator thread releases one file per topic every
   ``1/RATE`` s by atomic rename, while one closed-loop reader
   alternates ``GET /wordcount/{word}`` and ``GET /purchases/{customer}``
   for keys drawn in proportion to their count in the whole feed, so
   a key none of whose records is released yet misses.
4. Convergence: every live store must equal its batch twin over the
   same topic.
5. Drain: ``pipeline.run_update_into_store`` (availableNow) drains
   each whole fed topic, now a fixed backlog, into fresh stores;
   repeated.
"""

from __future__ import annotations

import collections
import http.client
import itertools
import json
import os
import random
import re
import shutil
import sys
import threading
import time
import urllib.error
import urllib.request

from perfbench import batch, common
from perfbench.common import median, pct

# The offered load of the sizing probe: 100k events in 60 files at
# 2 files/s, so 3,333 events/s. They go out in 4 release slots per
# second, the probe's faster rate at which it still kept up, each slot
# split evenly over the two topics: finer slots give more, and less
# coarsely spaced, latency samples. An event is what a topology
# counts: a purchase, or a word of a text line.
RATE = 4.0  # release slots per second
EVENTS_PER_FILE = 1667 // 4
DRAIN_REPEATS = 5
# per-layer metrics of layers this workload does not run: no table
# registration, no registry build, no separate plan or execute step,
# no pin release
NOT_APPLICABLE = (
    "tables.load_s", "operators.build_s", "operators.build_share", "plan.plan_s",
    "exec.exec_s", "pinning.pin_jobs", "pinning.pin_job_s", "pinning.release_s",
)


# -- inputs -------------------------------------------------------------------


def _records(spark, data_dir, rng, n_files):
    """Seeded record-to-file assignment: per topic, a list of n_files
    lists of rows (wordcount lines, purchases in the reference wire
    shape with zero-padded customer and product ids)."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"])
    lines = docs.column("text").to_pylist()
    li = pq.read_table(
        os.path.join(data_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_partkey", "l_quantity"],
    ).to_pylist()
    cust = dict(
        zip(
            *pq.read_table(
                os.path.join(data_dir, "orders.parquet"), columns=["o_orderkey", "o_custkey"]
            ).to_pydict().values()
        )
    )
    purchases = [
        (f"{cust[r['l_orderkey']]:05d}", f"{r['l_partkey']:05d}", r["l_quantity"]) for r in li
    ]

    def assign(rows, per_file):
        out, pool = [], []
        for _ in range(n_files):
            chunk = []
            while len(chunk) < per_file:
                if not pool:
                    pool = rows[:]
                    rng.shuffle(pool)
                chunk.append(pool.pop())
            out.append(chunk)
        return out

    words = sum(len([w for w in re.split(r"\W+", line) if w]) for line in lines)
    lines_per_file = max(1, round(EVENTS_PER_FILE * len(lines) / words))
    return assign(lines, lines_per_file), assign(purchases, EVENTS_PER_FILE)


def _stage(spark, files, columns, key_col, topic, produced_dir, out_dir):
    """Encode every slot's rows with the real ``encode_kv`` and write
    them with one real ``produce`` call, the slot index riding in the
    Kafka timestamp so offsets ascend with the release order. Then
    split the produced topic into one parquet file per slot,
    ``out_dir/part-{slot}.parquet``. Returns the record count per slot."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from _kafka_streams_scaffold_spark.sources import filetopic
    from _kafka_streams_scaffold_spark.sources import kafka as ksrc

    slots = [slot for slot, chunk in enumerate(files) for _ in chunk]
    pdf = pd.DataFrame([r for chunk in files for r in chunk], columns=columns)
    # a projection over a local relation keeps the input row order, so
    # each encoded row pairs with its slot by position
    encoded = ksrc.encode_kv(spark.createDataFrame(pdf), key_col, columns).toPandas()
    if list(encoded["key"]) != [str(k) for k in pdf[key_col]]:
        raise RuntimeError("encoded rows lost their input order")
    encoded["ts"] = pd.to_datetime(slots, unit="s", utc=True)
    filetopic.produce(spark.createDataFrame(encoded), produced_dir, topic, ts_col="ts")

    table = pq.read_table(produced_dir)
    ts_type = table.schema.field("timestamp").type
    secs = pc.cast(table.column("timestamp"), "int64")
    unit = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts_type.unit]
    # parquet timestamps as UTC-adjusted micros, which Spark reads back
    # as the TIMESTAMP column of the topic schema
    table = table.set_column(
        table.schema.get_field_index("timestamp"),
        "timestamp",
        pc.cast(table.column("timestamp"), pa.timestamp("us", tz="UTC")),
    )
    sizes = []
    os.makedirs(out_dir)
    for slot in range(len(files)):
        part = table.filter(pc.equal(secs, slot * unit))
        pq.write_table(part, os.path.join(out_dir, f"part-{slot:05d}.parquet"))
        sizes.append(part.num_rows)
    return sizes


def _release(src_dir, slot, topic_dir, copy=False):
    """Make one staged file visible to the stream, atomically."""
    name = f"part-{slot:05d}.parquet"
    src = os.path.join(src_dir, name)
    if copy:
        tmp = os.path.join(src_dir, f".copy-{name}")
        shutil.copyfile(src, tmp)
        src = tmp
    os.rename(src, os.path.join(topic_dir, name))


# -- topologies ----------------------------------------------------------------


def wordcount_agg(decoded):
    from pyspark.sql import functions as F

    from _kafka_streams_scaffold_spark.streaming import pipeline

    return pipeline.streaming_wordcount(
        decoded.select(F.get_json_object("value", "$.text").alias("text"))
    )


def purchases_agg(decoded):
    from pyspark.sql import functions as F

    from _kafka_streams_scaffold_spark.streaming import pipeline

    return pipeline.streaming_purchases(
        decoded.select(
            F.get_json_object("value", "$.customerId").alias("user_id"),
            F.get_json_object("value", "$.productId").alias("event_type"),
            F.get_json_object("value", "$.quantity").cast("double").alias("value"),
        )
    )


TOPOLOGIES = {
    # name: (aggregate over the decoded topic, store key columns)
    "wordcount": (wordcount_agg, ["word"]),
    "purchases": (purchases_agg, ["key"]),
}


def batch_twin_hash(spark, name, topic_dir):
    from _kafka_streams_scaffold_spark.sources import filetopic

    agg = TOPOLOGIES[name][0](
        filetopic.consume_decoded(filetopic.read_topic_batch(spark, topic_dir))
    )
    return common.result_hash(agg.columns, [tuple(r) for r in agg.collect()])


def store_hash(spark, store):
    df = store.read(spark)
    return common.result_hash(df.columns, [tuple(r) for r in df.collect()])


class Live:
    """Both live streaming queries, their stores and the HTTP server."""

    def __init__(self, spark, root, staged, tracer):
        from _kafka_streams_scaffold_spark.sources import filetopic
        from _kafka_streams_scaffold_spark.streaming import http_serving, serving

        self.commits: dict[str, dict[int, float]] = {n: {} for n in TOPOLOGIES}
        self.batch_errors = 0
        self.topics, self.stores, self.queries = {}, {}, {}
        for name, (build, keys) in TOPOLOGIES.items():
            topic = os.path.join(root, f"{name}-topic")
            os.makedirs(topic)
            store = serving.ParquetChangelogStore(os.path.join(root, f"{name}-store"), keys)
            agg = build(filetopic.consume_decoded(filetopic.read_topic_stream(spark, topic)))
            self.topics[name], self.stores[name] = topic, store
            self.queries[name] = (
                agg.writeStream.outputMode("update")
                .foreachBatch(self._upsert(name, serving.foreach_batch_upsert(store), tracer))
                .option("checkpointLocation", os.path.join(root, f"{name}-ckpt"))
                .queryName(f"perfbench-{name}")
                .start()
            )
        self.server = http_serving.InteractiveQueryServer()
        wc, pu = self.stores["wordcount"], self.stores["purchases"]
        wc_reads = http_serving.SparkStoreAdapter(wc, spark)
        pu_reads = http_serving.SparkStoreAdapter(pu, spark)
        if tracer.enabled:
            wc_reads.get = tracer.wrap(wc_reads.get, "serving.get")
            pu_reads.range_scan = tracer.wrap(pu_reads.range_scan, "serving.get")
        self.server.bind_point("wordcount", wc_reads, "word", "cnt")
        self.server.bind_range("purchases", pu_reads, "key", {"count": "cnt", "total": "total"})
        self.port = self.server.start()
        # first trigger: the warm-up slot of every topic, committed
        for name in TOPOLOGIES:
            _release(staged[name], 0, self.topics[name], copy=True)
        for q in self.queries.values():
            q.processAllAvailable()

    def _upsert(self, name, upsert, tracer):
        commits = self.commits[name]

        def fn(batch_df, batch_id):
            try:
                with tracer.span("serving.upsert", topology=name, batch=batch_id):
                    upsert(batch_df, batch_id)
            except Exception:
                self.batch_errors += 1
                raise
            commits[batch_id] = time.time()

        return fn

    def close(self):
        self.server.stop()
        for q in self.queries.values():
            q.stop()


# -- load ---------------------------------------------------------------------


def _reader(port, stop, rng, keys, out):
    """Closed loop: the next request goes out when the previous one
    has returned. Lookups and range reads alternate, so both latencies
    get the same number of samples. ``keys`` maps each kind to (keys,
    cumulative counts). Appends (kind, seconds, ok, hit) to ``out``."""
    kinds = itertools.cycle([("lookup", "/wordcount"), ("range", "/purchases")])
    while not stop.is_set():
        kind, route = next(kinds)
        universe, cum = keys[kind]
        path = f"{route}/{rng.choices(universe, cum_weights=cum)[0]}"
        t0 = time.perf_counter()
        ok = hit = False
        try:
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=60) as r:
                body = json.loads(r.read())
                ok = r.status == 200
            hit = any(v is not None for v in body.values())
        except (urllib.error.URLError, http.client.HTTPException, OSError, ValueError) as ex:
            print(f"perfbench: {path} failed: {ex}", file=sys.stderr)
        out.append((kind, time.perf_counter() - t0, ok, hit))


def _generator(slots, staged, topics, t0, released):
    """Open loop: slot i (1-based) is due at t0 + i/RATE regardless of
    how the system keeps up. Records (due, actual) epoch seconds."""
    for i in slots:
        due = t0 + i / RATE
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        for name in topics:
            _release(staged[name], i, topics[name])
        released.append((due, time.time()))


# -- metrics ------------------------------------------------------------------


def _progress(q):
    return [json.loads(p.json) for p in q.recentProgress]


def event_latencies(progress, commits, sizes, released):
    """Latency of every released file: from its scheduled release to
    the commit of the store upsert of the micro-batch that consumed it,
    found through cumulative ``numInputRows``. Slot 0 is the set-up's
    warm-up file and is not a sample. Also returns the largest backlog
    (files released but not yet consumed) seen at any batch start."""
    rows = {}
    for p in progress:
        if p["numInputRows"]:
            rows[p["batchId"]] = (p["numInputRows"], p["timestamp"])
    ends, cum = [], 0
    for n in sizes:
        cum += n
        ends.append(cum)
    lat, backlog_max, consumed, cum = [], 0, 1, 0
    for b in sorted(rows):
        n, started = rows[b]
        cum += n
        start = _epoch(started)
        released_by = 1 + sum(1 for _, actual in released if actual <= start)
        backlog_max = max(backlog_max, released_by - consumed)
        while consumed < len(ends) and ends[consumed] <= cum:
            if consumed >= 1 and consumed - 1 < len(released):
                lat.append(commits[b] - released[consumed - 1][0])
            consumed += 1
    return lat, backlog_max


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def progress_metrics(progress_by_query) -> dict:
    progress = [p for ps in progress_by_query for p in ps if p["numInputRows"]]

    def dur(key):
        return [p["durationMs"].get(key, 0) for p in progress]

    last_state = [ps[-1]["stateOperators"] for ps in progress_by_query if ps]
    commit_ms = [op["commitTimeMs"] for p in progress for op in p["stateOperators"]]
    return {
        "pipeline.batches": len(progress),
        "pipeline.rows_per_batch_p50": median([p["numInputRows"] for p in progress]),
        "pipeline.trigger_ms_p50": median(dur("triggerExecution")),
        "pipeline.trigger_ms_p90": pct(dur("triggerExecution"), 90),
        "pipeline.addBatch_ms_p50": median(dur("addBatch")),
        "pipeline.queryPlanning_ms_p50": median(dur("queryPlanning")),
        "pipeline.walCommit_ms_p50": median(dur("walCommit")),
        "pipeline.state_rows": sum(op["numRowsTotal"] for ops in last_state for op in ops),
        "pipeline.state_bytes": sum(op["memoryUsedBytes"] for ops in last_state for op in ops),
        "pipeline.state_commit_ms_p50": median(commit_ms),
        "filetopic.getBatch_ms_p50": median(dur("getBatch")),
        "filetopic.latestOffset_ms_p50": median(dur("latestOffset")),
    }


def drain(spark, topics, root, tracer, tag, want):
    """availableNow drain of every topology's whole topic into fresh
    stores, each checked against ``want`` (store hashes by topology)
    unless that is None; returns (seconds, records, failures)."""
    from _kafka_streams_scaffold_spark.sources import filetopic
    from _kafka_streams_scaffold_spark.streaming import pipeline, serving

    failed, records, t_total = 0, 0, 0.0
    for name, (build, keys) in TOPOLOGIES.items():
        store = serving.ParquetChangelogStore(os.path.join(root, f"{tag}-{name}-store"), keys)
        if tracer.enabled:
            store.upsert_batch = tracer.wrap(store.upsert_batch, "serving.drain_upsert")
        agg = build(filetopic.consume_decoded(filetopic.read_topic_stream(spark, topics[name])))
        t0 = time.perf_counter()
        with tracer.span("pipeline.drain", topology=name):
            q = pipeline.run_update_into_store(
                agg, store, os.path.join(root, f"{tag}-{name}-ckpt"), f"drain-{tag}-{name}"
            )
            q.awaitTermination()
        t_total += time.perf_counter() - t0
        records += sum(json.loads(p.json)["numInputRows"] for p in q.recentProgress)
        if q.exception() is not None or want and store_hash(spark, store) != want[name]:
            print(f"perfbench: drain {tag} {name} did not converge", file=sys.stderr)
            failed += 1
    return t_total, records, failed


# -- run ----------------------------------------------------------------------


def run(workload, seed, seconds, trace, work, data_dir, conf) -> dict:
    rng = random.Random(seed)
    tracer = common.Tracer(trace)
    n_feed = max(1, int(round(seconds * RATE)))
    metrics: dict[str, float] = {}
    attempted = failed = 0

    # set-up, repeated; each set-up gets its own topics and stores
    setups = iter(range(batch.SETUPS))
    staged = {}

    def ready(spark):
        staging_s = 0.0
        if not staged:
            staging_s = _stage_all(spark, data_dir, rng, n_feed, work, staged)
        root = os.path.join(work, f"live-{next(setups)}")
        return Live(spark, root, staged["feed"], tracer), staging_s

    # the streaming path reads no registered table and runs no pandas
    # UDF, so set-up is the session and the live queries and server
    spark, setup_s, live = batch.repeated_setup(conf, None, tracer, ready)
    if trace:
        batch.calibration(spark)  # warm the probe's plan shape, as bench.py does
        metrics["host.calibration_first_s"] = batch.calibration(spark)
        cg0 = common.codegen_counters(spark)
        batch.install_tracing(tracer)
    w_start = time.time()

    # feed
    released: list[tuple[float, float]] = []
    reads: list[tuple[str, float, bool, bool]] = []
    stop = threading.Event()
    feed_start = time.perf_counter()
    t0 = time.time()
    gen = threading.Thread(
        target=_generator,
        args=(range(1, n_feed + 1), staged["feed"], live.topics, t0, released),
    )
    reader = threading.Thread(
        target=_reader,
        args=(live.port, stop, random.Random(seed + 1), staged["keys"], reads),
    )
    gen.start()
    reader.start()
    gen.join()
    stop.set()
    reader.join()
    for q in live.queries.values():
        q.processAllAvailable()
    w_end = time.time()

    lat, backlog = [], 0
    progress = {}
    for name, q in live.queries.items():
        progress[name] = _progress(q)
        l, b = event_latencies(progress[name], live.commits[name], staged["sizes"][name], released)
        lat.extend(l)
        backlog = max(backlog, b)
        attempted += len(live.commits[name])
    failed += live.batch_errors
    attempted += len(reads)
    failed += sum(1 for _, _, ok, _ in reads if not ok)
    lookups = [w for k, w, _, _ in reads if k == "lookup"]
    ranges = [w for k, w, _, _ in reads if k == "range"]

    # convergence: every live store equals its batch twin
    t_verify = time.perf_counter()
    twins = {name: batch_twin_hash(spark, name, live.topics[name]) for name in TOPOLOGIES}
    for name in TOPOLOGIES:
        attempted += 1
        if store_hash(spark, live.stores[name]) != twins[name]:
            print(f"perfbench: live store {name} did not converge", file=sys.stderr)
            failed += 1
    verify_s = time.perf_counter() - t_verify
    if trace:
        cg1 = common.codegen_counters(spark)
        jobs = [j for j in common.jobs_snapshot(spark) if j["submitted"] and w_start <= j["submitted"] <= w_end]
        run_ids = {str(q.runId) for q in live.queries.values()}
        metrics.update(common.job_totals(jobs, common.stage_shuffle_bytes(spark)))
        metrics["exec.job_busy_s"] = common.busy_s(jobs)
        metrics["jobs.attributed_ratio"] = (
            sum(1 for j in jobs if j["group"] in run_ids) / len(jobs) if jobs else 0.0
        )
        store_rows = sum(spark.read.parquet(s.path).count() for s in live.stores.values())
        live_keys = sum(s.read(spark).count() for s in live.stores.values())
        store_files = sum(
            1 for s in live.stores.values() for f in os.listdir(s.path) if f.endswith(".parquet")
        )
        upserts = tracer.durations("serving.upsert", since=feed_start)
        # one closed-loop reader, so store calls pair with requests in order
        store_calls = tracer.durations("serving.get")
    live.close()

    # Drain: the whole fed topics, now a fixed backlog, into fresh
    # stores, repeated; the first drain's stores are checked against
    # the batch twins. A traced run interleaves traced and untraced
    # drains in an ABBA block, starting with either kind as the seed
    # picks; the ratio of the two medians is the tracing overhead.
    drains, untraced, records = [], [], 0
    traced_first = rng.random() < 0.5
    for i in range(4 if trace else DRAIN_REPEATS):
        traced = trace and (i % 4 in (0, 3)) == traced_first
        if trace and not traced:
            tracer.unpatch_all()
        s, records, bad = drain(
            spark, live.topics, work, tracer if traced else common.Tracer(False),
            f"drain{i}", twins if i == 0 else None,
        )
        if trace and not traced:
            batch.install_tracing(tracer)
        (drains if traced or not trace else untraced).append(s)
        attempted += len(TOPOLOGIES)
        failed += bad

    if trace:
        from _kafka_streams_scaffold_spark import pinning

        tracer.unpatch_all()
        metrics["host.calibration_last_s"] = batch.calibration(spark)
        metrics.update(progress_metrics(list(progress.values())))
        metrics.update(
            {
                "session.build_s": median(tracer.durations("session.build_session")),
                "verify_pass_s": verify_s,
                "pinning.pins": len(tracer.durations("pinning.pin")),
                "pinning.shared_pins": tracer.counters.get("pinning.shared_pins", 0),
                "pinning.live_pins_end": len(pinning._PINNED),
                "filetopic.backlog_files_max": backlog,
                "gen.late_ms_max": 1000 * max(a - d for d, a in released),
                "pipeline.event_latency_p90_ms": 1000 * pct(lat, 90),
                "serving.upsert_ms_p50": 1000 * median(upserts),
                "serving.get_ms_p50": 1000 * median(store_calls),
                "serving.store_files": store_files,
                "serving.read_amplification": store_rows / max(live_keys, 1),
                "http.requests": len(reads),
                "http.errors": sum(1 for _, _, ok, _ in reads if not ok),
                "http.overhead_ms_p50": 1000 * median(
                    [w - s for (_, w, _, _), s in zip(reads, store_calls)]
                ),
                "http.lookup_p50_ms": 1000 * median(lookups),
                "http.lookup_p90_ms": 1000 * pct(lookups, 90),
                "http.range_p50_ms": 1000 * median(ranges),
                "pipeline.drain_records_per_s": records / median(drains),
                "codegen.compiles": cg1[0] - cg0[0],
                "codegen.compile_ms": (cg1[0] - cg0[0]) * cg1[1],
                "trace.overhead_share": median(drains) / median(untraced) - 1.0,
            }
        )
    spark.stop()

    metrics.update(
        {
            "setup_s": setup_s,
            "pass_s": median(drains),
            "latency_p50_ms": 1000 * median(lat),
            "latency_p75_ms": 1000 * pct(lat, 75),
        }
    )
    print(
        f"perfbench: {len(lat)} event-latency samples, {len(reads)} reads "
        f"({sum(1 for *_, hit in reads if not hit)} misses), "
        f"drains {[round(d, 3) for d in drains + untraced]} ({records} records), "
        f"lookup p50 {1000 * median(lookups):.1f} ms, range p50 {1000 * median(ranges):.1f} ms, "
        f"late max {1000 * max(a - d for d, a in released):.1f} ms, backlog max {backlog}, "
        f"error_rate {failed / attempted:.4f}",
        file=sys.stderr,
    )
    metrics["run.error_rate"] = failed / attempted
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "not_applicable": NOT_APPLICABLE,
        "spans": tracer.spans if trace else None,
    }


def _stage_all(spark, data_dir, rng, n_feed, work, staged):
    """Untimed staging, per topic: the warm-up slot 0 and n_feed
    release slots; plus the readers' keys, weighted by their count in
    the feed."""
    t0 = time.perf_counter()
    wc, pu = _records(spark, data_dir, rng, 1 + n_feed)
    topics = {
        "wordcount": ([[(line,) for line in chunk] for chunk in wc], ["text"], "text"),
        "purchases": (pu, ["customerId", "productId", "quantity"], "customerId"),
    }
    staged["feed"], staged["sizes"] = {}, {}
    for name, (files, columns, key) in topics.items():
        feed = staged["feed"][name] = os.path.join(work, f"staged-{name}")
        staged["sizes"][name] = _stage(
            spark, files, columns, key, f"perfbench-{name}",
            os.path.join(work, f"produced-{name}"), feed,
        )
    words = (w for chunk in wc for line in chunk for w in re.split(r"\W+", line.lower()))
    customers = (c for chunk in pu for c, _, _ in chunk)
    staged["keys"] = {"lookup": _weighted(w for w in words if w), "range": _weighted(customers)}
    staging_s = time.perf_counter() - t0
    print(f"perfbench: staging {staging_s:.3f}s", file=sys.stderr)
    return staging_s


def _weighted(keys):
    """(distinct keys, cumulative counts) for ``random.choices``."""
    counts = collections.Counter(keys)
    universe = sorted(counts)
    return universe, list(itertools.accumulate(counts[k] for k in universe))
