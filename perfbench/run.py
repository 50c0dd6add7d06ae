"""Benchmark entry point.

    python3 perfbench/run.py --workload composite-pins --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The package is imported from
that checkout (also in Spark's Python workers), the input tables are
the committed copy under ``perfbench/data``, and every file a run
writes (Spark local dirs, warehouse, checkpoints, topics, stores)
goes under ``.perfbench-tmp/`` in the checkout and is removed at exit;
only the traced run's span dump is kept there.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
PACKAGE = "_kafka_streams_scaffold_spark"
CORES = 4
WORKLOADS = ("composite-pins", "stream-serve")


def _hermetic_env(work: str) -> None:
    """Point every writer at ``work`` and make the package importable
    from this checkout; must run before pyspark starts its JVM, which
    passes its environment on to the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM started from here (Spark's launcher and driver) would
    # otherwise keep its performance-counter file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    sys.path.insert(0, ROOT)


def spark_conf(work: str) -> dict[str, str]:
    """Benchmark-side session settings passed through
    ``session.build_session(extra_conf=...)``: hermetic paths, no
    console progress bar, and status-store retention large enough to
    keep every job of a run for the job accounting."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }


def _select(measured: dict[str, float], trace: bool, not_applicable) -> dict:
    """The metrics BENCHMARK.json declares for this mode, with their
    units. A per-layer metric the workload lists as not applicable
    (its layer does not run) reads 0; any other missing metric is an
    error."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    out = {}
    for m in spec:
        name = m["name"]
        if name not in measured and not (trace and name in not_applicable):
            raise KeyError(f"metric {name!r} was not measured")
        out[name] = {"value": float(measured.get(name, 0.0)), "unit": m["unit"]}
    return out


def _stop_jvm() -> None:
    """Stop any live SparkContext, then end the JVM pyspark launched
    (it exits when its stdin closes) and wait for it, so no process
    this run started outlives it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA_DIR):
        print(f"perfbench: input tables not found at {DATA_DIR}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    try:
        _hermetic_env(work)
        if args.workload == "stream-serve":
            from perfbench import stream as workload
        else:
            from perfbench import batch as workload
        result = workload.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work, DATA_DIR,
            spark_conf(work),
        )
        result["metrics"] = _select(
            result["metrics"], bool(args.trace), result.pop("not_applicable")
        )
        spans = result.pop("spans")
        if spans:
            with open(os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"), "w") as fh:
                fh.writelines(json.dumps(s) + "\n" for s in spans)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
