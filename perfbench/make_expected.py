"""Regenerate perfbench/expected.json: the order-insensitive result
hash of every batch-workload query over perfbench/data/sf0.01.

    python3 perfbench/make_expected.py

Each hash comes from the query's DuckDB oracle, and the Spark result
must hash the same. The script fails, and writes nothing, when a query
has no oracle, its oracle raises, or Spark disagrees with it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import batch, common, run  # noqa: E402


def oracle_hash(con, sql):
    rel = con.execute(sql)
    return common.result_hash([d[0] for d in rel.description], rel.fetchall())


def main() -> int:
    base = os.path.join(run.ROOT, ".perfbench-tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="expected-", dir=base)
    try:
        run._hermetic_env(work)
        import duckdb

        from _kafka_streams_scaffold_spark import pinning, registry, session, tables

        spark = session.build_session("perfbench-expected", extra_conf=run.spark_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        con = duckdb.connect()
        for t in tables.TABLE_NAMES:
            where = (
                f" WHERE embedding IS NOT NULL AND len(embedding) = {tables.EMBED_DIM}"
                if t == "embeddings"
                else ""
            )
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA_DIR}/{t}.parquet'{where}")
        qs, oracles = registry.queries(), registry.oracle_sql()
        out, bad = {}, 0
        for workload, names in batch.WORKLOAD_QUERIES.items():
            for name in names:
                df = qs[name](spark, run.DATA_DIR)
                got = common.result_hash(df.columns, [tuple(r) for r in df.collect()])
                pinning.unpersist_all()
                if name not in oracles:
                    raise RuntimeError(f"{name} has no DuckDB oracle")
                t0 = time.time()
                want = oracle_hash(con, oracles[name])
                print(f"{workload} {name}: oracle {time.time() - t0:.1f}s "
                      f"{'match' if want == got else 'MISMATCH'}", file=sys.stderr)
                bad += want != got
                out[name] = {"hash": want, "source": "duckdb"}
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"{bad} queries disagree with their oracle; expected.json not written",
              file=sys.stderr)
        return 1
    with open(batch.EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
