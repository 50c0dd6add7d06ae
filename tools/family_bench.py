"""Mini-bench over a registry slot range with bench.py's family
keep-scope semantics — the measurement tool for the round-11
shared-pin hoists (before/after family totals without paying a full
409-query run).

Usage: python tools/family_bench.py <sf_dir> <start> <stop> [--cold]

``--cold`` disables the family keep-scope (every query releases all
pins), which reproduces the pre-round-11 bench behaviour for A/B.
"""

from __future__ import annotations

import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from _kafka_streams_scaffold_spark import pinning, registry, session  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    start, stop = int(sys.argv[2]), int(sys.argv[3])
    cold = "--cold" in sys.argv

    spark = session.build_session("family-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    names = list(qs)[start:stop]

    # janino/footer warm-up (as bench.py)
    from _kafka_streams_scaffold_spark.operators import dedup as _dd
    from _kafka_streams_scaffold_spark.operators import similarity as _sim

    for w in (
        _sim.ann_topk_query,
        _sim.ivf_assign_query,
        _dd.simhash_pairs_query,
    ):
        w(spark, sf_dir).write.format("noop").mode("overwrite").save()
    pinning.unpersist_all()

    total = 0.0
    for i, name in enumerate(names):
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        total += dt
        print(f"{dt:8.2f}  {name}", flush=True)
        nxt = names[i + 1] if i + 1 < len(names) else None
        pinning.unpersist_all(keep=() if cold else registry.family_keep(name, nxt))
    print(f"TOTAL {total:.1f}s over {len(names)} queries "
          f"({'cold' if cold else 'family-warm'})")
    spark.stop()


if __name__ == "__main__":
    main()
