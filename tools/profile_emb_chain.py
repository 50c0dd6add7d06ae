"""Round-11 optimization probe: how much of each embedding-family
query is the SHARED quantizer/kNN chain, and what cross-query pin
sharing would save.

For each stage of the shared chain (emb+norm -> coarse assign ->
dynamic sub-assign -> kNN edge list -> near-dup pairs) this times a
noop materialization, then times each consumer query twice: COLD
(pins cleared first, today's bench behaviour) and WARM (chain pins
still resident, the proposed keep-scope behaviour). The delta is the
per-query saving the shared_pin hoist buys; the chain build times
are the one-time cost the family's first member absorbs.

Usage: python tools/profile_emb_chain.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from _kafka_streams_scaffold_spark import pinning, registry, session  # noqa: E402


def _noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


CONSUMERS = [
    # similarity.py
    "knn_graph",
    "knn_triangles",
    "knn_lof_outliers",
    "knn_label_purity",
    "adamic_adar_links",
    "ann_rank_fusion",
    "ivf_near_dup",
    "ivf_ann",
    "ivf_probe_recall_curve",
    # retrieval.py
    "ann_hubness_audit",
    "label_purity_null_baseline",
    "twonn_intrinsic_dim",
    "local_clustering_coeff",
    "mrr_audit",
    "facility_location_coreset",
    # clustering.py
    "embedding_dup_clusters",
    "cluster_keep_list",
    "semantic_dedup_keep",
    "contrastive_collision",
    "dedup_representative_stats",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    only = set(sys.argv[2:])

    spark = session.build_session("profile-emb-chain")
    spark.sparkContext.setLogLevel("ERROR")

    from _kafka_streams_scaffold_spark.operators import similarity as sim

    qs = registry.queries()

    # Warm JVM/janino on the chain shapes once (same as bench.py).
    _noop(sim.ann_topk_query(spark, sf_dir))
    _noop(sim.ivf_assign_query(spark, sf_dir))
    _noop(sim._knn_edges(spark, sf_dir))
    pinning.unpersist_all()

    print("== chain stage build times (warm JVM, cold pins) ==")
    t_emb = _noop(sim._emb(spark, sf_dir))
    t_assign = _noop(sim.ivf_assign_query(spark, sf_dir))
    t_dyn = _noop(sim.dyn_ivf_assign_query(spark, sf_dir))
    pinning.unpersist_all()
    t0 = time.time()
    sim._knn_edges(spark, sf_dir)  # _pin materializes internally
    t_edges = round(time.time() - t0, 3)
    pinning.unpersist_all()
    t0 = time.time()
    _noop(sim.ivf_near_dup_query(spark, sf_dir))
    t_neardup = round(time.time() - t0, 3)
    pinning.unpersist_all()
    print(
        f"emb={t_emb} assign={t_assign} dyn_assign={t_dyn} "
        f"knn_edges={t_edges} near_dup={t_neardup}"
    )

    names = [n for n in CONSUMERS if n in qs and (not only or n in only)]
    print("== per-consumer cold vs chain-warm ==")
    total_cold = total_warm = 0.0
    for name in names:
        fn = qs[name]
        pinning.unpersist_all()
        cold = _noop(fn(spark, sf_dir))
        # warm: leave whatever pins the query itself built resident,
        # run again — upper bound on what keep-scope sharing saves
        warm = _noop(fn(spark, sf_dir))
        total_cold += cold
        total_warm += warm
        print(f"{name:28s} cold={cold:7.2f}  warm={warm:7.2f}  save={cold - warm:6.2f}")
    pinning.unpersist_all()
    print(f"{'TOTAL':28s} cold={total_cold:7.2f}  warm={total_warm:7.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
