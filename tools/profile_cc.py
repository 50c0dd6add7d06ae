"""Per-phase / per-round profiling of the connected-components and
PageRank engines at a given sf_dir (round-12 measurement, guide §1).

Usage: python tools/profile_cc.py [sf_dir] [graph]
  graph in {doc, emb, linkage, all}

Times, with the noop sink:
  - edge-list build (graph.edges / ivf_near_dup / fs matches)
  - undirected table build
  - the CC fixpoint with a per-round breakdown (instrumented copy of
    clustering.connected_components — same ops, timed per round)
  - PageRank (doc graph only)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from _kafka_streams_scaffold_spark import pinning, session, tables  # noqa: E402
from _kafka_streams_scaffold_spark.operators import clustering  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn):
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"  {label}: {dt:.2f}s", flush=True)
    return out


def cc_rounds(nodes, edges, both=None):
    """Instrumented copy of clustering.connected_components (r12 form:
    local star contraction, then the stitch loop)."""
    if both is None:
        both = clustering.undirected(edges)
    t0 = time.time()
    idt = both.schema["src"].dataType.simpleString()
    eligible = (
        both.join(
            nodes.select(F.col("doc_id").alias("src")), "src", "left_semi"
        )
        .join(
            nodes.select(F.col("doc_id").alias("dst")), "dst", "left_semi"
        )
        .select("src", "dst")
    )
    pairs = pinning.pin(
        eligible.mapInPandas(
            clustering._contract_partition, schema=f"doc_id {idt}, label {idt}"
        )
    )
    print(
        f"    contraction: {time.time() - t0:.2f}s pairs={pairs.count()}",
        flush=True,
    )
    labels = (
        pairs.groupBy("doc_id")
        .agg(F.min("label").alias("label"))
        .localCheckpoint(eager=False)
    )
    cboth = clustering._undirected_plan(
        pairs.filter(F.col("doc_id") != F.col("label")).select(
            F.col("doc_id").alias("src"), F.col("label").alias("dst")
        )
    ).localCheckpoint(eager=False)
    rounds = 0
    for _ in range(clustering.MAX_ROUNDS):
        neighbor_min = (
            cboth.join(labels, cboth.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        hooked = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
            (F.coalesce("nmin", "label") < F.col("label")).alias("moved"),
        )
        parent = labels.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        step = (
            hooked.join(parent, hooked.label == parent.p_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("p_label", "label")
                ).alias("label"),
                (
                    F.col("moved")
                    | (F.coalesce("p_label", "label") < F.col("label"))
                ).alias("moved"),
            )
            .localCheckpoint(eager=False)
        )
        labels = step.select("doc_id", "label")
        rounds += 1
        tr = time.time()
        n_moved = step.filter("moved").count()
        print(
            f"    round {rounds}: {time.time() - tr:.2f}s moved={n_moved}",
            flush=True,
        )
        if n_moved == 0:
            break
    print(f"  total CC: {time.time() - t0:.2f}s in {rounds} rounds", flush=True)
    return nodes.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("cluster_id")
    )


def profile_doc(spark, sf_dir):
    print("== doc (SimHash) graph ==", flush=True)
    edges = timed(
        "edges build (simhash_pairs)",
        lambda: pinning.pin(
            __import__(
                "_kafka_streams_scaffold_spark.operators.dedup",
                fromlist=["dedup"],
            ).simhash_pairs_query(spark, sf_dir).select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            )
        ),
    )
    print(f"  |pairs| = {edges.count()}", flush=True)
    both = timed(
        "both build",
        lambda: pinning.pin(clustering._undirected_plan(edges)),
    )
    docs = tables.table(spark, sf_dir, "documents").select("doc_id")
    cc = cc_rounds(docs, edges, both)
    timed("cc noop (post-loop consume)", lambda: noop(cc))
    pr = clustering.pagerank(docs, edges, both)
    timed("pagerank (5 iters + consume)", lambda: noop(pr))
    pinning.unpersist_all()


def profile_emb(spark, sf_dir):
    print("== embedding (IVF near-dup) graph ==", flush=True)
    from _kafka_streams_scaffold_spark.operators import similarity as sim

    edges = timed(
        "edges build (ivf_near_dup)",
        lambda: pinning.pin(
            sim.ivf_near_dup_query(spark, sf_dir).select(
                F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
            )
        ),
    )
    print(f"  |pairs| = {edges.count()}", flush=True)
    both = timed(
        "both build",
        lambda: pinning.pin(clustering._undirected_plan(edges)),
    )
    vecs = tables.table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    cc = cc_rounds(vecs, edges, both)
    timed("cc noop (post-loop consume)", lambda: noop(cc))
    pinning.unpersist_all()


def profile_linkage(spark, sf_dir):
    print("== linkage (FS match) graph ==", flush=True)
    from _kafka_streams_scaffold_spark.operators import linkage as lk

    scores = lk.fs_linkage_scores_query(spark, sf_dir)
    matches = scores.filter(
        F.col("fs_score") > F.lit(lk.FS_MATCH_MIN_FP).cast("double")
    )
    edges = timed(
        "edges build (fs matches)",
        lambda: pinning.pin(
            matches.select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            )
        ),
    )
    print(f"  |pairs| = {edges.count()}", flush=True)
    docs = tables.table(spark, sf_dir, "documents").select("doc_id")
    cc = cc_rounds(docs, edges)
    timed("cc noop (post-loop consume)", lambda: noop(cc))
    pinning.unpersist_all()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    which = sys.argv[2] if len(sys.argv) > 2 else "all"
    spark = session.build_session("profile_cc")
    spark.sparkContext.setLogLevel("ERROR")
    # warm python workers + janino (mirrors bench.py)
    spark.range(64).repartition(64).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    t0 = time.time()
    if which in ("doc", "all"):
        profile_doc(spark, sf_dir)
    if which in ("emb", "all"):
        profile_emb(spark, sf_dir)
    if which in ("linkage", "all"):
        profile_linkage(spark, sf_dir)
    print(f"total {time.time() - t0:.2f}s", flush=True)


if __name__ == "__main__":
    main()
