"""Measure ANN recall@3 vs the exact brute-force baseline at a given SF.

Usage: python tools/bench_ann_recall.py [sf_dir]
Writes a markdown table to stdout (committed to BENCH/ANN_RECALL.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def topk_sets(df, k: int = 3):
    out = {}
    for r in df.collect():
        if r["rank"] <= k:
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def recall(approx: dict, exact: dict) -> float:
    hit = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    return hit / total if total else 1.0


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pdf4py_spark.session import build_session
    spark = build_session("ann-recall", "local[16]", driver_memory="8g")
    spark.sparkContext.setLogLevel("ERROR")

    from pdf4py_spark.operators import similarity as sim

    t0 = time.monotonic()
    exact = topk_sets(sim.ann_cosine_topk(spark, sf_dir))
    t_exact = time.monotonic() - t0
    n_q = len(exact)
    print("| method | recall@3 (%d queries) | wall s |" % n_q)
    print("|---|---|---|")
    print("| brute-force cosine (baseline) | 1.000 | %.2f |" % t_exact)

    for np_ in (1, 2, 4):
        old = sim.NPROBE
        sim.NPROBE = np_
        try:
            t0 = time.monotonic()
            approx = topk_sets(sim.ann_bucketed_topk(spark, sf_dir))
            dt = time.monotonic() - t0
        finally:
            sim.NPROBE = old
        print("| IVF K=%d nprobe=%d | %.3f | %.2f |"
              % (sim.N_CENTROIDS, np_, recall(approx, exact), dt))

    t0 = time.monotonic()
    lsh = topk_sets(sim.ann_lsh_topk(spark, sf_dir))
    dt = time.monotonic() - t0
    print("| sign-LSH %d bands x %d planes | %.3f | %.2f |"
          % (sim.N_BANDS_LSH, sim.N_PLANES, recall(lsh, exact), dt))

    # ---- clustered workload: perturbed queries (v + 0.1) whose true
    # neighborhood is anchored at the source vector — the shape real
    # embedding spaces have (near-dup/cluster structure), vs the
    # uniform-random corpus above where cosine concentrates and ANY
    # partitioning ANN degrades toward nprobe/K
    from pyspark.sql import functions as F

    emb = (spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
           .select("vec_id", "embedding"))
    pert = emb.where("vec_id % 50 = 0").selectExpr(
        "vec_id + 1000000 AS vec_id",
        "cast(transform(cast(embedding as array<double>), x -> x + 0.1)"
        " as array<float>) AS embedding")
    centroids = (emb.where(F.col("vec_id") < sim.N_CENTROIDS)
                 .selectExpr("vec_id AS cid", "embedding AS ce"))
    qv = pert.selectExpr("vec_id AS query_id", "embedding AS qe")
    nv = emb.selectExpr("vec_id AS neighbor_id", "embedding AS ne")
    exact_full = sim._ranked(
        qv.crossJoin(nv).selectExpr(
            "query_id", "neighbor_id", sim._COS + " AS cosine")).collect()
    exact_p1 = topk_sets(spark.createDataFrame(exact_full), k=1)
    exact_p3 = topk_sets(spark.createDataFrame(exact_full), k=3)
    corpus_cells = sim._ivf_assign(emb, centroids, 1)
    print()
    print("| clustered workload (perturbed queries)"
          " | recall@1 | recall@3 | wall s |")
    print("|---|---|---|---|")
    for np_ in (1, 2):
        t0 = time.monotonic()
        query_cells = (sim._ivf_assign(pert, centroids, np_)
                       .withColumnRenamed("vec_id", "query_id"))
        cand = (query_cells.join(corpus_cells, "cid")
                .select("query_id", F.col("vec_id").alias("neighbor_id"))
                .distinct())
        approx_full = sim._ranked(
            cand.join(qv, "query_id").join(nv, "neighbor_id")
            .selectExpr("query_id", "neighbor_id",
                        sim._COS + " AS cosine")).collect()
        dt = time.monotonic() - t0
        a1 = topk_sets(spark.createDataFrame(approx_full), k=1)
        a3 = topk_sets(spark.createDataFrame(approx_full), k=3)
        print("| IVF K=%d nprobe=%d | %.3f | %.3f | %.2f |"
              % (sim.N_CENTROIDS, np_, recall(a1, exact_p1),
                 recall(a3, exact_p3), dt))
    spark.stop()


if __name__ == "__main__":
    main()
