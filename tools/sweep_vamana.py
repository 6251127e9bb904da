"""Vamana operating-point sweep: is the α-occlusion prune itself
load-bearing, or is the r10 lift just the 2-hop candidate enrichment?

Three regimes separate the public mechanisms: α² → ∞ disables
occlusion entirely (pure 2-hop enrichment + nearest-first degree
cut); α² = 1.0 is the classic RNG-style prune (HNSW's "heuristic"
neighbor selection — u occludes v iff u is closer to v than p is);
α² > 1 is Vamana's relaxation that preserves long-range edges. L is
the pool depth the prune selects from (≤ 24, the fold's bitmask
budget).

Usage: python tools/sweep_vamana.py [sf_dir]
Writes reports/sweep_vamana.csv and prints the grid.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession


def main() -> None:
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        simsearch as S,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        vamana as V,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
        exact_topk_fixture_cached,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    corpus = load_table(spark, sf, "embeddings")
    queries = queries_view(spark, sf)
    K = 20
    exact = exact_topk_fixture_cached(spark, sf, K, "cosine")

    rows = ["alpha2,L,walk_recall_at_20,visited_per_query,n_edges,build_s"]
    grid = [(1e12, 24), (1.0, 24), (1.21, 24), (1.44, 24), (1.96, 24), (1.44, 16)]
    a0, l0 = V.VAMANA_ALPHA2, V.VAMANA_L
    try:
        for alpha2, L in grid:
            V.VAMANA_ALPHA2, V.VAMANA_L = alpha2, L
            t0 = time.time()
            edges = V.vamana_edges(
                corpus, cache_key=f"sweep:{sf}:{alpha2}:{L}"
            )
            n_edges = edges.count()
            build_s = time.time() - t0
            cand = S.beam_candidates(queries, corpus, edges)
            from pyspark.sql import functions as F

            vis = (
                cand.groupBy("query_id").count().agg(F.avg("count")).collect()[0][0]
            )
            ann = S.graph_topk_from_index(queries, corpus, edges, K)
            rec = S.ann_recall(ann, exact, K).collect()[0].recall_at_k
            rows.append(
                f"{alpha2},{L},{rec},{vis:.0f},{n_edges},{build_s:.1f}"
            )
            print(rows[-1], flush=True)
    finally:
        V.VAMANA_ALPHA2, V.VAMANA_L = a0, l0
    with open(os.path.join(ROOT, "reports", "sweep_vamana.csv"), "w") as f:
        f.write("\n".join(rows) + "\n")
    print("wrote reports/sweep_vamana.csv")


if __name__ == "__main__":
    main()
