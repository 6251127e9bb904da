"""Multi-probe LSH sweep (r08): recall@20 and candidate budget vs the
probe count T, on the isotropic sf0.1 fixture and the clustered
(σ=0.05) fixture. T=0 is plain LSH (one bucket per band); each probe
adds one flipped-lowest-margin-bit bucket per band. The claim to
verify: at equal stored tables (4 bands), multi-probe trades a bounded
candidate-budget increase for recall — and dominates plain LSH at
equal candidate budget (probing 3 buckets in 4 bands beats hashing
into 12 bands because flipped-margin buckets are chosen by the query's
own geometry, not blindly).

Writes reports/sweep_lsh_multiprobe.csv.
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

T_VALUES = (0, 1, 2, 3)
K = 20


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        simsearch as S,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
        exact_topk_fixture_cached,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.session import (
        clear_caches,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )
    from tools.recall_ladder_clustered import make_clustered

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    rows = ["fixture,t,buckets_probed,avg_candidates,recall_at_20"]
    with tempfile.TemporaryDirectory() as tmp:
        cl = os.path.join(tmp, "clustered")
        os.makedirs(cl)
        make_clustered(cl, 0.05)
        for fixture, sf_dir in (
            ("isotropic_sf0.1", "/root/testdata/sf0.1"),
            ("clustered_sig0.05", cl),
        ):
            clear_caches(spark)
            queries = queries_view(spark, sf_dir)
            corpus = load_table(spark, sf_dir, "embeddings")
            n_q = queries.count()
            exact = exact_topk_fixture_cached(spark, sf_dir, K, "cosine")
            dim = S.embedding_dim(corpus)
            cb = S.lsh_signature_bands(corpus, "embedding", "vec_id", dim=dim)
            for t in T_VALUES:
                qb = S.lsh_multiprobe_bands(
                    queries, "embedding", "query_id", t=t, dim=dim
                )
                cand_ids = (
                    qb.alias("q")
                    .join(cb.alias("c"), ["band", "bkey"])
                    .select(
                        F.col("q.id").alias("query_id"),
                        F.col("c.id").alias("neighbor_id"),
                    )
                    .distinct()
                )
                avg_cand = cand_ids.count() / n_q
                ann = (
                    S.lsh_multiprobe_topk(queries, corpus, K, t=t)
                    if t
                    else S.lsh_topk(queries, corpus, K)
                )
                rec = S.ann_recall(ann, exact, K).collect()[0]["recall_at_k"]
                rows.append(
                    f"{fixture},{t},{S.LSH_BANDS * (t + 1)},"
                    f"{avg_cand:.1f},{rec}"
                )
                print(rows[-1], flush=True)
    out = os.path.join(ROOT, "reports", "sweep_lsh_multiprobe.csv")
    with open(out, "w") as f:
        f.write("\n".join(rows) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
