"""PQ codebook training depth on clustered vs isotropic data.

Follow-up to reports/RECALL_LADDER_CLUSTERED.md finding #2: PQ recall
stays ~0.44 even on clustered data while SQ (8-bit) hits 0.99 — is the
binding constraint the 3-iteration stride-seeded codebooks, or the
8×8 quantization geometry itself? Sweep Lloyd iters ∈ {0, 3, 6} on
both fixtures through the registry's own operators
(pq_codebook(iters=...) → codes → ADC top-K → recall@20 vs exact).

Usage: python tools/experiment_pq_iters_clustered.py
Writes reports/pq_iters_clustered.csv.
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from recall_ladder_clustered import make_clustered  # noqa: E402

K = 20


def pq_recall_at_iters(spark, sf_dir: str, iters: int):
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        pq as P,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        simsearch as S,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
        exact_topk,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )

    corpus = load_table(spark, sf_dir, "embeddings")
    queries = queries_view(spark, sf_dir)
    cb = P.pq_codebook(corpus, iters=iters)
    codes = P.pq_codes(corpus, cb)
    ann = P.pq_topk_from_index(queries, cb, codes, K)
    exact = exact_topk(queries, corpus, K, "cosine")
    return S.ann_recall(ann, exact, K).collect()[0][0]


def main() -> None:
    from pyspark.sql import SparkSession

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.session import (
        clear_caches,
    )

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    rows = ["fixture,iters,recall_at_20"]
    with tempfile.TemporaryDirectory() as tmp:
        d = os.path.join(tmp, "sig0.05")
        os.makedirs(d)
        make_clustered(d, 0.05)
        for fixture, sf_dir in (
            ("isotropic", "/root/testdata/sf0.1"),
            ("clustered_sig0.05", d),
        ):
            for iters in (0, 3, 6):
                clear_caches(spark)
                r = pq_recall_at_iters(spark, sf_dir, iters)
                rows.append(f"{fixture},{iters},{r}")
                print(rows[-1], flush=True)
    with open(os.path.join(ROOT, "reports", "pq_iters_clustered.csv"), "w") as f:
        f.write("\n".join(rows) + "\n")


if __name__ == "__main__":
    main()
