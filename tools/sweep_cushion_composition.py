"""Sweep the index × cushion composition grid: for each candidate
generator (IVF cells, LSH bands, quantized graph walk) and each
keep_m, measure the candidate stream size, the cushion's fetch
fraction, and both savings of the composed byte model. Writes
reports/cushion_composition_sweep.csv.

Run: python tools/sweep_cushion_composition.py [sf_dir]
"""

from __future__ import annotations

import csv
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (  # noqa: E402
    clear_caches,
    get_spark,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.functions.fp16 import (  # noqa: E402
    byte_model,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.refine import (  # noqa: E402
    cushion_topk,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (  # noqa: E402
    embedding_dim,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (  # noqa: E402
    load_table,
    queries_view,
)

K = 20

#: candidate source → the mode its registered composition runs
FAMILIES = {"ivf": "l2-tz", "lsh": "cos-l1", "graph": "cos-l1"}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("cushion-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    queries = queries_view(spark, sf_dir)
    corpus = load_table(spark, sf_dir, "embeddings")
    n_corpus = corpus.count()
    n_q = queries.count()
    dim = embedding_dim(corpus)
    rows = []
    for fam, mode in FAMILIES.items():
        for m in (2, 3, 4, 6):
            res = cushion_topk(fam, queries, corpus, mode, K, m)
            n_pairs = res.scored.count()
            n_fetch = res.fetched.count()
            b_full, b_red = byte_model(dim, m)
            cost = b_red * n_pairs + b_full * n_fetch
            rows.append({
                "family": fam,
                "keep_m": m,
                "cand_per_query": round(n_pairs / n_q, 1),
                "fetch_frac": round(n_fetch / n_pairs, 4),
                "save_vs_exact_rerank": round(1.0 - cost / (b_full * n_pairs), 4),
                "save_vs_full_scan": round(
                    1.0 - cost / (b_full * n_q * n_corpus), 4
                ),
            })
            print(rows[-1], flush=True)
            clear_caches(spark)
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "reports", "cushion_composition_sweep.csv",
    )
    with open(out, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0]))
        w.writeheader()
        w.writerows(rows)
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
