"""Clustered second fixture + ANN-ladder recall table (r06 verdict #7).

The isotropic Gaussian fixture is the WORST CASE for every pruning
index: random unit vectors have no neighborhood structure, so the
PQ (0.396), graph (0.7125) and MaxSim recall floors measured on it
are fixture artifacts, not operator ceilings. Real embedding spaces
are clustered. This tool:

1. generates mixture-of-Gaussians embeddings tables with the SAME
   schema/row count as /root/testdata/sf0.1 (2000×64; 16 unit-norm
   centers, seeded) at two tightness levels: σ=0.25/dim (noise norm
   σ√D ≈ 2 ≫ 1 — clusters barely bias the geometry) and σ=0.05/dim
   (noise norm ≈ 0.4 < the ~√2 center separation — real clusters);
2. runs every registered `ann_*_recall` query on all fixtures through
   the registry — identical plans, identical constants;
3. writes reports/recall_ladder_clustered.csv.

Usage: python tools/recall_ladder_clustered.py [iso_sf_dir] [out_csv]
"""

from __future__ import annotations

import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ROWS = 2000
DIM = 64
N_CENTERS = 16
SIGMAS = (0.25, 0.05)
SEED = 20260815

RECALL_QUERIES = [
    "ann_ivf_recall",
    "ann_lsh_recall",
    "ann_pq_recall",
    "ann_opq_recall",
    "ann_opq_rot_recall",
    "ann_ivfpq_recall",
    "ann_ivfpq_res_recall",
    "ann_ivfopq_recall",
    "ann_lsh_multiprobe_recall",
    "ann_graph_centroid_recall",
    "ann_sq_recall",
    "ann_ivfsq_recall",
    "ann_bq_recall",
    "ann_ivfbq_recall",
    "ann_rabitq_recall",
    "ann_ivfrabitq_recall",
    "ann_ivf_adaptive_recall",
    "ann_knn_graph_recall",
    "ann_graph_recall",
    "ann_vamana_recall",
    "ann_mrl_recall",
    "ann_mrl_recall_tuned",
    "ann_maxsim_recall",
    "ann_spann_recall",
]


def make_clustered(dir_path: str, sigma: float) -> None:
    rng = np.random.default_rng(SEED)
    centers = rng.standard_normal((N_CENTERS, DIM)).astype(np.float32)
    centers /= np.maximum(np.linalg.norm(centers, axis=1, keepdims=True), 1e-12)
    assign = rng.integers(0, N_CENTERS, size=N_ROWS)
    pts = centers[assign] + sigma * rng.standard_normal((N_ROWS, DIM)).astype(
        np.float32
    )
    pts = pts.astype(np.float32)
    tab = pa.table(
        {
            "vec_id": pa.array(np.arange(N_ROWS, dtype=np.int64)),
            "embedding": pa.array(
                [row for row in pts], type=pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(tab, os.path.join(dir_path, "embeddings.parquet"))


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    iso = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(ROOT, "reports", "recall_ladder_clustered.csv")
    )
    sys.path.insert(0, ROOT)
    from pyspark.sql import SparkSession

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
        registry as R,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.session import (
        clear_caches,
    )

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    rows = ["query,fixture,recall"]
    with tempfile.TemporaryDirectory() as tmp:
        fixtures = [("isotropic", iso)]
        for sigma in SIGMAS:
            d = os.path.join(tmp, f"sig{sigma}")
            os.makedirs(d)
            make_clustered(d, sigma)
            fixtures.append((f"clustered_sig{sigma}", d))
        for fixture, sf_dir in fixtures:
            clear_caches(spark)
            for name in RECALL_QUERIES:
                rec = R.QUERIES[name](spark, sf_dir).collect()[0]
                val = rec[0]
                rows.append(f"{name},{fixture},{val}")
                print(rows[-1], flush=True)
    with open(out, "w") as f:
        f.write("\n".join(rows) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
