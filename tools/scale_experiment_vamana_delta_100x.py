"""100× rung of the DiskANN-insert scale contract (VERDICT r11 #6).

Extends tools/scale_experiment_vamana_delta_10x.py (2k → 20k on the
real α-pruned build) to N = 200 000 with the SAME fixed 200-vector
batch. At 200k the O(N·L²) offline α-build itself is hours of exact
scorings — and it is NOT what the claim is about: the maintenance
bound O(|delta|·degree·L²) holds for ANY stored bounded-degree
adjacency. So this rung runs the full chain on a deterministic
BANDED bounded-degree graph (vec_id i → i±1..±degree/2, out-degree ==
VAMANA_DEGREE, the same storage/maintenance shape) at 2k / 20k /
200k, measuring:

* affected-resident count vs the |delta|·degree bound,
* the resident pass's join input rows (merged adjacency) — the
  shuffle VOLUME proxy: rows × fixed row width; flat rows == flat
  shuffle bytes,
* aggregated executor shuffle-write bytes across the maintenance
  jobs (from the Spark status REST API), the direct measurement,
* resident-pass wall vs the inserted-side walk wall.

The 2k/20k banded rows tie this chain to the 10× script's real-build
rows (same maintenance shape, same bounds); the 200k row is the 100×
claim. Summarized in reports/VAMANA.md.

Usage: python tools/scale_experiment_vamana_delta_100x.py
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
    get_spark,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
    vamana as V,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
    beam_candidates,
)

D = 64
BATCH = 200


def corpus_at(spark, n: int, seed: int = 53):
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, D)).astype(np.float32)
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")


def banded_edges(spark, n: int, degree: int):
    """Deterministic bounded-degree adjacency: i → i±1..±degree/2
    (mod n). Same storage shape as a served Vamana graph (directed
    (src, dst) rows, out-degree == degree); the maintenance pass is
    agnostic to how the stored graph was built."""
    half = degree // 2
    return (
        spark.range(n)
        .select(F.col("id").alias("src"))
        .select(
            "src",
            F.explode(
                F.array(*[F.lit(o) for o in range(-half, half + 1) if o != 0])
            ).alias("off"),
        )
        .select(
            "src", ((F.col("src") + F.col("off") + n) % n).alias("dst")
        )
    )


def shuffle_bytes(spark) -> int:
    """Total shuffle-write bytes of every completed stage so far,
    via the local UI's REST API."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete", timeout=10
        ) as r:
            stages = json.load(r)
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception as e:  # UI disabled → report -1, keep the run
        print(f"(shuffle REST unavailable: {e})", flush=True)
        return -1


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    spark = get_spark(
        app_name="vamana-delta-scale-100x",
        extra_conf={"spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for n in (2_000, 20_000, 200_000):
        corpus = corpus_at(spark, n).localCheckpoint(eager=True)
        edges = banded_edges(spark, n, V.VAMANA_DEGREE).localCheckpoint(eager=True)
        delta = (
            corpus.where(F.col("vec_id") < BATCH)
            .select("vec_id", F.reverse("embedding").alias("embedding"))
            .localCheckpoint(eager=True)
        )
        # inserted-side walk (the only N-dependent part, by design).
        # Run it TWICE: the first pass pays one-time JVM/codegen/
        # shuffle-service warm-up (at small N those fixed costs dwarf
        # the walk itself and made full−walk subtraction go negative);
        # the second pass is the steady-state wall that is comparable
        # to the walk embedded in the full operator below.
        q = delta.select(F.col("vec_id").alias("query_id"), "embedding")

        def run_walk():
            cand = beam_candidates(q, corpus, edges).where(
                F.col("vec_id") != F.col("query_id")
            )
            return V.prune_batch_pool(
                V.index_pool(cand).localCheckpoint(eager=True), corpus
            ).localCheckpoint(eager=True)

        run_walk().count()  # warm-up, untimed
        wb0 = shuffle_bytes(spark)
        t1 = time.perf_counter()
        kept = run_walk()
        n_kept = kept.count()
        walk_wall = time.perf_counter() - t1
        wb1 = shuffle_bytes(spark)
        # full operator (walk + resident maintenance)
        sb0 = shuffle_bytes(spark)
        t2 = time.perf_counter()
        out = V.vamana_delta_edges(delta, corpus, edges)
        n_out = out.count()
        full_wall = time.perf_counter() - t2
        sb1 = shuffle_bytes(spark)
        aff = kept.select("dst").distinct().count()
        row = {
            "n": n,
            "graph": "banded",
            "kept_edges": n_kept,
            "affected_residents": aff,
            "bound_batch_x_degree": BATCH * V.VAMANA_DEGREE,
            "walk_wall_s": round(walk_wall, 1),
            "full_wall_s": round(full_wall, 1),
            "resident_pass_s": round(full_wall - walk_wall, 1),
            "op_shuffle_mb": (
                round((sb1 - sb0) / 1e6, 1) if sb0 >= 0 and sb1 >= 0 else None
            ),
            # maintenance-only shuffle ≈ full op minus one walk (the
            # full operator embeds the same walk; both deltas measured
            # on warmed executions) — the batch-bounded claim is about
            # THIS number, the walk is admitted N-dependent like any
            # query.
            "resident_shuffle_mb": (
                round(((sb1 - sb0) - (wb1 - wb0)) / 1e6, 1)
                if min(sb0, sb1, wb0, wb1) >= 0
                else None
            ),
            "out_rows": n_out,
        }
        results.append(row)
        print(row, flush=True)
    with open(os.path.join(ROOT, "reports", "scale_vamana_delta_100x.json"), "w") as f:
        json.dump(results, f, indent=1)
    print("written")


if __name__ == "__main__":
    main()
