"""Matryoshka-style dimension truncation — precision-on-demand along
the DIMENSION axis, completing the engine's bandwidth-reduction grid.

The reference reduces bytes *per coordinate* (FP16 mantissa keep,
paper §3; ``ANNCode.py:195-242``); Matryoshka Representation Learning
(Kusupati et al., NeurIPS 2022 — public method, and the serving mode
behind "dimensions"-style embedding APIs) reduces the *number of
coordinates*: the first ``d'`` dimensions of a trained MRL embedding
are themselves a usable embedding, so a cheap pass can rank on the
prefix and fetch the full vector only for survivors. Orthogonal to the
per-coordinate ladder (fp16 → int8 SQ → PQ → 1-bit BQ), same two-phase
query shape:

* **prefix pre-rank** — cosine on ``slice(embedding, 1, d')``; the
  scan touches d'/D of the vector bytes. At rest the prefix is its own
  parquet column (the disaggregated layout of ``sources/fixtures.py``:
  column pruning keeps full-precision pages unread, exactly like the
  reference's bit-plane split, ``ANNCode.py:668-690``).
* **refinement** — top-(R·K) by prefix similarity fetch the full
  vector for the exact cosine re-rank (late materialization,
  reference phase-2 ``ANNCode.py:560-575``).

Scale: the prefix slice is a pure map (no training, no shuffle); the
pre-rank is the same broadcast-queries scoring join as every other
cheap pass, over a 4×-narrower scan at the default ``d' = D/4``.

The fixture corpus is an isotropic Gaussian, not an MRL-trained model,
so prefix recall here is the *floor* for this operator (every
coordinate carries equal information, so a d'-dim prefix keeps ~d'/D
of the signal; trained MRL embeddings front-load information into the
prefix by construction). Measured frontier at sf0.1 (N=2000, D=64,
K=20): recall@20 0.11/0.15/0.30/0.51 at d' = 4/8/16/32 with R=3
(bytes saving 0.91/0.85/0.72/0.47), rising to 0.65 at d'=32, R=5 —
monotone in d' exactly as the isotropy argument predicts. Full grid:
``reports/sweep_mrl_frontier.csv``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine
from ..session import ensure_parallelism
from .topk import exact_rerank, topk_per_query

#: default kept prefix dims: D/4 on the D=64 fixture → the cheap pass
#: reads 1/4 of the coordinate bytes (the same 4× step as int8 SQ,
#: taken along the other axis).
MRL_DIMS_FRACTION = 4
#: refinement fetches R·K prefix candidates for the exact re-rank.
MRL_REFINE_R = 3


def mrl_dims(dim: int, fraction: int = MRL_DIMS_FRACTION) -> int:
    """Kept prefix length for a full dimensionality (≥1)."""
    return max(1, dim // fraction)


def mrl_prefix(
    df: DataFrame,
    d_keep: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, prefix): the first ``d_keep`` coordinates. A pure map —
    at rest this is a stored narrow column, not a runtime slice."""
    return ensure_parallelism(df).select(
        F.col(id_col).alias("id"), F.slice(F.col(vec_col), 1, d_keep).alias("prefix")
    )


def mrl_topk(
    queries: DataFrame, corpus: DataFrame, k: int, d_keep: int | None = None
) -> DataFrame:
    """(query_id, rank, neighbor_id, prefix_score): top-K by cosine on
    the d'-dim prefixes alone (descending; ties → neighbor_id). Both
    sides are sliced to the prefix before the scoring join, so the
    join reads d'/D of the vector bytes."""
    if d_keep is None:
        from .simsearch import embedding_dim

        d_keep = mrl_dims(embedding_dim(corpus))
    qp = F.broadcast(
        mrl_prefix(queries, d_keep, "embedding", "query_id").select(
            F.col("id").alias("query_id"), F.col("prefix").alias("qp")
        )
    )
    cp = mrl_prefix(corpus, d_keep, "embedding", "vec_id").select(
        F.col("id").alias("neighbor_id"), F.col("prefix").alias("cp")
    )
    scored = cp.crossJoin(qp).select(
        "query_id", "neighbor_id", cosine("qp", "cp").alias("score")
    )
    out = topk_per_query(scored, k, ascending=False)
    return out.withColumnRenamed("score", "prefix_score")


def mrl_refined_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    r: int = MRL_REFINE_R,
    d_keep: int | None = None,
) -> DataFrame:
    """Precision-on-demand over the prefix: the d'-dim pre-rank admits
    r·K candidates per query; they — and only they — fetch the full
    vector for the exact cosine re-rank (late materialization). Bytes
    touched: N·4·d' prefix bytes + r·K full vectors per query."""
    cand = mrl_topk(queries, corpus, r * k, d_keep=d_keep)
    return exact_rerank(cand, corpus, queries, k)
