"""Scalar quantization (SQ, int8) — the fourth reduced-precision
corpus representation, completing the precision ladder alongside FP16
mantissa-keep / exponent truncation (``functions/fp16.py``) and
product quantization (``operators/pq.py``). Same bandwidth-first
theme as the reference (paper §3; ``ANNCode.py:195-242`` reduces
per-coordinate precision) realized as the int8 tier every production
vector store ships: 4× fewer bytes at rest and per scan than FP32.

Per-vector symmetric scaling: each row stores ``codes =
round(v · 127 / s)`` with its own scale ``s = max|vⱼ|``. Choosing the
scale per row (instead of a trained global scale) keeps the encode a
**pure map** — no global aggregation, no shuffle, no training
artifact — so at 100 TB the codes table is a single streaming pass
over the corpus, and heterogeneous row norms don't blow the
quantization error budget the way one corpus-wide scale would.

Query path (precision-on-demand, the reference's core loop):

* **ADC scoring** — d²(q, recon) with ``recon = codes · s / 127``
  rebuilt row-locally from the stored pair; same strict DOUBLE
  ``dist2`` fold as the exact path, so the DuckDB twin is
  bit-identical.
* **Refinement** — SQ scores pick top-(R·K) per query from codes;
  only survivors fetch full precision for the exact re-rank (late
  materialization, reference phase-2 ``ANNCode.py:560-575``).

Rounding is ``floor(x + 0.5)`` (round-half-up) in both engines —
Spark's ``round`` and DuckDB's ``round`` disagree on ties for
negative values, so neither is used.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import ensure_parallelism
from .topk import exact_rerank

SQ_LEVELS = 127   #: symmetric int8 code range [-127, 127]
SQ_EPS = 1e-12    #: guards the all-zero vector (s = 0)
SQ_REFINE_R = 3   #: refinement fetches R*K candidates for exact re-rank


def _scale_col(vec: Column) -> Column:
    """Per-row scale s = max|vⱼ| (DOUBLE fold, ε-guarded)."""
    return F.greatest(
        F.aggregate(
            vec,
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
        ),
        F.lit(SQ_EPS),
    )


def sq_encode(corpus: DataFrame) -> DataFrame:
    """(vec_id, s, codes array<int>): the int8 sketch. A pure map over
    the corpus scan — the shape a 100 TB pipeline materializes once as
    the cheap-pass scan target (64 code bytes + one scale vs 256 raw
    bytes per D=64 vector)."""
    vec = F.col("embedding")
    s = _scale_col(vec)
    codes = F.transform(
        vec,
        lambda x: F.greatest(
            F.lit(-SQ_LEVELS),
            F.least(
                F.lit(SQ_LEVELS),
                F.floor(x.cast("double") * SQ_LEVELS / s + F.lit(0.5)).cast("int"),
            ),
        ),
    )
    return ensure_parallelism(corpus).select(
        "vec_id", s.alias("s"), codes.alias("codes")
    )


def sq_reconstruct(corpus: DataFrame) -> DataFrame:
    """(vec_id, recon array<double>): the decoded form,
    reconₖ = codeₖ · s / 127 — row-local, no join."""
    enc = sq_encode(corpus)
    return enc.select(
        "vec_id",
        F.transform(
            "codes", lambda c: c.cast("double") * F.col("s") / F.lit(float(SQ_LEVELS))
        ).alias("recon"),
    )


def sq_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """ADC top-K from the int8 representation alone (squared L2 on
    the reconstruction, ascending; ties on neighbor_id) — the PQ
    code-scoring stage (``pq.adc_topk``) over the int8 decode."""
    from .pq import adc_topk

    return adc_topk(sq_reconstruct(corpus), queries, k)


def ivfsq_topk(
    queries: DataFrame, corpus: DataFrame, k: int, r: int = SQ_REFINE_R
) -> DataFrame:
    """IVF × SQ composition (squared L2 end-to-end): coarse cells
    prune the scan, int8 reconstructions price the candidates, full
    precision refines the top r·K — the 4×-compression sibling of
    ``pq.ivfpq_topk`` (same cell pruning, codes 8× larger but ADC
    recall 0.99 vs 0.40 on this corpus; the ladder's middle rung
    composed with the index)."""
    from .pq import ivf_adc_topk

    return ivf_adc_topk(queries, corpus, sq_reconstruct(corpus), k, r)


def sq_refined_topk(
    queries: DataFrame, corpus: DataFrame, k: int, r: int = SQ_REFINE_R
) -> DataFrame:
    """Precision-on-demand over SQ: the int8 ADC pass ranks the whole
    corpus; the top r·K per query — and only they — fetch full
    precision for the exact re-rank. Bytes touched: N/4 + r·K full
    vectors per query, vs N full vectors for brute force."""
    return exact_rerank(sq_topk(queries, corpus, r * k), corpus, queries, k, "l2")
