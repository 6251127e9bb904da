"""Evaluation metrics (SURVEY §2.4 A1–A3, §2.3 J3).

* Recall@K — mean over queries of |GT ∩ pred| / K
  (reference ``recall_at_k``, ``ANNCode.py:651-660``; set
  intersection becomes an equi-join J3 + count).
* Bandwidth accounting — bytes of the reduced pass plus full-precision
  fetches vs. the all-full baseline (``ANNCode.py:316-319, 368``).
* FPR — fetched-but-not-final candidates over all candidates
  (``ANNCode.py:364-365, 369``; set difference becomes an anti-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.fp16 import byte_model


def recall_at_k(ground: DataFrame, preds: DataFrame, k: int) -> DataFrame:
    """A1: both inputs are top-K frames (query_id, rank, neighbor_id, …).

    Returns a 1-row DataFrame ``(k INT, recall DOUBLE)``. Queries with
    zero hits still count in the mean (left join from the ground-truth
    query set), matching the reference's plain average.
    """
    hits = (
        ground.select("query_id", "neighbor_id")
        .join(preds.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "inner")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    per_query = (
        ground.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k))).alias("recall_q"),
        )
    )
    return per_query.agg(
        F.lit(k).alias("k"), F.avg("recall_q").alias("recall")
    )


def fpr(
    fetched: DataFrame,
    final_topk: DataFrame,
    n_corpus: int,
    n_queries: int,
) -> DataFrame:
    """A3: per-candidate false-positive rate.

    ``fetched`` = (query_id, neighbor_id) pairs whose full-precision
    vector was read; unnecessary = fetched ∖ final (anti-join, the
    distributed form of ``ANNCode.py:364-365``); denominator N·|Q|.
    """
    unnecessary = fetched.select("query_id", "neighbor_id").join(
        final_topk.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_anti",
    )
    denom = float(n_corpus * n_queries)
    return unnecessary.agg((F.count("*") / F.lit(denom)).alias("fpr"))


def bandwidth_saving(
    n_fetched_full: int | float,
    n_corpus: int,
    n_queries: int,
    dim: int,
    keep_m: int,
    keep_e: int = 5,
    red_bytes_override: float | None = None,
) -> float:
    """A2: bandwidth saving of the two-phase scan vs. all-full baseline.

    Bytes model (``ANNCode.py:316-319``): reduced pass costs
    ``(1+keep_e+keep_m)·D/8`` bytes per candidate (or the compressed
    override, ``ANNCode.py:693-704``); every full fetch costs
    ``16·D/8``; baseline reads full precision for every candidate.
    """
    b_full, b_red = byte_model(dim, keep_m, keep_e)
    if red_bytes_override is not None:
        b_red = red_bytes_override
    total = b_red * n_corpus * n_queries + b_full * float(n_fetched_full)
    baseline = b_full * n_corpus * n_queries
    return 1.0 - total / baseline


def _dcg_discount_micro(k: int) -> list[int]:
    """⌊10⁶ / log₂(i+1)⌋ for ranks i = 1..k, computed ONCE in Python so
    Spark and the DuckDB oracle consume identical integer literals —
    no cross-engine log ULP hazard can exist (the bm25 ln rule, taken
    to its limit: the transcendental never runs in either engine)."""
    import math

    return [int(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]


def ranking_metrics(ann: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """A1 extension — graded retrieval quality beyond Recall@K:

    * **MRR@K**: mean over queries of 1/rank of the FIRST relevant
      prediction (relevant = member of the exact top-K);
    * **nDCG@K** (binary gains): Σ relevant 1/log₂(rank+1), normalized
      by the ideal DCG (all K relevant at the top — a constant here
      because the exact top-K always has K members).

    Both are integer-exact cross-engine: per-rank discounts are
    precomputed micro-unit literals (``_dcg_discount_micro``), per-query
    DCG/RR are BIGINT sums/divisions, and only the final mean divides.

    Inputs are top-K frames (query_id, rank, neighbor_id, ...); ann
    ranks 1..K. Queries with no relevant prediction contribute 0 to
    both means (left join from the exact query set).

    The relevance join is guarded against duplicate inputs: ``exact``
    is deduplicated on (query_id, neighbor_id) and ``ann`` is reduced
    to the BEST (min) rank per (query_id, neighbor_id), so a caller
    passing frames with repeated pairs cannot multiply join rows and
    inflate dcg_micro past the ideal (nDCG > 1 with no error). Both
    guards are no-ops on well-formed top-K frames."""
    disc = _dcg_discount_micro(k)
    idcg_micro = sum(disc)
    disc_arr = F.array(*[F.lit(d) for d in disc])
    rel = (
        ann.select("query_id", "rank", "neighbor_id")
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("rank").alias("rank"))
        .join(
            exact.select("query_id", "neighbor_id").distinct(),
            ["query_id", "neighbor_id"],
            "inner",
        )
    )
    per_q = rel.groupBy("query_id").agg(
        F.sum(F.element_at(disc_arr, F.col("rank")).cast("bigint")).alias(
            "dcg_micro"
        ),
        F.min("rank").alias("first_rel"),
    )
    qset = exact.select("query_id").distinct()
    scored = qset.join(per_q, "query_id", "left").select(
        "query_id",
        # explicit floor() before the integer cast on BOTH engines:
        # Spark's double->bigint cast truncates but DuckDB's ROUNDS —
        # floor() is the shared exact step (1000000/6 would otherwise
        # land on 166666 vs 166667)
        F.coalesce(
            F.floor(
                (F.col("dcg_micro") * F.lit(1_000_000)) / F.lit(idcg_micro)
            ).cast("bigint"),
            F.lit(0),
        ).alias("ndcg_micro"),
        F.coalesce(
            F.floor(F.lit(1_000_000) / F.col("first_rel")).cast("bigint"),
            F.lit(0),
        ).alias("rr_micro"),
    )
    return scored.agg(
        F.round(F.sum("rr_micro") / (F.count("*") * F.lit(1_000_000.0)), 6).alias(
            "mrr"
        ),
        F.round(
            F.sum("ndcg_micro") / (F.count("*") * F.lit(1_000_000.0)), 6
        ).alias("ndcg_at_k"),
        F.count("*").alias("n_queries"),
    )
