"""Two-phase "precision-on-demand" top-K refinement (SURVEY §2.6).

The engine's flagship operator family: a top-K similarity join that
first scans a cheap mantissa-truncated copy of the corpus, then fetches
full precision only for candidates that survive a mathematically
bounded early-rejection test ("cushion"). Six cushions, matching the
reference modes (``ANNCode.py:307-647``):

==========  =======================================================  =========
mode        cushion / rejection test                                 safety
==========  =======================================================  =========
cos-hoeff   t = √(2·ln(1/δ))·‖q∘Δᵢ‖₂ ; reject if ŝ + t < τ          tunable δ
cos-l1      b = Σⱼ|qⱼ|Δᵢⱼ ; reject if ŝ + b < τ                      zero-miss
cos-l2      Bᵢ = ‖unit(full)−unit(red)‖₂ ; reject if ŝ + Bᵢ < τ      zero-miss
l2-sym      lower = Σⱼ max(|aⱼ|−Δᵢⱼ,0)² ; reject if lower > τ        zero-miss
l2-tz       sign-aware 3-case piecewise lower bound ; same test       zero-miss
l2-hoeff    lower = ‖a‖² − 2√(2 ln(1/δ))·‖a∘Δᵢ‖₂ ; same test         tunable δ
==========  =======================================================  =========

**Scalable-path semantics (this module):** the reference scans
candidates sequentially per query with an *evolving* threshold
(``ANNCode.py:348-363``), which does not parallelize. Here the
threshold is *fixed* at τ₀ = the K-th exact score of the reduced-order
seed set. For every cushion this fetches a superset of the reference's
fetch set, so: zero-miss modes return the **identical final top-K**
(= exact top-K over the fp16 corpus); Hoeffding modes return recall ≥
the reference's. Bandwidth saving is a lower bound on the reference's
(``order_sensitive=False``). The per-query sequential replica that
reproduces the reference's evolving-threshold metrics exactly lives in
``refine_replica.py``.

**Documented deviations from the reference** (SURVEY §2.6 quirks):

* ``cos-l2`` here builds B from the fp16-rounded corpus; the reference
  feeds the raw float32 corpus to this one mode only
  (``ANNCode.py:849`` vs ``:825``) — the engine uses fp16 everywhere.
* Cushion arithmetic is DOUBLE (reference: float32). Bounds remain
  valid; survivor sets can differ on candidates within one float32
  ulp of the threshold.
* The sign used by the tz bound is taken from the *raw* coordinate
  (``x < 0``), which equals ``np.signbit`` of the truncated value for
  every input except an exact raw ``-0.0`` (measure-zero; reference
  ``ANNCode.py:513``).

**Guarantee domain (found by the property tests,**
``tests/test_refine.py``): the l2 zero-miss theorem holds for ANY
float32 input — the Δ coupling is direct. The *cosine* zero-miss
theorem additionally requires each vector to keep at least one
fp16-normal-scale coordinate: the reduced corpus is renormalized by
its OWN norm (mirroring the reference, ``ANNCode.py:744/828``), so a
vector whose coordinates are all subnormal collapses to a different
direction after truncation and the per-coordinate Δ bound no longer
covers the normalization drift — a boundary of the reference's own
math, inherited by design for parity.

**Physical plan** (what Catalyst sees): broadcast queries → cross join
against the *reduced columns only* (column pruning keeps full
precision unread) → salted two-phase window for the seed → broadcast
join of the tiny seed/survivor sets back to the full-precision column
(late materialization, J2) → final window. Shuffles: the seed rank
(on (query_id, shard)) and two joins of K-to-survivor-sized frames.

**Candidate sources** (README.md:11: the method is "orthogonal to index
choice"): ``cushion_topk(source, ...)`` composes any index with the
same re-scorer. :data:`CANDIDATE_SOURCES` maps each source name (ivf,
ivfadc, rabitq, lsh, lsh_multiprobe, graph, cascade, mrl) to the metric
space its pre-rank orders by and a function that yields its
``(query_id, vec_id)`` candidate stream; ``refine_topk(candidate_ids=
...)`` then prices the exact re-scoring of that stream. Adding an index
family is one table row.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.fp16 import (
    FP16_EXP_BITS,
    byte_model,
    with_fp16_rounded,
    with_reduced_precision,
)
from ..session import ensure_parallelism
from ..functions.vector import NORM_EPS, delta_from_exp_col, dot, l2_norm, unit
from .topk import topk_per_query

MODES = ("cos-hoeff", "cos-l1", "cos-l2", "l2-sym", "l2-tz", "l2-hoeff")

_EPS = 1e-12


def is_cosine(mode: str) -> bool:
    return mode.startswith("cos-")


def hoeff_const(delta: float) -> float:
    """√(2·ln(1/δ)) (``ANNCode.py:321``)."""
    assert 0.0 < delta < 1.0
    return math.sqrt(2.0 * math.log(1.0 / float(delta)))


# ---------------------------------------------------------------------------
# Corpus / query preparation
# ---------------------------------------------------------------------------

def prepare_corpus(
    corpus: DataFrame,
    keep_m: int,
    mode: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Materialize the per-row derived columns a refinement scan needs.

    Output columns (beyond ``vec_id``/raw): ``full`` (the exact-fetch
    representation), ``redv`` (the cheap-pass representation), ``delta``
    (per-coordinate error radii), and for cos-l2 the per-row constant
    ``bconst``. In production these are written once per ``keep_m`` as
    separate Parquet columns (paper §3.3 disaggregated placement); the
    cheap pass then scans only (redv, delta)-backed pages.
    """
    corpus = ensure_parallelism(corpus)
    df = with_reduced_precision(
        with_fp16_rounded(corpus.select(id_col, vec_col), vec_col, out_col="vec16"),
        keep_m,
        vec_col=vec_col,
    )
    delta_col = delta_from_exp_col("kept_exp", keep_m)
    if is_cosine(mode):
        # norms hoisted into their own projection: inside a transform
        # lambda the fold would re-evaluate per element (measured 4×
        # slower); as outer attributes they evaluate once per row and
        # the division lambda just reads the slot
        df = (
            df.withColumn("__n16", F.greatest(l2_norm("vec16"), F.lit(NORM_EPS)))
            .withColumn("__nred", F.greatest(l2_norm("red"), F.lit(NORM_EPS)))
            .select(
                id_col,
                vec_col,
                F.transform("vec16", lambda v: v.cast("double") / F.col("__n16")).alias("full"),
                F.transform("red", lambda v: v.cast("double") / F.col("__nred")).alias("redv"),
                delta_col.alias("delta"),
            )
        )
        # bconst is computed for the whole cosine space (not just
        # cos-l2) so one prepared frame serves every cosine mode from
        # the cache; it is one of the per-row columns the production
        # layout materializes anyway. Non-l2 modes never select it, so
        # column pruning keeps it out of their scans when uncached.
        diff = F.zip_with("full", "redv", lambda a, b: a - b)
        df = df.withColumn("bconst", l2_norm(diff))
    else:
        df = df.select(
            id_col,
            vec_col,
            F.transform("vec16", lambda v: v.cast("double")).alias("full"),
            F.transform("red", lambda v: v.cast("double")).alias("redv"),
            delta_col.alias("delta"),
        )
    return df


#: metrics phase-1 frames keyed per session by (source key, mode, k,
#: keep_m, delta) via ``session.session_cache``: the (scored, fetched)
#: scalar frames that every byte-model variant of one operating point
#: shares (keep_e / compression overrides change only the per-vector
#: byte constants). Released by ``session.clear_caches``.
def _scored_cache(spark) -> dict:
    from ..session import session_cache

    return session_cache(spark, "refine_scored")


def _ids(df: DataFrame) -> DataFrame:
    return df.select("query_id", "neighbor_id")


def prepare_corpus_cached(
    corpus: DataFrame, keep_m: int, mode: str, cache_key: str | None = None
) -> DataFrame:
    """Persisted, memoized ``prepare_corpus``, keyed per session by
    (source key, keep_m, space): the local analog of the production
    layout, where the reduced/full/Δ columns are written once per
    keep_m as separate parquet columns (paper §3.3) and every
    refinement query reads the same files instead of re-running the
    FP16 reduction. One frame per metric space — cosine frames carry
    bconst so all three cos modes share one entry. Released by
    ``session.clear_caches``.

    ``cache_key`` identifies the corpus source (e.g. the fixture
    dir); ``None`` just persists (caller owns the unpersist)."""
    from ..session import session_cache

    space = "cos" if is_cosine(mode) else "l2"
    if cache_key is None:
        return prepare_corpus(corpus, keep_m, mode).persist()
    cache = session_cache(corpus.sparkSession, "refine_prepared")
    key = (cache_key, keep_m, space)
    df = cache.get(key)
    if df is None:
        df = prepare_corpus(corpus, keep_m, mode).persist()
        cache[key] = df
    return df


def prepare_queries(queries: DataFrame, mode: str, vec_col: str = "embedding") -> DataFrame:
    """Cosine queries run in unit space (``ANNCode.py:312``); Euclidean
    queries stay in value space, raw precision (``ANNCode.py:542``)."""
    expr = unit(vec_col) if is_cosine(mode) else F.transform(
        vec_col, lambda v: v.cast("double")
    )
    return queries.select("query_id", expr.alias("q"))


# ---------------------------------------------------------------------------
# Cushion expressions (P8) — all Column-level, evaluated inside the join
# ---------------------------------------------------------------------------

def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def cushion_expr(mode: str, delta_param: float | None) -> Column:
    """The additive cushion (cosine) or subtractive slack (L2).

    Operates on columns ``q`` (query vector), ``redv``, ``delta``,
    ``embedding`` (raw, for tz signs), ``bconst``, ``s_hat``.
    """
    if mode == "cos-hoeff":
        qd = F.zip_with("q", "delta", lambda q, d: q * d.cast("double"))
        return F.lit(hoeff_const(delta_param)) * F.sqrt(
            _fold_sum(F.transform(qd, lambda v: v * v))
        )
    if mode == "cos-l1":
        return _fold_sum(
            F.zip_with("q", "delta", lambda q, d: F.abs(q) * d.cast("double"))
        )
    if mode == "cos-l2":
        return F.col("bconst")
    raise ValueError(f"no additive cushion for mode {mode!r}")


def l2_lower_bound_expr(mode: str, delta_param: float | None) -> Column:
    """Lower bound on the exact squared distance (L2 modes).

    ``a = q − redv`` is the reduced residual (``ANNCode.py:546``).
    """
    a = F.zip_with("q", "redv", lambda q, r: q - r)
    if mode == "l2-sym":
        # Σ max(|a|−Δ, 0)²   (``_lb_sym``, ANNCode.py:500-505)
        def sym_term(x, d):
            lower = F.greatest(F.abs(x) - d.cast("double"), F.lit(0.0))
            return lower * lower

        return _fold_sum(F.zip_with(a, "delta", sym_term))
    if mode == "l2-tz":
        # sign-aware 3-case bound (``_lb_tz``, ANNCode.py:508-522):
        # s = sign of the truncated coordinate; b = a·s;
        # b ≤ 0 → a², 0 < b < Δ → 0, b ≥ Δ → (|a|−Δ)²
        z = F.arrays_zip(a.alias("a"), F.col("delta").alias("d"), F.col("embedding").alias("raw"))
        def term(p):
            s = F.when(p["raw"].cast("double") < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
            b = p["a"] * s
            d = p["d"].cast("double")
            return (
                F.when(b <= 0, p["a"] * p["a"])
                .when(b < d, F.lit(0.0))
                .otherwise((F.abs(p["a"]) - d) * (F.abs(p["a"]) - d))
            )
        return _fold_sum(F.transform(z, term))
    if mode == "l2-hoeff":
        # ‖a‖² − 2·√(2 ln(1/δ))·‖a∘Δ‖₂   (ANNCode.py:630-632)
        ad = F.zip_with(a, "delta", lambda x, d: x * d.cast("double"))
        return F.col("d2_hat") - F.lit(2.0 * hoeff_const(delta_param)) * F.sqrt(
            _fold_sum(F.transform(ad, lambda v: v * v))
        )
    raise ValueError(f"no l2 lower bound for mode {mode!r}")


# ---------------------------------------------------------------------------
# The operator
# ---------------------------------------------------------------------------

@dataclass
class RefineResult:
    """Lazy DataFrames; nothing is executed until an action runs."""

    topk: DataFrame      # (query_id, rank, neighbor_id, score)
    fetched: DataFrame   # (query_id, neighbor_id) whose full vector was read
    scored: DataFrame    # phase-1 frame (diagnostics)


def refine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    mode: str,
    k: int,
    keep_m: int,
    delta: float | None = None,
    prepared_corpus: DataFrame | None = None,
    cache_key: str | None = None,
    candidate_ids: DataFrame | None = None,
) -> RefineResult:
    """Run one refinement mode end to end (scalable fixed-τ₀ path).

    ``candidate_ids`` (optional ``(query_id, vec_id)`` pairs, assumed
    distinct) restricts phase 1 to a per-query candidate stream — the
    production composition where an index (IVF cells, LSH bands, a
    graph walk) generates candidates and the cushioned refinement
    prices their re-scoring (README.md:11 "orthogonal to index
    choice"). Seeds, τ₀, and the zero-miss guarantee are then all
    relative to the candidate stream: the result equals an exact
    re-rank of the same candidates, at reduced fetched bytes.

    Edge case: a query whose candidate stream is EMPTY disappears from
    ``topk``/``fetched``/``scored`` entirely (the joins are inner) —
    it does not surface as an empty group. Callers that must
    distinguish "no candidates" from "not queried" should left-join
    their query universe against the result (``ann_recall`` does
    exactly this, counting such queries as recall 0). On the fixtures
    every query self-matches in its own cell/band, so the case never
    arises in the registered compositions."""
    if mode not in MODES:
        raise ValueError(f"unknown mode {mode!r}; expected one of {MODES}")
    cos = is_cosine(mode)
    if prepared_corpus is not None:
        corp = prepared_corpus
    else:
        # the prepared corpus feeds three plan branches (phase-1 scan,
        # seed fetch, survivor fetch) and — via the cache — every other
        # refine query over the same (source, keep_m)
        corp = prepare_corpus_cached(corpus, keep_m, mode, cache_key)
    qs = prepare_queries(queries, mode)

    # ---- phase 1: cheap pass over the reduced representation (J1) ----
    # only l2-tz reads the raw column (truncation signs); carrying it
    # for the other five modes would widen the cheap-pass scan for no
    # reason — the whole point of the reduced layout is NOT reading it
    reduced_cols = (
        ["vec_id", "redv", "delta"]
        + (["embedding"] if mode == "l2-tz" else [])
        + (["bconst"] if mode == "cos-l2" else [])
    )
    if candidate_ids is None:
        pairs = corp.select(*reduced_cols).crossJoin(F.broadcast(qs))
    else:
        # candidate stream: equi-join on vec_id prunes the cheap pass
        # to the index's candidates (at scale: a partition-pruned scan
        # of the probed cells), queries still broadcast
        pairs = candidate_ids.join(corp.select(*reduced_cols), "vec_id").join(
            F.broadcast(qs), "query_id"
        )
    if cos:
        pairs = pairs.withColumn("s_hat", dot("redv", "q"))
        phase1_score, ascending = "s_hat", False
        # admit when s_hat + cushion >= tau0 ⇔ admit_score >= tau0
        admit = F.col("s_hat") + cushion_expr(mode, delta)
    else:
        d2_hat = _fold_sum(
            F.transform(F.zip_with("q", "redv", lambda q, r: q - r), lambda v: v * v)
        )
        pairs = pairs.withColumn("d2_hat", d2_hat)
        phase1_score, ascending = "d2_hat", True
        # admit when the distance lower bound <= tau0
        admit = l2_lower_bound_expr(mode, delta)

    # The phase-1 scan feeds two consumers (seed rank, cushion filter).
    # Reduce each pair to three scalars and cache that, so the array
    # arithmetic (scores + cushions, the expensive folds) runs exactly
    # once per pair. At production scale this frame is q·N scalars —
    # MEMORY_AND_DISK-spillable and far smaller than re-reading the
    # reduced vector pages for a second scoring pass.
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.col(phase1_score).alias("red_score"),
        admit.alias("admit_score"),
    ).persist()

    # ---- seed: best K under the reduced score (W5) ----
    seed_ids = topk_per_query(
        scored.select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.col("red_score").alias("score")),
        k,
        ascending=ascending,
    ).select("query_id", "neighbor_id")

    exact_score = _exact_score_expr(cos)
    full_side = corp.select(F.col("vec_id").alias("neighbor_id"), "full")
    seed_exact = (
        seed_ids.join(full_side, "neighbor_id")
        .join(F.broadcast(qs), "query_id")
        .select("query_id", "neighbor_id", exact_score.alias("score"))
    )

    # τ₀ = K-th best exact seed score: the fixed admission threshold.
    tau0 = seed_exact.groupBy("query_id").agg(
        (F.min("score") if cos else F.max("score")).alias("tau0")
    )

    # ---- cushion filter over non-seed candidates (P8) ----
    rest = scored.join(
        F.broadcast(seed_ids.withColumnRenamed("neighbor_id", "vec_id")),
        ["query_id", "vec_id"],
        "left_anti",
    ).join(F.broadcast(tau0), "query_id")
    if cos:
        admitted = rest.where(F.col("admit_score") >= F.col("tau0"))
    else:
        admitted = rest.where(F.col("admit_score") <= F.col("tau0"))

    # ---- phase 2: late materialization of full precision (J2) ----
    surv_exact = (
        admitted.select("query_id", F.col("vec_id").alias("neighbor_id"))
        .join(full_side, "neighbor_id")
        .join(F.broadcast(qs), "query_id")
        .select("query_id", "neighbor_id", exact_score.alias("score"))
    )

    candidates = seed_exact.unionByName(surv_exact)
    final = topk_per_query(candidates, k, ascending=not cos, salted=False)
    fetched = candidates.select("query_id", "neighbor_id")
    # diagnostics expose the persisted scalar frame (one row per pair),
    # not the wide pre-projection plan, so downstream consumers reuse
    # the cached partitions instead of re-running the array folds
    return RefineResult(topk=final, fetched=fetched, scored=scored)


def _exact_score_expr(cos: bool) -> Column:
    if cos:
        return dot("full", "q")
    return _fold_sum(
        F.transform(F.zip_with("q", "full", lambda q, v: q - v), lambda v: v * v)
    )


def refine_metrics(
    queries: DataFrame,
    corpus: DataFrame,
    mode: str,
    k: int,
    keep_m: int,
    delta: float | None = None,
    keep_e: int = FP16_EXP_BITS,
    red_bytes_override: float | None = None,
    dim: int | None = None,
    cache_key: str | None = None,
    prepared_corpus: DataFrame | None = None,
) -> DataFrame:
    """One metrics row ``(mode, m_keep, delta, recall, save, fpr)`` —
    the reference's sweep-CSV schema (``ANNCode.py:735``).

    Bytes model per ``ANNCode.py:316-319``: every candidate pays the
    reduced bytes; every fetched candidate pays full bytes on top;
    baseline reads full bytes for every candidate. ``keep_e`` enters
    the byte model only — like the reference CLI, whose refinement
    values always come from the keep-exponent reduction
    (``ANNCode.py:827`` vs ``:316``). Recall is measured against the
    exact top-K on the fp16 corpus (``ANNCode.py:836-839``). All
    counts are computed as Spark aggregates — no driver loops.
    """
    if dim is None:
        # derive from the data (ArrayType schemas carry no length) —
        # nothing bakes the fixture's D=64 into the byte model
        from .simsearch import embedding_dim

        dim = embedding_dim(corpus)
    row, intermediates = _refine_metrics_with_frames(
        queries, corpus, mode, k, keep_m, delta, keep_e, red_bytes_override,
        dim, cache_key, prepared_corpus,
    )
    return row


def _refine_metrics_with_frames(
    queries: DataFrame,
    corpus: DataFrame,
    mode: str,
    k: int,
    keep_m: int,
    delta: float | None,
    keep_e: int,
    red_bytes_override: float | None,
    dim: int,
    cache_key: str | None,
    prepared_corpus: DataFrame | None,
) -> tuple[DataFrame, list[DataFrame]]:
    """``refine_metrics`` body; also returns the internally persisted
    frames so eager callers (the sweep) can unpersist them after the
    row is collected.

    Phase 1 (the fused pair scan and the fetch-set decision) depends
    only on ``(mode, k, keep_m, delta)`` — ``keep_e`` and
    ``red_bytes_override`` enter the byte constants *after* the scan —
    so for keyed callers the ``(scored, fetched)`` pair is memoized in
    the scored-frame session cache and shared across byte-model variants of the same
    operating point (base vs ``--ekeep`` vs compression-override rows,
    ``ANNCode.py:827-833``). Keyed cache hits return no intermediates:
    the cached frames stay persisted for later variants."""
    cos = is_cosine(mode)
    key = (cache_key, mode, k, keep_m, delta) if cache_key is not None else None
    scache = _scored_cache(queries.sparkSession)
    cached = scache.get(key) if key is not None else None
    if cached is not None:
        scored, fetched = cached
    else:
        if prepared_corpus is not None:
            corp = prepared_corpus
        elif cache_key is not None:
            corp = prepare_corpus_cached(corpus, keep_m, mode, cache_key)
        else:
            # uncached callers consume the prepared corpus exactly once
            # (the fused pairs scan below), so no persist
            corp = prepare_corpus(corpus, keep_m, mode)
        qs = prepare_queries(queries, mode)

        # ---- one fused scan: reduced score, exact score, admission bound ----
        # The metrics operator must rank *every* candidate by exact score
        # anyway (ground truth), so unlike ``refine_topk`` there is nothing
        # to gain from keeping the full-precision column unread: compute
        # both representations' scores and the cushion in a single pass and
        # reduce each pair to four scalars. The cached frame is
        # O(|Q|·N) scalars (no vectors); at production scale this is the
        # sweep's intermediate you would write to Parquet once per
        # (mode, m) grid point rather than cache.
        pair_cols = (
            ["vec_id", "redv", "delta", "full"]
            + (["embedding"] if mode == "l2-tz" else [])
            + (["bconst"] if mode == "cos-l2" else [])
        )
        pairs = corp.select(*pair_cols).crossJoin(F.broadcast(qs))
        if cos:
            pairs = pairs.withColumn("s_hat", dot("redv", "q"))
            red_score = F.col("s_hat")
            # admit when s_hat + cushion >= tau0 ⇔ admit_score >= tau0
            admit = F.col("s_hat") + cushion_expr(mode, delta)
        else:
            pairs = pairs.withColumn(
                "d2_hat",
                _fold_sum(
                    F.transform(F.zip_with("q", "redv", lambda q, r: q - r), lambda v: v * v)
                ),
            )
            red_score = F.col("d2_hat")
            # admit when lower bound <= tau0
            admit = l2_lower_bound_expr(mode, delta)
        scored = pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            red_score.alias("red_score"),
            _exact_score_expr(cos).alias("exact_score"),
            admit.alias("admit_score"),
        ).persist()

        # seed (W5): salted two-phase rank over the cached scalar frame
        seed = _ids(
            topk_per_query(
                scored.select("query_id", "neighbor_id", F.col("red_score").alias("score")),
                k,
                ascending=not cos,
            )
        )

        # τ₀ = K-th best exact score within the seed set
        tau0 = (
            scored.join(F.broadcast(seed), ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg((F.min if cos else F.max)("exact_score").alias("tau0"))
        )

        # fetched = seed ∪ admitted survivors (P8 over the cached scalars)
        flagged = (
            scored.join(
                F.broadcast(seed.withColumn("__seed", F.lit(True))),
                ["query_id", "neighbor_id"],
                "left",
            )
            .join(F.broadcast(tau0), "query_id")
            .withColumn(
                "fetched",
                F.coalesce(F.col("__seed"), F.lit(False))
                | (
                    (F.col("admit_score") >= F.col("tau0"))
                    if cos
                    else (F.col("admit_score") <= F.col("tau0"))
                ),
            )
        )
        fetched = flagged.where("fetched").persist()
        if key is not None:
            scache[key] = (scored, fetched)

    # ground truth (W1/W2): exact-score rank over the cached scalars
    gt = _ids(
        topk_per_query(
            scored.select("query_id", "neighbor_id", F.col("exact_score").alias("score")),
            k,
            ascending=not cos,
        )
    )

    # final top-K among fetched candidates (W6)
    final = _ids(
        topk_per_query(
            fetched.select("query_id", "neighbor_id", F.col("exact_score").alias("score")),
            k,
            ascending=not cos,
        )
    )

    b_full, b_red = byte_model(dim, keep_m, keep_e)
    if red_bytes_override is not None:
        b_red = red_bytes_override

    # one counting pass over the fetch set + one over the pair frame
    per_fetch = (
        fetched.join(
            F.broadcast(final.withColumn("__final", F.lit(True))),
            ["query_id", "neighbor_id"],
            "left",
        )
        .join(
            F.broadcast(gt.withColumn("__gt", F.lit(True))),
            ["query_id", "neighbor_id"],
            "left",
        )
        .agg(
            F.count("*").alias("n_fetched"),
            F.count(F.when(F.col("__final") & F.col("__gt"), 1)).alias("n_hits"),
            F.count(F.when(F.col("__final").isNull(), 1)).alias("n_unnecessary"),
        )
    )
    totals = scored.agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct("query_id").alias("n_q"),
    )

    stats = per_fetch.crossJoin(totals)
    total_bytes = F.lit(b_red) * F.col("n_pairs") + F.lit(b_full) * F.col("n_fetched")
    baseline = F.lit(b_full) * F.col("n_pairs")
    row = stats.select(
        F.lit(mode).alias("mode"),
        F.lit(keep_m).alias("m_keep"),
        F.lit(float(delta) if delta is not None else 0.0).alias("delta"),
        (F.col("n_hits") / (F.col("n_q") * F.lit(float(k)))).alias("recall"),
        (F.lit(1.0) - total_bytes / baseline).alias("save"),
        (F.col("n_unnecessary") / F.col("n_pairs")).alias("fpr"),
    )
    return row, ([] if key is not None else [scored, fetched])




# ---------------------------------------------------------------------------
# Index × cushion compositions: candidate sources
# ---------------------------------------------------------------------------

def _as_vec_ids(df: DataFrame) -> DataFrame:
    return df.select("query_id", F.col("neighbor_id").alias("vec_id"))


def _ivf_candidates(queries, corpus, prepared, k, nprobe=None):
    """Every vector in the query's ``nprobe`` nearest IVF cells."""
    from .simsearch import IVF_NPROBE, ivf_assign, ivf_centroids, ivf_probes

    cents = ivf_centroids(corpus)
    assigned = ivf_assign(corpus, cents)
    probes = ivf_probes(queries, cents, IVF_NPROBE if nprobe is None else nprobe)
    return F.broadcast(probes.select("query_id", "cell")).join(
        assigned.select("vec_id", "cell"), "cell"
    ).select("query_id", "vec_id")


def _ivfadc_candidates(queries, corpus, prepared, k):
    """The R·K-deep ADC pre-rank over IVFADC residual codes."""
    from .pq import PQ_REFINE_R, ivfadc_candidates

    return _as_vec_ids(ivfadc_candidates(queries, corpus, PQ_REFINE_R * k))


def _rabitq_candidates(queries, corpus, prepared, k):
    """The R·K-deep RaBitQ estimator pre-rank over rotated sign codes."""
    from .rabitq import RABITQ_REFINE_R, rabitq_candidates

    return _as_vec_ids(rabitq_candidates(queries, corpus, RABITQ_REFINE_R * k))


def _lsh_pairs(qb: DataFrame, corpus: DataFrame, dim: int) -> DataFrame:
    from .simsearch import lsh_corpus_bands

    cb = lsh_corpus_bands(corpus, dim=dim)
    return (
        qb.alias("q")
        .join(cb.alias("c"), ["band", "bkey"])
        .select(F.col("q.id").alias("query_id"), F.col("c.id").alias("vec_id"))
        .distinct()
    )


def _lsh_candidates(queries, corpus, prepared, k):
    """Every vector sharing a hyperplane-LSH band bucket with the query."""
    from .simsearch import embedding_dim, lsh_signature_bands

    dim = embedding_dim(corpus)
    qb = lsh_signature_bands(
        queries.select("query_id", "embedding"), "embedding", "query_id", dim=dim
    )
    return _lsh_pairs(qb, corpus, dim)


def _lsh_multiprobe_candidates(queries, corpus, prepared, k):
    """LSH buckets plus the buckets reached by flipping each band's
    lowest-margin signature bits (query side only)."""
    from .simsearch import embedding_dim, lsh_multiprobe_bands

    dim = embedding_dim(corpus)
    qb = lsh_multiprobe_bands(
        queries.select("query_id", "embedding"), "embedding", "query_id", dim=dim
    )
    return _lsh_pairs(qb, corpus, dim)


def _graph_candidates(queries, corpus, prepared, k, edges=None):
    """Everything a beam walk visits when it ranks its frontier by the
    REDUCED dot product (the walk never reads full precision — the
    HNSW-with-codes deployment shape). ``edges`` replaces the banded
    KNN graph with an explicit ``(src, dst)`` frame, e.g. the α-pruned
    Vamana graph."""
    from .simsearch import GRAPH_DEGREE, beam_candidates, symmetric_knn_edges

    if edges is None:
        edges = symmetric_knn_edges(corpus, GRAPH_DEGREE)
    # unit-normalized queries: the walk's score is reduced cosine
    qs = prepare_queries(queries, "cos-l1")
    walk = beam_candidates(
        qs, prepared.select("vec_id", "redv"), edges, score=dot("redv", "q")
    )
    return walk.select("query_id", "vec_id")


def _cascade_candidates(queries, corpus, prepared, k):
    """The 1-bit Hamming admit → int8 recon-cosine narrow cascade."""
    from .bq import cascade_candidates

    return _as_vec_ids(cascade_candidates(queries, corpus, k))


def _mrl_candidates(queries, corpus, prepared, k):
    """The R·K-deep Matryoshka prefix-cosine pre-rank."""
    from .mrl import MRL_REFINE_R, mrl_topk

    return _as_vec_ids(mrl_topk(queries, corpus, MRL_REFINE_R * k))


#: source name → (metric space its pre-rank orders by, or None when the
#: candidate set does not depend on a metric; candidate function). A
#: candidate function takes ``(queries, corpus, prepared corpus, k,
#: **params)`` and returns distinct ``(query_id, vec_id)`` pairs.
CANDIDATE_SOURCES = {
    "ivf": (None, _ivf_candidates),
    "ivfadc": ("l2", _ivfadc_candidates),
    "rabitq": ("cos", _rabitq_candidates),
    "lsh": (None, _lsh_candidates),
    "lsh_multiprobe": (None, _lsh_multiprobe_candidates),
    "graph": ("cos", _graph_candidates),
    "cascade": ("cos", _cascade_candidates),
    "mrl": ("cos", _mrl_candidates),
}


def cushion_topk(
    source: str,
    queries: DataFrame,
    corpus: DataFrame,
    mode: str,
    k: int,
    keep_m: int,
    delta: float | None = None,
    cache_key: str | None = None,
    **params,
) -> RefineResult:
    """Index candidate generation × cushioned precision-on-demand
    refinement (README.md:11: the method is "orthogonal to index
    choice"). ``source`` names a :data:`CANDIDATE_SOURCES` entry; its
    candidate stream restricts ``refine_topk``'s phase 1, which then
    fetches full precision only for seeds and cushion-admitted
    survivors. ``params`` go to the candidate function (``nprobe`` for
    ivf, ``edges`` for graph).

    Zero-miss composition law (test- and oracle-checked): the result
    equals the exact (fp16) re-rank of the same candidates, so recall
    against the full-corpus top-K is exactly the index's own candidate
    recall — the cushion loses nothing on top of the pruning.

    A source whose pre-rank orders by one metric refuses a mode of the
    other family: the cushion would silently re-rank, say, an L2
    pre-rank by cosine."""
    if source not in CANDIDATE_SOURCES:
        raise ValueError(
            f"unknown candidate source {source!r}; expected one of "
            f"{sorted(CANDIDATE_SOURCES)}"
        )
    space, candidates = CANDIDATE_SOURCES[source]
    if space is not None and space != ("cos" if is_cosine(mode) else "l2"):
        raise ValueError(
            f"the {source} candidate source pre-ranks in {space} space; "
            f"use a {space}-* mode"
        )
    prepared = prepare_corpus_cached(corpus, keep_m, mode, cache_key)
    cand_ids = candidates(queries, corpus, prepared, k, **params)
    return refine_topk(
        queries,
        corpus,
        mode,
        k,
        keep_m,
        delta,
        prepared_corpus=prepared,
        candidate_ids=cand_ids,
    )


# kept because perfbench/workloads.py calls the IVF composition by this
# name and call shape
ivf_cushion_topk = partial(cushion_topk, "ivf")
