"""Declared query registry: the correctness surface of the engine.

Every operator from SURVEY.md §2 that is SQL-expressible appears here
twice: as a Spark callable ``(spark, sf_dir) -> DataFrame`` in
``QUERIES`` and as an equivalent DuckDB SQL string in ``ORACLES``.
The driver hash-compares the two at sf=0.01 (row count + schema +
order-insensitive value hash), so:

* every computed column is aliased identically on both sides,
* all float math is DOUBLE with strict left-to-right folds
  (bit-identical between Spark ``aggregate``/``zip_with`` and DuckDB
  ``list_sum(list_transform(...))`` — verified empirically),
* presented floats are rounded to 6 decimals; ranking happens on the
  unrounded (bit-identical) values,
* every top-K breaks ties by ``neighbor_id`` (FIXTURES.md §C).

Non-SQL-expressible operators (bit-exact FP16 pandas UDFs, stateful
streaming) are registered in ``QUERIES`` only → the driver records the
weaker rows-only check, as SURVEY §2 prescribes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.fp16 import byte_model, with_reduced_precision
from .functions.vector import delta_from_exp_col, l2_norm, unit
from .operators.metrics import recall_at_k
from .operators.refine import MODES, refine_metrics, refine_topk
from .operators.topk import exact_topk, exact_topk_fixture_cached
from .plans import duck_oracle
from .sources.fixtures import (
    FIXTURE_EMBED_DIM,
    QUERY_STRIDE,
    load_table,
    queries_view,
)

K_DEFAULT = 20   # reference CLI default, ANNCode.py:798
KEEP_M_DEFAULT = 6   # reference CLI default, ANNCode.py:799
DELTA_DEFAULT = 0.7  # reference CLI default, ANNCode.py:801


# ---------------------------------------------------------------------------
# DuckDB SQL building blocks (kept as python f-string helpers so every
# oracle uses the exact same fold shapes).
# ---------------------------------------------------------------------------

def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def _sql_sq_norm(a: str) -> str:
    return f"list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def _sql_norm(a: str) -> str:
    return f"sqrt({_sql_sq_norm(a)})"


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"({_sql_dot(a, b)} / "
        f"(greatest({_sql_norm(a)}, 1e-12) * greatest({_sql_norm(b)}, 1e-12)))"
    )


def _sql_dist2(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
        f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )


SQL_QUERIES_CTE = (
    f"SELECT vec_id AS query_id, embedding AS qe FROM embeddings "
    f"WHERE vec_id % {QUERY_STRIDE} = 0"
)


def _sql_topk(score_expr: str, order: str, k: int) -> str:
    """Shared top-K oracle shape over queries × embeddings."""
    return f"""
WITH q AS ({SQL_QUERIES_CTE}),
s AS (
  SELECT q.query_id,
         e.vec_id AS neighbor_id,
         {score_expr} AS score
  FROM q CROSS JOIN embeddings e
),
r AS (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score {order}, neighbor_id
         ) AS INT) AS rank
  FROM s
)
SELECT query_id, rank, neighbor_id, round(score, 6) AS score
FROM r WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------

def _rounded_topk(df: DataFrame) -> DataFrame:
    return df.select(
        "query_id", "rank", "neighbor_id", F.round("score", 6).alias("score")
    )


def q_topk_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: exact top-K cosine (``ANNCode.py:264-271``)."""
    return _rounded_topk(exact_topk_fixture_cached(spark, sf_dir, K_DEFAULT, "cosine"))


def q_topk_l2_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: exact top-K squared-Euclidean (``ANNCode.py:274-281``)."""
    return _rounded_topk(exact_topk_fixture_cached(spark, sf_dir, K_DEFAULT, "l2"))


def q_rownorm_unit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: row L2-normalize with 1e-12 floor (``ANNCode.py:45-52``).

    Long form ``(vec_id, pos, u, norm)`` — one row per coordinate —
    so every output column is a hashable scalar for the driver's
    order-insensitive value hash (ARRAY columns are not)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(l2_norm("embedding"), 6).alias("norm"),
        F.posexplode(unit("embedding")).alias("pos", "__u"),
    ).select(
        "vec_id",
        "pos",
        (F.round("__u", 6) + F.lit(0.0)).alias("u"),
        "norm",
    )


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics — the embedding-drift guardrail
    a 100 TB pipeline runs per ingest batch. Explode → 64-group
    aggregate: map-side combine shrinks the shuffle to one row per
    dimension regardless of N.

    Determinism: float sums are order-dependent, so the mean
    aggregates ``floor(x·10⁶)`` as BIGINT (exact, order-independent,
    both engines floor toward −∞) and rescales once at the end;
    min/max are order-independent already."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("pos", "x")).select(
        "pos", F.col("x").cast("double").alias("x")
    )
    return (
        ex.groupBy("pos")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("x") * F.lit(1e6)).cast("bigint")).alias("__s"),
            F.min("x").alias("__mn"),
            F.max("x").alias("__mx"),
        )
        .select(
            "pos",
            "n",
            F.round(F.col("__s").cast("double") / F.col("n") / F.lit(1e6), 6).alias("mean_x"),
            (F.round("__mn", 6) + F.lit(0.0)).alias("min_x"),
            (F.round("__mx", 6) + F.lit(0.0)).alias("max_x"),
        )
    )


SQL_EMBEDDING_DIM_STATS = """
WITH ex AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT pos, count(*) AS n,
  round((CAST(sum(CAST(floor(x * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1000000, 6) AS mean_x,
  round(min(x), 6) + 0.0 AS min_x,
  round(max(x), 6) + 0.0 AS max_x
FROM ex GROUP BY pos
"""


#: PSI binning: 8 fixed-width bins over floor(x·8) clamped to [-4, 3]
#: (coordinates of unit-norm D=64 vectors are ±~0.4, so the clamp is
#: a guard, not a truncation); add-one smoothing over the 8 bins.
PSI_BINS = 8


def q_embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pos, psi_micro): per-dimension Population Stability Index
    between two halves of the corpus (vec_id parity — the even half
    plays the reference batch, the odd half the current batch) — the
    drift monitor a production embedding pipeline runs per ingest
    batch next to ``embedding_dim_stats``. PSI = Σ_bins
    (p_cur − p_ref)·ln(p_cur/p_ref) with add-one smoothing.

    Cross-engine exactness: bins are integer floors of x·8 (clamped);
    counts are BIGINT; each probability is an exact small-integer
    ratio evaluated in double (products ≤ 4e6 ≪ 2^53); the single
    ln() is floor-quantized to micro-units at birth (the bm25 rule),
    and the per-bin term diff·ln_micro is floored to BIGINT before the
    8-term sum — order-free, hash-exact. Plan: one explode →
    (pos, half, bin) count aggregate (map-side combine; the shuffle
    carries ≤ D·8·2 rows), full-outer bin alignment, one D-row
    aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        (F.col("vec_id") % 2 == 0).alias("is_ref"),
        "pos",
        F.greatest(
            F.least(F.floor(F.col("x").cast("double") * 8), F.lit(3)),
            F.lit(-4),
        ).cast("int").alias("bin"),
    )
    cnt = ex.groupBy("pos", "bin").agg(
        F.count(F.when(F.col("is_ref"), 1)).alias("c_ref"),
        F.count(F.when(~F.col("is_ref"), 1)).alias("c_cur"),
    )
    tot = cnt.groupBy("pos").agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_cur").alias("n_cur")
    )
    j = cnt.join(F.broadcast(tot), "pos")
    p_ref = (F.col("c_ref") + 1).cast("double") / (
        F.col("n_ref") + PSI_BINS
    ).cast("double")
    p_cur = (F.col("c_cur") + 1).cast("double") / (
        F.col("n_cur") + PSI_BINS
    ).cast("double")
    ratio = (
        (F.col("c_cur") + 1) * (F.col("n_ref") + PSI_BINS)
    ).cast("double") / (
        (F.col("c_ref") + 1) * (F.col("n_cur") + PSI_BINS)
    ).cast("double")
    lq = F.floor(F.log(ratio) * F.lit(1e6)).cast("bigint")
    term = F.floor((p_cur - p_ref) * lq.cast("double")).cast("bigint")
    return (
        j.select("pos", term.alias("t"))
        .groupBy("pos")
        .agg(F.sum("t").alias("psi_micro"))
    )


SQL_EMBEDDING_DRIFT_PSI = f"""
WITH ex AS (
  SELECT vec_id % 2 = 0 AS is_ref,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         CAST(greatest(least(floor(CAST(unnest(embedding) AS DOUBLE) * 8), 3), -4) AS INT) AS bin
  FROM embeddings
),
cnt AS (
  SELECT pos, bin,
    CAST(count(CASE WHEN is_ref THEN 1 END) AS BIGINT) AS c_ref,
    CAST(count(CASE WHEN NOT is_ref THEN 1 END) AS BIGINT) AS c_cur
  FROM ex GROUP BY pos, bin
),
tot AS (
  SELECT pos, CAST(sum(c_ref) AS BIGINT) AS n_ref,
         CAST(sum(c_cur) AS BIGINT) AS n_cur
  FROM cnt GROUP BY pos
),
terms AS (
  SELECT cnt.pos,
    CAST(floor(
      (CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + {PSI_BINS} AS DOUBLE)
       - CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + {PSI_BINS} AS DOUBLE))
      * CAST(CAST(floor(ln(
          CAST((c_cur + 1) * (n_ref + {PSI_BINS}) AS DOUBLE)
          / CAST((c_ref + 1) * (n_cur + {PSI_BINS}) AS DOUBLE)
        ) * 1000000) AS BIGINT) AS DOUBLE)
    ) AS BIGINT) AS t
  FROM cnt JOIN tot ON tot.pos = cnt.pos
)
SELECT pos, CAST(sum(t) AS BIGINT) AS psi_micro FROM terms GROUP BY pos
"""


def q_recall_l2_vs_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/J3: Recall@K of the L2 top-K against the cosine top-K
    (``recall_at_k``, ``ANNCode.py:651-660``)."""
    gt = exact_topk_fixture_cached(spark, sf_dir, K_DEFAULT, "cosine")
    pred = exact_topk_fixture_cached(spark, sf_dir, K_DEFAULT, "l2")
    rec = recall_at_k(gt, pred, K_DEFAULT)
    return rec.select("k", F.round("recall", 6).alias("recall"))


def q_reduce_precision(
    spark: SparkSession, sf_dir: str, keep_m: int = KEEP_M_DEFAULT, keep_e: int = 5
) -> DataFrame:
    """P5+P7 (and P6 when ``keep_e < 5``): bit-accurate FP16 mantissa
    (+ exponent) truncation + kept exponents + no-peek Δ
    (``ANNCode.py:202-242, 245-258``), oracle-checked against the exact
    arithmetic emulation in ``plans/duck_oracle.py``.

    Long form ``(vec_id, pos, vec16, red, kept_exp, delta)`` — one row
    per coordinate, all scalar columns, driver-hashable. ``+ 0.0``
    normalizes ``-0.0`` identically on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    from .functions.fp16 import with_fp16_rounded

    df = with_reduced_precision(
        with_fp16_rounded(emb.select("vec_id", "embedding"), out_col="vec16"),
        keep_m,
        keep_e,
    )
    zipped = F.arrays_zip(
        F.col("vec16").alias("vec16"),
        F.col("red").alias("red"),
        F.col("kept_exp").alias("kept_exp"),
        delta_from_exp_col("kept_exp", keep_m).alias("delta"),
    )
    return df.select("vec_id", F.posexplode(zipped).alias("pos", "__z")).select(
        "vec_id",
        "pos",
        (F.col("__z.vec16").cast("double") + F.lit(0.0)).alias("vec16"),
        (F.col("__z.red").cast("double") + F.lit(0.0)).alias("red"),
        F.col("__z.kept_exp").cast("int").alias("kept_exp"),
        F.col("__z.delta").alias("delta"),
    )


def q_compression_model(
    spark: SparkSession, sf_dir: str, keep_m: int = KEEP_M_DEFAULT
) -> DataFrame:
    """A5: bit-plane + zlib compressed-size model (``ANNCode.py:
    668-704``; paper §4.3 Fig.13). mapInPandas + zlib has no SQL
    form → rows-only check."""
    from .operators.compression import compression_stats_df

    return compression_stats_df(
        load_table(spark, sf_dir, "embeddings"), keep_e=5, keep_m=keep_m
    )


def _refine_topk_query(mode: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        delta = DELTA_DEFAULT if "hoeff" in mode else None
        res = refine_topk(
            queries_view(spark, sf_dir),
            load_table(spark, sf_dir, "embeddings"),
            mode,
            K_DEFAULT,
            KEEP_M_DEFAULT,
            delta,
            cache_key=sf_dir,
        )
        return _rounded_topk(res.topk)

    run.__doc__ = f"C-mode {mode}: two-phase refinement final top-K (SURVEY §2.6)."
    return run


def _refine_metrics_query(
    mode: str, keep_m: int = KEEP_M_DEFAULT, delta_override: float | None = None
) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        if delta_override is not None:
            delta = delta_override
        else:
            delta = DELTA_DEFAULT if "hoeff" in mode else None
        row = refine_metrics(
            queries_view(spark, sf_dir),
            load_table(spark, sf_dir, "embeddings"),
            mode,
            K_DEFAULT,
            keep_m,
            delta,
            cache_key=sf_dir,
        )
        # no rounding: both engines derive these from identical integer
        # counts with the same double formula, so values are bit-identical
        return row.select("mode", "m_keep", "delta", "recall", "save", "fpr")

    run.__doc__ = (
        f"A2/A3 metrics row for mode {mode}, keep_m={keep_m} "
        "(``ANNCode.py:735`` schema)."
    )
    return run


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "topk_cosine_exact": q_topk_cosine_exact,
    "topk_l2_exact": q_topk_l2_exact,
    "rownorm_unit": q_rownorm_unit,
    "embedding_dim_stats": q_embedding_dim_stats,
    "embedding_drift_psi": q_embedding_drift_psi,
    "recall_l2_vs_cosine": q_recall_l2_vs_cosine,
    "reduce_precision": q_reduce_precision,
    "compression_model": q_compression_model,
}

for _mode in MODES:
    _slug = _mode.replace("-", "_")
    QUERIES[f"refine_{_slug}_topk"] = _refine_topk_query(_mode)
    QUERIES[f"refine_{_slug}_metrics"] = _refine_metrics_query(_mode)

#: sweep-selected operating point on the fixture corpus (D=64 Gaussian):
#: the optimum is corpus-size dependent because the full-fetch fraction
#: shrinks as N grows at fixed K. At sf0.1 (N=2000, the bench scale)
#: keep_m=2 maximizes saving among the zero-miss modes (l2-tz save
#: ≈ 0.446, cos-l1 ≈ 0.409, recall exactly 1.0, fpr ≤ 8%); at sf0.01
#: (N=500) keep_m=3 wins instead. The paper tunes the truncation level
#: per dataset the same way (§4.1 sweeps t = 0..10; the "≤60%" headline
#: is the best-dataset point, README.md:20). Deeper truncation inflates
#: FPR faster than the reduced pass shrinks.
KEEP_M_TUNED = 2
QUERIES["refine_l2_tz_tuned_metrics"] = _refine_metrics_query("l2-tz", KEEP_M_TUNED)
QUERIES["refine_cos_l1_tuned_metrics"] = _refine_metrics_query("cos-l1", KEEP_M_TUNED)
QUERIES["compression_model_tuned"] = lambda spark, sf_dir: q_compression_model(
    spark, sf_dir, keep_m=KEEP_M_TUNED
)

#: Hoeffding frontier, swept over the paper's δ grid (1e-12 … 1e-1,
#: BASELINE.md line 28) extended through the loose right tail, ×
#: keep_m ∈ {2,4,6} at sf0.1 (tools/sweep_hoeffding.py,
#: reports/sweep_hoeffding.csv): measured recall is 1.0 at EVERY grid
#: point — the Hoeffding cushion is conservative on the D=64 Gaussian
#: fixture — so the honest optimum is the save-maximizing corner:
#: keep_m=2, δ=0.9 → save 0.4859, fpr 0.0041 (vs 0.2398 at the
#: reference-CLI default m=6/δ=0.7). Still under the paper's ≤60%
#: best-dataset headline; the remaining gap is the documented fixture
#: argument (no low-variance coordinates to truncate at D=64).
KEEP_M_HOEFF_TUNED = 2
DELTA_TUNED = 0.9
QUERIES["refine_cos_hoeff_tuned_metrics"] = _refine_metrics_query(
    "cos-hoeff", KEEP_M_HOEFF_TUNED, delta_override=DELTA_TUNED
)

#: exponent-truncation surface (P6 end-to-end). Two registered faces:
#: the keep-both TRANSFORM at keep_e=4 (bit-exact, oracle-checked
#: against the SQL fp16 emulation), and the refine byte model at
#: keep_e=4 — which, exactly like the reference CLI, feeds keep_e into
#: the bytes-per-vector accounting while the refinement VALUES come
#: from the keep-exponent reduction (``ANNCode.py:827`` builds DBr with
#: reduce_precision_keep_exp regardless of --ekeep; the Δ bound is not
#: valid under exponent-truncated values, which is why keep_both's
#: abs_err output is "diagnostics only", ``ANNCode.py:225``).
KEEP_E_TUNED = 4
QUERIES["reduce_precision_ekeep"] = lambda spark, sf_dir: q_reduce_precision(
    spark, sf_dir, keep_m=KEEP_M_DEFAULT, keep_e=KEEP_E_TUNED
)


def q_refine_l2_tz_ekeep_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 byte model with keep_e=4 (``ANNCode.py:316-319``: bits_red =
    1 + keep_e + keep_m): recall/fpr match the keep_e=5 row, save rises
    by exactly one exponent plane of the reduced pass."""
    return refine_metrics(
        queries_view(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
        "l2-tz",
        K_DEFAULT,
        KEEP_M_DEFAULT,
        None,
        keep_e=KEEP_E_TUNED,
        cache_key=sf_dir,
    ).select("mode", "m_keep", "delta", "recall", "save", "fpr")


QUERIES["refine_l2_tz_ekeep_metrics"] = q_refine_l2_tz_ekeep_metrics


#: Operating point selected by ``tools/sweep_operating_point.py`` at
#: sf0.1 (``reports/sweep_operating_point.csv``, keep_e × keep_m ×
#: zlib grid): l2-tz, keep_m=2, stored layout keep_e=2, zlib level 9
#: maximizes the correctly-composed combined saving at recall 1.0
#: (0.730 vs 0.670 for keep_e=3 and 0.544 for the keep_e=5 layout —
#: the exponent LSB planes carry most of the residual entropy, so
#: dropping them from the stored layout is where the compression
#: headroom lives). Matches the reference CLI's own composition
#: semantics (``ANNCode.py:827-833``): refinement values always come
#: from the keep-exponent reduction; ``--ekeep`` shapes only the
#: stored bit-plane layout and the byte accounting
#: (``values_consistent`` flags the strict rows in the sweep CSV).
KEEP_E_COMPRESSED = 2
ZLIB_LEVEL_TUNED = 9


def q_refine_l2_tz_compressed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined early-reject × compression saving, composed the way the
    reference composes it (``ANNCode.py:831-833``): measure compressed
    bytes/vec of the tuned bit-plane layout (A5) and feed it into the
    bandwidth accounting as ``red_bytes_override`` — so the full-fetch
    bytes are NOT discounted by the compression ratio (the hand formula
    ``1 − (1−s)/R`` overstated the saving by doing exactly that).
    rows-only check: the zlib byte count has no SQL form."""
    from .operators.compression import avg_reduced_bytes_per_vec

    corpus = load_table(spark, sf_dir, "embeddings")
    override = avg_reduced_bytes_per_vec(
        corpus,
        keep_e=KEEP_E_COMPRESSED,
        keep_m=KEEP_M_TUNED,
        level=ZLIB_LEVEL_TUNED,
    )
    return refine_metrics(
        queries_view(spark, sf_dir),
        corpus,
        "l2-tz",
        K_DEFAULT,
        KEEP_M_TUNED,
        None,
        keep_e=5,
        red_bytes_override=override,
        cache_key=sf_dir,
    ).select("mode", "m_keep", "delta", "recall", "save", "fpr")


QUERIES["refine_l2_tz_compressed_metrics"] = q_refine_l2_tz_compressed_metrics


def q_refine_l2_tz_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship refinement SERVED from the stored disaggregated
    layout (paper §3.3): the prepared corpus — (redv, delta) cheap-pass
    columns next to the ``full`` fetch column — is WRITTEN once per
    (session, fixture dir) as parquet and the query plan scans the
    STORED table, exactly as the PQ codes and graph edges serve from
    their index artifacts. Parquet's columnar chunking makes the
    disaggregation physical: the phase-1 scan reads only the
    (redv, delta) pages (`ReadSchema`-checked in
    ``tests/test_layout.py::test_refinement_phase1_prunes_full_column``
    — the same layout). Results are identical to the in-session
    preparation, so the oracle is shared with ``refine_l2_tz_topk``."""
    import tempfile

    from .operators.refine import refine_topk
    from .operators.refine import prepare_corpus as _prep
    from .session import session_cache

    cache = session_cache(spark, "refine_layout_path")
    if sf_dir not in cache:
        path = tempfile.mkdtemp(prefix="bfann-refine-layout-")
        _prep(
            load_table(spark, sf_dir, "embeddings"), KEEP_M_DEFAULT, "l2-tz"
        ).write.mode("overwrite").parquet(path)
        cache[sf_dir] = path
    prepared = spark.read.parquet(cache[sf_dir])
    res = refine_topk(
        queries_view(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
        "l2-tz",
        K_DEFAULT,
        KEEP_M_DEFAULT,
        None,
        prepared_corpus=prepared,
    )
    return _rounded_topk(res.topk)


QUERIES["refine_l2_tz_served_topk"] = q_refine_l2_tz_served_topk


def q_refine_l2_tz_exact_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-exact (order-sensitive) metrics at the tuned
    operating point via the corpus-partitioned evolving-threshold
    replica (``operators/refine_replica.py``) — the byte accounting
    the reference itself would report, distributed with no collect
    ceiling. rows-only check: the sequential float32 scan has no SQL
    form; ``reports/replica_vs_fixed_tau.csv`` records it against the
    fixed-τ₀ lower bound at bench scale."""
    from .operators.refine_replica import refine_replica, replica_metrics

    corpus = load_table(spark, sf_dir, "embeddings")
    n_corpus = corpus.count()
    rep = refine_replica(
        queries_view(spark, sf_dir), corpus, "l2-tz", K_DEFAULT, KEEP_M_TUNED
    )
    out = replica_metrics(
        rep, "l2-tz", K_DEFAULT, KEEP_M_TUNED, n_corpus, dim=FIXTURE_EMBED_DIM
    )
    return out.select(
        "mode",
        "m_keep",
        "delta",
        F.round("recall", 6).alias("recall"),
        F.round("save", 6).alias("save"),
        F.round("fpr", 6).alias("fpr"),
    )


QUERIES["refine_l2_tz_exact_metrics"] = q_refine_l2_tz_exact_metrics


from .registry_dedup import DEDUP_ORACLES, DEDUP_QUERIES  # noqa: E402
from .registry_curation import CURATION_ORACLES, CURATION_QUERIES  # noqa: E402
from .registry_multimodal import MULTIMODAL_ORACLES, MULTIMODAL_QUERIES  # noqa: E402
from .registry_relational import RELATIONAL_ORACLES, RELATIONAL_QUERIES  # noqa: E402
from .registry_simsearch import SIMSEARCH_ORACLES, SIMSEARCH_QUERIES  # noqa: E402
from .registry_streaming import STREAMING_ORACLES, STREAMING_QUERIES  # noqa: E402
from .registry_text import TEXT_ORACLES, TEXT_QUERIES  # noqa: E402
from .registry_vectordb import VECTORDB_ORACLES, VECTORDB_QUERIES  # noqa: E402

QUERIES.update(RELATIONAL_QUERIES)
QUERIES.update(TEXT_QUERIES)
QUERIES.update(DEDUP_QUERIES)
QUERIES.update(SIMSEARCH_QUERIES)
QUERIES.update(STREAMING_QUERIES)
QUERIES.update(MULTIMODAL_QUERIES)
QUERIES.update(CURATION_QUERIES)
QUERIES.update(VECTORDB_QUERIES)

#: The correctness harness executes queries in registration order under
#: a global budget (a ~50-query window per round). Rotation policy: put
#: (1) queries whose semantics CHANGED this round — they need a fresh
#: driver row before anything else — then (2) the queries whose latest
#: green row is oldest (r04: the 28 join/agg/text/dedup queries last
#: checked in r02), so no query's driver check goes more than two
#: rounds stale. The long-green remainder follows in original order.
_FRONT = [
    # r13 rotation (the documented anti-staleness policy; r12 VERDICT
    # stretch #9). No query's semantics changed this round
    # (optimization round — every result bit-identical), so the window
    # is pure staleness rotation: the 6 r07-stale rows that clipped
    # past the r12 window lead, then the full 45-row r08-stale cohort
    # (latest green row = CORRECTNESS_r08) in memo-friendly order.
    # Done criterion: all 6 r07 + >=44 of the r08 cohort green; after
    # this window no query is older than r09. Slot 51 may clip and
    # leads r14 with the r09-stale cohort.
    # -- r07-stale (6): the text-quality block + window frame --
    "text_stats",
    "text_quality",
    "text_lm_quality",
    "text_repetition",
    "vocab_topn",
    "window_range_frame",
    # -- r08-stale (45), memo-friendly: LSH bands/multiprobe first
    # -- (share the banded corpus memo + scored frames), then the
    # -- graph/centroid walks (share knn edges + IVF medoids), the
    # -- MaxSim pool family, SQ, filtered/range, hybrid, artifacts,
    # -- dedup/decon, compression/stats, TPC-H tail --
    "ann_lsh_cushion_metrics",
    "ann_lsh_cushion_tuned_metrics",
    "ann_lsh_multiprobe_topk",
    "ann_lsh_multiprobe_recall",
    "ann_lsh_multiprobe_cushion_topk",
    "ann_lsh_multiprobe_cushion_metrics",
    "ann_knn_graph",
    "ann_knn_graph_recall",
    "ann_graph_centroid_topk",
    "ann_graph_centroid_recall",
    "ann_maxsim_rerank",
    "ann_maxsim_recall",
    "ann_maxsim_index_topk",
    "ann_ivf_maxsim_topk",
    "ann_ivf_maxsim_recall",
    "ann_mmr_rerank",
    "ann_sq_topk",
    "ann_sq_refined_topk",
    "ann_sq_recall",
    "ann_ivfsq_topk",
    "ann_ivfsq_recall",
    "ann_filtered_topk",
    "ann_filtered_ivf_topk",
    "ann_range_search",
    "ann_stream_fresh_topk",
    "hybrid_rrf",
    "hybrid_bm25_rrf",
    "pq_codebook",
    "ivf_cell_sizes",
    "dedup_components",
    "decontamination",
    "doc_chunks",
    "compression_model",
    "compression_model_tuned",
    "media_features",
    "embedding_drift_psi",
    "hist_merge_halves",
    "brand_discount_revenue",
    "idle_customer_balance",
    "important_parts",
    "local_supplier_volume",
    "min_cost_supplier",
    "priority_line_counts",
    "small_quantity_revenue",
    "supplier_part_counts",
]
# (the _FRONT rotation is applied at the END of this module, after
# every late registration block has run)

ORACLES: dict[str, str] = {
    "topk_cosine_exact": _sql_topk(_sql_cosine("q.qe", "e.embedding"), "DESC", K_DEFAULT),
    "topk_l2_exact": _sql_topk(_sql_dist2("q.qe", "e.embedding"), "ASC", K_DEFAULT),
    "rownorm_unit": f"""
SELECT vec_id,
       CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
       round(CAST(unnest(embedding) AS DOUBLE) / greatest({_sql_norm('embedding')}, 1e-12), 6) + 0.0 AS u,
       round({_sql_norm('embedding')}, 6) AS norm
FROM embeddings
""",
    "embedding_dim_stats": SQL_EMBEDDING_DIM_STATS,
    "embedding_drift_psi": SQL_EMBEDDING_DRIFT_PSI,
    "reduce_precision": duck_oracle.reduce_precision_sql(KEEP_M_DEFAULT),
    "recall_l2_vs_cosine": f"""
WITH q AS ({SQL_QUERIES_CTE}),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_sql_cosine('q.qe', 'e.embedding')} AS cos_score,
         {_sql_dist2('q.qe', 'e.embedding')} AS d2
  FROM q CROSS JOIN embeddings e
),
gt AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos_score DESC, neighbor_id) AS r
    FROM s) WHERE r <= {K_DEFAULT}
),
pred AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id) AS r
    FROM s) WHERE r <= {K_DEFAULT}
),
hits AS (
  SELECT gt.query_id, count(*) AS n_hits
  FROM gt JOIN pred USING (query_id, neighbor_id)
  GROUP BY gt.query_id
),
perq AS (
  SELECT q2.query_id, coalesce(h.n_hits, 0) / CAST({K_DEFAULT} AS DOUBLE) AS recall_q
  FROM (SELECT DISTINCT query_id FROM gt) q2 LEFT JOIN hits h USING (query_id)
)
SELECT CAST({K_DEFAULT} AS INT) AS k, round(avg(recall_q), 6) AS recall FROM perq
""",
}

for _mode in MODES:
    _slug = _mode.replace("-", "_")
    _delta = DELTA_DEFAULT if "hoeff" in _mode else None
    ORACLES[f"refine_{_slug}_topk"] = duck_oracle.refine_topk_sql(
        _mode, K_DEFAULT, KEEP_M_DEFAULT, _delta, QUERY_STRIDE
    )
    ORACLES[f"refine_{_slug}_metrics"] = duck_oracle.refine_metrics_sql(
        _mode, K_DEFAULT, KEEP_M_DEFAULT, _delta, QUERY_STRIDE
    )
#: the served plan reads the stored layout but computes the identical
#: result — one oracle, two execution strategies
ORACLES["refine_l2_tz_served_topk"] = duck_oracle.refine_topk_sql(
    "l2-tz", K_DEFAULT, KEEP_M_DEFAULT, None, QUERY_STRIDE
)
ORACLES["refine_l2_tz_tuned_metrics"] = duck_oracle.refine_metrics_sql(
    "l2-tz", K_DEFAULT, KEEP_M_TUNED, None, QUERY_STRIDE
)
ORACLES["refine_cos_l1_tuned_metrics"] = duck_oracle.refine_metrics_sql(
    "cos-l1", K_DEFAULT, KEEP_M_TUNED, None, QUERY_STRIDE
)
ORACLES["refine_cos_hoeff_tuned_metrics"] = duck_oracle.refine_metrics_sql(
    "cos-hoeff", K_DEFAULT, KEEP_M_HOEFF_TUNED, DELTA_TUNED, QUERY_STRIDE
)
ORACLES["reduce_precision_ekeep"] = duck_oracle.reduce_precision_sql(
    KEEP_M_DEFAULT, keep_e=KEEP_E_TUNED
)
ORACLES["refine_l2_tz_ekeep_metrics"] = duck_oracle.refine_metrics_sql(
    "l2-tz", K_DEFAULT, KEEP_M_DEFAULT, None, QUERY_STRIDE, keep_e=KEEP_E_TUNED
)
ORACLES.update(RELATIONAL_ORACLES)
ORACLES.update(TEXT_ORACLES)
ORACLES.update(DEDUP_ORACLES)
ORACLES.update(SIMSEARCH_ORACLES)
ORACLES.update(STREAMING_ORACLES)
ORACLES.update(MULTIMODAL_ORACLES)
ORACLES.update(CURATION_ORACLES)
ORACLES.update(VECTORDB_ORACLES)

# Embedding covariance: the d×d second-moment diagnostic feeding
# whitening / OPQ-style rotation decisions and embedding-drift
# monitoring. Scale shape: the pair explode is N·d² rows but the
# aggregate is map-side-combined down to d² partials per partition —
# the shuffle moves matrices, not data. Cross-row float sums are NOT
# order-deterministic, so coordinates quantize to micro-unit BIGINTs
# BEFORE summing (the `embedding_dim_stats` rule): integer products
# (≤1.6e13 each; BIGINT-safe to ~500k rows at these magnitudes, and
# HUGEINT in the DuckDB twin) make both engines bit-identical.


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "embedding", F.posexplode("embedding").alias("i", "xi")
    ).select(
        "embedding",
        "i",
        F.floor(F.col("xi").cast("double") * 1_000_000).cast("bigint").alias("qi"),
    )
    # integer-headroom guard (r08 verdict "what's wrong" #1): each
    # (i, j) moment sums N products qi·qj ≤ max|q|² in BIGINT on the
    # Spark side (wraps silently past 2^63) while the DuckDB twin's
    # HUGEINT sum does not — raise before the engines can diverge.
    # Checked from count/max, which cannot themselves overflow.
    chk = ex.agg(
        (F.count("*") / F.countDistinct("i")).alias("n_rows"),
        F.max(F.abs("qi")).alias("mq"),
    ).collect()[0]
    if chk["mq"] is not None and int(chk["n_rows"]) * chk["mq"] * chk["mq"] >= 2**63:
        raise ValueError(
            f"embedding_covariance: corpus too large for BIGINT-exact "
            f"moments at scale 1e6 (N={int(chk['n_rows'])}, "
            f"max|q|={chk['mq']}); train on a deterministic sample "
            f"(vec_id % stride = 0) instead"
        )
    pairs = ex.select(
        "i", "qi", F.posexplode("embedding").alias("j", "xj")
    ).select(
        "i",
        "qi",
        "j",
        F.floor(F.col("xj").cast("double") * 1_000_000).cast("bigint").alias("qj"),
    )
    mom = pairs.groupBy("i", "j").agg(
        F.sum(F.col("qi") * F.col("qj")).alias("s"), F.count("*").alias("n")
    )
    means = ex.groupBy("i").agg(
        (F.sum("qi").cast("double") / F.count("*") / F.lit(1e6)).alias("mean")
    )
    mi = F.broadcast(means.select(F.col("i"), F.col("mean").alias("mi")))
    mj = F.broadcast(means.select(F.col("i").alias("j"), F.col("mean").alias("mj")))
    return (
        mom.join(mi, "i")
        .join(mj, "j")
        .select(
            "i",
            "j",
            (
                F.round(
                    F.col("s").cast("double") / F.lit(1e12) / F.col("n")
                    - F.col("mi") * F.col("mj"),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


QUERIES["embedding_covariance"] = q_embedding_covariance

ORACLES["embedding_covariance"] = """
WITH ex AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qi,
         embedding
  FROM embeddings
),
pr AS (
  SELECT i, qi,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS j,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qj
  FROM ex
),
mom AS (
  SELECT i, j, CAST(sum(qi * qj) AS BIGINT) AS s, count(*) AS n
  FROM pr GROUP BY i, j
),
mean AS (
  SELECT i, CAST(sum(qi) AS DOUBLE) / count(*) / 1000000 AS m
  FROM ex GROUP BY i
)
SELECT mom.i, mom.j,
  round(CAST(mom.s AS DOUBLE) / 1e12 / mom.n - a.m * b.m, 6) + 0.0 AS cov
FROM mom JOIN mean a ON a.i = mom.i JOIN mean b ON b.i = mom.j
"""


# PCA top component (operators/pca.py): the R-round power iterate of
# the micro-quantized covariance, plus the map-side projection every
# vector takes along it — whitening/OPQ preprocessing and
# embedding-drift monitoring as registered, oracle-replayable
# operators. The DuckDB twin unrolls the rounds (the k-means / beam /
# BPE replay idiom); every cross-row sum is BIGINT, the only float
# reductions are pos-ordered list folds.


def _pca_component_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized per (session, fixture dir): the iterate is a trained
    artifact (like the PQ codebook / graph edges) — built once, served
    by both PCA queries. The d-row result frame is localCheckpoint'ed
    by construction, so caching it holds no corpus lineage."""
    from .operators.pca import PCA_ROUNDS, covariance_micro, power_iteration
    from .operators.simsearch import embedding_dim
    from .session import session_cache

    cache = session_cache(spark, "pca_component")
    if sf_dir not in cache:
        corpus = load_table(spark, sf_dir, "embeddings")
        cache[sf_dir] = power_iteration(
            covariance_micro(corpus), embedding_dim(corpus), PCA_ROUNDS
        )
    return cache[sf_dir]


def q_embedding_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pca_component_cached(spark, sf_dir)


def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pca import pca_project

    return pca_project(
        load_table(spark, sf_dir, "embeddings"),
        _pca_component_cached(spark, sf_dir),
    )


QUERIES["embedding_pca_top"] = q_embedding_pca_top
QUERIES["embedding_pca_project"] = q_embedding_pca_project


def _sql_pca_ctes() -> str:
    """The covariance-micro + unrolled power-iteration CTE chain
    shared by both PCA oracles; ends at v{R} (pos, v) and wfin."""
    from .operators.pca import PCA_ROUNDS, PCA_SCALE
    from .sources.fixtures import FIXTURE_EMBED_DIM as _D

    import math as _math

    v0 = _math.floor(PCA_SCALE / _math.sqrt(_D))
    ctes = [
        f"""ex AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {PCA_SCALE}) AS BIGINT) AS qi,
         embedding
  FROM embeddings
),
pr AS (
  SELECT i, qi,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS j,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {PCA_SCALE}) AS BIGINT) AS qj
  FROM ex
),
mom AS (
  SELECT i, j, CAST(sum(qi * qj) AS BIGINT) AS s, count(*) AS n
  FROM pr GROUP BY i, j
),
mean AS (
  SELECT i, CAST(sum(qi) AS DOUBLE) / count(*) / {PCA_SCALE} AS m
  FROM ex GROUP BY i
),
cov AS MATERIALIZED (
  SELECT mom.i, mom.j,
    CAST(floor((CAST(mom.s AS DOUBLE) / 1e12 / mom.n - a.m * b.m) * {PCA_SCALE})
      AS BIGINT) AS c
  FROM mom JOIN mean a ON a.i = mom.i JOIN mean b ON b.i = mom.j
),
v0 AS (SELECT CAST(range AS INT) AS pos, CAST({v0} AS BIGINT) AS v
       FROM range(0, {_D}))"""
    ]
    for t in range(1, PCA_ROUNDS + 1):
        ctes.append(
            f"""w{t} AS (
  SELECT cov.i AS pos, CAST(sum(cov.c * v{t - 1}.v) AS BIGINT) AS w
  FROM cov JOIN v{t - 1} ON v{t - 1}.pos = cov.j GROUP BY cov.i
),
n{t} AS (
  SELECT sqrt(greatest(list_sum(list_transform(
    list(CAST(w AS DOUBLE) ORDER BY pos), x -> x * x)), 1e-24)) AS nrm
  FROM w{t}
),
v{t} AS (
  SELECT pos, CAST(floor(CAST(w AS DOUBLE) / (SELECT nrm FROM n{t})
    * {PCA_SCALE}) AS BIGINT) AS v
  FROM w{t}
)"""
        )
    r = PCA_ROUNDS
    ctes.append(
        f"""wfin AS (
  SELECT cov.i AS pos, CAST(sum(cov.c * v{r}.v) AS BIGINT) AS w
  FROM cov JOIN v{r} ON v{r}.pos = cov.j GROUP BY cov.i
),
lam AS (
  SELECT CAST(floor(sqrt(greatest(list_sum(list_transform(
    list(CAST(w AS DOUBLE) ORDER BY pos), x -> x * x)), 1e-24))
    / {PCA_SCALE}) AS BIGINT) AS lam
  FROM wfin
)"""
    )
    return ",\n".join(ctes), r


_PCA_CTES, _PCA_R = _sql_pca_ctes()

ORACLES["embedding_pca_top"] = f"""
WITH {_PCA_CTES}
SELECT pos, v, (SELECT lam FROM lam) AS lam FROM v{_PCA_R}
"""

ORACLES["embedding_pca_project"] = f"""
WITH {_PCA_CTES},
exq AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings
),
mq AS (
  SELECT pos, CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS m
  FROM exq GROUP BY pos
)
SELECT e.vec_id,
  round(CAST(CAST(sum((e.q - mq.m) * vv.v) AS BIGINT) AS DOUBLE) / 1e12, 6) + 0.0
    AS comp
FROM exq e JOIN mq ON mq.pos = e.pos JOIN v{_PCA_R} vv ON vv.pos = e.pos
GROUP BY e.vec_id
"""


# ---------------------------------------------------------------------------
# Index × cushion compositions (``operators/refine.cushion_topk``): any
# index's candidate stream priced by the same cushioned re-scorer.
# One table row per (family, keep_m) generates the Spark queries, their
# DuckDB oracles and one memo entry. A family's candidate CTEs replay
# its candidate source and end in ``cand_ids(query_id, vec_id)``, which
# restricts duck_oracle.refine_body's pair space; the refinement CTEs
# replay the identical fp16 reduction, cushions, seeds and fixed τ₀.
#
# Byte accounting (``*_metrics``): the per-candidate saving needs
# K << |candidates|. The R·K-deep pre-ranks (mrl, ivfadc, rabitq: 60
# per query; cascade: R1·K = 40) and IVF's probed cells (~69 per
# query) are seed-dominated, so ``save_vs_exact_rerank`` sits near zero
# or below; LSH, multi-probe LSH and the graph walks produce the wide
# streams where the cushion prunes most full fetches. The composed
# ``save_vs_full_scan`` is the end-to-end figure in every family.
# ---------------------------------------------------------------------------

from .operators.mrl import MRL_REFINE_R as _MRL_R  # noqa: E402
from .operators.pq import IVFADC_KMEANS_ITERS as _ADC_ITERS  # noqa: E402
from .operators.pq import PQ_REFINE_R as _ADC_R  # noqa: E402
from .operators.rabitq import RABITQ_REFINE_R as _RBT_R  # noqa: E402
from .operators.refine import cushion_topk  # noqa: E402
from .operators.simsearch import LSH_MULTIPROBE_T as _LSH_MP_T  # noqa: E402
from .registry_simsearch import (  # noqa: E402
    SQL_IVF_BODY as _SQL_IVF_BODY,
    _SQL_RES_EMB as _SQL_ADC_RES_EMB,
    _sql_band_dots as _sql_lsh_band_dots,
    _sql_bands as _sql_lsh_bands,
    _sql_dist2 as _sql_adc_dist2,
    sql_ivf_body as _sql_adc_ivf_body,
    sql_pq_body as _sql_adc_pq_body,
)
from .registry_vectordb import (  # noqa: E402
    _CASC_POOL1,
    _CASC_POOL2,
    _SQL_RBT_EST,
    _SQL_SQ_RECON as _SQL_SQ_RECON_FRAG,
    _rbt_base_ctes,
    _sql_bq_words,
    _sql_mrl_cos as _SQL_MRL_COS,
)

# IVF: the quantizer/assignment/probe chain shared with the ann_ivf_*
# oracles.
_IVF_CUSHION_EXTRA = f"""{_SQL_IVF_BODY},
cand_ids AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
),
"""

# LSH: the hyperplane band CTEs shared with the ann_lsh_* oracles.
_LSH_CUSHION_EXTRA = f"""qb AS ({_sql_lsh_bands("q", "query_id", "qe")}),
cb AS ({_sql_lsh_bands("embeddings", "vec_id", "embedding")}),
cand_ids AS (
  SELECT DISTINCT q2.id AS query_id, c2.id AS vec_id
  FROM qb q2 JOIN cb c2 ON q2.band = c2.band AND q2.bkey = c2.bkey
),
"""

# multi-probe LSH: plain bands plus the flipped lowest-margin bits.
_LSH_MP_CUSHION_EXTRA = f"""qb AS ({_sql_lsh_bands("q", "query_id", "qe")}),
cb AS ({_sql_lsh_bands("embeddings", "vec_id", "embedding")}),
q_dots AS ({_sql_lsh_band_dots("q", "query_id", "qe")}),
q_flip AS (
  SELECT id, band, j FROM (
    SELECT id, band, j,
      row_number() OVER (PARTITION BY id, band ORDER BY abs(dot) ASC, j ASC) AS r
    FROM q_dots
  ) WHERE r <= {_LSH_MP_T}
),
qmb AS (
  SELECT id, band, bkey FROM qb
  UNION ALL
  SELECT qb.id, qb.band, xor(qb.bkey, 1 << f.j) AS bkey
  FROM q_flip f JOIN qb ON qb.id = f.id AND qb.band = f.band
),
cand_ids AS (
  SELECT DISTINCT q2.id AS query_id, c2.id AS vec_id
  FROM qmb q2 JOIN cb c2 ON q2.band = c2.band AND q2.bkey = c2.bkey
),
"""

# graph: the banded KNN graph shared with the ann_graph_* oracles,
# walked on corp.redv (the reduced representation refine_body already
# defines). Every per-round CTE is MATERIALIZED — the round chain
# references its predecessor three times per level (frontier, union,
# dedup), which is exponential under DuckDB's default inlining.


def _sql_graph_cushion_extra() -> str:
    from .operators import simsearch as _S
    from .registry_simsearch import GRAPH_BEAM_K, _sql_cos

    parts = [
        f"""gcb AS ({_sql_lsh_bands("embeddings", "vec_id", "embedding")}),
ggraph AS (
  SELECT node_id, neighbor_id FROM (
    SELECT node_id, neighbor_id,
      row_number() OVER (PARTITION BY node_id
        ORDER BY score DESC, neighbor_id) AS rank
    FROM (
      SELECT node_id, neighbor_id, {_sql_cos("qvec", "cvec")} AS score FROM (
        SELECT DISTINCT a.id AS node_id, b.id AS neighbor_id,
               a.vec AS qvec, b.vec AS cvec
        FROM gcb a JOIN gcb b
          ON a.band = b.band AND a.bkey = b.bkey AND a.id != b.id
      )
    )
  ) WHERE rank <= {GRAPH_BEAM_K}
),
gedges AS MATERIALIZED (
  SELECT node_id AS src, neighbor_id AS dst FROM ggraph
  UNION
  SELECT neighbor_id AS src, node_id AS dst FROM ggraph
),
w0 AS MATERIALIZED (
  SELECT q.query_id, s.vec_id, {duck_oracle.sql_dot("s.redv", "q.qn")} AS red_score
  FROM q CROSS JOIN
    (SELECT vec_id, redv FROM corp WHERE vec_id % {_S.BEAM_ENTRY_STRIDE} = 0) s
)"""
    ]
    for i in range(1, _S.BEAM_ROUNDS + 1):
        prev, cur = f"w{i - 1}", f"w{i}"
        parts.append(f"""wf{i} AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY red_score DESC, vec_id ASC) AS r
    FROM {prev}
  ) WHERE r <= {_S.BEAM_WIDTH}
)""")
        parts.append(f"""wn{i} AS (
  SELECT DISTINCT f.query_id, e.dst AS vec_id
  FROM wf{i} f JOIN gedges e ON e.src = f.vec_id
)""")
        parts.append(f"""ws{i} AS (
  SELECT n.query_id, n.vec_id, {duck_oracle.sql_dot("c.redv", "q.qn")} AS red_score
  FROM wn{i} n
  JOIN corp c ON c.vec_id = n.vec_id
  JOIN q ON q.query_id = n.query_id
)""")
        parts.append(f"""{cur} AS MATERIALIZED (
  SELECT query_id, vec_id, max(red_score) AS red_score FROM (
    SELECT * FROM {prev} UNION ALL SELECT * FROM ws{i}
  ) GROUP BY query_id, vec_id
)""")
    parts.append(
        f"cand_ids AS (SELECT query_id, vec_id FROM w{_S.BEAM_ROUNDS})"
    )
    return ",\n".join(parts) + ",\n"


def _sql_vamana_cushion_extra() -> str:
    """The graph-cushion walk chain with the α-prune inserted between
    the banded ``gedges`` and the walk rounds: vamana CTEs come from
    ``registry_simsearch._sql_vamana_ctes`` parameterized on the
    in-body edge name, and the rounds walk ``vedges``."""
    from .registry_simsearch import _sql_vamana_ctes

    base = _sql_graph_cushion_extra()
    vam = ",\n".join(_sql_vamana_ctes(edges_src="gedges")) + ",\n"
    # inject the prune chain right after gedges, and point every walk
    # round's expansion at the pruned vedges. The anchors are literal
    # text from _sql_graph_cushion_extra — assert they matched so a
    # drift there fails loudly at import instead of surfacing later
    # as a SQL error or a silent oracle mismatch (r10 ADVICE).
    w0_anchor = "w0 AS MATERIALIZED ("
    walk_anchor = "JOIN gedges e ON e.src = f.vec_id"
    assert w0_anchor in base and walk_anchor in base, (
        "graph-cushion SQL anchors drifted; update _sql_vamana_cushion_extra"
    )
    out = base.replace(w0_anchor, vam + w0_anchor, 1)
    out = out.replace(walk_anchor, "JOIN vedges e ON e.src = f.vec_id")
    assert "vedges" in out and out != base
    return out



# MRL: operators/mrl.mrl_topk (prefix cosine, top R·K, ties → vec_id).
_MRL_CUSHION_EXTRA = f"""mrl_ps AS (
  SELECT q.query_id, e.vec_id, {_SQL_MRL_COS("q.qe", "e.embedding")} AS ps
  FROM q CROSS JOIN embeddings e
),
cand_ids AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY ps DESC, vec_id) AS r
    FROM mrl_ps
  ) WHERE r <= {_MRL_R * K_DEFAULT}
),
"""

# cascade: operators/bq.cascade_candidates (Hamming admit, recon-cosine
# narrow, same tie-breaks).
_CASCADE_CUSHION_EXTRA = f"""{_sql_bq_words("q", "query_id", "qe", "bq_qw")},
{_sql_bq_words("embeddings", "vec_id", "embedding", "bq_cw")},
bq_cand AS (
  SELECT qw.id AS query_id, cw.id AS neighbor_id,
         CAST(sum(bit_count(xor(qw.wcode, cw.wcode))) AS INT) AS score
  FROM bq_qw qw JOIN bq_cw cw ON qw.w = cw.w
  GROUP BY qw.id, cw.id
),
{_SQL_SQ_RECON_FRAG},
casc2 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY score ASC, neighbor_id) AS r
    FROM bq_cand
  ) WHERE r <= {_CASC_POOL2}
),
cand_ids AS MATERIALIZED (
  SELECT query_id, neighbor_id AS vec_id FROM (
    SELECT c.query_id, c.neighbor_id,
      row_number() OVER (PARTITION BY c.query_id
        ORDER BY {_sql_cosine("q.qe", "r.recon")} DESC, c.neighbor_id) AS r
    FROM casc2 c
    JOIN recon r ON r.vec_id = c.neighbor_id
    JOIN q ON q.query_id = c.query_id
  ) WHERE r <= {_CASC_POOL1}
),
"""

#: IVFADC: the trained coarse quantizer (adckm prefix), residual corpus,
#: residual-trained PQ, per-(query, cell) residual queries, ADC scores
#: and the R·K pre-rank, over refine_body's ``q`` CTE (which exposes the
#: raw ``qe``).
_IVFADC_CUSHION_EXTRA = f"""{_sql_adc_ivf_body(iters=_ADC_ITERS, km_prefix="adckm")},
{_SQL_ADC_RES_EMB},
{_sql_adc_pq_body(emb="res_emb", qsrc="q")},
ivfres_q AS (
  SELECT p.query_id, p.cell,
         list_transform(list_zip(p.qe, c.cvec),
                        t -> CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE)) AS qres
  FROM probes p JOIN cents c ON c.centroid_id = p.cell
),
ivfres_adc AS (
  SELECT qr.query_id, a.vec_id AS neighbor_id,
         {_sql_adc_dist2("qr.qres", "r.recon")} AS score
  FROM ivfres_q qr
  JOIN res_emb a ON a.cell = qr.cell
  JOIN pq_recon r ON r.vec_id = a.vec_id
),
cand_ids AS (
  SELECT query_id, neighbor_id AS vec_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY score ASC, neighbor_id) AS rank
    FROM ivfres_adc
  ) WHERE rank <= {_ADC_R * K_DEFAULT}
),
"""

# RaBitQ: the rotated sign codes and the estimator pre-rank.
_RBT_CUSHION_EXTRA = f"""{_rbt_base_ctes().lstrip()},
rbt_est AS (
  SELECT q2.query_id, c.vec_id AS neighbor_id, {_SQL_RBT_EST} AS score
  FROM rbt_corp c CROSS JOIN rbt_q q2
),
cand_ids AS (
  SELECT query_id, neighbor_id AS vec_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, neighbor_id) AS r
    FROM rbt_est
  ) WHERE r <= {_RBT_R * K_DEFAULT}
),
"""

#: per-candidate save has an interior keep_m optimum at m=3 for every
#: family (reports/cushion_composition_sweep.csv); the LSH point, the
#: largest candidate streams, is registered as ``*_tuned_metrics``:
#: +0.327 at sf0.1 vs +0.202 at the m=6 default
CUSHION_M_TUNED = 3

#: (family, keep_m) → (candidate source, mode, candidate CTEs,
#: registered query kinds). Query names are ``ann_{family}_cushion_{kind}``.
_CUSHION_FAMILIES = {
    ("ivf", KEEP_M_DEFAULT): ("ivf", "l2-tz", _IVF_CUSHION_EXTRA, ("topk", "metrics")),
    ("lsh", KEEP_M_DEFAULT): ("lsh", "cos-l1", _LSH_CUSHION_EXTRA, ("topk", "metrics")),
    ("lsh", CUSHION_M_TUNED): ("lsh", "cos-l1", _LSH_CUSHION_EXTRA, ("tuned_metrics",)),
    ("lsh_multiprobe", KEEP_M_DEFAULT): (
        "lsh_multiprobe", "cos-l1", _LSH_MP_CUSHION_EXTRA, ("topk", "metrics"),
    ),
    ("graph", KEEP_M_DEFAULT): (
        "graph", "cos-l1", _sql_graph_cushion_extra(), ("topk", "metrics"),
    ),
    # the graph source walking the α-pruned Vamana edges
    ("vamana", KEEP_M_DEFAULT): (
        "graph", "cos-l1", _sql_vamana_cushion_extra(), ("topk", "metrics"),
    ),
    ("mrl", KEEP_M_DEFAULT): ("mrl", "cos-l1", _MRL_CUSHION_EXTRA, ("topk", "metrics")),
    ("cascade", KEEP_M_DEFAULT): (
        "cascade", "cos-l1", _CASCADE_CUSHION_EXTRA, ("topk", "metrics"),
    ),
    ("ivfadc", KEEP_M_DEFAULT): (
        "ivfadc", "l2-tz", _IVFADC_CUSHION_EXTRA, ("topk", "metrics"),
    ),
    ("rabitq", KEEP_M_DEFAULT): ("rabitq", "cos-l1", _RBT_CUSHION_EXTRA, ("topk", "metrics")),
}


def _cushion_res(spark: SparkSession, sf_dir: str, family: str, keep_m: int):
    """The composition's RefineResult, topk persisted and memoized per
    (session, family, keep_m, fixture): a family's topk and metrics
    queries share one build. Released by ``session.clear_caches``."""
    from .session import session_cache

    cache = session_cache(spark, "cushion")
    key = (family, keep_m, sf_dir)
    if key not in cache:
        source, mode, _, _ = _CUSHION_FAMILIES[(family, keep_m)]
        corpus = load_table(spark, sf_dir, "embeddings")
        params = {}
        if family == "vamana":
            from .operators.vamana import vamana_edges

            params["edges"] = vamana_edges(corpus, cache_key=f"fixture:{sf_dir}")
        res = cushion_topk(
            source,
            queries_view(spark, sf_dir),
            corpus,
            mode,
            K_DEFAULT,
            keep_m,
            cache_key=sf_dir,
            **params,
        )
        res.topk.persist()
        cache[key] = res
    return cache[key]


def _cushion_metrics_row(res, corpus_n: int, keep_m: int) -> DataFrame:
    b_full, b_red = byte_model(FIXTURE_EMBED_DIM, keep_m)
    counts = res.scored.agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct("query_id").alias("n_q"),
    ).crossJoin(res.fetched.agg(F.count("*").alias("n_fetched")))
    cost = F.lit(b_red) * F.col("n_pairs") + F.lit(b_full) * F.col("n_fetched")
    return counts.select(
        "n_pairs",
        "n_fetched",
        F.round(F.col("n_fetched") / F.col("n_pairs"), 6).alias("fetch_frac"),
        F.round(
            F.lit(1.0) - cost / (F.lit(b_full) * F.col("n_pairs")), 6
        ).alias("save_vs_exact_rerank"),
        F.round(
            F.lit(1.0)
            - cost / (F.lit(b_full) * F.col("n_q") * F.lit(float(corpus_n))),
            6,
        ).alias("save_vs_full_scan"),
    )


def _cushion_query(family: str, keep_m: int, kind: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        res = _cushion_res(spark, sf_dir, family, keep_m)
        if kind == "topk":
            return _rounded_topk(res.topk)
        corpus_n = load_table(spark, sf_dir, "embeddings").count()
        return _cushion_metrics_row(res, corpus_n, keep_m)

    source, mode = _CUSHION_FAMILIES[(family, keep_m)][:2]
    what = "final top-K" if kind == "topk" else "byte accounting"
    run.__doc__ = (
        f"{family} candidates (source {source!r}) × cushioned refinement "
        f"({mode}, keep_m={keep_m}): {what}. Zero-miss within the "
        "candidate stream: equals the exact fp16 re-rank of the candidates."
    )
    return run


for (_family, _keep_m), (_src, _mode, _ctes, _kinds) in _CUSHION_FAMILIES.items():
    for _kind in _kinds:
        _name = f"ann_{_family}_cushion_{_kind}"
        QUERIES[_name] = _cushion_query(_family, _keep_m, _kind)
        _oracle = duck_oracle.refine_topk_sql if _kind == "topk" else duck_oracle.cushion_metrics_sql
        ORACLES[_name] = _oracle(
            _mode, K_DEFAULT, _keep_m, None, QUERY_STRIDE,
            extra_ctes=_ctes, candidate_cte="cand_ids",
        )


def q_ann_ivf_cushion_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the IVF×cushion composition against the full-corpus
    zero-miss refinement in the SAME metric (fp16 l2) — i.e. exactly
    the recall cost of the cell pruning; the cushion itself loses
    nothing (its zero-miss guarantee is per candidate stream)."""
    from .operators.simsearch import ann_recall

    res = _cushion_res(spark, sf_dir, "ivf", KEEP_M_DEFAULT)
    # persisting an identical plan again is a no-op, so repeated calls
    # share one cached relation
    full = refine_topk(
        queries_view(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
        "l2-tz",
        K_DEFAULT,
        KEEP_M_DEFAULT,
        cache_key=sf_dir,
    ).topk.persist()
    return ann_recall(res.topk, full, K_DEFAULT)


QUERIES["ann_ivf_cushion_recall"] = q_ann_ivf_cushion_recall
ORACLES["ann_ivf_cushion_recall"] = f"""
WITH {duck_oracle.fp16_cte(KEEP_M_DEFAULT)},
{duck_oracle.refine_body(
    "l2-tz", K_DEFAULT, KEEP_M_DEFAULT, None, QUERY_STRIDE,
    extra_ctes=_IVF_CUSHION_EXTRA, candidate_cte="cand_ids",
)},
ann AS (SELECT query_id, neighbor_id FROM final WHERE rank <= {K_DEFAULT}),
hits AS (
  SELECT gt.query_id, count(*) AS n_hit
  FROM gt JOIN ann USING (query_id, neighbor_id) GROUP BY gt.query_id
),
per_q AS (
  SELECT q2.query_id, CAST(coalesce(h.n_hit, 0) AS DOUBLE) / {K_DEFAULT} AS recall
  FROM (SELECT DISTINCT query_id FROM gt) q2 LEFT JOIN hits h USING (query_id)
)
SELECT round(avg(recall), 6) AS recall_at_k, count(*) AS n_queries FROM per_q
"""

# apply the correctness-window rotation LAST, after every
# registration block above has populated QUERIES
assert all(name in QUERIES for name in _FRONT), [
    n for n in _FRONT if n not in QUERIES
]
QUERIES = {name: QUERIES[name] for name in _FRONT} | {
    name: fn for name, fn in QUERIES.items() if name not in set(_FRONT)
}
