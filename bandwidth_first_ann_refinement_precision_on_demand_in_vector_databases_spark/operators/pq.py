"""Product quantization (PQ) — the third reduced-precision corpus
representation, alongside FP16 mantissa-keep and exponent truncation
(``functions/fp16.py``), extending the reference's bandwidth-first
theme (paper §3; reference reduces per-coordinate precision,
``ANNCode.py:195-242`` — PQ reduces per-*subvector* precision to a
single code).

Representation: the D-dim vector splits into ``PQ_M`` = 8 subvectors
of D/M dims (``pq_subdim`` — derived from the data, nothing bakes a
fixture dimensionality in); each subvector is replaced by
the id of its nearest codebook centroid. A vector becomes 8 small
codes — ~8 bytes against 256 for FP32, a 32× at-rest/scan reduction,
which is the PQ bandwidth story at 100 TB: the cheap pass reads only
the code columns.

Spark-first realization (no Python in any data path):

* **Codebook** — deterministic k-means per subspace
  (``operators/kmeans.py``, same trainer as the IVF coarse
  quantizer): seeded by every ``PQ_STRIDE``-th corpus vector's
  subvectors, refined by fixed Lloyd iterations with exact
  fixed-point means so the DuckDB twin replays the identical trained
  codebook. All 8 subspaces train in one plan (subspace = k-means
  group).
* **Encoding** — explode each vector into M (vec, m, subvec) rows,
  broadcast-join the codebook on ``m``, fold the sub-distance, and
  take the argmin as a ``min(struct(d2, cid))`` aggregate: map-side
  partial combine shrinks the shuffle to one row per (vector,
  subspace) — no window sort over the candidate set.
* **ADC scoring** — asymmetric distance = d²(q, reconstruction).
  The reconstruction (centroid concatenation, m-ordered) is rebuilt
  from codes + broadcast codebook; scoring is then the same strict
  ``dist2`` fold the exact path uses, so the DuckDB twin is
  bit-identical. (A production LUT — per-query table of q-subvector ×
  centroid partial distances — computes the same value by algebra;
  the reconstruction form is the oracle-checkable shape.)
* **Refinement** (precision-on-demand, the reference's core loop):
  PQ scores pick top-(R·K) candidates per query from codes alone;
  only survivors fetch full precision for exact re-ranking — late
  materialization, identical to the refine operators' phase-2
  (``operators/refine.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import dist2
from ..session import ensure_parallelism
from .kmeans import KMEANS_ITERS, kmeans_centroids
from .topk import topk_per_query

PQ_M = 8        #: subspaces (a hyperparameter; subdim = D / M is derived)
PQ_STRIDE = 25  #: codebook seeds = subvectors of every stride-th vector
PQ_REFINE_R = 3  #: refinement fetches R*K candidates for exact re-rank


def pq_subdim(corpus: DataFrame, vec_col: str = "embedding") -> int:
    """Dims per subspace, derived from the data: D / PQ_M. D comes
    from :func:`..operators.simsearch.embedding_dim` (a limit-1 peek —
    ArrayType schemas carry no length), so nothing bakes a fixture
    dimensionality into the index layer. Raises if D is not divisible
    by the subspace count."""
    from .simsearch import embedding_dim

    dim = embedding_dim(corpus, vec_col)
    if dim % PQ_M:
        raise ValueError(f"PQ_M={PQ_M} does not divide embedding dim {dim}")
    return dim // PQ_M


def _subvec(vec_col: str, m_col: str, subdim: int) -> Column:
    """1-based slice of subspace ``m`` from a D-dim array column.
    Guarded: a vector whose dimension is not exactly M·subdim raises
    at runtime instead of silently producing short subvectors and
    corrupt codes."""
    return F.when(
        F.size(F.col(vec_col)) == PQ_M * subdim,
        F.slice(F.col(vec_col), F.col(m_col) * subdim + F.lit(1), subdim),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"PQ expects dimension {PQ_M * subdim}, got "),
                F.size(F.col(vec_col)).cast("string"),
            )
        )
    )


def _explode_m(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "m", F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1)))
    )


def pq_codebook(
    corpus: DataFrame, stride: int = PQ_STRIDE, iters: int = KMEANS_ITERS
) -> DataFrame:
    """(m, cid, cvec): the trained codebook — one k-means per
    subspace, all 8 trained in a single grouped plan
    (``operators/kmeans.py``; subspace = group, seeds = the
    stride-sampled subvectors). Broadcast-sized (n_centroids =
    N/stride per subspace), memoized+persisted per session — the
    offline index artifact every query-side consumer shares; released
    by ``session.clear_caches``. ``iters=0`` recovers the pure
    sampled codebook."""
    from ..session import session_cache

    cache = session_cache(corpus.sparkSession, "pq_codebook")
    key = (id(corpus), stride, iters)
    if key not in cache:
        subdim = pq_subdim(corpus)
        pts = _explode_m(corpus.select("vec_id", "embedding")).select(
            F.col("m").alias("grp"),
            F.col("vec_id").alias("pid"),
            _subvec("embedding", "m", subdim).alias("pvec"),
        )
        cache[key] = kmeans_centroids(pts, stride, iters, dim=subdim).select(
            F.col("grp").alias("m"), "cid", "cvec"
        )
    return cache[key]


def pq_codes(
    corpus: DataFrame, codebook: DataFrame | None = None
) -> DataFrame:
    """(vec_id, m, code): the PQ sketch in long scalar form — the
    8-codes-per-vector table a 100 TB pipeline materializes once and
    scans instead of the raw vectors. Argmin ties break on smaller
    centroid id (struct ordering, free)."""
    cb = codebook if codebook is not None else pq_codebook(corpus)
    subdim = pq_subdim(corpus)
    sub = _explode_m(ensure_parallelism(corpus).select("vec_id", "embedding")).select(
        "vec_id", "m", _subvec("embedding", "m", subdim).alias("subv")
    )
    scored = sub.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "cid", dist2("subv", "cvec").alias("__d2")
    )
    return (
        scored.groupBy("vec_id", "m")
        .agg(F.min(F.struct("__d2", "cid")).alias("__a"))
        .select("vec_id", "m", F.col("__a.cid").alias("code"))
    )


def pq_reconstruct(
    corpus: DataFrame, codebook: DataFrame | None = None
) -> DataFrame:
    """(vec_id, recon): m-ordered centroid concatenation — the
    decoded form of the 8-byte sketch. Built once per corpus, shared
    by every query (query-independent); memoized + persisted per
    session when built from the default codebook, because the ADC
    scan is consumed by every PQ query family."""
    if codebook is None:
        from ..session import session_cache

        cache = session_cache(corpus.sparkSession, "pq_recon")
        key = id(corpus)
        if key not in cache:
            cache[key] = _pq_reconstruct(corpus, pq_codebook(corpus)).persist()
        return cache[key]
    return _pq_reconstruct(corpus, codebook)


def _pq_reconstruct(corpus: DataFrame, cb: DataFrame) -> DataFrame:
    return reconstruct_from_codes(pq_codes(corpus, cb), cb)


def reconstruct_from_codes(codes: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, recon) from a ``(vec_id, m, code)`` codes table and a
    broadcast codebook — the online-serving decode path: the raw
    vectors never enter the plan, only the 8-byte-per-vector codes
    scan (``sources/layout.write_pq_index`` is the storage shape)."""
    return (
        codes.join(F.broadcast(cb), (codes.m == cb.m) & (codes.code == cb.cid))
        .select("vec_id", codes.m.alias("mm"), "cvec")
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct(F.col("mm"), F.col("cvec")))).alias("__s"))
        .select(
            "vec_id",
            F.flatten(F.transform("__s", lambda s: s.cvec)).alias("recon"),
        )
    )


def pq_topk_from_index(
    queries: DataFrame, codebook: DataFrame, codes: DataFrame, k: int
) -> DataFrame:
    """ADC top-K served entirely from the stored index artifacts
    (codebook + codes) — no corpus column is read. Identical result
    to ``pq_topk`` over the corpus the index was built from."""
    recon = reconstruct_from_codes(codes, codebook)
    q = F.broadcast(queries.select("query_id", F.col("embedding").alias("qv")))
    scored = recon.crossJoin(q).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dist2("qv", "recon").alias("score"),
    )
    return topk_per_query(scored, k, ascending=True)


def pq_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """ADC top-K from the PQ representation alone (squared L2 on the
    reconstruction, ascending; ties on neighbor_id). At scale the
    scan side is the codes table — 32× fewer bytes than raw."""
    recon = pq_reconstruct(corpus)
    q = F.broadcast(queries.select("query_id", F.col("embedding").alias("qv")))
    scored = recon.crossJoin(q).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dist2("qv", "recon").alias("score"),
    )
    return topk_per_query(scored, k, ascending=True)


def ivfpq_topk(
    queries: DataFrame, corpus: DataFrame, k: int, r: int = PQ_REFINE_R
) -> DataFrame:
    """The production composition (FAISS-style IVF-PQ layout, squared
    L2 end-to-end): coarse cells prune the scan, PQ codes price the
    candidates, full precision refines the survivors.

    1. probe the ``IVF_NPROBE`` nearest cells per query (coarse
       quantizer — broadcast-sized);
    2. ADC-score only vectors in probed cells from the PQ
       reconstruction (at scale: a partition-pruned scan of the
       8-byte code columns — `sources/layout.write_cell_partitioned`
       is the storage shape);
    3. exact re-rank of the top r·K ADC candidates per query (late
       materialization of the full-precision column).

    Bytes touched per query: nprobe/n_cells of the codes table plus
    r·K full vectors — against N full vectors for brute force.
    """
    from .simsearch import IVF_NPROBE, ivf_assign, ivf_centroids, ivf_probes

    cents = ivf_centroids(corpus)
    assigned = ivf_assign(corpus, cents).select("vec_id", "cell")
    probed = ivf_probes(queries, cents, IVF_NPROBE)
    recon = pq_reconstruct(corpus)
    cand = (
        F.broadcast(probed)
        .join(assigned, "cell")
        .join(recon, "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dist2("qvec", "recon").alias("score"),
        )
    )
    adc_ids = topk_per_query(cand, r * k, ascending=True).select(
        "query_id", "neighbor_id"
    )
    from .topk import exact_l2_rerank

    return exact_l2_rerank(adc_ids, corpus, queries, k)


#: Lloyd rounds for the IVFADC coarse quantizer. Residual coding only
#: pays when cell centroids capture real structure — trained cells
#: (the production FAISS shape) lift clustered-fixture e2e recall
#: 0.726 → 0.824 (σ=0.05) where the sampled quantizer's residuals
#: move it ≤ ±0.005 (reports/IVFADC_RESIDUAL.md). Plain IVF/IVF-PQ
#: keep IVF_KMEANS_ITERS = 0 (the measured isotropic Pareto point,
#: reports/KMEANS_EXPERIMENT.md) — the two constants are independent.
IVFADC_KMEANS_ITERS = 3


def ivfadc_centroids(corpus: DataFrame, iters: int = IVFADC_KMEANS_ITERS) -> DataFrame:
    """The Lloyd-trained coarse quantizer behind IVFADC, eagerly
    localCheckpoint'ed: the trained centroid frame fans out to four
    consumers (assignment, residuals, probes, query residuals) and
    each would otherwise re-optimize the full 3-round Lloyd lineage —
    measured 68s of mostly driver-side planning per cold build at
    sf0.01, 12s after the cut. Centroid count is N/stride — a few KB;
    the checkpoint is the materialized quantizer artifact a production
    index stores anyway. Memoized per (session, corpus, iters)."""
    from ..session import session_cache
    from .simsearch import IVF_STRIDE, ivf_centroids

    cache = session_cache(corpus.sparkSession, "ivfadc_centroids")
    key = (id(corpus), iters)
    if key not in cache:
        cents = ivf_centroids(corpus, IVF_STRIDE, iters)
        cache[key] = (corpus, cents.localCheckpoint(eager=True))
    return cache[key][1]


def ivf_residuals(corpus: DataFrame, iters: int = IVFADC_KMEANS_ITERS) -> DataFrame:
    """(vec_id, cell, embedding): the per-cell residual corpus
    ``x − centroid(cell)`` — the IVFADC representation (Jégou et al.,
    TPAMI 2011; the production FAISS layout). Residuals concentrate
    around 0 far more tightly than the raw vectors, so the same 8×8
    codebook wastes less of its range — the standard lift for PQ-family
    recall. One broadcast join + a codegen ``zip_with`` map over the
    corpus; memoized per session so the codebook / codes /
    reconstruction trained downstream (all keyed by ``id(frame)``)
    share one residual frame. Eagerly localCheckpoint'ed: its lineage
    stacks the Lloyd-trained quantizer under every downstream PQ
    training plan (plan size explodes without the cut — the PCA
    iterate rule), and at scale this frame IS the materialized index
    artifact."""
    from ..session import session_cache
    from .simsearch import ivf_assign

    cache = session_cache(corpus.sparkSession, "ivfpq_residuals")
    key = (id(corpus), iters)
    if key not in cache:
        cents = ivfadc_centroids(corpus, iters)
        assigned = ivf_assign(corpus, cents)
        res = assigned.join(
            F.broadcast(cents), assigned.cell == cents.centroid_id
        ).select(
            "vec_id",
            "cell",
            F.zip_with(
                "embedding",
                "cvec",
                lambda x, c: x.cast("double") - c.cast("double"),
            ).alias("embedding"),
        )
        cache[key] = (corpus, res.localCheckpoint(eager=True))
    return cache[key][1]


def ivfpq_res_topk(
    queries: DataFrame, corpus: DataFrame, k: int, r: int = PQ_REFINE_R
) -> DataFrame:
    """IVFADC proper (residual-encoded IVF-PQ): Lloyd-trained cells
    prune the scan, PQ codes trained on PER-CELL RESIDUALS price the
    candidates, full precision refines the survivors — the reference's
    reduce-then-refine skeleton (``ANNCode.py:525-585``) with
    cell-relative codes as the reduced representation.

    1. probe the ``IVF_NPROBE`` nearest trained cells per query;
    2. ADC in residual space: score = d²(q − centroid(cell),
       recon(residual codes)) — exactly d²(q, centroid + recon) by
       algebra, computed in the residual frame so the codebook and the
       scan operate where the distribution is tight;
    3. exact re-rank of the top r·K candidates on the ORIGINAL
       vectors (late materialization).

    The query residual is per (query, probed cell) — q·nprobe tiny
    rows, broadcast; the corpus-sized side only ever carries codes."""
    from .topk import exact_l2_rerank

    adc_ids = ivfadc_candidates(queries, corpus, r * k)
    return exact_l2_rerank(adc_ids, corpus, queries, k)


def ivfadc_candidates(queries: DataFrame, corpus: DataFrame, n: int) -> DataFrame:
    """(query_id, neighbor_id): the IVFADC ADC pre-rank — the top ``n``
    candidates per query by residual-space asymmetric distance (steps
    1–2 of ``ivfpq_res_topk``, without the exact re-rank). Factored
    so the cushion composition (``refine.cushion_topk("ivfadc", ...)``) and
    the plain IVFADC serve path share one candidate generator: the
    probed trained cells bound the scan, codes price it, and only
    these n ids ever leave the index."""
    cents = ivfadc_centroids(corpus)
    res = ivf_residuals(corpus)
    recon = pq_reconstruct(res)
    from .simsearch import IVF_NPROBE, ivf_probes

    probed = ivf_probes(queries, cents, IVF_NPROBE)
    qres = probed.join(
        F.broadcast(cents), probed.cell == cents.centroid_id
    ).select(
        "query_id",
        "cell",
        F.zip_with(
            "qvec", "cvec", lambda a, b: a.cast("double") - b.cast("double")
        ).alias("qres"),
    )
    cand = (
        F.broadcast(qres)
        .join(res.select("vec_id", "cell"), "cell")
        .join(recon, "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dist2("qres", "recon").alias("score"),
        )
    )
    return topk_per_query(cand, n, ascending=True).select(
        "query_id", "neighbor_id"
    )


def ivfadc_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    r: int = PQ_REFINE_R,
) -> DataFrame:
    """IVFADC served entirely from the stored index
    (``sources/layout.write_ivfadc_index``): probes are computed
    against the broadcast stored quantizer; the probe list drives a
    PARTITION-PRUNED scan of the cell-partitioned codes table (only
    probed directories open, only the thin code columns read);
    residual reconstruction + ADC come from codes + broadcast
    codebook; the raw corpus is touched ONLY to fetch the r·K
    re-rank survivors (late materialization). Identical result to the
    in-session ``ivfpq_res_topk`` over the corpus the index was built
    from."""
    from ..functions.vector import dist2 as _dist2
    from ..sources.layout import read_ivfadc_index
    from .simsearch import IVF_NPROBE, ivf_probes
    from .topk import exact_l2_rerank

    cents, cb, codes = read_ivfadc_index(spark, index_path)
    probed = ivf_probes(queries, cents, IVF_NPROBE)
    cells = [int(r_.cell) for r_ in probed.select("cell").distinct().collect()]
    pruned = codes.where(F.col("cell").isin(cells))
    recon = reconstruct_from_codes(pruned.select("vec_id", "m", "code"), cb)
    vc = pruned.select("vec_id", "cell").distinct()
    qres = probed.join(
        F.broadcast(cents), probed.cell == cents.centroid_id
    ).select(
        "query_id",
        "cell",
        F.zip_with(
            "qvec", "cvec", lambda a, b: a.cast("double") - b.cast("double")
        ).alias("qres"),
    )
    cand = (
        F.broadcast(qres)
        .join(vc, "cell")
        .join(recon, "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _dist2("qres", "recon").alias("score"),
        )
    )
    adc_ids = topk_per_query(cand, r * k, ascending=True).select(
        "query_id", "neighbor_id"
    )
    return exact_l2_rerank(adc_ids, corpus, queries, k)


def pq_refined_topk(
    queries: DataFrame, corpus: DataFrame, k: int, r: int = PQ_REFINE_R
) -> DataFrame:
    """Precision-on-demand over PQ: the cheap ADC pass ranks all
    corpus vectors from codes; the top r·K candidates per query —
    and only they — fetch full precision for the exact re-rank
    (late materialization; reference phase-2, ``ANNCode.py:560-575``).
    Bytes touched: N codes + r·K full vectors per query, vs N full
    vectors for brute force."""
    cand_ids = pq_topk(queries, corpus, r * k).select(
        "query_id", "neighbor_id"
    )
    from .topk import exact_l2_rerank

    return exact_l2_rerank(cand_ids, corpus, queries, k)
