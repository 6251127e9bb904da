"""Order-sensitive exact replica of the reference refinement scan
(SURVEY §2.6 realization #2).

The reference processes each query's candidates sequentially in
best-first reduced order with an *evolving* admission threshold
(``ANNCode.py:348-363`` and per-mode twins): every accepted fetch can
tighten the threshold and reject later candidates. Bandwidth saving
and FPR — and, for the Hoeffding cushions, the result set itself —
depend on that order (W4), so the scalable fixed-τ₀ plan in
``refine.py`` cannot reproduce them exactly. This module can.

Two realizations share the float32 kernels:

* ``refine_replica`` (default) — **corpus-partitioned, order-exact**
  (SURVEY §2.6's 100 TB variant). The evolving threshold only ever
  *tightens* from the seed's τ₀, so the fixed-τ₀ survivor set is a
  provable superset of everything the sequential scan can fetch or
  use: (1) each corpus partition emits its local top-K candidates by
  reduced and by exact score (partial top-K per partition), merged
  globally into the seed (→ τ₀) and the ground-truth set; (2) each
  partition filters itself to the τ₀ survivors with the same float32
  bounds; (3) only the survivors — O(K + FPR·N) per query, never the
  corpus — shuffle to a per-query task that replays the sequential
  evolving-threshold loop in the exact global reduced order. Fetch
  decisions, heap evolution, byte accounting and the final top-K are
  bit-identical to the single-stream scan (equality-tested). The
  corpus never leaves its partitions; no driver collect, no row
  ceiling.
* ``refine_replica_collected`` — the literal single-stream form
  (corpus broadcast as one NumPy matrix), kept as the equality oracle
  for the partitioned plan; guarded by ``max_corpus_rows``.

Inside both, per-candidate bounds are vectorized; only the
threshold-update loop is sequential (it is sequential in the math,
not just the code). Arithmetic is float32 end to end, matching the
reference's dtypes.

Determinism deviation: the reference orders equal reduced scores by
NumPy quicksort internals; here ties order by ``vec_id`` — affects
byte accounting only when reduced scores collide exactly.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.fp16 import (
    byte_model,
    delta_from_exp_np,
    fp16_round_np,
    reduce_precision_np,
)
from .refine import MODES, hoeff_const, is_cosine

REPLICA_SCHEMA = (
    "query_id bigint, neighbor_ids array<bigint>, scores array<double>, "
    "n_hits bigint, n_fetched bigint, n_unnecessary bigint"
)


def _normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return (mat / np.maximum(norms, 1e-12)).astype(np.float32)


def _corpus_pack(
    corpus_pdf: pd.DataFrame, mode: str, keep_m: int, raw_full: bool = False
):
    """Precompute the per-corpus matrices a mode needs (float32).

    ``raw_full`` (cos-l2 only) replays the reference's raw-float32
    quirk: its CLI feeds the UNROUNDED corpus into ``refine_cos_l2``
    (``ANNCode.py:849`` passes ``DB``, not ``DBf``) so the fetch/exact
    space and the cushion constant are built from ``unit(raw)``
    (``ANNCode.py:764,440-443``), while the reported ground truth stays
    in the fp16-rounded unit space (``ANNCode.py:837``). The engine's
    default uses fp16-rounded everywhere (SURVEY §2.6 deviation note);
    the flag exists so the reference's published cos-l2 numbers can be
    reproduced bit-for-bit."""
    ids = corpus_pdf["vec_id"].to_numpy()
    raw = np.stack(corpus_pdf["embedding"].to_numpy()).astype(np.float32)
    red, kept = reduce_precision_np(raw, keep_m)
    delta = delta_from_exp_np(kept, keep_m)
    full16 = fp16_round_np(raw)
    pack = {"ids": ids, "delta": delta}
    if raw_full and mode != "cos-l2":
        raise ValueError("raw_full replays the reference's cos-l2 quirk only")
    if is_cosine(mode):
        pack["full"] = _normalize(full16)      # DBu (unit fp16 space)
        pack["red"] = _normalize(red)          # DBru
        if mode == "cos-l2":
            if raw_full:
                pack["full"] = _normalize(raw)          # unit(raw DB)
                pack["gt_full"] = _normalize(full16)    # gt stays fp16 space
            diff = pack["full"] - pack["red"]
            pack["bconst"] = np.sqrt((diff * diff).sum(axis=1)).astype(np.float32)
    else:
        pack["full"] = full16                  # DBf (value space)
        pack["red"] = red
    return pack


def _row_dot(mat: np.ndarray, vec: np.ndarray) -> np.ndarray:
    """Per-row dot product as an explicit axis-1 pairwise reduction.
    BLAS gemv/dot pick height-dependent kernels whose float32 sums can
    differ by an ulp between a full matrix and a small slice of it;
    ``np.add.reduce`` over axis 1 depends only on the row length, so
    the partitioned and single-stream replicas see identical values."""
    return np.add.reduce(mat * vec[None, :], axis=1)


def _bounds_for(mode: str, q: np.ndarray, pack: dict, delta_p: float | None):
    """Vectorized per-candidate (phase1_score, admission_bound)."""
    delta = pack["delta"]
    if is_cosine(mode):
        s_hat = _row_dot(pack["red"], q)
        if mode == "cos-hoeff":
            cushion = hoeff_const(delta_p) * np.linalg.norm(q[None, :] * delta, axis=1)
        elif mode == "cos-l1":
            cushion = _row_dot(delta, np.abs(q))
        else:  # cos-l2
            cushion = pack["bconst"]
        return s_hat.astype(np.float32), cushion.astype(np.float32)
    a = q[None, :] - pack["red"]
    d2_hat = np.add.reduce(a * a, axis=1)
    if mode == "l2-sym":
        t = np.maximum(np.abs(a) - delta, 0.0)
        lower = (t * t).sum(axis=1)
    elif mode == "l2-tz":
        sgn = np.where(np.signbit(pack["red"]), -1.0, 1.0).astype(np.float32)
        b = a * sgn
        shrunk = np.abs(a) - delta
        lower = np.where(
            b <= 0.0, a * a, np.where(b < delta, 0.0, shrunk * shrunk)
        ).sum(axis=1)
    else:  # l2-hoeff
        lower = d2_hat - 2.0 * hoeff_const(delta_p) * np.linalg.norm(a * delta, axis=1)
    return d2_hat.astype(np.float32), lower.astype(np.float32)


def _exact_scores(full: np.ndarray, q: np.ndarray, cos: bool) -> np.ndarray:
    """Per-row exact score via the height-independent reduction
    (``_row_dot``) — identical values whether computed over the whole
    corpus or any slice of it, which is what makes the partitioned
    replica bit-exact."""
    if cos:
        return _row_dot(full, q)
    d = full - q[None, :]
    return np.add.reduce(d * d, axis=1)


def _replay(
    cos: bool,
    k: int,
    ids: np.ndarray,
    phase1: np.ndarray,
    bound: np.ndarray,
    exact: np.ndarray,
    gt_ids: set,
):
    """The sequential evolving-threshold loop over a candidate set in
    global best-first reduced order. Candidates outside the fixed-τ₀
    survivor superset can be omitted without changing anything: the
    threshold only tightens from τ₀, so they are never fetched and
    never touch the heap. Returns (final_ids, final_scores, n_fetched,
    n_unnecessary, n_hits)."""
    kk = min(k, len(ids))
    order = np.lexsort((ids, -phase1 if cos else phase1))
    seed, rest = order[:kk], order[kk:]

    top_scores = exact[seed].astype(np.float32)
    top_ids = ids[seed].copy()
    worst_pos = int(np.argmin(top_scores)) if cos else int(np.argmax(top_scores))
    worst = float(top_scores[worst_pos])
    n_fetched = len(seed)
    fetched = list(ids[seed])

    for idx in rest:
        if cos:
            if float(phase1[idx]) + float(bound[idx]) < worst:
                continue
        else:
            if float(bound[idx]) > worst:
                continue
        sx = float(exact[idx])
        n_fetched += 1
        fetched.append(ids[idx])
        better = sx > worst if cos else sx < worst
        if better:
            top_scores[worst_pos] = sx
            top_ids[worst_pos] = ids[idx]
            worst_pos = int(np.argmin(top_scores)) if cos else int(np.argmax(top_scores))
            worst = float(top_scores[worst_pos])

    final_order = np.lexsort((top_ids, -top_scores if cos else top_scores))
    final_ids = top_ids[final_order]
    final_set = set(final_ids.tolist())
    n_unnecessary = sum(1 for i in fetched if i not in final_set)
    n_hits = len(gt_ids & final_set)
    return (
        final_ids.astype(np.int64),
        top_scores[final_order].astype(np.float64),
        n_fetched,
        n_unnecessary,
        n_hits,
    )


def _scan_one_query(mode: str, k: int, q: np.ndarray, pack: dict, delta_p):
    """The evolving-threshold scan for one query over a whole-corpus
    pack. Returns (topk_ids desc-quality, topk_scores, n_fetched,
    n_unnecessary, n_hits)."""
    cos = is_cosine(mode)
    ids = pack["ids"]
    kk = min(k, len(ids))
    phase1, bound = _bounds_for(mode, q, pack, delta_p)

    # exact scores are only computed on fetch; gt needs them all (A1).
    # Under raw_full the gt ranks in its own (fp16-unit) space while
    # fetch scores stay in unit(raw) — the reference's cos-l2 split.
    exact_all = _exact_scores(pack["full"], q, cos)
    gt_scores = (
        exact_all
        if "gt_full" not in pack
        else _exact_scores(pack["gt_full"], q, cos)
    )
    gt_order = np.lexsort((ids, -gt_scores if cos else gt_scores))
    gt_ids = set(ids[gt_order[:kk]].tolist())

    return _replay(cos, k, ids, phase1, bound, exact_all, gt_ids)


def refine_replica_collected(
    queries: DataFrame,
    corpus: DataFrame,
    mode: str,
    k: int,
    keep_m: int,
    delta: float | None = None,
    max_corpus_rows: int = 1_000_000,
    raw_full: bool = False,
) -> DataFrame:
    """Per-query replica summary frame (one row per query) — the
    literal single-stream form: collects the corpus to the driver and
    broadcasts it as one NumPy pack. Kept as the equality oracle for
    the partitioned default (``refine_replica``); ``max_corpus_rows``
    is a hard ceiling so a mistaken call on a large corpus fails fast
    instead of OOMing the driver. ``raw_full`` replays the reference's
    cos-l2 raw-float32 corpus semantics (see ``_corpus_pack``)."""
    if mode not in MODES:
        raise ValueError(f"unknown mode {mode!r}")
    spark = queries.sparkSession
    n_corpus = corpus.select("vec_id").limit(max_corpus_rows + 1).count()
    if n_corpus > max_corpus_rows:
        raise ValueError(
            f"refine_replica collects the corpus to the driver; corpus has "
            f"> {max_corpus_rows} rows. Use refine_topk/refine_metrics (the "
            f"distributed path) or raise max_corpus_rows explicitly."
        )
    corpus_pdf = corpus.select("vec_id", "embedding").toPandas()
    pack = _corpus_pack(corpus_pdf, mode, keep_m, raw_full)
    bc = spark.sparkContext.broadcast(pack)
    cos = is_cosine(mode)

    def per_query(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            q = np.asarray(row["embedding"], dtype=np.float32)
            if cos:
                q = (q / max(np.linalg.norm(q), 1e-12)).astype(np.float32)
            fin_ids, fin_scores, n_f, n_u, n_h = _scan_one_query(
                mode, k, q, bc.value, delta
            )
            out.append(
                {
                    "query_id": row["query_id"],
                    "neighbor_ids": list(fin_ids),
                    "scores": list(fin_scores),
                    "n_hits": n_h,
                    "n_fetched": n_f,
                    "n_unnecessary": n_u,
                }
            )
        return pd.DataFrame(out)

    return (
        queries.select("query_id", "embedding")
        .groupBy("query_id")
        .applyInPandas(per_query, schema=REPLICA_SCHEMA)
    )


def _collect_queries(queries: DataFrame, cos: bool):
    """(query_ids int64, Q float32 [q, D]) with cosine normalization
    applied — the small side by contract; collecting q rows is the
    same footprint every refine operator's broadcast already has.

    Normalization is per-vector with the same expression the
    single-stream scan uses (BLAS vector norm, not the matrix-axis
    reduction — the two can differ by one float32 ulp, which the
    bit-equality contract cannot tolerate)."""
    q_pdf = queries.select("query_id", "embedding").toPandas()
    qids = q_pdf["query_id"].to_numpy(dtype=np.int64)
    rows = [np.asarray(v, dtype=np.float32) for v in q_pdf["embedding"]]
    if cos:
        rows = [
            (v / max(np.linalg.norm(v), 1e-12)).astype(np.float32) for v in rows
        ]
    return qids, np.stack(rows)


def refine_replica(
    queries: DataFrame,
    corpus: DataFrame,
    mode: str,
    k: int,
    keep_m: int,
    delta: float | None = None,
    raw_full: bool = False,
) -> DataFrame:
    """Corpus-partitioned, order-exact replica (SURVEY §2.6's 100 TB
    variant; same output frame as ``refine_replica_collected``,
    bit-identical — see the module docstring for the superset
    argument). ``raw_full`` replays the reference's cos-l2
    raw-float32 corpus semantics (see ``_corpus_pack``).

    Plan shape: two partition-local corpus passes + one survivor-only
    shuffle. Pass 1 emits each partition's top-K candidates by reduced
    and by exact score (2·K·q rows per partition); a window merge
    picks the global seed → τ₀ and the ground-truth set. Pass 2 emits
    the τ₀ survivors — seed ∪ admitted, the fixed-τ₀ fetch superset —
    with their float32 (phase1, bound, exact) scalars. The sequential
    replay then runs per query over survivors only. The corpus never
    moves: both passes are ``mapInPandas`` where the rows already
    live, and what shuffles is O(q·(K + FPR·N)) scalar rows."""
    if mode not in MODES:
        raise ValueError(f"unknown mode {mode!r}")
    spark = queries.sparkSession
    cos = is_cosine(mode)
    qids, Q = _collect_queries(queries, cos)
    bc_q = spark.sparkContext.broadcast((qids, Q))
    kk = k

    cand_schema = (
        "query_id bigint, vec_id bigint, phase1 double, bound double, "
        "exact double, kind string"
    )

    def pass1(batches) -> "pd.DataFrame":
        """Partition-local partial top-K: seed candidates (best kk by
        reduced order) and gt candidates (best kk by exact)."""
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        pack = _corpus_pack(pdf, mode, keep_m, raw_full)
        ids = pack["ids"]
        q_ids, q_mat = bc_q.value
        out = []
        for qi, q in zip(q_ids, q_mat):
            phase1, bound = _bounds_for(mode, q, pack, delta)
            exact = _exact_scores(pack["full"], q, cos)
            # gt candidates rank (and later merge) in the gt space —
            # identical to the fetch space except under raw_full,
            # where gt stays fp16-unit while fetches use unit(raw)
            gt_scores = (
                exact
                if "gt_full" not in pack
                else _exact_scores(pack["gt_full"], q, cos)
            )
            seed_loc = np.lexsort((ids, -phase1 if cos else phase1))[:kk]
            gt_loc = np.lexsort((ids, -gt_scores if cos else gt_scores))[:kk]
            for loc, kind, ex in (
                (seed_loc, "seed", exact),
                (gt_loc, "gt", gt_scores),
            ):
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qi,
                            "vec_id": ids[loc],
                            "phase1": phase1[loc].astype(np.float64),
                            "bound": bound[loc].astype(np.float64),
                            "exact": ex[loc].astype(np.float64),
                            "kind": kind,
                        }
                    )
                )
        yield pd.concat(out, ignore_index=True)

    cand = corpus.select("vec_id", "embedding").mapInPandas(pass1, schema=cand_schema)

    # global merge of the per-partition partial top-Ks (classic
    # partial-rank-then-merge: P·K·q rows, window over tiny input)
    from pyspark.sql.window import Window

    sgn = -1 if cos else 1
    w_seed = Window.partitionBy("query_id").orderBy(
        (F.col("phase1") * sgn).asc(), F.col("vec_id").asc()
    )
    seed = (
        cand.where(F.col("kind") == "seed")
        .withColumn("__r", F.row_number().over(w_seed))
        .where(F.col("__r") <= kk)
    )
    # τ₀ = worst exact among the seed (the scan's initial threshold)
    tau0 = seed.groupBy("query_id").agg(
        (F.min("exact") if cos else F.max("exact")).alias("tau0")
    )
    w_gt = Window.partitionBy("query_id").orderBy(
        (F.col("exact") * sgn).asc(), F.col("vec_id").asc()
    )
    gt_pairs = (
        cand.where(F.col("kind") == "gt")
        .withColumn("__r", F.row_number().over(w_gt))
        .where(F.col("__r") <= kk)
        .select("query_id", "vec_id", F.lit(True).alias("is_gt"))
    )

    # τ₀ per query to the executors (q scalars — loader-header scale)
    tau_map = {r["query_id"]: float(r["tau0"]) for r in tau0.collect()}
    bc_tau = spark.sparkContext.broadcast(tau_map)

    surv_schema = (
        "query_id bigint, vec_id bigint, phase1 double, bound double, exact double"
    )

    def pass2(batches) -> "pd.DataFrame":
        """Partition-local survivor extraction: the fixed-τ₀ admission
        (float64 comparisons over float32 values — exactly the scan's
        own arithmetic), which the evolving threshold can only
        tighten."""
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        pack = _corpus_pack(pdf, mode, keep_m, raw_full)
        ids = pack["ids"]
        q_ids, q_mat = bc_q.value
        taus = bc_tau.value
        out = []
        for qi, q in zip(q_ids, q_mat):
            t0 = taus[int(qi)]
            phase1, bound = _bounds_for(mode, q, pack, delta)
            p64 = phase1.astype(np.float64)
            b64 = bound.astype(np.float64)
            keep = (p64 + b64 >= t0) if cos else (b64 <= t0)
            if not keep.any():
                continue
            exact = _exact_scores(pack["full"][keep], q, cos)
            out.append(
                pd.DataFrame(
                    {
                        "query_id": qi,
                        "vec_id": ids[keep],
                        "phase1": p64[keep],
                        "bound": b64[keep],
                        "exact": exact.astype(np.float64),
                    }
                )
            )
        if out:
            yield pd.concat(out, ignore_index=True)

    admitted = corpus.select("vec_id", "embedding").mapInPandas(
        pass2, schema=surv_schema
    )
    # survivors = admitted ∪ seed (a seed member can fail its own τ₀
    # test — e.g. a Hoeffding cushion smaller than its score gap — but
    # the scan fetches the whole seed unconditionally)
    survivors = (
        admitted.unionByName(
            seed.select("query_id", "vec_id", "phase1", "bound", "exact")
        )
        .groupBy("query_id", "vec_id")
        .agg(
            F.first("phase1").alias("phase1"),
            F.first("bound").alias("bound"),
            F.first("exact").alias("exact"),
        )
        .join(gt_pairs, ["query_id", "vec_id"], "left")
    )

    def replay_group(pdf: pd.DataFrame) -> pd.DataFrame:
        qi = int(pdf["query_id"].iloc[0])
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        phase1 = pdf["phase1"].to_numpy(dtype=np.float64).astype(np.float32)
        bound = pdf["bound"].to_numpy(dtype=np.float64).astype(np.float32)
        exact = pdf["exact"].to_numpy(dtype=np.float64).astype(np.float32)
        gt_ids = set(ids[pdf["is_gt"].eq(True).to_numpy(dtype=bool)].tolist())
        fin_ids, fin_scores, n_f, n_u, n_h = _replay(
            cos, k, ids, phase1, bound, exact, gt_ids
        )
        return pd.DataFrame(
            [
                {
                    "query_id": qi,
                    "neighbor_ids": list(fin_ids),
                    "scores": list(fin_scores),
                    "n_hits": n_h,
                    "n_fetched": n_f,
                    "n_unnecessary": n_u,
                }
            ]
        )

    return survivors.groupBy("query_id").applyInPandas(
        replay_group, schema=REPLICA_SCHEMA
    )


def replica_topk(replica_df: DataFrame) -> DataFrame:
    """Explode the summary to the canonical top-K frame."""
    z = F.arrays_zip(
        F.col("neighbor_ids").alias("neighbor_id"), F.col("scores").alias("score")
    )
    ex = replica_df.select("query_id", F.posexplode(z).alias("pos", "pair"))
    return ex.select(
        "query_id",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("pair.neighbor_id").alias("neighbor_id"),
        F.col("pair.score").alias("score"),
    )


def replica_metrics(
    replica_df: DataFrame,
    mode: str,
    k: int,
    keep_m: int,
    n_corpus: int,
    dim: int,
    delta: float | None = None,
    keep_e: int = 5,
    red_bytes_override: float | None = None,
) -> DataFrame:
    """Reference-exact metrics row from the per-query summaries,
    reproducing the evolving-threshold byte accounting
    (``ANNCode.py:316-319, 368-370``)."""
    b_full, b_red = byte_model(dim, keep_m, keep_e)
    if red_bytes_override is not None:
        b_red = red_bytes_override
    agg = replica_df.agg(
        F.count("*").alias("n_q"),
        F.sum("n_fetched").alias("fetches"),
        F.sum("n_unnecessary").alias("unnecessary"),
        F.sum("n_hits").alias("hits"),
    )
    total = F.lit(b_red) * F.lit(n_corpus) * F.col("n_q") + F.lit(b_full) * F.col("fetches")
    baseline = F.lit(b_full) * F.lit(n_corpus) * F.col("n_q")
    return agg.select(
        F.lit(mode).alias("mode"),
        F.lit(keep_m).alias("m_keep"),
        F.lit(float(delta) if delta is not None else 0.0).alias("delta"),
        (F.col("hits") / (F.col("n_q") * F.lit(float(k)))).alias("recall"),
        (F.lit(1.0) - total / baseline).alias("save"),
        (F.col("unnecessary") / (F.lit(n_corpus) * F.col("n_q"))).alias("fpr"),
    )
