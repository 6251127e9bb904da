"""The ANN family table: the ``ann_<family>_{topk,refined_topk,recall,
recall_tuned}`` queries of every in-session index family, the
``ann_<family>_index_topk`` serve paths, and their DuckDB oracles,
generated from two module-level tables.

``ANN_FAMILIES`` maps (family, R) to one Spark ranker and its oracle
replay:

* the ranker ``(queries, corpus, k, sf_dir) -> (query_id, rank,
  neighbor_id, score)``, its fixed parameters bound (``sf_dir`` keys
  the memoized builds of the rankers that have one);
* the metric, ``cosine`` or ``l2``: the ground truth of the recall rows
  and the rank order (DESC / ASC);
* the oracle's candidate CTEs (they define ``q``) and the name of their
  (query_id, neighbor_id, score) candidate relation;
* R, the exact re-rank depth, or None: with R the oracle keeps the top
  R·K candidates per query and re-scores them exactly
  (``duck_oracle.rerank_cte``);
* the query kinds the row registers, named ``ann_{family}_{kind}``.

A top-K query is the ranker then the rounded select; a recall query is
``ann_recall`` of the ranker's top-K against the fixture's exact top-K
in the row's metric, and its oracle computes that ground truth by brute
force in SQL (``duck_oracle.recall_sql``).

``ANN_SERVES`` maps a family to its offline-build/online-serve ranker:
the index artifact is written once per (session, fixture dir) by
``session.artifact_dir`` and the serve plan reads the stored tables.
Results are identical to the in-session build, so each serve query
reuses the top-K oracle of its in-session family.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import registry_simsearch as RS
from . import registry_vectordb as RV
from .operators import bq as BQ
from .operators import mrl as MRL
from .operators import mutate as MUT
from .operators import opq as O
from .operators import pq as P
from .operators import rabitq as RBT
from .operators import simsearch as S
from .operators import spann as SP
from .operators import sq as SQ
from .operators import vectordb as V
from .operators.topk import exact_topk_fixture_cached
from .operators.vamana import vamana_edges
from .plans.duck_oracle import METRICS, SQL_Q_CTE, rank_sql, recall_sql, rerank_cte
from .registry_simsearch import ANN_K, GRAPH_BEAM_K
from .session import artifact_dir
from .sources import layout as L
from .sources.fixtures import load_table, queries_view

Ranker = Callable[[DataFrame, DataFrame, int, str], DataFrame]


class Family(NamedTuple):
    ranker: Ranker
    metric: str
    ctes: str
    cand: str
    kinds: tuple[str, ...]


def _op(fn, **params) -> Ranker:
    """The ranker of an in-session operator ``fn(queries, corpus, k,
    **params)``."""
    return lambda queries, corpus, k, sf_dir: fn(queries, corpus, k, **params)


def _vamana_walk(queries: DataFrame, corpus: DataFrame, k: int, sf_dir: str) -> DataFrame:
    edges = vamana_edges(corpus, cache_key=f"fixture:{sf_dir}")
    return S.graph_topk_from_index(queries, corpus, edges, k)


def _filtered(queries: DataFrame, corpus: DataFrame, k: int, sf_dir: str) -> DataFrame:
    return V.filtered_topk(queries, corpus, k, RV._filter_col(), metric="cosine")


def _filtered_ivf(queries: DataFrame, corpus: DataFrame, k: int, sf_dir: str) -> DataFrame:
    return V.filtered_ivf_topk(queries, corpus, k, RV._filter_col())


def _delta(queries: DataFrame, corpus: DataFrame, k: int, sf_dir: str) -> DataFrame:
    ups, dels = MUT.fixture_mutation(corpus)
    return MUT.mutated_topk(queries, corpus, ups, dels, k)


ANN_FAMILIES: dict[tuple[str, int | None], Family] = {
    ("ivf", None): Family(_op(S.ivf_topk), "cosine", RS.SQL_IVF_CTES, "ivf_cand", ("topk", "recall")),
    ("lsh", None): Family(_op(S.lsh_topk), "cosine", RS.SQL_LSH_CTES, "lsh_cand", ("topk", "recall")),
    # multi-probe LSH: the T nearest buckets by flipped-bit margin, the
    # recall lever that costs no extra stored tables
    ("lsh_multiprobe", None): Family(
        _op(S.lsh_multiprobe_topk), "cosine", RS.SQL_LSH_MP_CTES, "lsh_mp_cand", ("topk", "recall"),
    ),
    # budget-adaptive probing: ranked cells until a per-query candidate
    # budget (uniform per-query cost, no straggler from one giant cell)
    ("ivf_adaptive", None): Family(
        _op(S.ivf_adaptive_topk), "cosine", RS.SQL_IVF_ADAPTIVE_CTES, "ivfa_cand", ("topk", "recall"),
    ),
    # SPANN: boundary-replicated postings, dynamically pruned probes.
    # Fixture Pareto point: recall 0.925 at the scanned-row budget of
    # IVF nprobe=2 (which reaches 0.79) — reports/SPANN.md
    ("spann", None): Family(_op(SP.spann_topk), "cosine", RS.SQL_SPANN_CTES, "spann_cand", ("topk", "recall")),
    # beam search over the symmetrized banded KNN graph from stride
    # entry points (the NSW/HNSW query shape, unrolled declaratively);
    # the oracle replays the graph build, the entry scoring and every
    # expansion round
    ("graph", None): Family(
        _op(S.graph_beam_search, graph_k=GRAPH_BEAM_K), "cosine",
        RS._GRAPH_BEAM_CTES, RS._GRAPH_BEAM_FINAL, ("topk", "recall"),
    ),
    # the same walk entered at the medoids of the query's nearest IVF
    # cells (HNSW's hierarchical-entry lever)
    ("graph_centroid", None): Family(
        _op(S.graph_centroid_topk, graph_k=GRAPH_BEAM_K), "cosine",
        RS._GRAPH_CENT_CTES, RS._GRAPH_CENT_FINAL, ("topk", "recall"),
    ),
    # the walk over the α-pruned Vamana graph (banded base → 2-hop
    # enrichment → RobustPrune bitmask fold → symmetrize). Construction
    # recall@5 0.81 vs the banded build's 0.44 (sf0.01) lifts walk
    # recall@20 to 0.945 vs 0.83 at the same degree budget and fewer
    # visited (sf0.1: 0.80 vs 0.7125 at 287 vs 306 visited/query)
    ("vamana", None): Family(
        _vamana_walk, "cosine", RS._VAMANA_BEAM_CTES, RS._VAMANA_BEAM_FINAL, ("topk", "recall"),
    ),
    ("pq", None): Family(_op(P.pq_topk), "l2", RS.SQL_PQ_CTES, "pq_cand", ("topk", "recall")),
    ("pq", P.PQ_REFINE_R): Family(_op(P.pq_refined_topk), "l2", RS.SQL_PQ_CTES, "pq_cand", ("refined_topk",)),
    # IVF-PQ, the production composition: cell pruning × code pricing
    # × exact refinement
    ("ivfpq", P.PQ_REFINE_R): Family(
        _op(P.ivfpq_topk), "l2", RS.SQL_IVFPQ_CTES, "ivfpq_adc", ("topk", "recall"),
    ),
    # IVFADC proper: PQ trained and scored on per-cell residuals
    ("ivfpq_res", P.PQ_REFINE_R): Family(
        _op(P.ivfpq_res_topk), "l2", RS.SQL_IVFPQ_RES_CTES, "ivfres_adc", ("topk", "recall"),
    ),
    # OPQ: PQ behind a variance-balanced dimension permutation
    ("opq", None): Family(_op(O.opq_topk), "l2", RS.SQL_OPQ_CTES, "pq_cand", ("topk", "recall")),
    ("opq", P.PQ_REFINE_R): Family(
        _op(O.opq_refined_topk), "l2", RS.SQL_OPQ_CTES, "pq_cand", ("refined_topk",),
    ),
    # IVF-OPQ re-ranks in the permuted space, so its CTEs carry their
    # own re-rank (over opq_emb/opq_q)
    ("ivfopq", None): Family(_op(O.ivfopq_topk), "l2", RS.SQL_IVFOPQ_CTES, "rerank", ("topk", "recall")),
    # learned-rotation OPQ: the frozen Ge et al. rotation, served as one
    # literal-matrix fold (ADC comparison in reports/OPQ_ROTATION.csv)
    ("opq_rot", None): Family(_op(O.opq_rot_topk), "l2", RS.SQL_OPQ_ROT_CTES, "pq_cand", ("topk", "recall")),
    ("sq", None): Family(_op(SQ.sq_topk), "l2", RV._SQL_SQ_CTES, "sq_cand", ("topk", "recall")),
    ("sq", SQ.SQ_REFINE_R): Family(
        _op(SQ.sq_refined_topk), "l2", RV._SQL_SQ_CTES, "sq_cand", ("refined_topk",),
    ),
    ("ivfsq", SQ.SQ_REFINE_R): Family(
        _op(SQ.ivfsq_topk), "l2", RV._SQL_IVFSQ_CTES, "ivfsq_adc", ("topk", "recall"),
    ),
    # 1-bit signatures: the recall row measures the REFINED path, the
    # number a deployment cares about (the raw Hamming rank is only the
    # pre-filter; ann_bq_topk registers it on its own)
    ("bq", BQ.BQ_REFINE_R): Family(
        _op(BQ.bq_refined_topk), "cosine", RV._SQL_BQ_SIM_CTES, "bq_sim", ("refined_topk", "recall"),
    ),
    # IVF × 1-bit: cell pruning × Hamming pricing on D/8-byte
    # signatures × exact cosine refinement — the memory-lean sibling of
    # ann_ivfpq_topk that needs NO trained codebook
    ("ivfbq", BQ.BQ_REFINE_R): Family(
        _op(BQ.ivfbq_topk), "cosine", RV._SQL_IVFBQ_CTES, "ivfbq_sim", ("topk", "recall"),
    ),
    # RaBitQ: read its recall next to ann_bq_recall — same candidate
    # budget (R·K), same re-rank; only the pre-rank estimator changes
    # (rotated scalar-corrected signed dot vs raw Hamming)
    ("rabitq", RBT.RABITQ_REFINE_R): Family(
        _op(RBT.rabitq_topk), "cosine", RV._SQL_RBT_CTES, "rbt_est", ("topk", "recall"),
    ),
    # the swept operating point R=5 (reports/sweep_rabitq_r.csv); measured
    # optima get a registered ``_tuned`` row
    ("rabitq", RV.RABITQ_R_TUNED): Family(
        _op(RBT.rabitq_topk, r=RV.RABITQ_R_TUNED), "cosine", RV._SQL_RBT_CTES, "rbt_est",
        ("recall_tuned",),
    ),
    # IVF × RaBitQ: the memory-lean production pairing; compare
    # ann_ivfbq_topk (same cells, raw Hamming pricing)
    ("ivfrabitq", RBT.RABITQ_REFINE_R): Family(
        _op(RBT.ivfrabitq_topk), "cosine", RV._SQL_IVFRBT_CTES, "ivfrbt_est", ("topk", "recall"),
    ),
    # Matryoshka prefix pre-rank + exact re-rank. The recall is a floor
    # estimate by construction: the fixture is isotropic (every
    # coordinate equally informative), where trained MRL embeddings
    # front-load the prefix — see operators/mrl.py. ann_mrl_topk (the
    # prefix scores themselves) registers on its own.
    ("mrl", MRL.MRL_REFINE_R): Family(
        _op(MRL.mrl_refined_topk), "cosine", RV._SQL_MRL_CAND, "mrl_cand", ("refined_topk", "recall"),
    ),
    # the swept (d', R) optimum of the dimension-truncation frontier
    ("mrl", RV.MRL_R_TUNED): Family(
        _op(MRL.mrl_refined_topk, r=RV.MRL_R_TUNED, d_keep=RV.MRL_D_TUNED), "cosine",
        RV._sql_mrl_cand(RV.MRL_D_TUNED), "mrl_cand", ("recall_tuned",),
    ),
    # 1-bit Hamming admit → int8 recon-cosine narrow → exact re-rank
    ("cascade", None): Family(_op(BQ.cascade_topk), "cosine", RV._SQL_CASCADE_CTES, "casc_cand", ("topk",)),
    # metadata-filtered exact top-K (predicate pushed to the scan) and
    # the IVF post-filter variant
    ("filtered", None): Family(_filtered, "cosine", RV._SQL_FILTERED_CTES, "filt_cand", ("topk",)),
    ("filtered_ivf", None): Family(
        _filtered_ivf, "cosine", RV._SQL_FILTERED_IVF_CTES, "fcand", ("topk",),
    ),
    # exact top-K over the upsert/delete-mutated live view
    ("delta", None): Family(_delta, "cosine", RV._SQL_DELTA_CTES, "delta_cand", ("topk",)),
}


# ---------------------------------------------------------------------------
# Offline-build / online-serve rankers: each writes its index artifact
# once per (session, fixture dir) and plans over the stored tables only.
# ---------------------------------------------------------------------------

def _serve_graph(queries: DataFrame, corpus: DataFrame, k: int, sf_dir: str) -> DataFrame:
    """The symmetrized KNN edge set as a stored (src, dst) table; the
    serve plan reads only the two id columns and builds no bands
    (``tests/test_layout.py``)."""
    spark = corpus.sparkSession
    path = artifact_dir(
        spark, sf_dir, "graph-index",
        lambda p: L.write_graph_index(corpus, p, GRAPH_BEAM_K, cache_key=f"fixture:{sf_dir}"),
    )
    return S.graph_topk_from_index(queries, corpus, L.read_graph_index(spark, path), k)


def _serve_vamana(queries: DataFrame, corpus: DataFrame, k: int, sf_dir: str) -> DataFrame:
    """The α-pruned edge set stored the same way: the prune's cost (the
    dominant wall of the in-session query) never appears in the plan."""
    spark = corpus.sparkSession
    path = artifact_dir(
        spark, sf_dir, "vamana-index",
        lambda p: L.write_vamana_index(corpus, p, cache_key=f"fixture:{sf_dir}"),
    )
    return S.graph_topk_from_index(queries, corpus, L.read_graph_index(spark, path), k)


def _serve_pq(queries: DataFrame, corpus: DataFrame, k: int, sf_dir: str) -> DataFrame:
    """The trained codebook and the 8-byte code table: the ADC plan reads
    only the stored tables — no corpus column, no retraining."""
    spark = corpus.sparkSession
    path = artifact_dir(spark, sf_dir, "pq-index", lambda p: L.write_pq_index(corpus, p))
    cb, codes = L.read_pq_index(spark, path)
    return P.pq_topk_from_index(queries, cb, codes, k)


def _serve_ivf(queries: DataFrame, corpus: DataFrame, k: int, sf_dir: str) -> DataFrame:
    """The assigned corpus partitioned by cell: the probe list drives a
    partition-pruned scan (``PartitionFilters``) — the IVF bandwidth win
    made physical."""
    spark = corpus.sparkSession
    path = artifact_dir(spark, sf_dir, "ivf-cells", lambda p: L.write_cell_partitioned(corpus, p))
    return L.ivf_topk_from_store(spark, path, queries, S.ivf_centroids(corpus), k)


def _serve_ivfadc(queries: DataFrame, corpus: DataFrame, k: int, sf_dir: str) -> DataFrame:
    """Quantizer, residual codebook and cell-partitioned codes: the plan
    reads only the stored tables until the r·K exact re-rank fetch."""
    spark = corpus.sparkSession
    path = artifact_dir(spark, sf_dir, "ivfadc-index", lambda p: L.write_ivfadc_index(corpus, p))
    return P.ivfadc_topk_from_index(spark, path, queries, corpus, k)


def _serve_spann(queries: DataFrame, corpus: DataFrame, k: int, sf_dir: str) -> DataFrame:
    """The replicated posting lists partitioned by cell: most queries
    open ONE directory thanks to boundary replication."""
    spark = corpus.sparkSession
    path = artifact_dir(spark, sf_dir, "spann-postings", lambda p: L.write_spann_postings(corpus, p))
    return L.spann_topk_from_store(spark, path, queries, S.ivf_centroids(corpus), k)


def _serve_cascade(queries: DataFrame, corpus: DataFrame, k: int, sf_dir: str) -> DataFrame:
    """The 1-bit signature and int8 code tables, with zero training in
    the offline half; neither sketch scan reads a raw vector column."""
    spark = corpus.sparkSession
    path = artifact_dir(spark, sf_dir, "cascade-index", lambda p: L.write_cascade_index(corpus, p))
    sigs, codes = L.read_cascade_index(spark, path)
    return BQ.cascade_topk_from_index(queries, corpus, sigs, codes, k)


def _serve_rabitq(queries: DataFrame, corpus: DataFrame, k: int, sf_dir: str) -> DataFrame:
    """The code table (packed sign words + per-vector DOUBLE scalar —
    16 B/vector stored; 12 B is the conceptual bits+float32 figure):
    signs unpack in codegen; raw vectors are touched once, in the r·K
    exact re-rank."""
    spark = corpus.sparkSession
    path = artifact_dir(spark, sf_dir, "rabitq-index", lambda p: L.write_rabitq_index(corpus, p))
    return RBT.rabitq_topk_from_index(spark, path, queries, corpus, k)


#: family → (serve ranker, the in-session query whose oracle it shares)
ANN_SERVES: dict[str, tuple[Ranker, str]] = {
    "graph": (_serve_graph, "ann_graph_topk"),
    "vamana": (_serve_vamana, "ann_vamana_topk"),
    "pq": (_serve_pq, "ann_pq_topk"),
    "ivf": (_serve_ivf, "ann_ivf_topk"),
    "ivfadc": (_serve_ivfadc, "ann_ivfpq_res_topk"),
    "spann": (_serve_spann, "ann_spann_topk"),
    "cascade": (_serve_cascade, "ann_cascade_topk"),
    "rabitq": (_serve_rabitq, "ann_rabitq_topk"),
}


# ---------------------------------------------------------------------------
# Generators
# ---------------------------------------------------------------------------

def _topk_query(ranker: Ranker) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = ranker(
            queries_view(spark, sf_dir), load_table(spark, sf_dir, "embeddings"), ANN_K, sf_dir
        )
        return out.select("query_id", "rank", "neighbor_id", F.round("score", 6).alias("score"))

    return run


def _recall_query(ranker: Ranker, metric: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ann = ranker(
            queries_view(spark, sf_dir), load_table(spark, sf_dir, "embeddings"), ANN_K, sf_dir
        )
        exact = exact_topk_fixture_cached(spark, sf_dir, ANN_K, metric)
        return S.ann_recall(ann, exact, ANN_K)

    return run


def family_ctes(family: str, r: int | None, k: int) -> tuple[str, str]:
    """The oracle CTEs of ``ANN_FAMILIES[(family, r)]`` and the name of
    the relation holding its top-``k`` candidates: the row's own
    candidate relation, or with R its exact re-rank of the top R·K."""
    row = ANN_FAMILIES[(family, r)]
    ctes = row.ctes.rstrip()
    if r is None:
        return ctes, row.cand
    return f"{ctes},\n{rerank_cte(row.cand, r, k, row.metric)}", "rerank"


#: the ``q`` definition the family CTEs open with
_Q_CTE = f"\nq AS ({SQL_Q_CTE}),\n"


def cushion_cand_ids(family: str, r: int | None, k: int) -> str:
    """The ``cand_ids (query_id, vec_id)`` chain of a cushion oracle,
    derived from the family row whose candidate stream its Spark source
    produces (``refine.CANDIDATE_SOURCES``): the family CTEs without
    their ``q`` (``duck_oracle.refine_body`` defines ``q``, exposing the
    raw ``qe`` they read) and the ids of its candidate relation — with
    R, the ids of the top R·K pre-rank (the exact re-rank keeps the
    same ids)."""
    ctes, cand = family_ctes(family, r, k)
    assert ctes.startswith(_Q_CTE), family
    return f"""{ctes[len(_Q_CTE):]},
cand_ids AS MATERIALIZED (SELECT query_id, neighbor_id AS vec_id FROM {cand}),
"""


ANN_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ANN_ORACLES: dict[str, str] = {}

for (_family, _r), _row in ANN_FAMILIES.items():
    _ctes, _cand = family_ctes(_family, _r, ANN_K)
    for _kind in _row.kinds:
        _name = f"ann_{_family}_{_kind}"
        assert _name not in ANN_QUERIES, _name
        if _kind.startswith("recall"):
            ANN_QUERIES[_name] = _recall_query(_row.ranker, _row.metric)
            ANN_ORACLES[_name] = recall_sql(_ctes, _cand, _row.metric, ANN_K)
            _what = f"Recall@{ANN_K} against the exact {_row.metric} top-K"
        else:
            ANN_QUERIES[_name] = _topk_query(_row.ranker)
            ANN_ORACLES[_name] = f"\nWITH {_ctes}\n{rank_sql(_cand, METRICS[_row.metric][1], ANN_K)}"
            _what = f"top-{ANN_K} ({_row.metric})"
        ANN_QUERIES[_name].__doc__ = (
            f"The {_family} family's {_what}"
            + (f", exact re-rank of the top {_r}·K" if _r else "")
            + " (registry_ann.ANN_FAMILIES)."
        )

for _family, (_ranker, _shared) in ANN_SERVES.items():
    _name = f"ann_{_family}_index_topk"
    ANN_QUERIES[_name] = _topk_query(_ranker)
    ANN_QUERIES[_name].__doc__ = (
        f"Serve-path twin of ``{_shared}`` over the stored {_family} index "
        "artifact (registry_ann.ANN_SERVES)."
    )
    ANN_ORACLES[_name] = ANN_ORACLES[_shared]
