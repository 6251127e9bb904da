"""Cache lifecycle (session.clear_caches): every memoized/persisted
frame — prepared corpora, scored scalar frames, exact top-K, trained
quantizers, per-query internal persists — is released on clear, so
long-lived sessions (sweep loops, CLI, benchmarks) don't accumulate
cached partitions without bound."""

from __future__ import annotations

import pytest

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.pq import (
    pq_codebook,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.refine import (
    prepare_corpus_cached,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
    exact_topk_fixture_cached,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.session import (
    clear_caches,
    session_cache,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
    load_table,
)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_clear_caches_releases_all_persisted_frames(spark, sf_small):
    corpus = load_table(spark, sf_small, "embeddings")
    # build and materialize three different cached artifact families
    prepare_corpus_cached(corpus, 6, "l2-tz", cache_key=sf_small).count()
    exact_topk_fixture_cached(spark, sf_small, 5, "cosine").count()
    pq_codebook(corpus).count()
    assert _n_persistent(spark) > 0

    clear_caches(spark)
    assert _n_persistent(spark) == 0
    # memo dicts are empty too: next call rebuilds instead of handing
    # back a frame whose storage was just dropped
    assert session_cache(spark, "refine_prepared") == {}
    assert session_cache(spark, "exact_topk") == {}
    assert session_cache(spark, "pq_codebook") == {}


@pytest.mark.parametrize("source", ["ivfadc", "rabitq", "graph"])
def test_clear_caches_releases_local_checkpoints(spark, sf_small, source):
    """The trained IVFADC quantizer and residuals, the RaBitQ code
    table and every beam-walk round are ``localCheckpoint``ed RDDs that
    no catalog entry owns; ``clear_caches`` releases them with the
    cached relations instead of leaving them to the ContextCleaner."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.refine import (
        cushion_topk,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        queries_view,
    )

    clear_caches(spark)
    mode = "l2-tz" if source == "ivfadc" else "cos-l1"
    corpus = load_table(spark, sf_small, "embeddings")
    res = cushion_topk(source, queries_view(spark, sf_small), corpus, mode, 10, 6)
    assert res.topk.collect()
    assert _n_persistent(spark) > 0

    clear_caches(spark)
    assert _n_persistent(spark) == 0


def test_cached_artifacts_are_memoized_per_session(spark, sf_small):
    corpus = load_table(spark, sf_small, "embeddings")
    a = prepare_corpus_cached(corpus, 6, "l2-tz", cache_key=sf_small)
    b = prepare_corpus_cached(corpus, 6, "l2-tz", cache_key=sf_small)
    assert a is b
    assert load_table(spark, sf_small, "embeddings") is corpus
    clear_caches(spark)
    assert prepare_corpus_cached(corpus, 6, "l2-tz", cache_key=sf_small) is not a
    clear_caches(spark)


def test_repeated_operator_invocation_keeps_cache_bounded(spark, sf_small):
    """r07 verdict #6: bm25/tfidf/sketch/DSIR queries persist internal
    ≥2-consumer frames; repeated invocation in a long-lived session
    must reuse the memoized cached relations, not accumulate new ones."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
        registry,
    )

    clear_caches(spark)
    names = ["bm25_topn", "tfidf_topn", "cms_heavy_hitters",
             "hll_distinct_tokens", "corpus_dsir_select"]
    for name in names:
        registry.QUERIES[name](spark, sf_small).count()
    baseline = _n_persistent(spark)
    assert baseline > 0
    for _ in range(3):
        for name in names:
            registry.QUERIES[name](spark, sf_small).count()
    assert _n_persistent(spark) == baseline
    clear_caches(spark)
    # the clear also unpersists the rank-splits localCheckpoint block,
    # which no catalog entry owns
    assert _n_persistent(spark) == 0


def test_embedding_dim_memo_is_hard_capped(spark, sf_small):
    """r12 ADVICE #4: per-call derived frames must not grow the
    embedding_dim memo without bound — the cache caps at 256 entries
    and evicts the oldest pin instead of retaining every plan it ever
    peeked."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
        embedding_dim,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
    )

    clear_caches(spark)
    corpus = load_table(spark, sf_small, "embeddings")
    frames = [corpus.select("vec_id", "embedding") for _ in range(6)]
    cache = session_cache(spark, "embedding_dim")
    cache.update({(i, "x"): (None, 64) for i in range(256)})  # fill to the cap
    for f in frames:
        assert embedding_dim(f) > 0
    assert len(session_cache(spark, "embedding_dim")) <= 256
    clear_caches(spark)


def test_compact_cells_does_not_grow_the_assignment_memo(spark, sf_small):
    """r12 ADVICE #1: per-invocation derived frames (live_base,
    kept_ups) go through the plain assignment plan — repeated
    compact_cells calls must not add ivf_assign memo entries or
    persisted frames."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.mutate import (
        compact_cells,
        fixture_mutation,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
    )

    clear_caches(spark)
    corpus = load_table(spark, sf_small, "embeddings")
    ups, dels = fixture_mutation(corpus)
    compact_cells(corpus, ups, dels).count()
    n_memo = len(session_cache(spark, "ivf_assign"))
    n_persist = _n_persistent(spark)
    for _ in range(2):
        compact_cells(corpus, ups, dels).count()
    assert len(session_cache(spark, "ivf_assign")) == n_memo
    assert _n_persistent(spark) == n_persist
    clear_caches(spark)


def test_uncached_cushion_topk_prepares_the_corpus_once(spark, sf_small, monkeypatch):
    """An uncached ``cushion_topk`` prepares (and persists) the corpus
    ONCE and hands that frame to both consumers — the graph walk, which
    ranks on the reduced column, and the refinement — instead of one
    persisted copy per consumer that nothing ever releases."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        refine,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        queries_view,
    )

    built = []
    prepare = refine.prepare_corpus

    def counting_prepare(*args, **kwargs):
        built.append(prepare(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(refine, "prepare_corpus", counting_prepare)
    clear_caches(spark)
    corpus = load_table(spark, sf_small, "embeddings")
    res = refine.cushion_topk("graph", queries_view(spark, sf_small), corpus, "cos-l1", 10, 6)
    assert res.topk.collect()
    assert len(built) == 1 and built[0].is_cached
    clear_caches(spark)


def test_clear_caches_deletes_index_artifact_dirs(spark, sf_small):
    """A served index query writes its artifact once per session into a
    ``bfann-*`` temp dir; ``clear_caches`` deletes that dir along with
    the memo, so repeated clears in a long-lived session leave nothing
    behind on disk."""
    import os
    import re

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
        registry,
    )

    df = registry.QUERIES["ann_pq_index_topk"](spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    found = re.search(r"file:(/[^\s,\]]*?bfann-pq-index-[A-Za-z0-9_]+)", plan)
    assert found, plan[:2000]
    path = found.group(1)
    assert df.count() > 0 and os.path.isdir(path)

    clear_caches(spark)
    assert not os.path.exists(path)
