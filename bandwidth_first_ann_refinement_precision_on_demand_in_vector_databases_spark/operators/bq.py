"""Binary (sign) quantization — the fifth reduced-precision corpus
representation, completing the engine's precision ladder at its
cheapest rung: FP16 mantissa-keep (``functions/fp16.py``, 2×) →
int8 SQ (``operators/sq.py``, 4×) → PQ codes (``operators/pq.py``,
32× with training) → **1 bit per coordinate here (32× with NO
training)**. Same bandwidth-first theme as the reference (paper §3
reduces per-coordinate precision; ``ANNCode.py:195-242``), pushed to
the 1-bit extreme every modern vector store ships (binary/`bit`
vector indexes in FAISS, Lucene, Milvus).

Representation: bit j of a vector's signature = ``sign(vⱼ ≥ 0)``,
packed ``BQ_WORD`` = 32 dims per BIGINT word (shift ≤ 31, so the
packing arithmetic is identical in Spark and DuckDB — shifting into
bit 63 would hit the sign bit, where engine overflow behavior is the
kind of edge the oracle discipline avoids). A D-dim vector becomes
⌈D/32⌉ words — D/8 bytes against 4·D for FP32.

Query path (precision-on-demand, the reference's core loop):

* **Hamming pre-rank** — ``Σ bit_count(qw XOR cw)`` over the word
  arrays. For unit-ish vectors Hamming distance is a monotone proxy
  for angle (popcount ≈ D·θ/π — the hyperplane-LSH argument with
  the coordinate axes as the planes). Integer math: bit-identical
  across engines by construction, no float fold discipline needed.
* **Refinement** — top-(R·K) by Hamming fetch full precision for the
  exact cosine re-rank (late materialization, reference phase-2
  ``ANNCode.py:560-575``).

Scale: the encode is a pure map (no training, no shuffle — like SQ,
unlike PQ/IVF); the cheap pass scans 8 bytes/vector for D=64 and the
pre-rank stays in whole-stage codegen (integer xor/popcount — no
Arrow batch, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine
from ..session import ensure_parallelism
from .topk import topk_per_query

BQ_WORD = 32      #: dims packed per BIGINT word (max shift 31)
#: refinement fetches R*K candidates for exact re-rank. R is the
#: recall knob of the 1-bit sketch — measured at sf0.1 (N=2000, D=64,
#: K=20): recall@20 0.456 / 0.574 / 0.654 / 0.749 at R = 3/5/8/12,
#: i.e. bytes saving 0.94 → 0.85 across the frontier. R=3 matches the
#: SQ/PQ convention and already beats trained PQ's ADC recall (0.396)
#: with no training at the same 32× scan compression.
BQ_REFINE_R = 3


def _n_words(dim: int) -> int:
    return (dim + BQ_WORD - 1) // BQ_WORD


def _words_expr(vec_col: str, dim: int) -> str:
    """SQL text building the packed word array from a vector column —
    one looped fold parsed JVM-side (the `F.expr`-over-py4j lesson,
    ``simsearch.lsh_signature_bands``). Out-of-range dims (last word
    of a non-multiple D) contribute 0 bits."""
    w = _n_words(dim)
    return (
        f"transform(sequence(0, {w - 1}), w -> "
        f"aggregate(sequence(0, {BQ_WORD - 1}), CAST(0 AS BIGINT), "
        f"(acc, j) -> acc + IF(w * {BQ_WORD} + j < {dim} "
        f"AND element_at({vec_col}, w * {BQ_WORD} + j + 1) >= 0, "
        f"shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))))"
    )


def bq_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """(id, words array<bigint>): the packed sign signature. A pure
    map over the scan — no training artifact, no shuffle; ``dim`` is
    derived from the data unless given (``simsearch.embedding_dim``)."""
    if dim is None:
        from .simsearch import embedding_dim

        dim = embedding_dim(df, vec_col)
    return ensure_parallelism(df).select(
        F.col(id_col).alias("id"), F.expr(_words_expr(vec_col, dim)).alias("words")
    )


def _hamming(a: str, b: str) -> Column:
    """Σ bit_count(xor) over two equal-length word arrays (INT)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, h: acc + h.cast("int"),
    )


def bq_topk(
    queries: DataFrame, corpus: DataFrame, k: int, dim: int | None = None
) -> DataFrame:
    """(query_id, rank, neighbor_id, hamming): top-K by Hamming
    distance on the 1-bit signatures alone (ascending; ties →
    neighbor_id). The scan side is the words table — D/8 bytes per
    vector; the distance is integer xor/popcount in codegen."""
    if dim is None:
        from .simsearch import embedding_dim

        dim = embedding_dim(corpus)
    qw = F.broadcast(
        bq_encode(queries, "embedding", "query_id", dim=dim).select(
            F.col("id").alias("query_id"), F.col("words").alias("qwords")
        )
    )
    cw = bq_encode(corpus, "embedding", "vec_id", dim=dim).select(
        F.col("id").alias("neighbor_id"), F.col("words").alias("cwords")
    )
    scored = cw.crossJoin(qw).select(
        "query_id", "neighbor_id", _hamming("qwords", "cwords").alias("score")
    )
    out = topk_per_query(scored, k, ascending=True)
    return out.withColumnRenamed("score", "hamming")


def bq_refined_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    r: int = BQ_REFINE_R,
    dim: int | None = None,
) -> DataFrame:
    """Precision-on-demand over the 1-bit sketch: Hamming pre-ranks
    all corpus vectors from signatures; the top r·K per query — and
    only they — fetch full precision for the exact cosine re-rank
    (late materialization; reference phase-2 shape). Bytes touched:
    N·D/8 signature bytes + r·K full vectors per query."""
    from .topk import exact_cosine_rerank

    cand_ids = bq_topk(queries, corpus, r * k, dim=dim).select(
        "query_id", "neighbor_id"
    )
    return exact_cosine_rerank(cand_ids, corpus, queries, k)


#: three-stage cascade pools. Stage 1 (1-bit Hamming over ALL N)
#: admits R2·K candidates; stage 2 (int8 recon cosine over the
#: shortlist) narrows to R1·K; stage 3 fetches full precision for the
#: exact re-rank. Swept at sf0.1 (tools/sweep_cascade.py,
#: reports/sweep_cascade.csv): recall@20 is set ENTIRELY by the
#: stage-1 pool (0.574/0.654/0.701/0.749/0.806 at R2 = 5/8/10/12/15)
#: — r1 ∈ {2,3,5} at R2=10 all give 0.70125, i.e. the int8 stage-2
#: cosine already picks the exact final K on this fixture. So R1=2
#: dominates the R=3 convention (same recall, bytes saving 0.9106 →
#: 0.9206) and R2=10 matches the graph index's recall with no build.
CASCADE_R1 = 2
CASCADE_R2 = 10


def cascade_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    r1: int = CASCADE_R1,
    r2: int = CASCADE_R2,
    dim: int | None = None,
) -> DataFrame:
    """Three-stage precision-on-demand cascade — the reference's
    bandwidth thesis (paper §3, phase loop ``ANNCode.py:354-363``)
    composed across the WHOLE precision ladder instead of one rung:

    1. **1 bit/coord** — Hamming pre-rank on the packed sign
       signatures over all N (⌈D/8⌉ bytes/vector, integer
       xor/popcount in codegen) admits r2·k candidates per query;
    2. **8 bits/coord** — the shortlist alone is priced by cosine on
       the int8 SQ reconstruction (D+8 bytes/candidate, row-local
       decode, no training artifact) and narrowed to r1·k;
    3. **32 bits/coord** — only r1·k survivors late-materialize full
       precision for the exact cosine top-K (the shared
       ``exact_cosine_rerank`` tail).

    Bytes touched per query: N·⌈D/8⌉ + r2·k·(D+8) + r1·k·4D versus
    4·N·D for the flat scan — each stage spends more bytes per
    candidate on geometrically fewer candidates, which is the
    "precision on demand" contract end-to-end. Every stage is a
    bounded per-query pool (no q×N float work after stage 1), the
    stage-2/3 joins key on neighbor_id against broadcast-query sides,
    and nothing here trains: at 100 TB both sketch tables are single
    streaming passes over the corpus."""
    from .topk import exact_cosine_rerank

    cand1 = cascade_candidates(queries, corpus, k, r1=r1, r2=r2, dim=dim)
    return exact_cosine_rerank(cand1, corpus, queries, k)


def cascade_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    r1: int = CASCADE_R1,
    r2: int = CASCADE_R2,
    dim: int | None = None,
) -> DataFrame:
    """Stages 1+2 of the cascade as a reusable per-query candidate
    stream (query_id, neighbor_id) of r1·k ids — the shape every
    phase-2 consumer takes (``exact_cosine_rerank`` for the plain
    cascade, ``refine.cushion_topk("cascade", ...)`` for the cushioned
    composition)."""
    from .sq import sq_reconstruct

    cand2 = bq_topk(queries, corpus, r2 * k, dim=dim).select(
        "query_id", "neighbor_id"
    )
    recon = sq_reconstruct(corpus).select(
        F.col("vec_id").alias("neighbor_id"), "recon"
    )
    qv = F.broadcast(queries.select("query_id", F.col("embedding").alias("qv")))
    scored = (
        cand2.join(recon, "neighbor_id")
        .join(qv, "query_id")
        .select("query_id", "neighbor_id", cosine("qv", "recon").alias("score"))
    )
    return topk_per_query(scored, r1 * k, ascending=False, salted=False).select(
        "query_id", "neighbor_id"
    )


def cascade_topk_from_index(
    queries: DataFrame,
    corpus: DataFrame,
    signatures: DataFrame,
    codes: DataFrame,
    k: int,
    r1: int = CASCADE_R1,
    r2: int = CASCADE_R2,
    dim: int | None = None,
) -> DataFrame:
    """Serve-path twin of ``cascade_topk``: stages 1 and 2 read the
    STORED sketch tables (``sources/layout.write_cascade_index``) —
    the signature scan touches ⌈D/8⌉ bytes/vector and the code fetch
    is a bounded r2·k pool — and only stage 3 late-materializes full
    precision from the base corpus. Results are identical to the
    in-query encode by construction (the stored tables ARE
    ``bq_encode``/``sq_encode`` outputs), so the oracle is shared."""
    from .sq import SQ_LEVELS
    from .topk import exact_cosine_rerank

    if dim is None:
        from .simsearch import embedding_dim

        dim = embedding_dim(corpus)
    qw = F.broadcast(
        bq_encode(queries, "embedding", "query_id", dim=dim).select(
            F.col("id").alias("query_id"), F.col("words").alias("qwords")
        )
    )
    cw = signatures.select(
        F.col("vec_id").alias("neighbor_id"), F.col("words").alias("cwords")
    )
    ham = cw.crossJoin(qw).select(
        "query_id", "neighbor_id", _hamming("qwords", "cwords").alias("score")
    )
    cand2 = topk_per_query(ham, r2 * k, ascending=True).select(
        "query_id", "neighbor_id"
    )
    recon = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform(
            "codes", lambda c: c.cast("double") * F.col("s") / F.lit(float(SQ_LEVELS))
        ).alias("recon"),
    )
    qv = F.broadcast(queries.select("query_id", F.col("embedding").alias("qv")))
    scored = (
        cand2.join(recon, "neighbor_id")
        .join(qv, "query_id")
        .select("query_id", "neighbor_id", cosine("qv", "recon").alias("score"))
    )
    cand1 = topk_per_query(scored, r1 * k, ascending=False, salted=False).select(
        "query_id", "neighbor_id"
    )
    return exact_cosine_rerank(cand1, corpus, queries, k)


def ivfbq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    r: int = BQ_REFINE_R,
    dim: int | None = None,
) -> DataFrame:
    """IVF × binary quantization (cosine end-to-end) — the memory-lean
    sibling of ``pq.ivfpq_topk`` and the composition binary-vector
    indexes actually serve: coarse cells prune the scan, 1-bit
    signatures price the candidates, full precision refines.

    1. probe the ``IVF_NPROBE`` nearest cells per query (broadcast
       quantizer);
    2. Hamming-score ONLY vectors in probed cells from the signature
       table (at scale: a partition-pruned scan of D/8-byte words —
       integer xor/popcount in codegen, no training artifact at all);
    3. exact cosine re-rank of the top r·K Hamming candidates (late
       materialization).

    Bytes touched per query: nprobe/n_cells of the D/8-byte signature
    table + r·K full vectors — the cheapest serve path on the ladder.
    """
    from .simsearch import IVF_NPROBE, ivf_assign, ivf_centroids, ivf_probes

    if dim is None:
        from .simsearch import embedding_dim

        dim = embedding_dim(corpus)
    cents = ivf_centroids(corpus)
    assigned = ivf_assign(corpus, cents).select("vec_id", "cell")
    probed = ivf_probes(queries, cents, IVF_NPROBE).select("query_id", "cell")
    cw = bq_encode(corpus, "embedding", "vec_id", dim=dim).select(
        F.col("id").alias("vec_id"), F.col("words").alias("cwords")
    )
    qw = F.broadcast(
        bq_encode(queries, "embedding", "query_id", dim=dim).select(
            F.col("id").alias("query_id"), F.col("words").alias("qwords")
        )
    )
    ham = (
        F.broadcast(probed)
        .join(assigned, "cell")
        .join(cw, "vec_id")
        .join(qw, "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _hamming("qwords", "cwords").alias("score"),
        )
    )
    from .topk import exact_cosine_rerank

    cand_ids = topk_per_query(ham, r * k, ascending=True, salted=False).select(
        "query_id", "neighbor_id"
    )
    return exact_cosine_rerank(cand_ids, corpus, queries, k)
