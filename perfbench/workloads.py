"""The refine workloads.

Each workload builds its state in ``build`` (timed, repeated for the
set-up median) and then serves one closed-loop client through ``step``:
one request, which on ``ingest-serve`` follows an append every second
time. Every request carries fresh queries: a repeated batch would be
answered from the phase-1 frame an earlier identical request left
cached. Every request is checked against the NumPy oracle. The refine
counts and recall are read on the first ``sampled`` requests of the
seed's query sequence, which set-up serves as part of its warm-up, so
they depend only on the seed and never on how many requests a run
managed.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
    refine,
    simsearch,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.session import (
    clear_caches,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.loaders import (
    load_vec,
)

from . import inputs
from .oracle import Oracle, check

VEC_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType(), False),
    T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
])
QUERY_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
])

#: FP16 exponent bits kept by every reduced representation
KEEP_E = 5
#: ingest-serve requests per append
READS_PER_CYCLE = 2


@dataclass
class Params:
    mode: str
    n: int         # corpus vectors (base layout for ingest-serve)
    dim: int
    q: int         # queries per request
    k: int
    keep_m: int
    warmup: int    # requests served in set-up, after the builds
    sampled: int   # leading requests whose refine counts and recall are read
    nprobe: int = 0
    append: int = 0  # vectors appended per ingest cycle

    def bytes_per_vec(self) -> tuple[float, float]:
        """Paper byte model (Eq. 44): reduced pass, full-precision fetch."""
        return (1 + KEEP_E + self.keep_m) * self.dim / 8.0, 2.0 * self.dim


@dataclass
class Record:
    """One checked request."""

    latency_s: float
    queries: int
    ok: bool
    read_files: int = 0
    span: object = None  # root span of a traced request
    plan_ms: float = 0.0
    storage: tuple = (0, 0.0)


@dataclass
class Counts:
    """The program's refine counts for one request, and the oracle's recall."""

    queries: int
    pairs: int
    seeds: int
    fetched: int
    returned: int
    recall: float


@dataclass
class Append:
    vectors: int
    seconds: float
    bytes_written: int
    stored_bytes_per_vec: float


def _frame(spark, ids: np.ndarray, vecs: np.ndarray, schema: T.StructType):
    pdf = pd.DataFrame({schema.names[0]: ids, "embedding": list(vecs)})
    return spark.createDataFrame(pdf, schema)


def _parquet_files(path: str) -> list[str]:
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def _plan_ms(df) -> float:
    """Catalyst phase time (parsing to planning) of the df's last action."""
    it = df._jdf.queryExecution().tracker().phases().valuesIterator()
    total = 0.0
    while it.hasNext():
        total += it.next().durationMs()
    return total


class Workload:
    name = ""
    layer = ""  # span name of the package call a request makes
    zero_miss = True
    cycle_steps = 1  # steps that repeat the workload's pattern

    def __init__(self, spark, tracer, work_dir: str, seed: int, params: Params):
        self.spark = spark
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.p = params
        self.records: list[Record] = []
        self.appends: list[Append] = []
        self.counts: list[Counts] = []
        self.failures: list[str] = []
        self.read_files = 0  # layout files the last request read from disk
        self._served = 0

    # ---- set-up -------------------------------------------------------
    def build(self, rep: int) -> None:
        """Generate the corpus, load it and hold it as one persisted
        DataFrame for the whole run: the IVF index and the prepared corpus
        are memoized on that DataFrame's identity."""
        clear_caches(self.spark)
        self.counts.clear()
        with self.tracer.span("inputs.generate"):
            self.vecs = inputs.corpus(self.seed, self.p.n, self.p.dim)
        with self.tracer.span("sources.load"):
            self.corpus = self.load(self.vecs).persist()
            self.corpus.count()
        self.cache_key = f"perfbench-{self.name}-{rep}"

    def load(self, vecs: np.ndarray):
        """The corpus as the package receives it: an in-memory DataFrame."""
        return _frame(self.spark, np.arange(len(vecs), dtype=np.int64), vecs, VEC_SCHEMA)

    def serve(self, served_vecs: np.ndarray) -> None:
        """Restart the query sequence over the vectors requests search."""
        self.served_vecs = served_vecs
        self.oracle = Oracle(served_vecs, self.p.mode)
        self.queries = inputs.QueryStream(self.seed, self.p.q)

    def warm_up(self) -> None:
        """Serve the first ``warmup`` requests, the sampled ones among
        them; their time counts in set-up."""
        for _ in range(self.p.warmup):
            self.step(traced=False)

    # ---- serving ------------------------------------------------------
    def call(self, qdf):
        """The package call behind one request (returns a RefineResult)."""
        raise NotImplementedError

    def step(self, traced: bool) -> None:
        self.request(traced)

    def request(self, traced: bool) -> Record:
        tr = self.tracer
        qids, qvecs = self.queries.next(self.served_vecs)
        rid = f"{self.name}-{self._served}"
        self._served += 1
        t0 = time.perf_counter()
        with tr.request(rid, traced) as root:
            with tr.span("sources.queries"):
                qdf = _frame(self.spark, qids, qvecs, QUERY_SCHEMA)
            with tr.span(self.layer):
                res = self.call(qdf)
            with tr.span("spark.collect"):
                rows = res.topk.collect()
        rec = Record(time.perf_counter() - t0, len(qids), True, self.read_files)

        triples = [(r["query_id"], r["rank"], r["neighbor_id"], r["score"]) for r in rows]
        verdict = check(triples, qids, self.oracle.scores(qvecs), self.p.k,
                        self.oracle.cosine, self.zero_miss)
        if not verdict.ok:
            rec.ok = False
            self.failures.append(f"{rid}: {verdict.reason}")
        if traced and tr.probe is not None:
            rec.span = root
            rec.plan_ms = _plan_ms(res.topk)
            rec.storage = tr.probe.storage()
        if len(self.counts) < self.p.sampled:
            self.counts.append(self._count(res, len(qids), len(triples), verdict.recall))
        self.records.append(rec)
        return rec

    def _count(self, res, queries: int, returned: int, recall: float) -> Counts:
        """The program's own refine counts, read after the timed request:
        pairs scanned per query (phase 1) and vectors fetched (phase 2)."""
        per_query = [r["count"] for r in res.scored.groupBy("query_id").count().collect()]
        return Counts(
            queries=queries,
            pairs=int(sum(per_query)),
            seeds=int(sum(min(self.p.k, c) for c in per_query)),
            fetched=int(res.fetched.count()),
            returned=returned,
            recall=recall,
        )


class ServeIvf(Workload):
    """``ivf_cushion_topk`` against an index built in set-up."""

    name = "serve-ivf"
    layer = "operators.refine.ivf_cushion_topk"
    zero_miss = False

    def build(self, rep: int) -> None:
        super().build(rep)
        tr = self.tracer
        with tr.span("operators.refine.prepare"):
            refine.prepare_corpus_cached(
                self.corpus, self.p.keep_m, self.p.mode, self.cache_key
            ).count()
        # the assignment is persisted, so counting it builds the centroids too
        with tr.span("operators.simsearch.ivf_build"):
            cents = simsearch.ivf_centroids(self.corpus)
            simsearch.ivf_assign(self.corpus, cents).count()
        self.serve(self.vecs)

    def call(self, qdf):
        p = self.p
        return refine.ivf_cushion_topk(
            qdf, self.corpus, p.mode, p.k, p.keep_m, nprobe=p.nprobe, cache_key=self.cache_key
        )


class IngestServe(Workload):
    """A stored prepared layout that takes an append and then serves
    reads, each of which reopens the layout from disk. After every cycle
    the layout is rolled back to its base files, so every cycle appends
    the same batch to the same base and reads the same layout."""

    name = "ingest-serve"
    layer = "operators.refine.refine_topk"
    cycle_steps = READS_PER_CYCLE

    def load(self, vecs: np.ndarray):
        """The corpus as a FastText ``.vec`` file read by ``load_vec``."""
        path = os.path.join(self.work, "corpus.vec")
        inputs.write_vec(path, vecs)
        return load_vec(self.spark, path, max_rows=None)

    def build(self, rep: int) -> None:
        super().build(rep)
        tr, p = self.tracer, self.p
        self.layout = os.path.join(self.work, "layout")
        # the write runs the lazy preparation
        with tr.span("operators.refine.prepare"):
            prepared = refine.prepare_corpus(self.corpus, p.keep_m, p.mode)
            prepared.write.mode("overwrite").parquet(self.layout)
        self.base_files = set(os.listdir(self.layout))
        self.new_vecs = inputs.append_batch(self.seed, p.append, p.dim)
        self.serve(np.concatenate([self.vecs, self.new_vecs]))
        self.reads = 0

    def step(self, traced: bool) -> None:
        """One read; the first read of a cycle follows the cycle's append,
        the last one is followed by the roll-back."""
        if self.reads % READS_PER_CYCLE == 0:
            self.append(traced)
        self.request(traced)
        self.reads += 1
        if self.reads % READS_PER_CYCLE == 0:
            for f in set(os.listdir(self.layout)) - self.base_files:
                os.remove(os.path.join(self.layout, f))

    def append(self, traced: bool) -> None:
        p, tr = self.p, self.tracer
        ids = np.arange(p.n, p.n + p.append, dtype=np.int64)
        t0 = time.perf_counter()
        with tr.request(f"{self.name}-append-{len(self.appends)}", traced, name="append"):
            with tr.span("sources.batch"):
                batch = _frame(self.spark, ids, self.new_vecs, VEC_SCHEMA)
            with tr.span("sources.write"):
                prepared = refine.prepare_corpus(batch, p.keep_m, p.mode)
                prepared.write.mode("append").parquet(self.layout)
        seconds = time.perf_counter() - t0
        sizes = {f: os.path.getsize(os.path.join(self.layout, f)) for f in _parquet_files(self.layout)}
        written = sum(size for f, size in sizes.items() if f not in self.base_files)
        stored = sum(sizes.values())
        self.appends.append(Append(p.append, seconds, written, stored / (p.n + p.append)))

    def call(self, qdf):
        p = self.p
        with self.tracer.span("sources.read"):
            layout = self.spark.read.parquet(self.layout)
        self.read_files = len(_parquet_files(self.layout))
        return refine.refine_topk(qdf, layout, p.mode, p.k, p.keep_m, prepared_corpus=layout)


WORKLOADS = {
    "serve-ivf": (
        ServeIvf,
        Params(mode="cos-l1", n=1000, dim=128, q=24, k=10, keep_m=6,
               warmup=5, sampled=2, nprobe=8),
    ),
    "ingest-serve": (
        IngestServe,
        Params(mode="l2-tz", n=1500, dim=128, q=8, k=20, keep_m=6,
               warmup=4, sampled=2, append=500),
    ),
}
