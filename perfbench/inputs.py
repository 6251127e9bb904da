"""Seeded input generation for the benchmark workloads.

Every array comes from ``numpy.random.default_rng([seed, stream])``, so a
seed fixes the corpus, the sequence of query batches and the appended batch.
"""

from __future__ import annotations

import numpy as np

#: Mixture shape shared by every workload.
CLUSTERS = 64
CENTER_SCALE = 1.0
POINT_NOISE = 0.35
QUERY_NOISE = 0.05

# independent random streams per purpose
_CORPUS, _QUERIES, _APPEND = 0, 1, 2


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _centers(g: np.random.Generator, dim: int) -> np.ndarray:
    return (CENTER_SCALE * g.standard_normal((CLUSTERS, dim))).astype(np.float32)


def mixture_points(g: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    """``n`` float32 points of the Gaussian mixture around ``centers``."""
    labels = g.integers(0, len(centers), n)
    noise = POINT_NOISE * g.standard_normal((n, centers.shape[1]))
    return (centers[labels] + noise).astype(np.float32)


def corpus(seed: int, n: int, dim: int) -> np.ndarray:
    """The base corpus: ``n`` points of a 64-cluster Gaussian mixture."""
    g = rng(seed, _CORPUS)
    return mixture_points(g, _centers(g, dim), n)


class QueryStream:
    """Query batches drawn from a corpus: corpus points plus small
    Gaussian noise. Batch ``b`` carries query ids ``b*per_batch ..``."""

    def __init__(self, seed: int, per_batch: int):
        self._g = rng(seed, _QUERIES)
        self.per_batch = per_batch
        self.batches = 0

    def next(self, corpus_vecs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        q, g = self.per_batch, self._g
        picks = g.integers(0, len(corpus_vecs), q)
        noise = QUERY_NOISE * g.standard_normal((q, corpus_vecs.shape[1]))
        ids = np.arange(self.batches * q, (self.batches + 1) * q, dtype=np.int64)
        self.batches += 1
        return ids, (corpus_vecs[picks] + noise).astype(np.float32)


def append_batch(seed: int, n: int, dim: int) -> np.ndarray:
    """New vectors from the same mixture as the base corpus."""
    return mixture_points(rng(seed, _APPEND), _centers(rng(seed, _CORPUS), dim), n)


def write_vec(path: str, vecs: np.ndarray) -> None:
    """FastText ``.vec`` text: a ``N D`` header, then one ``word v1 .. vD``
    line per vector. ``%.9g`` round-trips every float32 exactly, so the
    loaded corpus equals ``vecs`` bit for bit."""
    n, d = vecs.shape
    with open(path, "w", encoding="ascii") as f:
        f.write(f"{n} {d}\n")
        for i, row in enumerate(vecs):
            f.write(f"w{i} " + " ".join("%.9g" % v for v in row) + "\n")
