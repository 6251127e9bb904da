"""Tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import replace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import inputs, run  # noqa: E402
from perfbench.oracle import Oracle, check  # noqa: E402
from perfbench.trace import Tracer, union_ms  # noqa: E402

TINY = {"n": 300, "dim": 16, "q": 4, "append": 50, "warmup": 2, "sampled": 2}


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


# ---- inputs ---------------------------------------------------------------

def test_same_seed_gives_identical_inputs():
    a, b = inputs.corpus(7, 200, 16), inputs.corpus(7, 200, 16)
    assert a.dtype == np.float32 and np.array_equal(a, b)
    assert not np.array_equal(a, inputs.corpus(8, 200, 16))
    s1, s2 = inputs.QueryStream(7, 4), inputs.QueryStream(7, 4)
    for _ in range(3):
        (i1, q1), (i2, q2) = s1.next(a), s2.next(a)
        assert np.array_equal(i1, i2) and np.array_equal(q1, q2)
    assert np.array_equal(inputs.append_batch(7, 30, 16), inputs.append_batch(7, 30, 16))


def test_vec_file_round_trips_float32(tmp_path):
    vecs = inputs.corpus(3, 20, 8)
    path = tmp_path / "c.vec"
    inputs.write_vec(str(path), vecs)
    lines = path.read_text().splitlines()
    assert lines[0] == "20 8"
    parsed = np.array([[np.float32(x) for x in line.split()[1:]] for line in lines[1:]])
    assert np.array_equal(parsed, vecs)


# ---- oracle ---------------------------------------------------------------

def _exact_rows(oracle: Oracle, qids, qvecs, k):
    scores = oracle.scores(qvecs)
    rows = []
    for i, qid in enumerate(qids):
        order = np.argsort(-scores[i] if oracle.cosine else scores[i], kind="stable")[:k]
        rows += [(qid, r + 1, int(n), float(scores[i, n])) for r, n in enumerate(order)]
    return rows, scores


@pytest.mark.parametrize("mode", ["l2-tz", "cos-l1"])
def test_oracle_accepts_exact_and_catches_swapped_neighbour(mode):
    vecs = inputs.corpus(5, 300, 16)
    qids, qvecs = inputs.QueryStream(5, 4).next(vecs)
    oracle = Oracle(vecs, mode)
    rows, scores = _exact_rows(oracle, qids, qvecs, 10)
    assert check(rows, qids, scores, 10, oracle.cosine, zero_miss=True).ok

    # swap one neighbour id for an id outside the top-K, keeping its score
    qid, rank, nid, score = rows[3]
    outside = int(np.argsort(-scores[0] if oracle.cosine else scores[0])[-1])
    bad = rows[:3] + [(qid, rank, outside, score)] + rows[4:]
    verdict = check(bad, qids, scores, 10, oracle.cosine, zero_miss=True)
    assert not verdict.ok and "score" in verdict.reason

    # the last-ranked id swapped for the worst one, with its true score:
    # ranks and scores are consistent, the top-K check catches it
    bad = rows[:9] + [(qid, 10, outside, float(scores[0, outside]))] + rows[10:]
    verdict = check(bad, qids, scores, 10, oracle.cosine, zero_miss=True)
    assert not verdict.ok and "outside the exact top" in verdict.reason
    assert check(bad, qids, scores, 10, oracle.cosine, zero_miss=False).recall < 1.0


def test_oracle_tolerates_ties_at_the_kth_score():
    scores = np.array([[0.0, 1.0, 2.0, 2.0 + 1e-9, 5.0]])
    rows = [(0, 1, 0, 0.0), (0, 2, 1, 1.0), (0, 3, 3, 2.0 + 1e-9)]
    verdict = check(rows, np.array([0]), scores, 3, cosine=False, zero_miss=True)
    assert verdict.ok and verdict.recall == 1.0


# ---- statistics and spans ---------------------------------------------------

def test_tail_is_highest_percentile_with_ten_beyond():
    lat = [float(i) for i in range(1, 41)]
    value, pct = run._tail(lat)
    assert value == 30.0 and pct == 75.0
    assert run._tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_span_self_time_excludes_children():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    inner.start_ms, inner.end_ms = 10.0, 30.0
    outer.start_ms, outer.end_ms = 0.0, 100.0
    assert tr.self_ms() == {outer.id: 80.0, inner.id: 20.0}
    assert inner.parent == outer.id and inner.request == "setup"
    assert union_ms([(0, 10), (5, 20), (30, 40)]) == 30


# ---- end to end against Spark, at tiny sizes --------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = run._start_spark(str(tmp_path_factory.mktemp("perfbench")))
    yield session
    run._stop_spark(session)


def _tiny(name, spark, tracer, work):
    from perfbench.workloads import WORKLOADS

    cls, params = WORKLOADS[name]
    return cls(spark, tracer, str(work), 11, replace(params, **TINY))


@pytest.mark.parametrize("name", ["serve-ivf", "ingest-serve"])
def test_same_seed_gives_identical_counts(spark, tmp_path, name):
    seen = []
    for rep in range(2):
        wl = _tiny(name, spark, Tracer(), tmp_path / str(rep))
        os.makedirs(wl.work)
        wl.build(0)
        wl.warm_up()
        assert not wl.failures
        seen.append([(c.pairs, c.fetched, c.recall) for c in wl.counts])
    assert seen[0] == seen[1]


@pytest.mark.parametrize("trace", [False, True])
def test_every_declared_metric_is_emitted_with_its_unit(spark, tmp_path, trace):
    from perfbench.trace import SparkProbe

    declared = _declared()
    want = {m["name"]: m["unit"] for m in declared["per_layer" if trace else "end_to_end"]}
    for w in declared["workloads"]:
        tracer = Tracer()
        if trace:
            tracer.attach(SparkProbe(spark))
        wl = _tiny(w["name"], spark, tracer, tmp_path / w["name"])
        os.makedirs(wl.work)
        metrics, attempted, failed, _ = run.measure(wl, tracer, 1.0, 0.0, trace)
        assert failed == 0 and attempted >= 1
        assert {k: u for k, (_, u) in metrics.items()} == want
        assert all(isinstance(v, (int, float)) for v, _ in metrics.values())
