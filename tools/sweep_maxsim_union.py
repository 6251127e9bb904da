"""Sweep the per-slice UNION candidate pool for two-stage MaxSim.

r06 registered pool = ⌈N/5⌉ by whole-vector cosine (sufficiency 0.51 at
sf0.1) — the one plan whose per-query cost grows with N. Candidate
replacement (r06 VERDICT #1): for each query slice i, rank docs by the
slice's OWN MaxSim term sᵢ(d) = maxⱼ cos(qᵢ, dⱼ) and take top-p; the
pool is the union over the M slices → ≤ M·p docs per query, constant
in N. A true top-K doc has Σᵢ sᵢ large, so at least one sᵢ ≥ score/M —
per-slice evidence is the signal the whole-vector proxy lacks.

NumPy replica of the engine arithmetic (slices, cosine, tie-break by
vec_id) — sizing only; the registered operator is the Spark plan.

Usage: python tools/sweep_maxsim_union.py [sf_dir ...]
Writes reports/sweep_maxsim_union.csv.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

M = 4
K = 10
STRIDE = 50


def slice_cos(Q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(nq, M, N, M) cosines between every query slice and doc slice."""
    d = Q.shape[1]
    sub = d // M
    qs = Q.reshape(len(Q), M, sub)  # (nq, M, sub)
    cs = C.reshape(len(C), M, sub)  # (N, M, sub)
    qn = np.maximum(np.linalg.norm(qs, axis=2), 1e-12)  # (nq, M)
    cn = np.maximum(np.linalg.norm(cs, axis=2), 1e-12)  # (N, M)
    dots = np.einsum("qis,njs->qinj", qs, cs)  # (nq, M, N, M)
    return dots / (qn[:, :, None, None] * cn[None, None, :, :])


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    rows = ["sf_dir,n,pool_kind,p,pool_max,pool_mean,recall_at_10"]
    for sf_dir in dirs:
        t = pq.read_table(f"{sf_dir}/embeddings.parquet")
        ids = np.asarray(t["vec_id"])
        C = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        order = np.argsort(ids)
        ids, C = ids[order], C[order]
        qmask = ids % STRIDE == 0
        Q = C[qmask]
        n, nq = len(C), len(Q)
        sc = slice_cos(Q, C)  # (nq, M, N, M)
        s_i = sc.max(axis=3)  # per-slice MaxSim term: (nq, M, N)
        maxsim = s_i.sum(axis=1)  # (nq, N)
        # exact top-K (desc score, asc vec_id tiebreak)
        exact = np.argsort(np.stack([ids] * nq), axis=1, kind="stable")
        exact = np.argsort(-maxsim, axis=1, kind="stable")[:, :K]

        # whole-vector cosine pool (current registered stage 1)
        qn = np.maximum(np.linalg.norm(Q, axis=1), 1e-12)
        cn = np.maximum(np.linalg.norm(C, axis=1), 1e-12)
        wcos = (Q @ C.T) / np.outer(qn, cn)
        frac_pool = max(50, -(-n // 5))
        worder = np.argsort(-wcos, axis=1, kind="stable")

        def recall_from_pools(pools: list[np.ndarray]) -> tuple[float, float, float]:
            hits = 0
            sizes = []
            for qi, pool in enumerate(pools):
                sizes.append(len(pool))
                pool_scores = maxsim[qi, pool]
                top = pool[np.argsort(-pool_scores, kind="stable")[:K]]
                hits += len(np.intersect1d(top, exact[qi]))
            return hits / (nq * K), float(np.max(sizes)), float(np.mean(sizes))

        r, mx, mean = recall_from_pools([worder[qi, :frac_pool] for qi in range(nq)])
        rows.append(f"{sf_dir},{n},frac_n5,{frac_pool},{mx},{mean},{r:.4f}")

        for p in (5, 10, 25, 50, 75, 100, 125, 150, 200):
            pools = []
            for qi in range(nq):
                u: set[int] = set()
                for i in range(M):
                    top_i = np.argsort(-s_i[qi, i], kind="stable")[:p]
                    u.update(top_i.tolist())
                pools.append(np.fromiter(u, dtype=np.int64))
            r, mx, mean = recall_from_pools(pools)
            rows.append(f"{sf_dir},{n},slice_union,{p},{mx},{mean},{r:.4f}")
        print(f"{sf_dir}: n={n} nq={nq} done", flush=True)

    out = os.path.join(ROOT, "reports", "sweep_maxsim_union.csv")
    with open(out, "w") as f:
        f.write("\n".join(rows) + "\n")
    print("\n".join(rows))


if __name__ == "__main__":
    main()
