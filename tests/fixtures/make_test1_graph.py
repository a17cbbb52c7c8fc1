#!/usr/bin/env python
"""Generate the in-repo golden PageRank fixture (``test1.graph``).

The graph has the shape of the reference engine's ``test1.graph``: N=2319
vertices, M=5000 distinct arcs, 272 sources (so 2047 dangling vertices),
1-based ids in the binary ``.graph`` layout (int32 N, int32 M, then M int32
(src, dst) pairs). Like the reference graph it is acyclic, has no
self-loops, and every vertex touches at least one arc.

Construction, all from ``numpy.random.default_rng(seed)``:

1. 272 of the 2319 ids form the source set; the rest are dangling.
2. Every dangling vertex gets one in-arc from a uniformly drawn source, so no
   vertex is isolated.
3. The remaining arcs draw a uniform source and a Zipf(1.5) destination
   rank (hub skew). The top ``HUB_SOURCES`` ranks are the highest-id
   sources, so rank flows along source-to-source chains for a few steps;
   every other rank maps to a vertex through a seeded permutation.
   Self-loops, duplicates and arcs into a source with a smaller or equal id
   are redrawn; the last rule keeps the graph acyclic.

The expected ranks are ``oracle.pagerank_numpy`` (c=0.85, eps=1e-5) written
as ``%.14g``, one line per vertex. The seed is chosen so the power iteration
stops after exactly 7 iterations, as the reference graph does.
``test1_facts.json`` records graph facts the CLI tests compare against
(k-core maximum and co-citation pair count), computed here with NumPy.

Run from the repository root:

    python tests/fixtures/make_test1_graph.py [--seed 83] [--out tests/fixtures]
"""

from __future__ import annotations

import argparse
import json
import os
import struct
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from pagerank_spark.oracle import coreness_numpy, pagerank_numpy  # noqa: E402

N, M, N_SRC = 2319, 5000, 272
HUB_SOURCES = 8
SEED = 83


def make_edges(seed: int) -> np.ndarray:
    """(M, 2) 0-based arcs of the fixture graph for ``seed``."""
    rng = np.random.default_rng(seed)
    is_src = np.zeros(N, dtype=bool)
    srcs = rng.choice(N, size=N_SRC, replace=False)
    is_src[srcs] = True
    dangling = np.flatnonzero(~is_src)
    by_id = np.sort(srcs)[::-1]
    perm = np.concatenate([
        by_id[:HUB_SOURCES],
        rng.permutation(np.concatenate([by_id[HUB_SOURCES:], dangling])),
    ])
    edges = set(zip(rng.choice(srcs, size=dangling.shape[0]).tolist(),
                    dangling.tolist()))
    while len(edges) < M:
        s = int(rng.choice(srcs))
        z = int(rng.zipf(1.5))
        if z > N:
            continue
        d = int(perm[z - 1])
        if d == s or (is_src[d] and d <= s):
            continue
        edges.add((s, d))
    arr = np.array(sorted(edges), dtype=np.int64)
    return arr[rng.permutation(arr.shape[0])]


def cocitation_pairs(arr: np.ndarray) -> int:
    """Destination pairs (a < b) sharing at least two sources."""
    srcs, s_idx = np.unique(arr[:, 0], return_inverse=True)
    b = np.zeros((srcs.shape[0], N), dtype=np.int32)
    b[s_idx, arr[:, 1]] = 1
    common = b.T @ b
    return int((np.triu(common, k=1) >= 2).sum())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=SEED)
    ap.add_argument("--out", default=os.path.dirname(os.path.abspath(__file__)))
    args = ap.parse_args()

    arr = make_edges(args.seed)
    if int((np.bincount(arr[:, 0], minlength=N) == 0).sum()) != N - N_SRC:
        raise SystemExit(f"seed {args.seed}: a source drew no arc")
    ranks, iters, _ = pagerank_numpy(arr, N)
    if iters != 7:
        raise SystemExit(f"seed {args.seed} converges in {iters} iterations, want 7")

    with open(os.path.join(args.out, "test1.graph"), "wb") as f:
        f.write(struct.pack("<ii", N, M))
        f.write((arr + 1).astype("<i4").tobytes())
    np.savetxt(os.path.join(args.out, "test1_pageranks.txt"), ranks, fmt="%.14g")
    facts = {
        "seed": args.seed,
        "k_max": max(coreness_numpy(arr, N).values()),
        "cocite_pairs": cocitation_pairs(arr),
    }
    with open(os.path.join(args.out, "test1_facts.json"), "w") as f:
        json.dump(facts, f, indent=2)
        f.write("\n")
    print(json.dumps(facts))


if __name__ == "__main__":
    main()
