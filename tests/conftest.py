from __future__ import annotations

import json
import os
import struct

import numpy as np
import pytest

from pagerank_spark.session import get_spark

GOLDEN_GRAPH = "/root/reference/Pagerank/src/test1.graph"
GOLDEN_RANKS = "/root/reference/Pagerank/src/test1_pageranks.txt"
# graph-specific facts the CLI tests pin (k-core maximum, co-citation pairs)
GOLDEN_FACTS = {"k_max": 14, "cocite_pairs": 10950}
if not os.path.exists(GOLDEN_GRAPH):
    # no reference checkout: the repo's own fixture of the same shape, whose
    # expected ranks come from the NumPy oracle (tests/fixtures/README.md);
    # the golden tests never skip
    _FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    GOLDEN_GRAPH = os.path.join(_FIXTURES, "test1.graph")
    GOLDEN_RANKS = os.path.join(_FIXTURES, "test1_pageranks.txt")
    with open(os.path.join(_FIXTURES, "test1_facts.json")) as _fh:
        GOLDEN_FACTS = json.load(_fh)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pagerank_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def golden():
    """(edges 0-based (m,2) int64, n, golden ranks) from the reference fixture."""
    with open(GOLDEN_GRAPH, "rb") as f:
        n, m = struct.unpack("<ii", f.read(8))
        arr = (
            np.frombuffer(f.read(8 * m), dtype="<i4").reshape(-1, 2).astype(np.int64)
            - 1
        )
    ranks = np.loadtxt(GOLDEN_RANKS)
    return arr, n, ranks


def micro_graphs() -> dict[str, tuple[np.ndarray, int]]:
    """Deterministic micro-graphs from FIXTURES.md §4."""
    rng = np.random.default_rng(42)
    mirror = rng.integers(0, 2319, size=(5000, 2), dtype=np.int64)
    k = 6
    complete = np.array(
        [(i, j) for i in range(k) for j in range(k) if i != j], dtype=np.int64
    )
    return {
        "chain_8": (np.array([(i, i + 1) for i in range(7)], dtype=np.int64), 8),
        "cycle_8": (np.array([(i, (i + 1) % 8) for i in range(8)], dtype=np.int64), 8),
        "star_hub": (np.array([(i, 0) for i in range(1, 9)], dtype=np.int64), 9),
        "complete_6": (complete, k),
        "all_dangling": (np.empty((0, 2), dtype=np.int64), 5),
        "two_islands": (
            np.array([(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3)], dtype=np.int64),
            6,
        ),
        "test1_mirror": (mirror, 2319),
    }
