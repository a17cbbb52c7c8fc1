from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pagerank_spark.algorithms.components import connected_components
from pagerank_spark.algorithms.labelprop import label_propagation
from pagerank_spark.algorithms.triangles import (
    triangle_count,
    triangle_counts_per_vertex,
)
from pagerank_spark.oracle import (
    connected_components_numpy,
    label_propagation_numpy,
    triangles_numpy,
)
from pagerank_spark.sources.graphfile import edges_from_numpy, vertices_df
from tests.conftest import micro_graphs


def _comp_dict(df):
    return {r["id"]: r["component"] for r in df.collect()}


@pytest.mark.parametrize("name", sorted(micro_graphs()))
def test_connected_components_exact(spark, name):
    arr, n = micro_graphs()[name]
    edges = edges_from_numpy(spark, arr)
    verts = vertices_df(spark, n)
    got = _comp_dict(connected_components(edges, verts))
    exp = connected_components_numpy(arr, n)
    assert got == {i: int(exp[i]) for i in range(n)}


def test_cc_two_islands(spark):
    arr, n = micro_graphs()["two_islands"]
    got = _comp_dict(connected_components(edges_from_numpy(spark, arr), vertices_df(spark, n)))
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def test_cc_golden_graph(spark, golden):
    arr, n, _ = golden
    got = _comp_dict(
        connected_components(edges_from_numpy(spark, arr), vertices_df(spark, n))
    )
    exp = connected_components_numpy(arr, n)
    assert got == {i: int(exp[i]) for i in range(n)}


@pytest.mark.parametrize("name", ["two_islands", "chain_8", "star_hub", "complete_6"])
def test_label_propagation_exact(spark, name):
    arr, n = micro_graphs()[name]
    got = {
        r["id"]: r["label"]
        for r in label_propagation(
            edges_from_numpy(spark, arr), vertices_df(spark, n), max_iter=5
        ).collect()
    }
    exp = label_propagation_numpy(arr, n, max_iter=5)
    assert got == {i: int(exp[i]) for i in range(n)}


@pytest.mark.parametrize("name", sorted(micro_graphs()))
def test_triangles_exact(spark, name):
    arr, n = micro_graphs()[name]
    edges = edges_from_numpy(spark, arr)
    exp_total, exp_per = triangles_numpy(arr, n)
    assert triangle_count(edges) == exp_total
    got = {
        r["id"]: r["count"]
        for r in triangle_counts_per_vertex(edges, vertices_df(spark, n)).collect()
    }
    assert got == {i: int(exp_per[i]) for i in range(n)}


def test_triangles_complete6(spark):
    arr, n = micro_graphs()["complete_6"]
    assert triangle_count(edges_from_numpy(spark, arr)) == 20  # C(6,3)


def _spy_hints(monkeypatch):
    """Record DataFrame.hint calls on the real code path (Spark 4 classic
    subclass overrides hint(), so patch there)."""
    from pyspark.sql.classic.dataframe import DataFrame as SparkDF

    calls = []
    orig = SparkDF.hint

    def spy(self, name, *params):
        calls.append(name)
        return orig(self, name, *params)

    monkeypatch.setattr(SparkDF, "hint", spy)
    return calls


@pytest.mark.parametrize(
    "algo",
    ["cc", "lp", "tri"],
)
def test_vertex_gated_shuffle_hints(spark, monkeypatch, algo):
    """CC/LP/triangles gate their shuffle_hash hints on the broadcast-side
    (vertex) count via util.BROADCAST_SAFE_ROWS: hints fire above the gate,
    never below it (small graphs keep Catalyst's broadcast plans)."""
    from pagerank_spark import util

    arr, n = micro_graphs()["two_islands"]
    edges = edges_from_numpy(spark, arr)
    verts = vertices_df(spark, n)

    def run():
        if algo == "cc":
            connected_components(edges, verts).collect()
        elif algo == "lp":
            label_propagation(edges, verts, max_iter=2).collect()
        else:
            triangle_count(edges)

    calls = _spy_hints(monkeypatch)
    monkeypatch.setattr(util, "BROADCAST_SAFE_ROWS", 2)  # n=6 > 2 -> big
    run()
    assert calls.count("shuffle_hash") >= 1

    calls.clear()
    monkeypatch.setattr(util, "BROADCAST_SAFE_ROWS", 2_000_000)
    run()
    assert calls.count("shuffle_hash") == 0


# --------------------------------------------------- linkanalysis operators
@pytest.mark.parametrize("name", ["chain_8", "star_hub", "complete_6", "two_islands"])
def test_hits_exact(spark, name):
    from pagerank_spark.algorithms.linkanalysis import hits
    from pagerank_spark.oracle import hits_numpy

    arr, n = micro_graphs()[name]
    res = hits(edges_from_numpy(spark, arr), vertices_df(spark, n), max_iter=3)
    got = {r["id"]: (r["hub"], r["auth"]) for r in res.scores.collect()}
    h, a = hits_numpy(arr, n, max_iter=3)
    assert set(got) == set(range(n))
    for i in range(n):
        assert abs(got[i][0] - h[i]) < 1e-12
        assert abs(got[i][1] - a[i]) < 1e-12


@pytest.mark.parametrize("name", ["chain_8", "star_hub", "complete_6", "two_islands"])
def test_salsa_exact(spark, name):
    from pagerank_spark.algorithms.linkanalysis import salsa
    from pagerank_spark.oracle import salsa_numpy

    arr, n = micro_graphs()[name]
    res = salsa(edges_from_numpy(spark, arr), vertices_df(spark, n), max_iter=3)
    got = {r["id"]: (r["hub"], r["auth"]) for r in res.scores.collect()}
    h, a = salsa_numpy(arr, n, max_iter=3)
    assert set(got) == set(range(n))
    for i in range(n):
        assert abs(got[i][0] - h[i]) < 1e-12
        assert abs(got[i][1] - a[i]) < 1e-12


@pytest.mark.parametrize("name", ["chain_8", "cycle_8", "star_hub", "two_islands"])
def test_personalized_pagerank_exact(spark, name):
    from pagerank_spark.algorithms.linkanalysis import personalized_pagerank
    from pagerank_spark.oracle import personalized_pagerank_numpy

    arr, n = micro_graphs()[name]
    seeds = [0, 1]
    seeds_df = spark.createDataFrame([(s,) for s in seeds], "id long")
    ranks = personalized_pagerank(
        edges_from_numpy(spark, arr), n, seeds_df, max_iter=4
    )
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    exp = personalized_pagerank_numpy(arr, n, seeds, max_iter=4)
    assert set(got) == set(range(n))
    for i in range(n):
        assert abs(got[i] - exp[i]) < 1e-12


@pytest.mark.parametrize("name", ["chain_8", "cycle_8", "star_hub", "two_islands"])
def test_spam_mass_exact(spark, name):
    from pagerank_spark.algorithms.linkanalysis import spam_mass
    from pagerank_spark.oracle import spam_mass_numpy

    arr, n = micro_graphs()[name]
    seeds = [0, 1]
    seeds_df = spark.createDataFrame([(s,) for s in seeds], "id long")
    out = spam_mass(edges_from_numpy(spark, arr), n, seeds_df, max_iter=4)
    got = {
        r["id"]: (r["pagerank"], r["trustrank"], r["rel_mass"])
        for r in out.collect()
    }
    pr, tr, m = spam_mass_numpy(arr, n, seeds, max_iter=4)
    assert set(got) == set(range(n))
    for i in range(n):
        assert abs(got[i][0] - pr[i]) < 1e-12
        assert abs(got[i][1] - tr[i]) < 1e-12
        assert abs(got[i][2] - m[i]) < 1e-10


def test_spam_mass_flags_unsupported_region(spark):
    """On two disconnected islands with the trusted core in island A, every
    island-B vertex gets trustrank exactly 0 -> rel_mass exactly 1 (its
    rank is entirely unsupported by the core); core-side vertices sit well
    below 1."""
    from pagerank_spark.algorithms.linkanalysis import spam_mass

    arr, n = micro_graphs()["two_islands"]
    island_a = {int(u) for u, v in arr if int(u) < n // 2} | {0}
    seeds_df = spark.createDataFrame([(min(island_a),)], "id long")
    out = spam_mass(edges_from_numpy(spark, arr), n, seeds_df, max_iter=6)
    rows = {r["id"]: r for r in out.collect()}
    for i in range(n):
        if i in island_a or rows[i]["trustrank"] > 0:
            continue
        assert rows[i]["rel_mass"] == 1.0


@pytest.mark.parametrize("name", ["chain_8", "star_hub", "two_islands", "cycle_8"])
@pytest.mark.parametrize("directed", [True, False])
def test_ego_network_exact(spark, name, directed):
    """Induced edges == numpy twin (BFS reach then endpoint filter),
    multiplicity preserved."""
    from pagerank_spark.algorithms.linkanalysis import ego_network
    from pagerank_spark.oracle import bfs_numpy

    arr, n = micro_graphs()[name]
    centers = [0]
    centers_df = spark.createDataFrame([(c,) for c in centers], "id long")
    got = sorted(
        (r["src"], r["dst"])
        for r in ego_network(
            edges_from_numpy(spark, arr), centers_df, radius=2, directed=directed
        ).collect()
    )
    dist = bfs_numpy(arr, n, centers, max_hops=2, directed=directed)
    reach = set(dist)
    want = sorted(
        (int(u), int(v)) for u, v in arr if int(u) in reach and int(v) in reach
    )
    assert got == want


def test_personalized_pagerank_concentrates_on_seeds(spark):
    # teleport mass lands only on seeds: on two disconnected triangles,
    # seeding island A must leave island B with zero rank
    from pagerank_spark.algorithms.linkanalysis import personalized_pagerank

    arr, n = micro_graphs()["two_islands"]
    seeds_df = spark.createDataFrame([(0,)], "id long")
    got = {
        r["id"]: r["rank"]
        for r in personalized_pagerank(
            edges_from_numpy(spark, arr), n, seeds_df, max_iter=6
        ).collect()
    }
    assert sum(got[i] for i in (0, 1, 2)) > 0.999
    assert all(got[i] == 0.0 for i in (3, 4, 5))


@pytest.mark.parametrize("name", ["complete_6", "two_islands", "test1_mirror"])
def test_clustering_coefficients_exact(spark, name):
    from pagerank_spark.algorithms.linkanalysis import clustering_coefficients
    from pagerank_spark.oracle import clustering_numpy

    arr, n = micro_graphs()[name]
    got = {
        r["id"]: (r["degree"], r["n_triangles"], r["cc"])
        for r in clustering_coefficients(edges_from_numpy(spark, arr)).collect()
    }
    exp = clustering_numpy(arr, n)
    assert set(got) == set(exp)
    for i, (d, t, cc) in exp.items():
        assert got[i][0] == d and got[i][1] == t
        assert abs(got[i][2] - cc) < 1e-12


@pytest.mark.parametrize("name", ["chain_8", "star_hub", "two_islands", "test1_mirror"])
@pytest.mark.parametrize("directed", [True, False])
def test_bfs_distances_exact(spark, name, directed):
    from pagerank_spark.algorithms.linkanalysis import bfs_distances
    from pagerank_spark.oracle import bfs_numpy

    arr, n = micro_graphs()[name]
    sources = [0, 3]
    src_df = spark.createDataFrame([(s,) for s in sources], "id long")
    got = {
        r["id"]: r["dist"]
        for r in bfs_distances(
            edges_from_numpy(spark, arr), src_df, directed=directed
        ).collect()
    }
    assert got == bfs_numpy(arr, n, sources, directed=directed)


def test_bfs_max_hops_truncates(spark):
    from pagerank_spark.algorithms.linkanalysis import bfs_distances

    arr, n = micro_graphs()["chain_8"]
    src_df = spark.createDataFrame([(0,)], "id long")
    got = {
        r["id"]: r["dist"]
        for r in bfs_distances(edges_from_numpy(spark, arr), src_df, max_hops=3).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


# ----------------------------------------------------- structure operators
@pytest.mark.parametrize(
    "name", ["chain_8", "cycle_8", "star_hub", "complete_6", "two_islands", "test1_mirror"]
)
def test_coreness_exact(spark, name):
    from pagerank_spark.algorithms.structure import coreness
    from pagerank_spark.oracle import coreness_numpy

    arr, n = micro_graphs()[name]
    got = {
        r["id"]: r["coreness"]
        for r in coreness(edges_from_numpy(spark, arr)).collect()
    }
    assert got == coreness_numpy(arr, n)


def test_coreness_fixpoint_stable_under_extra_rounds(spark):
    # the h-index iteration is a no-op past its fixpoint, which is the
    # invariant the unrolled SQL oracle relies on
    from pagerank_spark.algorithms.structure import coreness

    arr, _ = micro_graphs()["two_islands"]
    e = edges_from_numpy(spark, arr)
    a = sorted(map(tuple, coreness(e, max_rounds=100).collect()))
    b = sorted(map(tuple, coreness(e, max_rounds=3).collect()))
    assert a == b


@pytest.mark.parametrize(
    "name", ["chain_8", "cycle_8", "star_hub", "complete_6", "two_islands", "test1_mirror"]
)
def test_scc_exact(spark, name):
    from pagerank_spark.algorithms.structure import strongly_connected_components
    from pagerank_spark.oracle import scc_numpy

    arr, n = micro_graphs()[name]
    got = {
        r["id"]: r["scc"]
        for r in strongly_connected_components(
            edges_from_numpy(spark, arr), vertices_df(spark, n)
        ).collect()
    }
    assert got == scc_numpy(arr, n)


def test_scc_two_cycles_bridge(spark):
    # two 3-cycles joined by a one-way bridge stay distinct SCCs; the
    # bridge makes them one weakly-connected piece, exercising the
    # multi-SCC coloring phase (not just trim)
    from pagerank_spark.algorithms.structure import strongly_connected_components
    from pagerank_spark.oracle import scc_numpy

    arr = np.array(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)], dtype=np.int64
    )
    got = {
        r["id"]: r["scc"]
        for r in strongly_connected_components(
            edges_from_numpy(spark, arr), vertices_df(spark, 6)
        ).collect()
    }
    assert got == scc_numpy(arr, 6) == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def _bowtie_twin(arr: np.ndarray, n: int) -> dict[int, str]:
    """Exact python bow-tie classifier via per-vertex BFS closure."""
    adj = {v: set() for v in range(n)}
    for u, v in arr:
        if u != v:
            adj[int(u)].add(int(v))
    reach = {}
    for v in range(n):
        seen = {v}
        stack = [v]
        while stack:
            x = stack.pop()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        reach[v] = seen
    scc = {v: min(u for u in reach[v] if v in reach[u]) for v in range(n)}
    from collections import Counter

    sizes = Counter(scc.values())
    core_lbl = min(sorted(sizes), key=lambda lbl: (-sizes[lbl], lbl))
    core = {v for v, s in scc.items() if s == core_lbl}
    fwd_core = set().union(*(reach[c] for c in core))
    bwd_core = {v for v in range(n) if reach[v] & core}
    out_s = fwd_core - core
    in_s = bwd_core - core
    from_in = set().union(*(reach[i] for i in in_s)) if in_s else set()
    to_out = {v for v in range(n) if reach[v] & out_s}
    res = {}
    for v in range(n):
        if v in core:
            res[v] = "CORE"
        elif v in in_s:
            res[v] = "IN"
        elif v in out_s:
            res[v] = "OUT"
        elif v in from_in and v in to_out:
            res[v] = "TUBES"
        elif v in from_in or v in to_out:
            res[v] = "TENDRILS"
        else:
            res[v] = "DISCONNECTED"
    return res


def test_bowtie_hand_graph(spark):
    """A 12-vertex graph exercising all six Broder classes at once."""
    from pagerank_spark.algorithms.structure import bowtie

    arr = np.array(
        [
            (0, 1), (1, 2), (2, 0),          # CORE cycle
            (3, 0), (10, 3),                 # IN chain
            (2, 4), (4, 5),                  # OUT chain
            (3, 6), (6, 4),                  # TUBE bypassing core
            (3, 7),                          # tendril off IN
            (8, 4),                          # tendril into OUT
            (9, 11),                         # disconnected pair
        ],
        dtype=np.int64,
    )
    got = {
        r["id"]: r["component"]
        for r in bowtie(edges_from_numpy(spark, arr), vertices_df(spark, 12)).collect()
    }
    assert got == _bowtie_twin(arr, 12)
    assert got == {
        0: "CORE", 1: "CORE", 2: "CORE",
        3: "IN", 10: "IN",
        4: "OUT", 5: "OUT",
        6: "TUBES",
        7: "TENDRILS", 8: "TENDRILS",
        9: "DISCONNECTED", 11: "DISCONNECTED",
    }


def test_bowtie_random_graph(spark):
    """Python-twin parity on a 300-vertex random digraph (mean degree 3,
    well past the giant-SCC threshold, so every class is populated)."""
    from pagerank_spark.algorithms.structure import bowtie

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 300, size=(900, 2), dtype=np.int64)
    exp = _bowtie_twin(arr, 300)
    got = {
        r["id"]: r["component"]
        for r in bowtie(edges_from_numpy(spark, arr), vertices_df(spark, 300)).collect()
    }
    assert got == exp
    assert {"CORE", "IN", "OUT"} <= set(exp.values())


@pytest.mark.parametrize("name", ["chain_8", "complete_6", "two_islands", "test1_mirror"])
def test_graph_summary_exact(spark, name):
    from pagerank_spark.algorithms.structure import graph_summary
    from pagerank_spark.oracle import graph_summary_numpy

    arr, n = micro_graphs()[name]
    row = graph_summary(edges_from_numpy(spark, arr)).first()
    nv, ne, nl, rec, asrt = graph_summary_numpy(arr, n)
    assert (row["n_vertices"], row["n_edges"], row["n_self_loops"]) == (nv, ne, nl)
    assert abs(row["reciprocity"] - rec) < 1e-12
    if asrt is None:
        assert row["assortativity"] is None
    else:
        assert abs(row["assortativity"] - asrt) < 1e-9


def test_contract_graph_host_rollup(spark):
    from pagerank_spark.algorithms.structure import contract_graph

    arr, n = micro_graphs()["test1_mirror"]
    e = edges_from_numpy(spark, arr)
    mapping = vertices_df(spark, n).select("id", (F.col("id") % 10).alias("group"))
    got = {
        (r["src"], r["dst"]): r["weight"]
        for r in contract_graph(e, mapping).collect()
    }
    exp = {}
    for u, v in arr:
        gu, gv = int(u) % 10, int(v) % 10
        if gu != gv:
            exp[(gu, gv)] = exp.get((gu, gv), 0) + 1
    assert got == exp


def test_weighted_pagerank_exact(spark):
    from pagerank_spark.algorithms.linkanalysis import weighted_pagerank
    from pagerank_spark.oracle import weighted_pagerank_numpy

    ew = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0), (3, 0, 5.0)]
    n = 5  # vertex 4 dangling and unreferenced
    edf = spark.createDataFrame(ew, "src long, dst long, weight double")
    got = {r["id"]: r["rank"] for r in weighted_pagerank(edf, n, max_iter=6).collect()}
    exp = weighted_pagerank_numpy(ew, n, max_iter=6)
    assert set(got) == set(range(n))
    for i in range(n):
        assert abs(got[i] - exp[i]) < 1e-12


def test_weighted_pagerank_uniform_weights_match_plain(spark):
    # with all weights equal, weighted PageRank must reproduce the engine's
    # uniform dataframe PageRank exactly
    from pagerank_spark.algorithms.linkanalysis import weighted_pagerank
    from pagerank_spark.algorithms.pagerank import PageRank

    arr, n = micro_graphs()["two_islands"]
    e = edges_from_numpy(spark, arr)
    ew = e.select("src", "dst", F.lit(1.0).alias("weight"))
    got = {r["id"]: r["rank"] for r in weighted_pagerank(ew, n, max_iter=5).collect()}
    res = PageRank(mode="dataframe", max_iter=5, eps=0.0).run(e, n)
    exp = {r["id"]: r["rank"] for r in res.ranks.collect()}
    for i in range(n):
        assert abs(got[i] - exp[i]) < 1e-12


# -------------------------------------------------------------- hyperball
@pytest.mark.parametrize("name", ["chain_8", "cycle_8", "star_hub", "two_islands"])
def test_hyperball_registers_exact(spark, name):
    """The distributed register recurrence must equal a pure-Python HLL
    simulation bit-for-bit (same md5 hash, same max-merge) — the estimate
    is then a deterministic closed form of these integers."""
    from pagerank_spark.algorithms.hyperball import hyperball
    from pagerank_spark.oracle import hyperball_numpy

    arr, _ = micro_graphs()[name]
    res = hyperball(edges_from_numpy(spark, arr), t_max=12)
    got = {
        (r["id"], r["t"]): (r["s_int"], r["zero_regs"]) for r in res.balls.collect()
    }
    sim, _ = hyperball_numpy(arr, res.iterations)
    assert got == sim


def test_hyperball_fixpoint_stops_early(spark):
    from pagerank_spark.algorithms.hyperball import hyperball

    arr, _ = micro_graphs()["chain_8"]
    res = hyperball(edges_from_numpy(spark, arr), t_max=30)
    # chain 0->..->7: ball(0) stops growing at t=7, everyone else earlier
    assert res.iterations == 7
    assert len(res.nf) == 8
    # NF is monotone non-decreasing in t (counters only grow)
    assert all(b >= a - 1e-9 for a, b in zip(res.nf, res.nf[1:]))


def test_hyperball_estimate_quality(spark):
    """On the 2319-vertex mirror graph the HLL estimates must track exact
    BFS ball sizes within the m=64 error regime (rsd ~13%; the MEAN abs
    relative error over 2319 vertices should be well under 2 rsd), and the
    whole-graph NF(t) sum should concentrate much tighter."""
    from pagerank_spark.algorithms.hyperball import hyperball
    from pagerank_spark.oracle import hyperball_numpy

    arr, _ = micro_graphs()["test1_mirror"]
    t = 2
    res = hyperball(edges_from_numpy(spark, arr), t_max=t)
    est = {r["id"]: r["ball_est"] for r in res.balls.filter(F.col("t") == t).collect()}
    _, exact = hyperball_numpy(arr, t)
    rel = [abs(est[v] - exact[(v, t)]) / exact[(v, t)] for v in est]
    assert sum(rel) / len(rel) < 0.26
    nf_exact = sum(exact[(v, t)] for v in est)
    assert abs(res.nf[t] - nf_exact) / nf_exact < 0.10


def test_harmonic_centrality_star_and_chain(spark):
    from pagerank_spark.algorithms.hyperball import harmonic_centrality

    star, _ = micro_graphs()["star_hub"]
    hc = {
        r["id"]: r["harmonic"]
        for r in harmonic_centrality(edges_from_numpy(spark, star), t_max=4).collect()
    }
    # hub receives from all 8 spokes at distance 1 -> H(0) ~ 8, spokes get 0
    assert max(hc, key=hc.get) == 0
    assert abs(hc[0] - 8.0) / 8.0 < 0.25
    assert all(v == 0.0 for k, v in hc.items() if k != 0)

    chain, _ = micro_graphs()["chain_8"]
    hc = {
        r["id"]: r["harmonic"]
        for r in harmonic_centrality(edges_from_numpy(spark, chain), t_max=10).collect()
    }
    # directed chain 0->...->7: the sink 7 is reachable from everyone
    assert max(hc, key=hc.get) == 7
    assert hc[0] == 0.0


def test_hyperball_estimate_py_equals_expr(spark):
    from pagerank_spark.algorithms.hyperball import estimate_expr, estimate_py

    rows = [(64 * (1 << 55),), (100_000_000,), (37 * (1 << 55) + 12345,)]
    df = spark.createDataFrame(rows, "s_int long").withColumn(
        "zero_regs",
        F.when(F.col("s_int") == 64 * (1 << 55), 64).otherwise(F.lit(3)),
    )
    got = df.select("s_int", "zero_regs", estimate_expr(F.col("s_int"), F.col("zero_regs")).alias("e")).collect()
    for r in got:
        assert abs(r["e"] - estimate_py(r["s_int"], r["zero_regs"])) < 1e-9


# ----------------------------------------------------------- random walks
@pytest.mark.parametrize("name", ["chain_8", "cycle_8", "star_hub", "two_islands"])
def test_random_walks_exact(spark, name):
    """The distributed walk must equal the Python twin exactly — same md5
    argmin rule, same dangling termination."""
    from pagerank_spark.algorithms.walks import random_walks
    from pagerank_spark.oracle import random_walks_numpy

    arr, _ = micro_graphs()[name]
    got = {
        (r["start_id"], r["walk"], r["step"]): r["id"]
        for r in random_walks(
            edges_from_numpy(spark, arr), walk_length=5, walks_per_node=2, seed=7
        ).collect()
    }
    assert got == random_walks_numpy(arr, 5, 2, 7)


def test_random_walks_seed_changes_paths(spark):
    from pagerank_spark.algorithms.walks import random_walks

    arr, _ = micro_graphs()["test1_mirror"]
    e = edges_from_numpy(spark, arr)
    a = {(r["start_id"], r["walk"], r["step"]): r["id"]
         for r in random_walks(e, 3, 1, seed=1).collect()}
    b = {(r["start_id"], r["walk"], r["step"]): r["id"]
         for r in random_walks(e, 3, 1, seed=2).collect()}
    assert set(a) - set(b) == set() or a != b  # same starts, different paths
    assert a != b


# ------------------------------------------- co-citation / biblio coupling
def test_co_citation_exact(spark):
    from itertools import combinations

    from pagerank_spark.algorithms.linkanalysis import (
        bibliographic_coupling,
        co_citation,
    )

    arr, _ = micro_graphs()["test1_mirror"]
    e = edges_from_numpy(spark, arr)
    got = {
        (r["a"], r["b"]): r["n_common_src"]
        for r in co_citation(e, min_count=2, max_src_fanout=None).collect()
    }
    # python twin
    from collections import defaultdict

    outs = defaultdict(set)
    for u, v in arr:
        if u != v:
            outs[int(u)].add(int(v))
    exp = defaultdict(int)
    for _, ds in outs.items():
        for x, y in combinations(sorted(ds), 2):
            exp[(x, y)] += 1
    exp = {k: v for k, v in exp.items() if v >= 2}
    assert got == exp

    got_bc = {
        (r["a"], r["b"]): r["n_common_dst"]
        for r in bibliographic_coupling(e, min_count=2, max_dst_fanin=None).collect()
    }
    ins = defaultdict(set)
    for u, v in arr:
        if u != v:
            ins[int(v)].add(int(u))
    exp_bc = defaultdict(int)
    for _, ss in ins.items():
        for x, y in combinations(sorted(ss), 2):
            exp_bc[(x, y)] += 1
    exp_bc = {k: v for k, v in exp_bc.items() if v >= 2}
    assert got_bc == exp_bc


def test_co_citation_fanout_cap_drops_hub_sources(spark):
    from pagerank_spark.algorithms.linkanalysis import co_citation

    # source 0 is a directory page linking to 10 targets; source 1 links 2
    rows = [(0, d) for d in range(10, 20)] + [(1, 11), (1, 12)]
    e = spark.createDataFrame(rows, "src long, dst long")
    uncapped = {(r["a"], r["b"]): r["n_common_src"]
                for r in co_citation(e, min_count=1, max_src_fanout=None).collect()}
    assert uncapped[(11, 12)] == 2 and len(uncapped) == 45
    capped = {(r["a"], r["b"]): r["n_common_src"]
              for r in co_citation(e, min_count=1, max_src_fanout=5).collect()}
    # hub source 0 excluded: only source 1's single pair remains, count 1
    assert capped == {(11, 12): 1}


def test_adamic_adar_exact(spark):
    """Both weight variants match a python twin on the 5k-edge mirror graph,
    and the hub-discount actually discounts: a pair co-cited only by a huge
    directory page scores below a pair co-cited by a 2-out-link page."""
    import math
    from collections import defaultdict
    from itertools import combinations

    from pagerank_spark.algorithms.linkanalysis import adamic_adar

    arr, _ = micro_graphs()["test1_mirror"]
    e = edges_from_numpy(spark, arr)
    outs = defaultdict(set)
    for u, v in arr:
        if u != v:
            outs[int(u)].add(int(v))

    for variant, wfn in (
        ("adamic_adar", lambda f: 1.0 / math.log(f)),
        ("resource_allocation", lambda f: 1.0 / f),
    ):
        exp_n = defaultdict(int)
        exp_s = defaultdict(float)
        for _, ds in outs.items():
            for x, y in combinations(sorted(ds), 2):
                exp_n[(x, y)] += 1
                exp_s[(x, y)] += wfn(len(ds))
        exp_n = {k: v for k, v in exp_n.items() if v >= 2}
        got = {
            (r["a"], r["b"]): (r["n_common_src"], r["score"])
            for r in adamic_adar(
                e, min_common=2, max_src_fanout=None, variant=variant
            ).collect()
        }
        assert {k: v[0] for k, v in got.items()} == exp_n
        for k, (_, s) in got.items():
            assert abs(s - exp_s[k]) < 1e-9 * max(1.0, abs(exp_s[k]))

    # hub discount: src 0 is a 100-target directory, src 1 links to just 2
    rows = [(0, d) for d in range(10, 110)] + [(1, 10), (1, 11)]
    e2 = spark.createDataFrame(rows, "src long, dst long")
    got = {
        (r["a"], r["b"]): r["score"]
        for r in adamic_adar(e2, min_common=1, max_src_fanout=None).collect()
    }
    assert abs(got[(10, 11)] - (1 / math.log(100) + 1 / math.log(2))) < 1e-12
    assert abs(got[(12, 13)] - 1 / math.log(100)) < 1e-12
    assert got[(10, 11)] > got[(12, 13)]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        adamic_adar(e2, variant="jaccard")


def test_ppr_batch_matches_single_runs(spark):
    """K topics batched into one loop reproduce K independent
    personalized_pagerank runs (same arithmetic per topic), and the
    validation mirrors the single-run hygiene."""
    from pagerank_spark.algorithms.linkanalysis import (
        personalized_pagerank,
        personalized_pagerank_batch,
    )

    arr, n = micro_graphs()["test1_mirror"]
    e = edges_from_numpy(spark, arr)
    topic_seeds = {"a": list(range(10)), "b": [5, 50, 99], "c": [123]}
    seeds = spark.createDataFrame(
        [(t, s) for t, ss in topic_seeds.items() for s in ss], "topic string, id long"
    )
    got = {
        (r["topic"], r["id"]): r["rank"]
        for r in personalized_pagerank_batch(e, n, seeds, max_iter=3).collect()
    }
    assert len(got) == 3 * n
    for t, ss in topic_seeds.items():
        single = {
            r["id"]: r["rank"]
            for r in personalized_pagerank(
                e, n, spark.createDataFrame([(s,) for s in ss], "id long"), max_iter=3
            ).collect()
        }
        for i in range(n):
            assert abs(got[(t, i)] - single[i]) <= 1e-12 + 1e-9 * abs(single[i]), (
                t,
                i,
            )

    import pytest as _pytest

    with _pytest.raises(ValueError):
        personalized_pagerank_batch(
            e, n, spark.createDataFrame([("a", n + 5)], "topic string, id long")
        )
    with _pytest.raises(ValueError):
        personalized_pagerank_batch(
            e, n, spark.createDataFrame([], "topic string, id long")
        )


def test_ppr_seed_hygiene(spark):
    """Duplicate seeds are deduped (same result as the distinct set);
    out-of-range seeds are a hard error, not a silently-shrunk teleport."""
    from pagerank_spark.algorithms.linkanalysis import personalized_pagerank, spam_mass

    arr, n = micro_graphs()["cycle_8"]
    edges = edges_from_numpy(spark, arr)
    dup = spark.createDataFrame([(0,), (1,), (1,)], "id long")
    dis = spark.createDataFrame([(0,), (1,)], "id long")
    got_dup = {r["id"]: r["rank"] for r in
               personalized_pagerank(edges, n, dup, max_iter=3).collect()}
    got_dis = {r["id"]: r["rank"] for r in
               personalized_pagerank(edges, n, dis, max_iter=3).collect()}
    assert all(abs(got_dup[i] - got_dis[i]) < 1e-15 for i in range(n))

    # spam_mass's |S|/n rescale counts the same distinct seeds the
    # teleport does
    sm_dup = {r["id"]: r["rel_mass"] for r in
              spam_mass(edges, n, dup, max_iter=3).collect()}
    sm_dis = {r["id"]: r["rel_mass"] for r in
              spam_mass(edges, n, dis, max_iter=3).collect()}
    assert all(abs(sm_dup[i] - sm_dis[i]) < 1e-12 for i in range(n))

    bad = spark.createDataFrame([(0,), (99,)], "id long")
    with pytest.raises(ValueError, match="outside"):
        personalized_pagerank(edges, n, bad, max_iter=1)


def test_host_link_features_hand_computed(spark):
    """Planted 3-host layout: a link farm (all intra + reciprocal exchange),
    a normal host, and a parked host with no out-edges."""
    from pagerank_spark.algorithms.linkanalysis import host_link_features

    # hosts: farm = pages 0-3, normal = 4-5, parked = 6
    mapping = spark.createDataFrame(
        [(i, "farm") for i in range(4)]
        + [(4, "normal"), (5, "normal"), (6, "parked")],
        "id long, group string",
    )
    edges = spark.createDataFrame(
        [
            # farm: dense intra links + one exchange with normal
            (0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (1, 3),
            (0, 4),           # farm -> normal
            (4, 0),           # normal -> farm (reciprocal)
            (4, 5),           # normal intra
            (5, 6),           # normal -> parked (not reciprocated)
        ],
        "src long, dst long",
    )
    got = {r["host"]: r for r in host_link_features(edges, mapping).collect()}
    assert set(got) == {"farm", "normal", "parked"}

    f = got["farm"]
    assert f["n_pages"] == 4 and f["n_outlinks"] == 7
    assert abs(f["intra_frac"] - 6 / 7) < 1e-12
    assert f["n_out_hosts"] == 1 and f["reciprocal_frac"] == 1.0

    n = got["normal"]
    assert n["n_pages"] == 2 and n["n_outlinks"] == 3
    assert abs(n["intra_frac"] - 1 / 3) < 1e-12
    assert n["n_out_hosts"] == 2 and abs(n["reciprocal_frac"] - 0.5) < 1e-12

    p = got["parked"]
    assert p["n_pages"] == 1 and p["n_outlinks"] == 0
    assert p["intra_frac"] == 0.0 and p["reciprocal_frac"] == 0.0


def test_degree_powerlaw_mle(spark):
    """MLE twin on a hand-built degree multiset + recovery of a planted
    exponent on a synthetic zipfian graph."""
    import math

    from pagerank_spark.algorithms.structure import degree_powerlaw

    # hand graph: in-degrees 6, 5, 1 (below cutoff)
    rows = [(s, 100) for s in range(6)] + [(s, 101) for s in range(10, 15)] + [(0, 102)]
    e = spark.createDataFrame(rows, "src long, dst long")
    r = degree_powerlaw(e, xmin=5, which="in").first()
    ks = [6, 5]
    exp = 1.0 + len(ks) / sum(math.log(k / 4.5) for k in ks)
    assert r["n_tail"] == 2 and abs(r["alpha"] - exp) < 1e-12

    # planted alpha≈2.2 zipf in-degree graph
    rng = np.random.default_rng(3)
    degs = np.clip(rng.zipf(2.2, size=3000), 1, 5000)
    rows2 = [(int(i * 100_000 + j), int(i)) for i, d in enumerate(degs) for j in range(int(d))]
    e2 = spark.createDataFrame(rows2, "src long, dst long")
    r2 = degree_powerlaw(e2, xmin=5, which="in").first()
    assert 1.9 < r2["alpha"] < 2.5

    import pytest as _pytest
    with _pytest.raises(ValueError):
        degree_powerlaw(e, which="up")


def test_node2vec_walks_exact_and_biased(spark):
    """Integer-weighted selection matches a python twin step-for-step on
    the mirror graph, and the p/q bias is directionally visible: small p
    (return-friendly) backtracks far more often than large p."""
    import hashlib
    from collections import defaultdict

    from pagerank_spark.algorithms.walks import node2vec_walks

    arr, _ = micro_graphs()["test1_mirror"]
    e = edges_from_numpy(spark, arr)
    outs = defaultdict(set)
    for u, v in arr:
        outs[int(u)].add(int(v))
    edgeset = {(int(u), int(v)) for u, v in arr}

    def h60(*parts):
        key = "_".join(str(x) for x in parts)
        return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)

    def twin(L, p, q, seed, S=10000):
        wp, w1, wq = round(S / p), S, round(S / q)
        rows = {}
        for s in sorted(outs):
            cur, prev = s, None
            rows[(s, 0, 0)] = s
            for t in range(1, L + 1):
                nbrs = sorted(outs.get(cur, ()))
                if not nbrs:
                    break
                if prev is None:
                    nxt = min(nbrs, key=lambda nb: (h60(seed, s, 0, t, nb), nb))
                else:
                    classed = [[], [], []]
                    for nb in nbrs:
                        if nb == prev:
                            classed[0].append(nb)
                        elif (prev, nb) in edgeset:
                            classed[1].append(nb)
                        else:
                            classed[2].append(nb)
                    ws = [wp, w1, wq]
                    total = sum(w * len(c) for w, c in zip(ws, classed))
                    r = h60(seed, s, 0, t, "r") % total
                    off = 0
                    for w, c in zip(ws, classed):
                        if r < off + w * len(c):
                            nxt = c[(r - off) // w]
                            break
                        off += w * len(c)
                rows[(s, 0, t)] = nxt
                prev, cur = cur, nxt
        return rows

    for p, q in [(1.0, 1.0), (0.25, 4.0), (4.0, 0.25)]:
        got = {
            (r["start_id"], r["walk"], r["step"]): r["id"]
            for r in node2vec_walks(e, walk_length=3, p=p, q=q, seed=9).collect()
        }
        assert got == twin(3, p, q, 9), (p, q)

    # directional bias: return rate at step 2 (id_2 == id_0) — needs a
    # graph where the reverse edge actually exists, so symmetrize
    sym = np.vstack([arr, arr[:, ::-1]])
    e_sym = edges_from_numpy(spark, sym)

    def return_rate(p):
        rows = {
            (r["start_id"], r["step"]): r["id"]
            for r in node2vec_walks(e_sym, walk_length=2, p=p, q=1.0, seed=4).collect()
        }
        back = sum(
            1 for (s, t), v in rows.items() if t == 2 and v == s
        )
        n2 = sum(1 for (s, t) in rows if t == 2)
        return back / max(n2, 1)

    assert return_rate(0.05) > return_rate(20.0) + 0.1

    import pytest as _pytest
    with _pytest.raises(ValueError):
        node2vec_walks(e, p=0.0)


@pytest.mark.parametrize("name", ["chain_8", "cycle_8", "star_hub", "two_islands"])
def test_katz_centrality_exact(spark, name):
    from pagerank_spark.algorithms.linkanalysis import katz_centrality

    arr, n = micro_graphs()[name]
    got = {
        r["id"]: r["katz"]
        for r in katz_centrality(
            edges_from_numpy(spark, arr), n, alpha=0.05, max_iter=4
        ).collect()
    }
    # numpy twin: x_{t+1} = alpha * A^T x_t + beta, then L2 normalize
    A = np.zeros((n, n))
    for u, v in {(int(u), int(v)) for u, v in arr}:
        A[u, v] = 1.0
    x = np.ones(n)
    for _ in range(4):
        x = 0.05 * A.T @ x + 1.0
    x = x / np.linalg.norm(x)
    assert set(got) == set(range(n))
    for i in range(n):
        assert abs(got[i] - x[i]) < 1e-12


def test_host_mirror_pairs_planted(spark):
    """Two planted mirror hosts (identical external outlink sets) are
    found with jaccard 1.0; a partially-overlapping host scores its exact
    set Jaccard; intra-host links are ignored."""
    from pagerank_spark.algorithms.linkanalysis import host_mirror_pairs

    # hosts: pages 0-1 -> host 0 (mirror A), 2-3 -> host 1 (mirror B),
    # 4 -> host 2 (partial), targets on hosts 10..14 (pages 100+)
    mapping_rows = [(0, 0), (1, 0), (2, 1), (3, 1), (4, 2)] + [
        (100 + t, 10 + t) for t in range(5)
    ]
    mapping = spark.createDataFrame(mapping_rows, "id long, group long")
    edges_rows = (
        [(0, 100), (0, 101), (1, 102)]       # host0 -> {10,11,12}
        + [(2, 100), (3, 101), (3, 102)]     # host1 -> {10,11,12} (mirror)
        + [(4, 100), (4, 101), (4, 103)]     # host2 -> {10,11,13}
        + [(0, 1), (2, 3)]                   # intra-host (ignored)
    )
    e = spark.createDataFrame(edges_rows, "src long, dst long")
    got = {
        (r["a"], r["b"]): (r["n_common"], round(r["jaccard"], 9))
        for r in host_mirror_pairs(e, mapping, threshold=0.0, max_dst_fanin=None).collect()
    }
    assert got[(0, 1)] == (3, 1.0)
    assert got[(0, 2)] == (2, 0.5)  # |{10,11}| / |{10,11,12,13}|
    assert got[(1, 2)] == (2, 0.5)
    # high threshold keeps only the true mirror
    strict = {
        (r["a"], r["b"])
        for r in host_mirror_pairs(e, mapping, threshold=0.8, max_dst_fanin=None).collect()
    }
    assert strict == {(0, 1)}
