from __future__ import annotations

import numpy as np
import pytest

from pagerank_spark.algorithms.pagerank import PageRank
from pagerank_spark.oracle import pagerank_numpy
from pagerank_spark.sources.graphfile import (
    edges_from_numpy,
    read_graph_file,
)
from tests.conftest import GOLDEN_GRAPH, micro_graphs


def ranks_to_numpy(df, n):
    out = np.zeros(n)
    for row in df.collect():
        out[row["id"]] = row["rank"]
    return out


@pytest.mark.parametrize("mode", ["dataframe", "csr"])
def test_golden_test1(spark, golden, mode):
    """Engine reproduces the reference golden ranks to allclose 1e-6."""
    arr, n, expected = golden
    edges, n_read = read_graph_file(spark, GOLDEN_GRAPH)
    assert n_read == n
    res = PageRank(mode=mode).run(edges, n)
    got = ranks_to_numpy(res.ranks, n)
    assert res.iterations == 7
    np.testing.assert_allclose(got, expected, atol=1e-6)
    # tighter check against the NumPy oracle (identical spec)
    oracle, it, _ = pagerank_numpy(arr, n)
    assert it == 7
    np.testing.assert_allclose(got, oracle, atol=1e-9)


@pytest.mark.parametrize("mode", ["dataframe", "csr"])
@pytest.mark.parametrize("name", sorted(micro_graphs()))
def test_micro_graphs_vs_oracle(spark, mode, name):
    arr, n = micro_graphs()[name]
    oracle, _, _ = pagerank_numpy(arr, n)
    edges = edges_from_numpy(spark, arr)
    res = PageRank(mode=mode).run(edges, n)
    got = ranks_to_numpy(res.ranks, n)
    np.testing.assert_allclose(got, oracle, atol=1e-9)
    # invariants: sum to 1, min >= (1-c)/n (post-normalize keeps both)
    assert abs(got.sum() - 1.0) < 1e-9
    assert got.min() >= (1 - 0.85) / n - 1e-12


def test_cycle_uniform(spark):
    arr, n = micro_graphs()["cycle_8"]
    edges = edges_from_numpy(spark, arr)
    res = PageRank().run(edges, n)
    got = ranks_to_numpy(res.ranks, n)
    np.testing.assert_allclose(got, np.full(n, 1.0 / n), atol=1e-9)


def test_partition_count_invariance(spark, golden):
    """Same ranks at different parallelism (float64 + tolerance)."""
    arr, n, _ = golden
    r4 = PageRank(mode="dataframe").run(edges_from_numpy(spark, arr, 4), n)
    r16 = PageRank(mode="dataframe").run(edges_from_numpy(spark, arr, 16), n)
    a, b = ranks_to_numpy(r4.ranks, n), ranks_to_numpy(r16.ranks, n)
    np.testing.assert_allclose(a, b, atol=1e-12)


def test_permutation_invariance(spark):
    arr, n = micro_graphs()["chain_8"]
    perm = np.array([3, 1, 4, 0, 6, 2, 7, 5], dtype=np.int64)
    permuted = perm[arr]
    base = ranks_to_numpy(
        PageRank().run(edges_from_numpy(spark, arr), n).ranks, n
    )
    relab = ranks_to_numpy(
        PageRank().run(edges_from_numpy(spark, permuted), n).ranks, n
    )
    np.testing.assert_allclose(relab[perm], base, atol=1e-12)


def test_reuse_pack_manifest_guards(spark, tmp_path):
    import numpy as np
    import pytest

    from pagerank_spark.sources.synthetic import synthetic_edges

    n, m = 1000, 20000
    edges = synthetic_edges(spark, n, m, seed=3, num_partitions=4)
    scratch = str(tmp_path / "pack")
    r1 = PageRank(
        mode="csr", csr_storage="files", scratch_dir=scratch,
        reuse_pack=True, num_blocks=4, max_iter=4, eps=0.0,
    ).run(edges, n)
    # reuse with matching params: identical ranks, no re-pack
    r2 = PageRank(
        mode="csr", csr_storage="files", scratch_dir=scratch,
        reuse_pack=True, num_blocks=4, max_iter=4, eps=0.0,
    ).run(edges, n)
    p1 = np.array(r1.ranks.orderBy("id").select("rank").toPandas()["rank"])
    p2 = np.array(r2.ranks.orderBy("id").select("rank").toPandas()["rank"])
    assert np.allclose(p1, p2, atol=1e-12)
    # wrong n -> hard error
    with pytest.raises(ValueError, match="n=1000"):
        PageRank(
            mode="csr", csr_storage="files", scratch_dir=scratch,
            reuse_pack=True, max_iter=1,
        ).run(synthetic_edges(spark, 999, m, seed=3, num_partitions=4), 999)
    # wrong nblocks -> hard error
    with pytest.raises(ValueError, match="nblocks"):
        PageRank(
            mode="csr", csr_storage="files", scratch_dir=scratch,
            reuse_pack=True, num_blocks=8, max_iter=1,
        ).run(edges, n)
    # stale format version -> silent re-pack (not wrong answers)
    import json, os
    man_file = os.path.join(scratch, "manifest.json")
    man = json.load(open(man_file))
    man["version"] = -1
    json.dump(man, open(man_file, "w"))
    r3 = PageRank(
        mode="csr", csr_storage="files", scratch_dir=scratch,
        reuse_pack=True, num_blocks=4, max_iter=4, eps=0.0,
    ).run(edges, n)
    p3 = np.array(r3.ranks.orderBy("id").select("rank").toPandas()["rank"])
    assert np.allclose(p1, p3, atol=1e-12)
    assert json.load(open(man_file))["version"] > 0  # re-packed manifest


def test_pack_key_binds_graph_identity(spark, tmp_path):
    """pack_key recorded in the manifest turns the silent wrong-graph reuse
    footgun into a hard error; a keyless (pre-key) manifest re-packs once;
    re-packing into a persistent scratch dir removes orphaned block files."""
    import json
    import os

    import numpy as np
    import pytest

    from pagerank_spark.sources.synthetic import synthetic_edges

    n, m = 1000, 20000
    edges = synthetic_edges(spark, n, m, seed=3, num_partitions=4)
    scratch = str(tmp_path / "pack")

    def run(key, max_iter=4):
        return PageRank(
            mode="csr", csr_storage="files", scratch_dir=scratch,
            reuse_pack=True, num_blocks=4, max_iter=max_iter, eps=0.0,
            pack_key=key,
        ).run(edges, n)

    r1 = run("graphA")
    man_file = os.path.join(scratch, "manifest.json")
    assert json.load(open(man_file))["key"] == "graphA"
    files_1 = sorted(f for f in os.listdir(scratch) if f.startswith("b"))
    # same key: reuse (identical ranks, same block files)
    r2 = run("graphA")
    assert sorted(f for f in os.listdir(scratch) if f.startswith("b")) == files_1
    p1 = np.array(r1.ranks.orderBy("id").select("rank").toPandas()["rank"])
    p2 = np.array(r2.ranks.orderBy("id").select("rank").toPandas()["rank"])
    assert np.allclose(p1, p2, atol=1e-12)
    # different key: hard error, not silent wrong-graph reuse
    with pytest.raises(ValueError, match="wrong graph"):
        run("graphB", max_iter=1)
    # keyless manifest (pre-key pack) + key supplied: one-time re-pack that
    # records the key and leaves no orphaned b*.bin from the old pack
    man = json.load(open(man_file))
    del man["key"]
    json.dump(man, open(man_file, "w"))
    r3 = run("graphA")
    assert json.load(open(man_file))["key"] == "graphA"
    files_3 = sorted(f for f in os.listdir(scratch) if f.startswith("b"))
    assert not (set(files_1) & set(files_3))  # old pack files removed
    man3 = json.load(open(man_file))
    assert {os.path.basename(p) for _, p in man3["files"]} == set(files_3)
    p3 = np.array(r3.ranks.orderBy("id").select("rank").toPandas()["rank"])
    assert np.allclose(p1, p3, atol=1e-12)


def test_csr_files_multichunk_rle_boundaries(spark):
    """Force each block chunk to span several 64k-edge sub-chunks so the RLE
    run-splitting math at sub-chunk boundaries is exercised, and compare
    against the NumPy oracle — in both storage carriers (one chunk format,
    one kernel)."""
    import numpy as np

    from pagerank_spark.oracle import pagerank_numpy
    from pagerank_spark.sources.synthetic import synthetic_edges

    n, m = 2000, 600_000
    edges = synthetic_edges(spark, n, m, seed=11, num_partitions=2)
    pdf = edges.toPandas()
    e_np = np.stack([pdf["src"].to_numpy(), pdf["dst"].to_numpy()], axis=1)
    want, want_iters, _ = pagerank_numpy(e_np, n)

    for storage in ("files", "cells"):
        res = PageRank(mode="csr", csr_storage=storage, num_blocks=2).run(edges, n)
        got = res.ranks.orderBy("id").toPandas()["rank"].to_numpy()
        assert res.iterations == want_iters, storage
        assert np.abs(got - want).max() < 1e-9, storage


@pytest.mark.parametrize("storage", ["cells", "files"])
def test_rank_dtype_float32_golden_parity(spark, golden, storage):
    """rank_dtype="float32" (fp32 rank broadcast/gather, fp64 accumulation)
    must keep the reference golden within the same 1e-6 tolerance as the
    fp64 path and converge in the same 7 iterations — the flag only
    quantizes the per-iteration r/outdeg operand, never the accumulators.
    This is what makes it safe where the reference's full -single mode
    (src/pagerank32c.c:933-938) is not replicable (SURVEY §1.2): fp32
    ACCUMULATION under nondeterministic reduce order breaks 1e-6."""
    arr, n, expected = golden
    edges, n_read = read_graph_file(spark, GOLDEN_GRAPH)
    res = PageRank(mode="csr", csr_storage=storage, rank_dtype="float32").run(
        edges, n_read
    )
    got = ranks_to_numpy(res.ranks, n_read)
    assert res.iterations == 7
    np.testing.assert_allclose(got, expected, atol=1e-6)
    # and against the fp64 NumPy oracle: fp32 operand quantization bounds
    # the divergence at ~1 ulp of fp32 per entry, far under 1e-7
    oracle, _, _ = pagerank_numpy(arr, n)
    np.testing.assert_allclose(got, oracle, atol=1e-7)


def test_rank_dtype_validation():
    with pytest.raises(ValueError, match="rank_dtype"):
        PageRank(rank_dtype="float16")


@pytest.mark.parametrize(
    "kwargs",
    [
        {"mode": "broadcast"},
        {"mode": "CSR"},
        {"mode": "csr", "csr_storage": "file"},
        {"mode": "csr", "csr_storage": None},
    ],
)
def test_mode_and_storage_validation(kwargs):
    """An unknown mode or csr_storage fails at construction instead of
    silently running the dataframe path or packing into cells."""
    with pytest.raises(ValueError, match="must be"):
        PageRank(**kwargs)


def test_block_aligned_exact_placement(spark):
    """_block_aligned must land block b on partition b exactly — hash
    repartition alone collides for a small key domain (several blocks on one
    task = worst-task iteration latency), and repartitionByRange samples its
    child, re-executing the side-effecting pack stage (reproduced: manifest
    vs on-disk file divergence in test_pack_key_binds_graph_identity)."""
    from pyspark.sql import functions as F

    from pagerank_spark.algorithms.pagerank import _block_aligned

    for nblocks in (2, 4, 7, 32):
        df = spark.range(0, nblocks * 5).select(
            (F.col("id") % nblocks).alias("block"), F.col("id").alias("v")
        )
        out = _block_aligned(df, nblocks, spark).select(
            "block", F.spark_partition_id().alias("pid")
        )
        rows = out.collect()
        assert len(rows) == nblocks * 5
        assert all(r["block"] == r["pid"] for r in rows), nblocks


def test_csr_one_task_wave_per_iteration(spark, golden, monkeypatch):
    """By default a csr iteration is ONE task wave: one block per scheduler
    task slot, whatever spark.sql.shuffle.partitions says (200 here, the
    setting of a bare spark-submit session). Only a block past
    MAX_BLOCK_VALUES adds waves, and an explicit num_blocks still wins."""
    from pagerank_spark.algorithms import pagerank as pr
    from pagerank_spark.util import task_slots

    _arr, n, expected = golden
    edges, _ = read_graph_file(spark, GOLDEN_GRAPH)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    slots = task_slots(sc)
    assert slots == 8  # the conftest's local[8]

    def iteration_tasks(storage, **kw):
        """The run's result and, per iteration job, the task counts of the
        stages that ran tasks (a cells job skips the cached pack stage)."""
        group = f"csr-wave-{storage}-{len(kw)}"
        sc.setJobGroup(group, group)
        try:
            res = PageRank(mode="csr", csr_storage=storage, **kw).run(edges, n)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        # a run without a catalog ends with its iteration jobs
        jobs = sorted(tracker.getJobIdsForGroup(group))[-res.iterations :]
        tasks = []
        for j in jobs:
            stages = map(tracker.getStageInfo, tracker.getJobInfo(j).stageIds)
            tasks.append([s.numTasks for s in stages if s and s.numCompletedTasks])
        return res, tasks

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        for storage in ("cells", "files"):
            res, tasks = iteration_tasks(storage)
            assert res.iterations == 7
            assert tasks == [[slots]] * 7, (storage, tasks)
            got = ranks_to_numpy(res.ranks, n)
            np.testing.assert_allclose(got, expected, atol=1e-6)
        res, tasks = iteration_tasks("files", num_blocks=3, max_iter=2)
        assert tasks == [[3]] * 2, tasks
        # 2319 vertices over 8 slots at <= 128 values a block: 3 waves
        monkeypatch.setattr(pr, "MAX_BLOCK_VALUES", 128)
        res, tasks = iteration_tasks("cells", max_iter=1)
        assert tasks == [[3 * slots]], tasks
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("storage", ["cells", "files"])
@pytest.mark.parametrize("dtype", ["float64", "float32"])
def test_csr_contrib_chunked_merge(spark, storage, dtype):
    """The per-iteration contribution pull ships as bounded (block, off,
    contrib) Arrow chunks (one giant per-block blob blew netty's direct
    memory at n=3e7); the driver reassembles stripe segments by offset and
    hub partials past the block_size boundary. Two shapes pin the merge:
    a 400-spoke star (hub-slot path: indeg 400 > threshold 100) and an
    n=600k sparse graph with num_blocks=2 (ml=300k > the 256k chunk cap, so
    every block arrives as MULTIPLE chunks crossing the stripe/hub split)."""
    import numpy as np

    from pagerank_spark.oracle import pagerank_numpy
    from pagerank_spark.sources.synthetic import synthetic_edges

    tol = 1e-6 if dtype == "float32" else 1e-9

    # star: 400 spokes -> node 0 (plus a back-edge so 0 isn't dangling)
    star = np.array([(i, 0) for i in range(1, 401)] + [(0, 1)], dtype=np.int64)
    want, want_it, _ = pagerank_numpy(star, 401)
    res = PageRank(mode="csr", csr_storage=storage, rank_dtype=dtype).run(
        edges_from_numpy(spark, star), 401
    )
    got = ranks_to_numpy(res.ranks, 401)
    assert res.iterations == want_it
    assert np.abs(got - want).max() < tol

    # multi-chunk: n=600k, nblocks=2 -> block stripe 300k values > 2^18 cap
    n, m = 600_000, 120_000
    edges = synthetic_edges(spark, n, m, seed=5, num_partitions=4)
    pdf = edges.toPandas()
    e_np = np.stack([pdf["src"].to_numpy(), pdf["dst"].to_numpy()], axis=1)
    res = PageRank(
        mode="csr", csr_storage=storage, num_blocks=2, rank_dtype=dtype,
        max_iter=3, eps=0.0,
    ).run(edges, n)
    want3, _, _ = pagerank_numpy(e_np, n, max_iter=3, eps=0.0)
    got = res.ranks.orderBy("id").toPandas()["rank"].to_numpy()
    assert np.abs(got - want3).max() < tol


def test_dataframe_mode_hints_on_large_n(spark, monkeypatch):
    """Above util.BROADCAST_SAFE_ROWS the O(n) join sides (out-degrees,
    non-dangling ids, ranks, contribs) must be shuffle_hash-hinted on the
    dataframe-mode path itself (reproduced driver OOM at n=2e7 without
    them). Spied on the real code path by lowering the threshold and
    recording DataFrame.hint calls."""
    # Spark 4: runtime DataFrames are the classic subclass, which
    # overrides hint() — patch there, not on the abstract base
    from pyspark.sql.classic.dataframe import DataFrame as SparkDF

    from pagerank_spark import util
    from pagerank_spark.sources.synthetic import synthetic_edges

    calls = []
    orig_hint = SparkDF.hint

    def spy(self, name, *params):
        calls.append(name)
        return orig_hint(self, name, *params)

    monkeypatch.setattr(SparkDF, "hint", spy)
    monkeypatch.setattr(util, "BROADCAST_SAFE_ROWS", 10)
    n = 200
    edges = synthetic_edges(spark, n, 2000, seed=1, num_partitions=2)
    PageRank(mode="dataframe", max_iter=2, eps=0.0).run(edges, n)
    # setup: degrees + src_ids; per iteration: contribs -> >= 4 hints total
    assert calls.count("shuffle_hash") >= 4

    # below the threshold the hints must NOT fire (small-graph plans keep
    # their broadcast joins)
    calls.clear()
    monkeypatch.setattr(util, "BROADCAST_SAFE_ROWS", 10_000)
    PageRank(mode="dataframe", max_iter=1, eps=0.0).run(edges, n)
    assert calls.count("shuffle_hash") == 0


@pytest.mark.parametrize("mode", ["dataframe", "csr"])
def test_warm_start_all_modes(spark, mode):
    """initial_ranks warm start: re-running from converged ranks stops
    after ONE iteration, and the fixed point is identical (the iteration
    conserves total mass, so the L1-normalized result can't drift)."""
    from pagerank_spark.algorithms.pagerank import PageRank
    from pagerank_spark.sources.graphfile import read_graph_file

    edges, n = read_graph_file(spark, GOLDEN_GRAPH)
    cold = PageRank(mode=mode).run(edges, n)
    assert cold.iterations == 7

    warm = PageRank(mode=mode, initial_ranks=cold.ranks).run(edges, n)
    assert warm.iterations == 1
    got = {r["id"]: r["rank"] for r in warm.ranks.collect()}
    want = {r["id"]: r["rank"] for r in cold.ranks.collect()}
    # the warm run applies one more contraction step before its delta
    # check, so ranks move by ~c * last_cold_delta spread over n — order
    # 1e-8 here, far inside the 1e-5 convergence tolerance
    assert max(abs(got[i] - want[i]) for i in range(n)) < 1e-7


def test_warm_start_partial_ranks_same_fixed_point(spark):
    """Warm start from HALF the vertices (the other half defaults to 1/n,
    the new-pages case) still converges to the cold-start fixed point."""
    from pyspark.sql import functions as F

    from pagerank_spark.algorithms.pagerank import PageRank
    from pagerank_spark.sources.graphfile import read_graph_file

    edges, n = read_graph_file(spark, GOLDEN_GRAPH)
    cold = PageRank(mode="dataframe").run(edges, n)
    partial = cold.ranks.filter(F.col("id") % 2 == 0)
    warm = PageRank(mode="dataframe", initial_ranks=partial).run(edges, n)
    assert 1 <= warm.iterations <= cold.iterations
    got = {r["id"]: r["rank"] for r in warm.ranks.collect()}
    want = {r["id"]: r["rank"] for r in cold.ranks.collect()}
    assert max(abs(got[i] - want[i]) for i in range(n)) < 1e-6


@pytest.fixture
def no_pack(monkeypatch):
    """Fail the csr pack (mapInArrow) and the edge caches (persist): bad
    initial_ranks must be rejected before either runs."""
    from pyspark.sql.classic.dataframe import DataFrame as SparkDF

    def boom(self, *a, **k):
        raise AssertionError("pack or edge-cache job before the initial_ranks check")

    for attr in ("mapInArrow", "persist"):
        monkeypatch.setattr(SparkDF, attr, boom)


def test_warm_start_rejects_out_of_range_ids(spark, no_pack):
    from pagerank_spark.algorithms.pagerank import PageRank

    bad = spark.createDataFrame([(999999, 0.5)], "id long, rank double")
    pr = PageRank(mode="csr", initial_ranks=bad)
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="outside"):
        pr.run(edges, 2)


def test_warm_start_dataframe_validates_ids(spark, no_pack):
    """dataframe mode raises the same hard errors as csr mode, from the
    same check: out-of-range and duplicate initial_ranks ids (a duplicate
    would emit two state rows and double-count that vertex's mass)."""
    from pagerank_spark.algorithms.pagerank import PageRank

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    bad = spark.createDataFrame([(999999, 0.5)], "id long, rank double")
    with pytest.raises(ValueError, match="outside"):
        PageRank(mode="dataframe", initial_ranks=bad).run(edges, 2)
    dup = spark.createDataFrame([(1, 0.5), (1, 0.5)], "id long, rank double")
    with pytest.raises(ValueError, match="duplicate"):
        PageRank(mode="dataframe", initial_ranks=dup).run(edges, 2)
    with pytest.raises(ValueError, match="duplicate"):
        PageRank(mode="csr", initial_ranks=dup).run(edges, 2)
