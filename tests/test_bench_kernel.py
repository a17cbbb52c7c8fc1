"""One chunk format, one SpMV kernel: parity of both csr storage carriers
and of bench_kernel.py against the NumPy ground truth.

The scaling attribution in BENCH/BASELINE.md rests on bench_kernel running
the engine's own kernel — this pins that claim: pack a small hub-skewed
graph with the engine, replay the pack through bench_kernel.run_shard_acc
per block, reconstruct the full contribution vector (interleaved stripes +
hub partial sums, exactly like PageRank._iterate_csr's driver merge), and
compare against the numpy ground truth contrib[dst] += pi[src]/outdeg[src].
The same graph packed into cells must hold the same chunk payloads as the
files pack, and the kernel over those cells must match the same truth.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import bench_kernel
from pagerank_spark.algorithms.pagerank import PageRank, spmv_chunk


def _planted_hub_graph():
    """A deterministic graph with a planted hub (indeg 600 > the
    m/(4*nblocks) hub threshold) so the hub-slot routing path is exercised.
    (Its chunks are small enough to store plain sources; the RLE branch is
    covered by test_pagerank::test_csr_files_multichunk_rle_boundaries.)"""
    rng = np.random.default_rng(7)
    n = 500
    base = rng.integers(0, n, size=(5000, 2), dtype=np.int64)
    hub_src = rng.integers(0, n, size=600, dtype=np.int64)
    hub = np.stack([hub_src, np.full(600, 3, dtype=np.int64)], axis=1)
    arr = np.concatenate([base, hub])
    return arr[arr[:, 0] != arr[:, 1]], n


def _ground_truth(arr, n, outdeg):
    """contrib[dst] += pi[src] / outdeg[src] with pi = 1/n, and the rank
    weights rw that one engine iteration would broadcast."""
    pi = np.full(n, 1.0 / n)
    rw = pi / np.where(outdeg > 0, outdeg, 1.0)
    rw[outdeg == 0] = 0.0
    truth = np.zeros(n)
    np.add.at(truth, arr[:, 1], rw[arr[:, 0]])
    return rw, truth


def _merge(accs, n, nblocks, bs, hub_ids):
    """Rebuild the contribution vector from per-block accumulators exactly
    like _iterate_csr's driver merge (interleaved stripes + hub slots)."""
    contrib = np.zeros(n)
    for b, a in accs.items():
        stripe = contrib[b::nblocks]
        stripe += a[: stripe.shape[0]]
        if hub_ids.shape[0]:
            contrib[hub_ids] += a[bs : bs + hub_ids.shape[0]]
    return contrib


@pytest.fixture()
def packed_graph(spark, tmp_path):
    arr, n = _planted_hub_graph()
    edges = spark.createDataFrame(
        [(int(s), int(d)) for s, d in arr], "src long, dst long"
    )
    scratch = str(tmp_path / "pack")
    PageRank(
        mode="csr", csr_storage="files", max_iter=1, eps=0.0,
        scratch_dir=scratch, num_blocks=8,
    ).run(edges, n)
    return arr, n, scratch


def test_kernel_contributions_match_numpy_ground_truth(packed_graph):
    arr, n, scratch = packed_graph
    with open(os.path.join(scratch, "manifest.json")) as fh:
        man = json.load(fh)
    nblocks = int(man["nblocks"])
    bs = int(man["block_size"])
    assert int(man["n"]) == n and int(man["m"]) == arr.shape[0]
    hub_ids = np.load(os.path.join(scratch, "hub_ids.npy"))
    assert hub_ids.shape[0] >= 1  # the planted hub must be split
    outdeg = np.load(os.path.join(scratch, "outdeg.npy"))
    _, truth = _ground_truth(arr, n, outdeg)

    # replay the pack through the attribution kernel, block by block
    bench_kernel._init(scratch, None)
    by_block: dict[int, list[str]] = {}
    for b, p in man["files"]:
        by_block.setdefault(int(b), []).append(p)
    accs = {}
    total_edges = 0
    for b, paths in by_block.items():
        edges_seen, _, accs[b] = bench_kernel.run_shard_acc(paths)
        total_edges += edges_seen
    assert total_edges == arr.shape[0]
    contrib = _merge(accs, n, nblocks, bs, hub_ids)
    np.testing.assert_allclose(contrib, truth, rtol=0, atol=1e-14)


def _capture_pack(spark, monkeypatch, edges, n, storage, tmp_path):
    """Pack ``edges`` with the given carrier and return the layout plus the
    (block, chunk bytes) pairs it holds, read before the run cleans up."""
    got = {}

    def capture(self, spark, sc, run_id, start, start_iter, n, m, nblocks,
                block_size, n_hubs, hub_ids, outdeg, idx_t, packed, scratch,
                keep_scratch):
        rows = packed.collect()
        if storage == "files":
            pairs = []
            for r in rows:
                with open(r["path"], "rb") as f:
                    pairs.append((r["block"], f.read()))
        else:
            pairs = [(r["block"], bytes(r["chunk"])) for r in rows]
        got.update(nblocks=nblocks, bs=block_size, hub_ids=hub_ids,
                   outdeg=outdeg, idx_t=idx_t, chunks=pairs)

    monkeypatch.setattr(PageRank, "_iterate_csr", capture)
    PageRank(
        mode="csr", csr_storage=storage, num_blocks=8,
        scratch_dir=str(tmp_path / f"pack_{storage}"),
    ).run(edges, n)
    return got


def test_both_carriers_hold_the_same_chunks(spark, monkeypatch, tmp_path):
    """cells and files are one byte format in two places: the same input
    packs to the same multiset of chunk payloads, and the one kernel over
    the cells chunks reproduces the NumPy ground truth."""
    arr, n = _planted_hub_graph()
    edges = spark.createDataFrame(
        [(int(s), int(d)) for s, d in arr], "src long, dst long"
    )
    cells = _capture_pack(spark, monkeypatch, edges, n, "cells", tmp_path)
    files = _capture_pack(spark, monkeypatch, edges, n, "files", tmp_path)
    assert sorted(cells["chunks"]) == sorted(files["chunks"])

    hub_ids = cells["hub_ids"]
    assert hub_ids.shape[0] >= 1
    rw, truth = _ground_truth(arr, n, cells["outdeg"])
    ml = cells["bs"] + hub_ids.shape[0]
    accs: dict[int, np.ndarray] = {}
    total_edges = 0
    for b, chunk in cells["chunks"]:
        a = accs.setdefault(b, np.zeros(ml))
        total_edges += spmv_chunk(chunk, rw, a, cells["idx_t"])
    assert total_edges == arr.shape[0]
    contrib = _merge(accs, n, cells["nblocks"], cells["bs"], hub_ids)
    np.testing.assert_allclose(contrib, truth, rtol=0, atol=1e-14)


@pytest.mark.parametrize("value", ["0", "-4"])
def test_sub_chunk_must_be_positive(value, capsys):
    """--sub-chunk 0 (or negative) is rejected at argument parsing instead
    of silently falling back to the default sub-chunk length."""
    with pytest.raises(SystemExit) as exc:
        bench_kernel.main(["--sub-chunk", value])
    assert exc.value.code == 2
    assert "must be >= 1" in capsys.readouterr().err


def test_kernel_checksum_shard_api(packed_graph):
    _, _, scratch = packed_graph
    with open(os.path.join(scratch, "manifest.json")) as fh:
        man = json.load(fh)
    bench_kernel._init(scratch, None)
    paths = [p for _, p in man["files"]]
    edges, wall, checksum = bench_kernel._run_shard(paths)
    assert edges == int(man["m"])
    assert wall >= 0.0 and np.isfinite(checksum) and checksum > 0.0
