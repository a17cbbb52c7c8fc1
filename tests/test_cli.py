"""Smoke tests for the spark-submit CLI entry point (pagerank_spark.cli).

The launch path itself (``python -m pagerank_spark.cli`` in a fresh
process: generate-pages -> build-graph -> pagerank --resume, the golden
.graph run, default-durable resume across processes, spark-submit
--py-files) runs as subprocesses. The per-subcommand smoke tests drive the
same ``cli.main`` argv parser in this process on the test session
(``run_cli_here``): they check each subcommand's wiring and headline facts,
which a fresh JVM per call (about 20 s of start-up each) adds nothing to.

The reference drives everything through its argv parser
(/root/reference/Pagerank/src/pagerank32c.c:875-1004); this is the engine's
equivalent surface, exercised the way a cluster run would be launched.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import GOLDEN_FACTS, GOLDEN_GRAPH, GOLDEN_RANKS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli(*argv: str, timeout: int = 420) -> dict:
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-m", "pagerank_spark.cli", "--master", "local[4]",
         "--shuffle-partitions", "4", *argv],
        capture_output=True, text=True, timeout=timeout, env=env, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines, out.stdout[-2000:]
    return json.loads(lines[-1])


def run_cli_here(spark, capsys, *argv: str) -> dict:
    """``cli.main`` in this process, on the test session's own master and
    shuffle partitions (the CLI's get_spark reuses the live session and
    would otherwise reset its runtime conf); returns the last JSON line."""
    from pagerank_spark import cli

    capsys.readouterr()
    assert cli.main(
        ["--master", spark.sparkContext.master,
         "--shuffle-partitions", spark.conf.get("spark.sql.shuffle.partitions"),
         *argv]
    ) == 0
    out = capsys.readouterr().out
    lines = [l for l in out.splitlines() if l.startswith("{")]
    assert lines, out[-2000:]
    return json.loads(lines[-1])


@pytest.mark.slow
def test_cli_pipeline_end_to_end(tmp_path):
    pages = str(tmp_path / "pages")
    graph = str(tmp_path / "graph")
    warehouse = str(tmp_path / "wh")
    ranks = str(tmp_path / "ranks")

    r = run_cli("generate-pages", "--n", "300", "--output", pages)
    assert r["pages"] == 300

    r = run_cli("build-graph", "--pages", pages, "--output", graph)
    assert r["n_vertices"] > 0 and r["n_edges"] > 0

    r1 = run_cli(
        "--warehouse", warehouse, "pagerank",
        "--edges", f"{graph}/edges", "--max-iter", "3", "--eps", "0.0",
        "--run-id", "clismoke", "--output", ranks,
    )
    assert r1["iterations"] == 3 and r1["run_id"] == "clismoke"

    # resume from the checkpoint: continues AFTER iteration 3 to convergence
    r2 = run_cli(
        "--warehouse", warehouse, "pagerank",
        "--edges", f"{graph}/edges",
        "--run-id", "clismoke", "--resume", "--output", ranks,
    )
    assert r2["iterations"] > 3
    assert r2["final_delta"] < 1e-5


@pytest.mark.slow
def test_cli_golden_graph_file(tmp_path):
    out_txt = str(tmp_path / "ranks.txt")
    r = run_cli(
        "pagerank", "--graph-file", GOLDEN_GRAPH, "--text-output", out_txt,
    )
    assert r["iterations"] == 7
    import numpy as np

    golden = np.loadtxt(GOLDEN_RANKS)
    mine = np.loadtxt(out_txt)
    assert np.abs(mine - golden).max() < 1e-6


def test_auto_dispatch_boundaries():
    from pagerank_spark.algorithms.pagerank import PageRank

    assert PageRank.dispatch_mode(1000) == "csr"
    assert PageRank.dispatch_mode(PageRank.AUTO_CSR_MAX_VERTICES) == "csr"
    assert PageRank.dispatch_mode(PageRank.AUTO_CSR_MAX_VERTICES + 1) == "dataframe"


@pytest.mark.slow
def test_spark_submit_py_files(tmp_path):
    """The north-rule launch path: spark-submit --py-files <pkg zip> runs the
    engine with no repo on sys.path — the same mechanism a multi-executor
    cluster submission uses."""
    import shutil

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        pytest.skip("no spark-submit on this host")
    sys.path.insert(0, REPO)
    from pagerank_spark.session import package_zip

    zip_path = package_zip(str(tmp_path))
    job = tmp_path / "job.py"
    job.write_text(
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.appName('submit_smoke').getOrCreate()\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "from pagerank_spark.sources.graphfile import read_graph_file\n"
        "from pagerank_spark.algorithms.pagerank import PageRank\n"
        f"edges, n = read_graph_file(spark, {GOLDEN_GRAPH!r})\n"
        "res = PageRank(mode='auto').run(edges, n)\n"
        "print('RESULT iters=%d rows=%d' % (res.iterations, res.ranks.count()))\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        # 4 shuffle partitions like run_cli: the bare session's default 200
        # would pack the 2319-vertex graph into 200 csr blocks (200 Python
        # tasks per iteration, minutes of suite time for a launch-path test)
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zip_path, str(job)],
        capture_output=True, text=True, timeout=420,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT")]
    assert line and "iters=7" in line[0] and "rows=2319" in line[0], out.stdout[-500:]


@pytest.mark.slow
def test_cli_default_durable_resume(spark, capsys, tmp_path):
    """Durable checkpoints are ON by default: with no --warehouse flag the
    run checkpoints to <output>_warehouse, and a second invocation with the
    same --output resumes from iteration 3 instead of restarting."""
    pages = str(tmp_path / "pages")
    graph = str(tmp_path / "graph")
    ranks = str(tmp_path / "ranks")
    run_cli_here(spark, capsys, "generate-pages", "--n", "300", "--output", pages)
    run_cli_here(spark, capsys, "build-graph", "--pages", pages, "--output", graph)
    r1 = run_cli(
        "pagerank", "--edges", f"{graph}/edges", "--max-iter", "3",
        "--eps", "0.0", "--run-id", "durab", "--output", ranks,
    )
    assert r1["iterations"] == 3
    assert r1["warehouse"] == ranks + "_warehouse"
    assert os.path.isdir(r1["warehouse"])
    r2 = run_cli(
        "pagerank", "--edges", f"{graph}/edges",
        "--run-id", "durab", "--resume", "--output", ranks,
    )
    assert r2["iterations"] > 3 and r2["final_delta"] < 1e-5
    # explicit opt-out: no warehouse is created or used
    r3 = run_cli_here(
        spark, capsys, "--warehouse", "none", "pagerank", "--edges", f"{graph}/edges",
        "--max-iter", "2", "--eps", "0.0",
        "--output", str(tmp_path / "ranks2"),
    )
    assert r3["warehouse"] is None
    assert not os.path.exists(str(tmp_path / "ranks2") + "_warehouse")


@pytest.mark.slow
def test_cli_linkanalysis_subcommands(spark, capsys, tmp_path):
    """hits / ppr / bfs / clustering are drivable from the CLI over the
    golden .graph and agree with the numpy oracles' headline facts."""
    gf = GOLDEN_GRAPH

    r = run_cli_here(spark, capsys, "hits", "--graph-file", gf, "--max-iter", "2")
    assert r["iterations"] == 2 and r["top_auth_id"] is not None

    r = run_cli_here(spark, capsys, "ppr", "--graph-file", gf, "--seeds", "0,1,2",
                     "--max-iter", "3")
    assert r["n_ranked"] > 3  # mass spread beyond the seeds

    r = run_cli_here(spark, capsys, "bfs", "--graph-file", gf, "--seeds", "0",
                     "--max-hops", "4")
    assert r["n_reached"] >= 1 and 0 <= r["max_dist"] <= 4

    r = run_cli_here(spark, capsys, "clustering", "--graph-file", gf)
    assert r["n_vertices"] > 0 and 0.0 <= r["avg_cc"] <= 1.0


def test_cli_structure_subcommands(spark, capsys):
    """kcore / scc / summary are drivable from the CLI over the golden
    .graph; headline facts pinned by the in-session numpy-oracled runs."""
    gf = GOLDEN_GRAPH

    r = run_cli_here(spark, capsys, "kcore", "--graph-file", gf)
    assert r["n_vertices"] == 2319 and r["k_max"] == GOLDEN_FACTS["k_max"]

    r = run_cli_here(spark, capsys, "scc", "--graph-file", gf)
    assert r["n_sccs"] == 2319  # the golden random graph is acyclic

    r = run_cli_here(spark, capsys, "summary", "--graph-file", gf)
    assert r["n_vertices"] == 2319 and r["n_edges"] == 5000
    assert r["reciprocity"] == 0.0 and r["n_self_loops"] == 0


def test_cli_hyperball_subcommand(spark, capsys):
    """hyperball is drivable from the CLI over the golden .graph: NF is
    monotone, NF(0) == n_vertices exactly is NOT required (HLL estimate)
    but must land within the m=64 small-range regime."""
    gf = GOLDEN_GRAPH

    r = run_cli_here(spark, capsys, "hyperball", "--graph-file", gf,
                     "--t-max", "4", "--harmonic")
    assert len(r["nf"]) == 5 and r["iterations"] == 4
    assert all(b >= a for a, b in zip(r["nf"], r["nf"][1:]))
    assert abs(r["nf"][0] - 2319) / 2319 < 0.15
    assert 0.0 <= r["effective_diameter"] <= 4.0
    assert len(r["top_harmonic"]) == 5


def test_cli_walks_and_cocite_subcommands(spark, capsys):
    """walks / cocite drivable from the CLI over the golden .graph;
    headline facts pinned by the in-session exact-twin runs (272 distinct
    sources; the uncapped co-citation pair count at min_count=2, which is
    GOLDEN_FACTS["cocite_pairs"] for the resolved golden graph)."""
    gf = GOLDEN_GRAPH

    r = run_cli_here(spark, capsys, "walks", "--graph-file", gf,
                     "--walk-length", "3", "--seed", "11")
    assert r["starts"] == 272 and r["max_step"] == 3 and r["rows"] >= r["starts"]

    r = run_cli_here(spark, capsys, "cocite", "--graph-file", gf,
                     "--max-src-fanout", "1000000")
    assert r["pairs"] == GOLDEN_FACTS["cocite_pairs"] and r["max_common"] >= 2


def test_cli_salsa_and_spam_mass(spark, capsys):
    gf = GOLDEN_GRAPH
    r = run_cli_here(spark, capsys, "hits", "--graph-file", gf,
                     "--max-iter", "2", "--salsa")
    assert r["iterations"] == 2 and r["top_auth_id"] is not None

    r = run_cli_here(spark, capsys, "spam-mass", "--graph-file", gf,
                     "--seeds", "0,1,2", "--max-iter", "3", "--threshold", "0.99")
    assert r["n"] > 0 and 0.0 <= r["max_rel_mass"] <= 1.0
    assert 0 <= r["flagged"] <= r["n"]


def test_cli_bowtie_adamic_adar_graph_diff(spark, capsys, tmp_path):
    """bowtie / adamic-adar / graph-diff drivable from the CLI; bowtie's
    class counts on the golden acyclic graph contain no CORE > 1 (largest
    SCC is a single vertex), adamic-adar pair count matches the co-citation
    pair universe, and graph-diff reports a hand-built delta."""
    gf = GOLDEN_GRAPH

    r = run_cli_here(spark, capsys, "bowtie", "--graph-file", gf)
    assert sum(r.values()) == 2319
    assert r["CORE"] == 1  # acyclic: every SCC is a singleton; min-id tie

    r = run_cli_here(spark, capsys, "adamic-adar", "--graph-file", gf,
                     "--max-src-fanout", "1000000")
    assert r["pairs"] == GOLDEN_FACTS["cocite_pairs"] and r["max_score"] > 0

    old = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    new = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    po, pn = str(tmp_path / "old"), str(tmp_path / "new")
    old.write.parquet(po)
    new.write.parquet(pn)

    r = run_cli_here(spark, capsys, "graph-diff", "--old", po, "--new", pn)
    # vertex 0 keeps out=1/in=0 in both snapshots, so only 1, 2, 3 move
    assert r == {"added": 1, "removed": 1, "vertices_degree_changed": 3}


def test_cli_katz_and_node2vec(spark, capsys):
    gf = GOLDEN_GRAPH
    r = run_cli_here(spark, capsys, "katz", "--graph-file", gf, "--max-iter", "3")
    assert r["n"] == 2319 and 0.0 < r["top_katz"] <= 1.0

    r = run_cli_here(spark, capsys, "node2vec", "--graph-file", gf,
                     "--walk-length", "3", "--p", "0.5", "--q", "2.0")
    assert r["starts"] == 272 and r["max_step"] == 3 and r["rows"] >= 272


def test_cli_vacuum(spark, capsys, tmp_path):
    """vacuum expires old snapshots of every table in a warehouse produced
    by a real checkpointed pagerank run."""
    pages = str(tmp_path / "pages")
    graph = str(tmp_path / "graph")
    wh = str(tmp_path / "wh")
    run_cli_here(spark, capsys, "generate-pages", "--n", "200", "--output", pages)
    run_cli_here(spark, capsys, "build-graph", "--pages", pages, "--output", graph)
    run_cli_here(spark, capsys, "--warehouse", wh, "pagerank",
                 "--edges", f"{graph}/edges", "--max-iter", "4", "--eps", "0.0",
                 "--run-id", "vac", "--output", str(tmp_path / "ranks"))
    r = run_cli_here(spark, capsys, "vacuum", "--warehouse-dir", wh, "--keep", "1")
    assert r and all(v["expired"] >= 1 for v in r.values())
    # resumable state still readable: re-run from the kept snapshot
    r2 = run_cli_here(spark, capsys, "--warehouse", wh, "pagerank",
                      "--edges", f"{graph}/edges", "--run-id", "vac", "--resume",
                      "--output", str(tmp_path / "ranks2"))
    assert r2["iterations"] >= 4
