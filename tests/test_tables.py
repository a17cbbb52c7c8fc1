from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pytest

from pagerank_spark.algorithms.pagerank import PageRank
from pagerank_spark.lineage import LineageWriter
from pagerank_spark.sources.graphfile import edges_from_numpy
from pagerank_spark.tables import Catalog


@pytest.fixture
def cat(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def test_write_read_roundtrip(spark, cat):
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "id long, v string")
    meta = cat.write(df, "t", bucket_by=(4, "id"))
    assert meta.snapshot_id == 0
    assert meta.partition_spec["bucket"] == {"n": 4, "column": "id"}
    back = cat.read(spark, "t")
    assert back.count() == 100
    assert sorted(r["id"] for r in back.collect()) == list(range(100))


def test_snapshot_isolation_and_time_travel(spark, cat):
    df1 = spark.createDataFrame([(1,)], "id long")
    df2 = spark.createDataFrame([(2,)], "id long")
    cat.write(df1, "t")
    cat.write(df2, "t")  # overwrite
    assert cat.read(spark, "t").collect()[0]["id"] == 2
    assert cat.read(spark, "t", snapshot_id=0).collect()[0]["id"] == 1
    assert cat.snapshots("t") == [0, 1]


def test_append_mode(spark, cat):
    cat.write(spark.createDataFrame([(1,)], "id long"), "t")
    cat.write(spark.createDataFrame([(2,)], "id long"), "t", mode="append")
    assert sorted(r["id"] for r in cat.read(spark, "t").collect()) == [1, 2]


def test_torn_commit_invisible(spark, cat):
    """A crash after data write but before pointer flip leaves the old
    snapshot current (commit protocol)."""
    cat.write(spark.createDataFrame([(1,)], "id long"), "t")
    # simulate a torn commit: orphan data dir + manifest, pointer untouched
    orphan = os.path.join(cat.warehouse, "t", "data", "snap-99-dead")
    os.makedirs(orphan)
    with open(os.path.join(cat.warehouse, "t", "metadata", "v99.json"), "w") as f:
        json.dump({"snapshot_id": 99, "schema_json": "{}", "data_dir": "data/snap-99-dead"}, f)
    assert cat.current_meta("t").snapshot_id == 0
    assert cat.read(spark, "t").collect()[0]["id"] == 1


def test_arrow_commit_reads_back(spark, cat):
    """A driver-resident pyarrow Table commits as one part-*.parquet with no
    partition spec, and reads back through Catalog.read with the same rows
    and the Spark schema the manifest records."""
    from pyspark.sql.types import StructType

    ranks = np.linspace(0.0, 1.0, 5)
    tbl = pa.table({"id": np.arange(5, dtype=np.int64), "rank": ranks})
    meta = cat.write(tbl, "t", summary={"iteration": 3})
    assert meta.snapshot_id == 0 and meta.partition_spec == {}
    assert meta.summary["iteration"] == 3
    files = os.listdir(os.path.join(cat.warehouse, "t", meta.data_dir))
    assert len(files) == 1
    assert files[0].startswith("part-") and files[0].endswith(".parquet")
    back = cat.read(spark, "t")
    assert [(f.name, f.dataType.typeName()) for f in back.schema] == [
        ("id", "long"), ("rank", "double"),
    ]
    assert StructType.fromJson(json.loads(meta.schema_json)) == back.schema
    assert sorted(tuple(r) for r in back.collect()) == list(zip(range(5), ranks))


def test_lineage_schema_matches_fixtures(spark, cat):
    """Lineage rows are committed by the pyarrow writer; the table must read
    back with exactly the FIXTURES.md §5 schema (plus the extra column)."""
    ddl = (
        "run_id string, iteration int, partition_id int, rows_shuffled long, "
        "residual_l1 double, wall_time_s double, snapshot string, extra string"
    )
    lin = LineageWriter(spark, cat)
    lin.log_iteration("r", 1, rows_shuffled=7, residual_l1=0.5, wall_time_s=0.1,
                      snapshot="0", partition_counts=[(0, 3), (1, 4)])
    lin.log_iteration("r", 2, rows_shuffled=7, residual_l1=0.25, wall_time_s=0.1)
    back = lin.read("r")
    assert back.schema == spark.createDataFrame([], ddl).schema
    rows = sorted((r["iteration"], r["partition_id"], r["rows_shuffled"], r["snapshot"])
                  for r in back.collect())
    assert rows == [(1, -1, 7, "0"), (1, 0, 3, "0"), (1, 1, 4, "0"), (2, -1, 7, None)]


def test_append_chain_mixes_writers(spark, cat):
    """An append chain whose first snapshot came from a Spark job and whose
    appends came from pyarrow reads as the union of all of them."""
    cat.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), "t")
    cat.write(pa.table({"id": pa.array([3], pa.int64()), "v": ["c"]}), "t", mode="append")
    cat.write(pa.table({"id": pa.array([4], pa.int64()), "v": ["d"]}), "t", mode="append")
    assert sorted(tuple(r) for r in cat.read(spark, "t").collect()) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"),
    ]
    assert cat.snapshots("t") == [0, 1, 2]


@pytest.mark.parametrize(
    "layout", [{"bucket_by": (4, "id")}, {"partition_by": ["id"]}],
    ids=["bucket_by", "partition_by"],
)
def test_arrow_table_rejects_spark_layout(cat, layout):
    """Bucketing and identity partitioning are Spark-writer features; an
    Arrow table asking for them fails before anything is written."""
    with pytest.raises(ValueError, match="Spark DataFrame"):
        cat.write(pa.table({"id": pa.array([1], pa.int64())}), "t", **layout)
    assert not os.path.exists(os.path.join(cat.warehouse, "t"))


def test_resume_matches_uninterrupted(spark, cat, golden):
    arr, n, expected = golden
    edges = edges_from_numpy(spark, arr)
    # run 1: stop after 3 iterations (simulated kill), checkpointing each one
    PageRank(max_iter=3, catalog=cat).run(edges, n, run_id="r1")
    assert cat.exists("pagerank_ckpt_r1")
    # run 2: resume -> continues from iteration 3, converges at 7
    res = PageRank(catalog=cat).run(edges, n, run_id="r1", resume=True)
    assert res.iterations == 7
    got = np.zeros(n)
    for r in res.ranks.collect():
        got[r["id"]] = r["rank"]
    np.testing.assert_allclose(got, expected, atol=1e-6)


def _ranks(res, n) -> np.ndarray:
    out = np.zeros(n)
    for r in res.ranks.collect():
        out[r["id"]] = r["rank"]
    return out


def _assert_one_checkpoint_format(spark, cat, table, iteration):
    """(id long, rank double) with summary {iteration} (data_dirs is the
    catalog's own bookkeeping)."""
    meta = cat.current_meta(table)
    assert {k: v for k, v in meta.summary.items() if k != "data_dirs"} == {
        "iteration": iteration
    }
    schema = cat.read(spark, table).schema
    assert [(f.name, f.dataType.typeName()) for f in schema] == [
        ("id", "long"), ("rank", "double"),
    ]


@pytest.mark.parametrize(
    "first,then", [("csr", "dataframe"), ("dataframe", "csr")],
    ids=["csr_to_dataframe", "dataframe_to_csr"],
)
def test_resume_across_modes(spark, cat, golden, first, then):
    """Both modes write one checkpoint format, so a run cut after 3
    iterations in one mode resumes in the other: it still converges at
    iteration 7, on the golden ranks, and lands on the uninterrupted run of
    the resuming mode."""
    arr, n, expected = golden
    edges = edges_from_numpy(spark, arr)
    PageRank(mode=first, max_iter=3, catalog=cat).run(edges, n, run_id="x")
    _assert_one_checkpoint_format(spark, cat, "pagerank_ckpt_x", 3)
    res = PageRank(mode=then, catalog=cat).run(edges, n, run_id="x", resume=True)
    assert res.iterations == 7
    _assert_one_checkpoint_format(spark, cat, "pagerank_ckpt_x", 7)
    got = _ranks(res, n)
    np.testing.assert_allclose(got, expected, atol=1e-6)
    whole = _ranks(PageRank(mode=then).run(edges, n), n)
    np.testing.assert_allclose(got, whole, rtol=0, atol=1e-12)


def test_resume_vector_uses_arrow_not_collect(spark, cat, golden, monkeypatch):
    """A csr resume pulls the checkpointed O(n) ranks with an Arrow batch
    transfer, never a per-row collect() (n Row objects on the driver):
    collect() of any (id, rank) frame is poisoned for the resumed run, which
    must still continue from iteration 3 to the golden ranks."""
    from pyspark.sql.classic.dataframe import DataFrame as SparkDF

    arr, n, expected = golden
    edges = edges_from_numpy(spark, arr)
    PageRank(max_iter=3, mode="csr", catalog=cat).run(edges, n, run_id="rv")

    orig = SparkDF.collect

    def guarded(self):
        if self.columns == ["id", "rank"]:
            raise AssertionError("per-row collect() of the start ranks")
        return orig(self)

    monkeypatch.setattr(SparkDF, "collect", guarded)
    with pytest.raises(AssertionError, match="per-row"):  # the poison bites
        cat.read(spark, "pagerank_ckpt_rv").collect()
    res = PageRank(mode="csr", catalog=cat).run(edges, n, run_id="rv", resume=True)
    monkeypatch.undo()
    assert res.iterations == 7
    np.testing.assert_allclose(_ranks(res, n), expected, atol=1e-6)


def test_lineage_rows(spark, cat, golden):
    arr, n, _ = golden
    edges = edges_from_numpy(spark, arr)
    lin = LineageWriter(spark, cat, per_partition=True)
    PageRank(catalog=cat, lineage=lin).run(edges, n, run_id="lrun")
    rows = lin.read("lrun").collect()
    aggs = [r for r in rows if r["partition_id"] == -1]
    assert len(aggs) == 7  # one per iteration
    assert all(r["rows_shuffled"] == 5000 for r in aggs)
    deltas = [r["residual_l1"] for r in sorted(aggs, key=lambda r: r["iteration"])]
    assert all(d2 < d1 for d1, d2 in zip(deltas, deltas[1:]))
    assert [r["snapshot"] for r in aggs] == [str(i) for i in range(7)] or all(
        r["snapshot"] is not None for r in aggs
    )
    # per-partition rows exist
    assert any(r["partition_id"] >= 0 for r in rows)


@pytest.fixture(scope="module")
def csr_runs(spark, golden, tmp_path_factory):
    """The golden graph in csr mode twice, each under its own job group:
    once with a catalog and lineage, once without a catalog. Returns the
    catalog, the lineage writer and the Spark job count of each group."""
    arr, n, _ = golden
    edges = edges_from_numpy(spark, arr)
    cat = Catalog(str(tmp_path_factory.mktemp("csr_commits") / "wh"))
    lin = LineageWriter(spark, cat, per_partition=True)
    sc = spark.sparkContext
    jobs = {}
    for group, kw in (("ckpt", {"catalog": cat, "lineage": lin}), ("bare", {})):
        sc.setJobGroup(f"csr-commits-{group}", group)
        try:
            res = PageRank(mode="csr", **kw).run(edges, n, run_id="csrlin")
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        assert res.iterations == 7
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[group] = len(sc.statusTracker().getJobIdsForGroup(f"csr-commits-{group}"))
    return cat, lin, jobs


def test_csr_lineage_rows_carry_checkpoint_snapshot(csr_runs):
    """Each csr lineage row names the snapshot its iteration's checkpoint
    committed, so the row ties to a resumable state, and reports no shuffled
    rows."""
    cat, lin, _ = csr_runs
    rows = sorted(lin.read("csrlin").collect(), key=lambda r: r["iteration"])
    assert [r["iteration"] for r in rows] == list(range(1, 8))
    snaps = cat.snapshots("pagerank_ckpt_csrlin")
    assert [r["snapshot"] for r in rows] == [str(s) for s in snaps]
    for r in rows:
        meta = cat.snapshot_meta("pagerank_ckpt_csrlin", int(r["snapshot"]))
        assert meta.summary["iteration"] == r["iteration"]
    # a csr iteration is one map-only stage over the block-aligned pack
    assert all(r["rows_shuffled"] == 0 for r in rows if r["partition_id"] == -1)


def test_csr_commits_launch_no_spark_job(csr_runs):
    """Checkpoints and lineage rows of a csr run are driver-resident tables
    committed by pyarrow: the run launches exactly as many Spark jobs as the
    same run without a catalog."""
    cat, _, jobs = csr_runs
    assert len(cat.snapshots("pagerank_ckpt_csrlin")) == 7
    assert jobs["ckpt"] > 0
    assert jobs["ckpt"] == jobs["bare"], jobs


def test_csr_iterations_write_no_shuffle_bytes(spark):
    """The status store confirms the csr lineage's rows_shuffled=0: a csr
    run of 3 iterations writes exactly the shuffle bytes of a 1-iteration
    run (the pack's one-time shuffles), so its iterations shuffle nothing.
    The block-alignment probe's shuffle is memoized per block count, so the
    memo is filled first: otherwise only the first run would pay it."""
    from py4j.protocol import Py4JJavaError

    from pagerank_spark.algorithms.pagerank import _preimages
    from pagerank_spark.util import task_slots
    from tests.conftest import micro_graphs

    arr, n = micro_graphs()["test1_mirror"]
    edges = edges_from_numpy(spark, arr)
    sc = spark.sparkContext
    _preimages(spark, task_slots(sc))
    store = sc._jsc.sc().statusStore()
    written = {}
    for iters in (1, 3):
        group = f"csr-shuffle-{iters}"
        sc.setJobGroup(group, group)
        try:
            res = PageRank(mode="csr", max_iter=iters, eps=0.0).run(edges, n)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        assert res.iterations == iters
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        stages = {
            int(s)
            for j in sc.statusTracker().getJobIdsForGroup(group)
            for s in sc.statusTracker().getJobInfo(j).stageIds
        }
        written[iters] = 0
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped: its shuffle was written before
                continue
            written[iters] += int(sd.shuffleWriteBytes())
    assert written[1] > 0  # the pack's block-aligning shuffle is counted
    assert written[3] == written[1], written


def test_cc_resume_and_lineage_snapshots(spark, cat):
    """Connected components commit through the same path as PageRank: a run
    cut after round 1 resumes from its cc_ckpt snapshot to the exact
    components, and every lineage row names the snapshot its round
    committed."""
    from pagerank_spark.algorithms.components import connected_components
    from pagerank_spark.oracle import connected_components_numpy
    from pagerank_spark.sources.graphfile import vertices_df

    # a path through scrambled ids plus one island: several star rounds
    n = 12
    path = np.random.default_rng(5).permutation(10)
    arr = np.array([*zip(path[:-1], path[1:]), (10, 11)], dtype=np.int64)
    edges, verts = edges_from_numpy(spark, arr), vertices_df(spark, n)
    lin = LineageWriter(spark, cat)
    kw = {"catalog": cat, "lineage": lin, "run_id": "cc"}
    connected_components(edges, verts, max_iter=1, **kw)
    comp = connected_components(edges, verts, resume=True, **kw)
    exp = connected_components_numpy(arr, n)
    assert {r["id"]: r["component"] for r in comp.collect()} == {
        i: int(exp[i]) for i in range(n)
    }
    rows = sorted(lin.read("cc").collect(), key=lambda r: r["iteration"])
    assert [r["iteration"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) >= 3
    for r in rows:
        meta = cat.snapshot_meta("cc_ckpt_cc", int(r["snapshot"]))
        assert meta.summary["iteration"] == r["iteration"]


def test_cli_components_run_resumes_through_library(spark, tmp_path, capsys):
    """The `components` subcommand echoes its run id and warehouse (run in
    this process on the test session; no subprocess), and the library picks
    that run back up from its last cc_ckpt round instead of round 1."""
    from pagerank_spark import cli
    from pagerank_spark.algorithms.components import connected_components
    from pagerank_spark.oracle import connected_components_numpy
    from pagerank_spark.sources.graphfile import vertices_df

    n = 12
    path = np.random.default_rng(5).permutation(10)
    arr = np.array([*zip(path[:-1], path[1:]), (10, 11)], dtype=np.int64)
    edges = edges_from_numpy(spark, arr)
    edges.write.parquet(str(tmp_path / "edges"))
    wh = str(tmp_path / "wh")
    argv = [
        "--master", spark.sparkContext.master,
        "--shuffle-partitions", spark.conf.get("spark.sql.shuffle.partitions"),
        "--warehouse", wh,
        "components", "--edges", str(tmp_path / "edges"), "--n", str(n),
    ]
    assert cli.main(argv) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["warehouse"] == wh
    cat = Catalog(wh)
    table = f"cc_ckpt_{out['run_id']}"
    rounds = len(cat.snapshots(table))
    assert rounds >= 3
    comp = connected_components(
        edges, vertices_df(spark, n), catalog=cat, run_id=out["run_id"], resume=True
    )
    exp = connected_components_numpy(arr, n)
    assert {r["id"]: r["component"] for r in comp.collect()} == {
        i: int(exp[i]) for i in range(n)
    }
    resumed = cat.snapshots(table)[rounds:]
    assert resumed
    assert cat.snapshot_meta(table, resumed[0]).summary["iteration"] == rounds + 1


def test_expire_snapshots_keeps_referenced_data(spark, tmp_path):
    """Expiry deletes old manifests + unreferenced data dirs (including a
    planted crashed-commit orphan) but never anything a retained snapshot
    references — append chains keep their full file history; time travel
    within the retained window still works; current survives keep_last=1."""
    import os

    from pagerank_spark.tables.catalog import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    df = lambda lo: spark.range(lo, lo + 5)
    cat.write(df(0), "t")                      # snap 0 (overwrite)
    cat.write(df(10), "t", mode="append")      # snap 1 references snap 0's files
    cat.write(df(20), "t", mode="append")      # snap 2 references 0+1
    cat.write(df(30), "t")                     # snap 3 (fresh overwrite)
    cat.write(df(40), "t", mode="append")      # snap 4 references 3
    # planted orphan from a "crashed" commit (pointer never flipped)
    orphan = tmp_path / "wh" / "t" / "data" / "snap-99-deadbeef"
    os.makedirs(orphan)
    (orphan / "junk.parquet").write_bytes(b"x")

    # default TTL: the young orphan dir is indistinguishable from a
    # concurrent in-flight write and must survive; committed ancestors
    # beyond keep_last expire immediately regardless
    res0 = cat.expire_snapshots("t", keep_last=2)
    assert res0["expired_snapshots"] == [0, 1, 2]
    assert not any("snap-99" in d for d in res0["deleted_dirs"])
    assert (orphan / "junk.parquet").exists()

    # ttl=0 (explicit single-writer declaration): crash debris goes
    res = cat.expire_snapshots("t", keep_last=2, orphan_ttl_s=0)
    assert sorted(res["kept_snapshots"]) == [3, 4]
    assert any("snap-99" in d for d in res["deleted_dirs"])
    # retained snapshots fully readable (append chain intact)
    assert cat.read(spark, "t").count() == 10
    assert cat.read(spark, "t", snapshot_id=3).count() == 5
    # expired manifests gone
    assert cat.snapshots("t") == [3, 4]
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        cat.snapshot_meta("t", 0)
    with _pytest.raises(ValueError):
        cat.expire_snapshots("t", keep_last=0)

    # keep_last=1 never deletes current
    res2 = cat.expire_snapshots("t", keep_last=1)
    assert res2["kept_snapshots"] == [4]
    assert cat.read(spark, "t").count() == 10  # snap 4 still references snap 3's files


def test_expire_dangling_manifest_no_keep_slot(spark, tmp_path):
    """A manifest from a crash between manifest write and pointer flip has
    an id ABOVE current but was never committed: it must not consume a
    keep_last slot (retention walks the parent chain from current, not
    top-N ids), it survives expiry while young (concurrent-writer safety),
    and ttl=0 expires it together with its data dir."""
    import json as _json
    import os

    from pagerank_spark.tables.catalog import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    for lo in (0, 10, 20):
        cat.write(spark.range(lo, lo + 5), "t")  # committed snaps 0,1,2
    # dangling snapshot 99: data dir + manifest written, pointer never flipped
    dangling = tmp_path / "wh" / "t" / "data" / "snap-99-dead"
    os.makedirs(dangling)
    (dangling / "junk.parquet").write_bytes(b"x")
    with open(tmp_path / "wh" / "t" / "metadata" / "v99.json", "w") as f:
        _json.dump({
            "snapshot_id": 99, "parent_id": 2, "schema_json": "{}",
            "data_dir": "data/snap-99-dead",
            "timestamp_ms": 0,  # ancient: past any TTL
            "summary": {"data_dirs": _json.dumps(["data/snap-99-dead"])},
        }, f)

    res = cat.expire_snapshots("t", keep_last=2)
    # both committed keep slots go to the chain from current (1, 2) — the
    # dangling 99 takes none, and being ancient it is itself expired
    assert sorted(res["kept_snapshots"]) == [1, 2]
    assert 99 in res["expired_snapshots"] and 0 in res["expired_snapshots"]
    assert any("snap-99" in d for d in res["deleted_dirs"])
    assert cat.current_meta("t").snapshot_id == 2
    assert cat.read(spark, "t", snapshot_id=1).count() == 5

    # a YOUNG dangling manifest is retained along with its data dir
    with open(tmp_path / "wh" / "t" / "metadata" / "v100.json", "w") as f:
        _json.dump({
            "snapshot_id": 100, "parent_id": 2, "schema_json": "{}",
            "data_dir": "data/snap-100-live",
            "timestamp_ms": int(__import__("time").time() * 1000),
            "summary": {"data_dirs": _json.dumps(["data/snap-100-live"])},
        }, f)
    live = tmp_path / "wh" / "t" / "data" / "snap-100-live"
    os.makedirs(live)
    (live / "part.parquet").write_bytes(b"y")
    res2 = cat.expire_snapshots("t", keep_last=2)
    assert 100 not in res2["expired_snapshots"]
    assert (live / "part.parquet").exists()


@pytest.mark.parametrize("carrier", ["spark", "arrow"])
def test_concurrent_write_conflict_detected(spark, cat, carrier):
    """Two writers that both read parent snapshot k must NOT both claim
    k+1: the second manifest create has to fail loudly (CommitConflictError)
    with the winner's committed manifest and pointer untouched — never a
    silent clobber where both callers report success (VERDICT r4 #8). Both
    data writers share the one commit routine, so an Arrow loser fails the
    same way."""
    from pagerank_spark.tables.catalog import CommitConflictError

    cat.write(spark.range(5), "t")  # snapshot 0, current -> 0
    # simulate the racing writer having claimed v1 first (manifest created,
    # pointer flip may or may not have landed yet — claim alone must win)
    winner = cat.write(spark.range(10, 15), "t")  # snapshot 1
    assert winner.snapshot_id == 1
    before = open(cat._pointer("t")).read()
    # force the loser to recompute id 1: point it at the stale parent by
    # racing through the real API — rewind the pointer to 0 as the loser
    # would have seen it before the winner's flip
    with open(cat._pointer("t"), "w") as f:
        json.dump({"current": 0}, f)
    if carrier == "arrow":
        loser = pa.table({"id": np.arange(99, 104, dtype=np.int64)})
    else:
        loser = spark.range(99, 104)
    with pytest.raises(CommitConflictError, match="snapshot 1") as err:
        cat.write(loser, "t")
    # the message names the crashed-winner case and its remedy
    assert "crashed between its manifest claim and its pointer flip" in str(err.value)
    assert "expire_snapshots('t')" in str(err.value)
    # winner's manifest survived unclobbered; loser changed nothing
    assert cat.snapshots("t") == [0, 1]
    assert cat.snapshot_meta("t", 1).snapshot_id == 1
    assert sorted(r["id"] for r in cat.read(spark, "t", snapshot_id=1).collect()) == [
        10, 11, 12, 13, 14,
    ]
    with open(cat._pointer("t"), "w") as f:
        f.write(before)
    assert cat.current_meta("t").snapshot_id == 1


def test_concurrent_write_threads_one_wins(spark, cat):
    """True interleaving: N threads commit to the same table at once.
    Every failure must be a CommitConflictError, at least one commit wins,
    snapshot ids of winners are distinct, and the final current snapshot
    reads back as exactly one thread's payload (no torn/merged state)."""
    import threading

    from pagerank_spark.tables.catalog import CommitConflictError

    cat.write(spark.range(1), "t")
    results: dict[int, object] = {}
    barrier = threading.Barrier(4)

    def commit(k: int):
        barrier.wait()
        try:
            results[k] = cat.write(
                spark.range(k * 100, k * 100 + 5), "t", summary={"writer": str(k)}
            ).snapshot_id
        except CommitConflictError as e:
            results[k] = e

    threads = [threading.Thread(target=commit, args=(k,)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = {k: v for k, v in results.items() if isinstance(v, int)}
    losses = {k: v for k, v in results.items() if not isinstance(v, int)}
    assert wins, f"no writer committed: {results}"
    assert all(isinstance(v, CommitConflictError) for v in losses.values())
    assert len(set(wins.values())) == len(wins)  # distinct snapshot ids
    cur = cat.current_meta("t")
    w = int(cur.summary["writer"])
    assert w in wins
    got = sorted(r["id"] for r in cat.read(spark, "t").collect())
    assert got == list(range(w * 100, w * 100 + 5))
