"""Physical-plan audits: the properties that matter at 100 TB must be
visible in `explain`, not assumed — filters reach the parquet scan
(PushedFilters), projections prune the read schema (ReadSchema), small
dimensions broadcast, and the O(V) sides of big-graph joins do NOT.

These guard against silent plan regressions: an operator can stay
correct while its plan quietly stops pushing a filter or starts
broadcasting an O(V) table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_parquet_filter_pushdown_and_pruning(spark):
    """A filtered 2-column projection must push the filter into the scan
    and read ONLY those columns."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # ReadSchema lists only the projected columns, never text/html payloads
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema


def test_small_dim_join_broadcasts(spark):
    """orders ⋈ customer with an aggregated left side: the small dimension
    must arrive via BroadcastHashJoin (no full shuffle of customer). Checked
    on the query's own nodes: a cached input's build plan must not be able
    to supply the match."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    q = (
        orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("total"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    assert "BroadcastHashJoin" in _node_names(q)


def test_pagerank_dataframe_no_broadcast_above_gate(spark, monkeypatch):
    """Above util.BROADCAST_SAFE_ROWS the dataframe-mode PageRank step (the
    K=1, uniform-teleport case of _teleport_iteration) must not plan a
    broadcast of an O(n) side (the driver-OOM class): the step's joins are
    ShuffledHashJoin and there is no BroadcastHashJoin."""
    from pagerank_spark import util
    from pagerank_spark.algorithms.linkanalysis import _teleport_iteration
    from pagerank_spark.sources.synthetic import synthetic_edges

    monkeypatch.setattr(util, "BROADCAST_SAFE_ROWS", 10)
    n = 200
    edges = synthetic_edges(spark, n, 2000, seed=1, num_partitions=2)
    no_bcast = util.no_bcast_fn(n)
    ew, state = _teleport_step_inputs(spark, edges, n, 1, no_bcast)
    step = _teleport_iteration(ew, state, 1, 0.85, [0.0], [1.0], no_bcast)
    assert "ShuffledHashJoin" in _node_names(step)  # the step's own joins
    assert "BroadcastHashJoin" not in _plan(step)  # edge cache included
    ew.unpersist()


def test_textstats_stay_jvm_side(spark):
    """The text-quality features are pure Column expressions — the plan is a
    single Project over the scan (codegen'd scan; the higher-order array
    lambdas are JVM-interpreted) with NO Python evaluation node anywhere."""
    from pagerank_spark.functions.textstats import quality_features

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(quality_features(docs))
    assert "codegen id" in plan  # scan + ColumnarToRow are codegen'd
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_node not in plan
    assert "Exchange" not in plan  # map-only: no shuffle for per-doc stats


def test_widen_partitions_spreads_narrow_input(spark):
    """Compute-heavy per-row stages must not inherit a single file split:
    widen_partitions spreads a narrow input to the session parallelism and
    leaves already-wide inputs untouched (no extra shuffle)."""
    from pagerank_spark.util import widen_partitions

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    assert widen_partitions(narrow).rdd.getNumPartitions() == target
    wide = spark.range(1000).repartition(target + 4)
    assert widen_partitions(wide) is wide


def test_signature_pass_parallel_on_single_file(spark):
    """The MinHash signature pass over a one-split corpus plans a round-robin
    repartition ahead of the Arrow UDF — the measured 17x single-task pin."""
    from pagerank_spark.pipeline.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1  # the hazard this guards against
    sig = minhash_signatures(docs)
    assert sig.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def _node_names(df) -> list[str]:
    """Physical plan node names, NOT descending into cached subtrees
    (InMemoryTableScan is a leaf); unwraps the AQE wrapper to its initial
    plan — ENSURE_REQUIREMENTS exchange placement and the join strategies
    are decided there and AQE does not add shuffles."""

    def walk(jp, acc):
        if jp.nodeName() == "AdaptiveSparkPlan":
            for m in ("initialPlan", "inputPlan"):
                try:
                    jp = getattr(jp, m)()
                    break
                except Exception:
                    continue
        acc.append(jp.nodeName())
        ch = jp.children()
        for i in range(ch.size()):
            walk(ch.apply(i), acc)

    acc: list[str] = []
    walk(df._jdf.queryExecution().executedPlan(), acc)
    return acc


def _exchanges(df) -> tuple[int, int]:
    """(shuffle, broadcast) Exchange counts in the physical plan (see
    _node_names)."""
    ex = [name for name in _node_names(df) if "Exchange" in name]
    bc = sum("Broadcast" in name for name in ex)
    return len(ex) - bc, bc


def test_labelprop_big_round_single_exchange(spark):
    """Big-graph label-propagation round: exactly ONE shuffle exchange (the
    repartition("a") feeding both aggregates). The neighbor join must reuse
    the edge cache's hash(b) x the statically-checkpointed labels' hash(id);
    the label-update join must reuse hash(id) x the aggregate's hash(id)."""
    from pagerank_spark.algorithms.labelprop import _lp_round
    from pagerank_spark.util import pin_state

    e = spark.range(2000, numPartitions=4).select(
        (F.col("id") % 100).alias("a"), ((F.col("id") * 13) % 100).alias("b")
    )
    und = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .repartition("b")
        .dropDuplicates(["a", "b"])
        .persist()
    )
    und.count()
    labels0 = spark.range(100, numPartitions=4).select(
        "id", F.col("id").alias("label")
    )
    labels = pin_state(labels0, "id")

    sh, _bc = _exchanges(_lp_round(und, labels, big=True))
    assert sh == 1, f"big LP round planned {sh} shuffle exchanges, want 1"

    # chained round off a fresh pinned result: still 1
    nxt = pin_state(_lp_round(und, labels, big=True))
    sh2, _bc2 = _exchanges(_lp_round(und, nxt, big=True))
    assert sh2 == 1, f"chained big LP round planned {sh2} exchanges, want 1"
    und.unpersist()


def test_cached_repartition_feeds_exchange_free_aggregation(spark):
    """The label-propagation round contract: an edge table cached as
    repartition("a") keeps its outputPartitioning through a broadcast join,
    so both round aggregates (groupBy(a, label) then groupBy(a)) plan with
    NO new Exchange — rounds move zero O(E) bytes on small graphs."""
    e = spark.range(2000).select(
        (F.col("id") % 100).alias("a"), (F.col("id") % 37).alias("b")
    )
    part = e.repartition("a").persist()
    part.count()
    labels = spark.range(37).select(
        F.col("id"), (F.col("id") * 10).alias("label")
    )
    agg = (
        part.join(F.broadcast(labels), part.b == labels.id)
        .groupBy("a", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("a")
        .agg(F.expr("max_by(label, struct(cnt, -label))").alias("new_label"))
    )
    plan = _plan(agg)
    # operators ABOVE the cached relation print before it in the formatted
    # tree; no hash-partitioning Exchange may appear there
    head = plan.split("InMemoryRelation")[0]
    assert "Exchange hashpartitioning" not in head
    part.unpersist()


def test_contract_graph_broadcasts_small_mapping(spark):
    """Below the vertex gate the host mapping joins broadcast (no shuffle
    of the O(E) edge side beyond the final group aggregation)."""
    from pagerank_spark.algorithms.structure import contract_graph
    from pagerank_spark.sources.synthetic import synthetic_edges

    edges = synthetic_edges(spark, 300, 3000, seed=7, num_partitions=4)
    mapping = spark.range(300).select("id", (F.col("id") % 10).alias("group"))
    sh, bc = _exchanges(contract_graph(edges, mapping))
    assert bc == 2, f"mapping joins planned {bc} broadcasts, want 2"
    assert sh == 1, f"contract_graph planned {sh} shuffles, want 1 (the groupBy)"


def test_coreness_round_exchanges_move_only_candidates(spark):
    """One active-set coreness round plans its shuffles on the candidate
    subset: candidate distinct + value re-key + h-index clustering. The
    state merge consumes the checkpoint's hash(id) without an exchange."""
    from pagerank_spark.sources.synthetic import synthetic_edges
    from pagerank_spark.util import pin_state

    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = synthetic_edges(spark, 300, 3000, seed=7, num_partitions=4)
    canon = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    pairs = canon.select(F.col("a").alias("id"), F.col("b").alias("nb")).union(
        canon.select(F.col("b").alias("id"), F.col("a").alias("nb"))
    )
    nbrs_by_nb = pairs.repartition(p, "nb").persist()
    nbrs_by_id = pairs.repartition(p, "id").persist()
    nbrs_by_nb.count(), nbrs_by_id.count()
    state = pin_state(
        nbrs_by_id.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("c")), "id"
    )
    changed = state.select("id")

    def no_bcast(df):
        return df.hint("shuffle_hash")

    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.desc("cu"), F.asc("nb"))
    cand = (
        nbrs_by_nb.join(no_bcast(changed.select(F.col("id").alias("nb"))), "nb", "left_semi")
        .select("id")
        .distinct()
    )
    live = nbrs_by_id.join(no_bcast(cand), "id", "left_semi")
    joined = live.join(
        no_bcast(state.select(F.col("id").alias("nb_id"), F.col("c").alias("cu"))),
        live.nb == F.col("nb_id"),
    ).select("id", "nb", "cu")
    fresh = (
        joined.withColumn("rn", F.row_number().over(w))
        .groupBy("id")
        .agg(F.max(F.when(F.col("cu") >= F.col("rn"), F.col("rn")).otherwise(0)).cast("long").alias("c_new"))
    )
    merged = state.join(no_bcast(fresh), "id", "left").select(
        "id", F.coalesce(F.col("c_new"), F.col("c")).alias("c")
    )
    sh, _bc = _exchanges(merged)
    # candidate distinct (1) + value-join re-key of the candidate subset (1)
    # + h-index clustering back to hash(id) (1); everything else reuses the
    # persisted layouts / checkpoint partitioning
    assert sh <= 3, f"coreness round planned {sh} shuffle exchanges, want <= 3"
    nbrs_by_nb.unpersist()
    nbrs_by_id.unpersist()


def test_hyperball_hop_single_exchange(spark):
    """A HyperBall hop keeps the iterative-loop contract: the ball-pull join
    consumes the edge cache's hash(dst) x the state checkpoint's hash(id)
    (the cache carries per-vertex self-loops, so the own ball rides the same
    pull — no fold join exists), and the ONE shuffle is the explicit
    repartition of the packed 9-field rows by src; the lane-max groupBy adds
    no exchange on top of it."""
    from pagerank_spark.algorithms.hyperball import (
        _edge_cache,
        _hop,
        _init_registers,
    )
    from pagerank_spark.sources.synthetic import synthetic_edges
    from pagerank_spark.util import pin_state

    edges = synthetic_edges(spark, 300, 3000, seed=7, num_partitions=4)
    # hyperball's own cache layout and vertex table, not a hand copy
    e_dst, verts = _edge_cache(edges)
    state = pin_state(_init_registers(verts), "id")

    def no_bcast(df):
        return df.hint("shuffle_hash")

    sh, _bc = _exchanges(_hop(e_dst, state, no_bcast))
    assert sh == 1, f"hyperball hop planned {sh} shuffle exchanges, want 1"

    # chained off the previous hop's checkpoint, as the run loop does
    state2 = pin_state(_hop(e_dst, state, no_bcast))
    sh2, _ = _exchanges(_hop(e_dst, state2, no_bcast))
    assert sh2 == 1, f"chained hyperball hop planned {sh2} exchanges, want 1"

    # the real above-gate path hints MERGE (spill-safe even for the packed
    # 9-field state rows): sort-merge must reuse the same partitionings —
    # still one exchange, and no hash relation build anywhere
    def merge_hint(df):
        return df.hint("merge")

    sh3, _ = _exchanges(_hop(e_dst, state2, merge_hint))
    assert sh3 == 1, f"merge-hinted hyperball hop planned {sh3} exchanges, want 1"
    e_dst.unpersist()


def test_co_citation_pair_join_plan(spark):
    """Above the gate the co-citation self-join must be a ShuffledHashJoin
    reusing the cached hash(src) on both sides (no broadcast of an O(E)
    side, no extra exchange): exactly one shuffle exchange outside the
    cache — the (a, b) pair-count aggregation."""
    from unittest import mock

    from pagerank_spark.algorithms import linkanalysis as la
    from pagerank_spark.sources.synthetic import synthetic_edges

    edges = synthetic_edges(spark, 300, 3000, seed=7, num_partitions=4)
    with mock.patch.object(la._util, "BROADCAST_SAFE_ROWS", 10):
        # materialize=False keeps the lazy plan (the default eagerly
        # checkpoints the result, which collapses the audited plan to a
        # Scan ExistingRDD) — the audit must see the join itself
        df = la.co_citation(edges, min_count=2, max_src_fanout=100, materialize=False)
        sh, bc = _exchanges(df)
        # the query's own nodes: the formatted plan also prints the cached
        # by_src build plan, whose fanout semi-join is a BroadcastHashJoin
        nodes = _node_names(df)
    assert "ShuffledHashJoin" in nodes
    assert bc == 0, "broadcast of an O(E) self-join side above the gate"
    assert sh == 1, f"pair generation planned {sh} shuffle exchanges, want 1"
    spark.catalog.clearCache()  # release the audit run's pinned by_src


def test_paragraph_dedup_election_is_aggregate_not_window(spark):
    """The first-occurrence election must compile to a partial + final
    SortAggregate (a min over the (doc id, paragraph index) struct has no
    fixed-width hash buffer; the partial still combines per map partition,
    absorbing boilerplate-hot paragraph keys) and NEVER to a Window over
    the hash — a window sorts every copy of the hot key on one reducer, the
    exact skew this operator exists to survive. The per-doc rebuild is the
    two ObjectHashAggregates (collect_list); the node names are exact, so
    they cannot stand in for the election."""
    from pagerank_spark.pipeline.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(i, f"p{i % 3}\n\nq{i}") for i in range(50)], "doc_id long, text string"
    )
    df = paragraph_dedup(docs)
    plan = _plan(df)
    assert "Window" not in plan
    nodes = _node_names(df)
    assert nodes.count("SortAggregate") == 2  # partial + final for the min
    sh, _ = _exchanges(df)
    assert sh <= 3, f"paragraph dedup planned {sh} shuffles, want <= 3"


def _teleport_state(spark, n: int, K: int):
    """A fresh, unexecuted (id, non_dangling, t0.., r0..) state plan."""
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return spark.range(0, n, 1, p).select(
        "id",
        F.lit(True).alias("non_dangling"),
        *[F.when(F.col("id") < 5, 0.2).otherwise(0.0).alias(f"t{k}") for k in range(K)],
        *[F.lit(1.0 / n).alias(f"r{k}") for k in range(K)],
    )


def _teleport_step_inputs(spark, edges, n: int, K: int, no_bcast):
    """The cached, src-partitioned (src, dst, w) edge table and a state
    checkpoint pinned with util.pin_state, as _teleport_pagerank builds
    them."""
    from pagerank_spark.util import pin_state

    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out"))
    ew = (
        edges.join(no_bcast(out), "src")
        .select("src", "dst", (F.lit(1.0) / F.col("out")).alias("w"))
        .repartition(p, "src")
        .persist()
    )
    ew.count()
    return ew, pin_state(_teleport_state(spark, n, K), "id")


@pytest.mark.parametrize("K", [1, 4])
def test_ppr_batch_iteration_single_exchange(spark, K):
    """The teleport iteration behind dataframe-mode PageRank (K=1) and every
    personalized/weighted/batched PageRank: exactly ONE shuffle exchange
    for any K. The contribution join consumes ew's hash(src) x the state
    checkpoint's hash(id), the aggregation (K sums at once) is the only
    exchange, and the rank-update left join consumes hash(id) x hash(dst) —
    K topic vectors ride one edge join and one aggregation instead of K
    loops. This holds because the run loop pins every state checkpoint
    with util.pin_state (AQE off); an AQE-compiled localCheckpoint records
    UnknownPartitioning and regresses the same step to 3 exchanges
    (asserted below as the counterexample)."""
    from pagerank_spark.algorithms.linkanalysis import _teleport_iteration
    from pagerank_spark.sources.synthetic import synthetic_edges
    from pagerank_spark.util import pin_state

    def no_bcast(df):
        return df.hint("shuffle_hash")

    n = 300
    edges = synthetic_edges(spark, n, 3000, seed=7, num_partitions=4)
    ew, state = _teleport_step_inputs(spark, edges, n, K, no_bcast)

    zeros = [0.0] * K
    ones = [1.0] * K
    sh, _bc = _exchanges(_teleport_iteration(ew, state, K, 0.85, zeros, ones, no_bcast))
    assert sh == 1, f"K={K} ppr iteration planned {sh} shuffle exchanges, want 1"

    # chain property: the next iteration off the checkpointed result (what
    # the run loop does) is single-exchange again. NOTE: checkpoint a FRESH
    # plan object — a Dataset caches its QueryExecution on first access, so
    # checkpointing the frame audited above would capture its AQE-compiled
    # plan (UnknownPartitioning) instead of the static one (the
    # pin_state docstring pitfall; exactly what the run loop avoids by
    # checkpointing before any explain).
    nxt = pin_state(_teleport_iteration(ew, state, K, 0.85, zeros, ones, no_bcast))
    nxt = nxt.drop(*[f"o{k}" for k in range(K)])
    sh2, _bc2 = _exchanges(_teleport_iteration(ew, nxt, K, 0.85, zeros, ones, no_bcast))
    assert sh2 == 1, f"K={K} chained ppr iteration planned {sh2} exchanges, want 1"

    # counterexample guard: an AQE-compiled checkpoint (the same repartition
    # and checkpoint, hand-built without pin_state) loses the partitioning
    # and the same iteration pays 3 shuffles — if this starts passing with
    # sh3 == 1, Spark fixed the AQE metadata and pin_state's AQE switch can
    # be retired
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bad_state = (
        _teleport_state(spark, n, K).repartition(p, "id").localCheckpoint(eager=True)
    )
    sh3, _bc3 = _exchanges(
        _teleport_iteration(ew, bad_state, K, 0.85, zeros, ones, no_bcast)
    )
    assert sh3 == 3, f"AQE checkpoint counterexample planned {sh3}, expected 3"
    ew.unpersist()


def test_salted_top_k_two_exchanges(spark):
    """The skew-safe per-key top-k plans exactly two shuffle exchanges —
    hash(key, salt) for the shard stage and hash(key) for the re-rank —
    regardless of k or salt count (no global sort anywhere)."""
    from pagerank_spark.util import salted_top_k

    df = spark.range(0, 10_000).select(
        (F.col("id") % 7).alias("k"),
        F.col("id").alias("v"),
        (F.col("id") * 37 % 1000).cast("double").alias("score"),
    )
    out = salted_top_k(
        df, keys=["k"], order=[F.desc("score"), F.asc("v")], k=5,
        salt_expr=F.xxhash64("v"), n_salts=8,
    )
    sh, _bc = _exchanges(out)
    assert sh == 2, f"salted_top_k planned {sh} shuffle exchanges, want 2"
    # and no global (RangePartitioning) sort in the physical plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()


def test_adamic_adar_reuses_src_exchange(spark):
    """adamic_adar's degree agg, weight join, and both self-join sides all
    consume ONE hash(src) repartition of the edges — same contract as
    co_citation — so the whole pair plan costs the pair aggregation plus
    that single up-front exchange."""
    from pagerank_spark.algorithms.linkanalysis import adamic_adar
    from pagerank_spark.sources.synthetic import synthetic_edges

    e = synthetic_edges(spark, 500, 5000, seed=3, num_partitions=4)
    pairs = adamic_adar(e, min_common=1, max_src_fanout=None, materialize=False)
    sh, _bc = _exchanges(pairs)
    assert sh == 1, f"adamic_adar pair plan has {sh} shuffle exchanges, want 1"
    assert pairs.count() > 0
