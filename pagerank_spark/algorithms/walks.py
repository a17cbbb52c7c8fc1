"""Seeded random walks over the link graph — the corpus generator for
graph-embedding pipelines (DeepWalk / node2vec style, public papers): each
vertex emits ``walks_per_node`` fixed-length walks whose step sequence is
the training text for a skip-gram model.

Determinism contract: the next hop from vertex v at step t of walk (s, w)
is the out-neighbor minimizing the engine's md5 60-bit hash of
``"{seed}_{s}_{w}_{t}_{nb}"``. Each neighbor's rank is an independent
uniform hash, so the walk is an unbiased uniform random walk conditioned
on the seed — and byte-reproducible anywhere, including the DuckDB oracle
(`random_walks` in __spark_entry__.py unrolls the same argmin joins).
Walks TERMINATE at dangling vertices (standard for directed web graphs —
restarts are the caller's policy via more walks).

Scale shape per step: the frontier joins the edge cache on cur == src
(edge side cached hash(src); the frontier is repartitioned to hash(cur) as
part of its checkpoint) and the argmin aggregates by walk key — two
exchanges per step, both O(frontier x avg_outdeg) and O(frontier), never
O(E) or O(V) beyond the first step. Hub vertices fan out to outdeg
candidate rows per walk visiting them; the map-side partial min collapses
that before the wire (same salting exposure as every degree aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark import util as _util


def _choice_hash(seed: int, start, walk, step: int, nb) -> F.Column:
    """md5 60-bit hash of the walk-step-neighbor key (the shared
    util.md5_hash60 convention)."""
    key = F.concat_ws(
        "_", F.lit(int(seed)), start, walk, F.lit(int(step)), nb
    )
    return _util.md5_hash60(key)


def random_walks(
    edges: DataFrame,
    walk_length: int = 4,
    walks_per_node: int = 1,
    seed: int = 42,
) -> DataFrame:
    """-> (start_id, walk, step, id): ``walks_per_node`` seeded uniform
    random walks of up to ``walk_length`` steps from EVERY vertex with an
    out-edge (step 0 is the start vertex itself; a walk reaching a dangling
    vertex stops early)."""
    spark = edges.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_verts = _util.approx_vertex_count(edges)

    no_bcast = _util.no_bcast_fn(n_verts)

    e_src = (
        edges.select("src", "dst").distinct().repartition(shuffle_p, "src").persist()
    )
    e_src.count()

    starts = e_src.select(F.col("src").alias("start_id")).distinct()
    frontier = (
        starts.join(
            F.broadcast(
                spark.range(0, walks_per_node).select(F.col("id").alias("walk"))
            )
        )
        .select("start_id", "walk", F.col("start_id").alias("cur"))
    )
    frontier = _util.pin_state(frontier, "cur")

    out_rows = [
        frontier.select(
            "start_id", "walk", F.lit(0).cast("int").alias("step"),
            F.col("cur").alias("id"),
        )
    ]
    for t in range(1, walk_length + 1):
        cand = e_src.join(no_bcast(frontier), e_src.src == frontier.cur).select(
            "start_id",
            "walk",
            F.struct(
                _choice_hash(seed, F.col("start_id"), F.col("walk"), t, F.col("dst")
                             ).alias("h"),
                F.col("dst").alias("nb"),
            ).alias("pick"),
        )
        nxt = (
            cand.groupBy("start_id", "walk")
            .agg(F.min("pick").alias("pick"))
            .select("start_id", "walk", F.col("pick.nb").alias("cur"))
        )
        frontier = _util.pin_state(nxt, "cur")
        out_rows.append(
            frontier.select(
                "start_id", "walk", F.lit(t).cast("int").alias("step"),
                F.col("cur").alias("id"),
            )
        )
        if frontier.isEmpty():
            break

    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    e_src.unpersist()
    return out


def node2vec_walks(
    edges: DataFrame,
    walk_length: int = 4,
    walks_per_node: int = 1,
    p: float = 1.0,
    q: float = 1.0,
    seed: int = 42,
    weight_scale: int = 10_000,
) -> DataFrame:
    """Second-order biased walks (node2vec, Grover & Leskovec 2016) over
    the directed graph: step 1 is uniform (no previous vertex); from step 2
    each out-neighbor c of cur is weighted by the return parameter
    (c == prev → 1/p), the BFS parameter (edge prev→c exists → 1), or the
    DFS parameter (else → 1/q).

    Determinism contract (extends random_walks'): weights are scaled to
    integers (``round(weight_scale/p)`` etc.), ONE md5 60-bit hash per
    (walk, step) draws r = H mod total_weight, and the candidate owning
    r's slot in (return-class, edge-class, far-class; dst ascending within
    class) cumulative order is chosen — pure integer arithmetic end to
    end, so the walk is byte-reproducible anywhere (including a SQL
    oracle) and unbiased conditioned on the seed up to the 1/weight_scale
    rational rounding of 1/p and 1/q.

    Scale shape per step: candidate fan-out (edge cache hash(src) x
    frontier), ONE extra hash(prev,dst) join marking the edge-class, a
    per-walk total aggregation, and a per-(walk, class) row_number window
    whose partition is bounded by the visited vertex's out-degree — the
    same candidate volume the uniform walk's argmin processes, sorted
    instead of min-reduced (document: a 1e6-outdeg hub visited by a walk
    sorts 1e6 rows in that walk's task).
    """
    if p <= 0 or q <= 0:
        raise ValueError("p and q must be > 0")
    from pyspark.sql import Window

    spark = edges.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_verts = _util.approx_vertex_count(edges)

    no_bcast = _util.no_bcast_fn(n_verts)

    wp = int(round(weight_scale / p))
    w1 = int(weight_scale)
    wq = int(round(weight_scale / q))
    if min(wp, w1, wq) < 1:
        raise ValueError("weight_scale too small for these p/q")

    e_src = (
        edges.select("src", "dst").distinct().repartition(shuffle_p, "src").persist()
    )
    e_src.count()

    starts = e_src.select(F.col("src").alias("start_id")).distinct()
    frontier = (
        starts.join(
            F.broadcast(
                spark.range(0, walks_per_node).select(F.col("id").alias("walk"))
            )
        ).select(
            "start_id", "walk",
            F.lit(None).cast("long").alias("prev"),
            F.col("start_id").alias("cur"),
        )
    )
    frontier = _util.pin_state(frontier, "cur")

    out_rows = [
        frontier.select(
            "start_id", "walk", F.lit(0).cast("int").alias("step"),
            F.col("cur").alias("id"),
        )
    ]
    for t in range(1, walk_length + 1):
        cand = e_src.join(no_bcast(frontier), e_src.src == frontier.cur).select(
            "start_id", "walk", "prev", "cur", "dst"
        )
        if t == 1:
            # uniform first hop — random_walks' argmin recipe verbatim
            nxt = (
                cand.select(
                    "start_id", "walk", F.col("cur").alias("prev_next"),
                    F.struct(
                        _choice_hash(seed, F.col("start_id"), F.col("walk"), t,
                                     F.col("dst")).alias("h"),
                        F.col("dst").alias("nb"),
                    ).alias("pick"),
                )
                .groupBy("start_id", "walk", "prev_next")
                .agg(F.min("pick").alias("pick"))
                .select(
                    "start_id", "walk",
                    F.col("prev_next").alias("prev"),
                    F.col("pick.nb").alias("cur"),
                )
            )
        else:
            # class marking: return / edge(prev->dst) / far
            e_pd = e_src.select(
                F.col("src").alias("prev"), F.col("dst").alias("dst"),
                F.lit(True).alias("has_pd"),
            )
            marked = cand.join(no_bcast(e_pd), ["prev", "dst"], "left").select(
                "start_id", "walk", "prev", "cur", "dst",
                F.when(F.col("dst") == F.col("prev"), 0)
                .when(F.coalesce("has_pd", F.lit(False)), 1)
                .otherwise(2)
                .alias("cls"),
            ).withColumn(
                "w",
                F.when(F.col("cls") == 0, wp)
                .when(F.col("cls") == 1, w1)
                .otherwise(wq)
                .cast("long"),
            )
            totals = marked.groupBy("start_id", "walk").agg(
                F.sum("w").alias("total"),
                F.sum(F.when(F.col("cls") == 0, F.col("w")).otherwise(0)).alias("t0"),
                F.sum(F.when(F.col("cls") == 1, F.col("w")).otherwise(0)).alias("t1"),
            )
            r = F.pmod(
                _choice_hash(seed, F.col("start_id"), F.col("walk"), t, F.lit("r")),
                F.col("total"),
            )
            targeted = totals.select(
                "start_id", "walk",
                F.when(r < F.col("t0"), 0)
                .when(r < F.col("t0") + F.col("t1"), 1)
                .otherwise(2)
                .alias("tcls"),
                F.when(r < F.col("t0"), F.floor(r / wp))
                .when(r < F.col("t0") + F.col("t1"),
                      F.floor((r - F.col("t0")) / w1))
                .otherwise(F.floor((r - F.col("t0") - F.col("t1")) / wq))
                .cast("long")
                .alias("j"),
            )
            wnd = Window.partitionBy("start_id", "walk", "cls").orderBy(F.asc("dst"))
            ranked = marked.withColumn("rn", F.row_number().over(wnd) - 1)
            nxt = (
                ranked.join(no_bcast(targeted), ["start_id", "walk"])
                .filter((F.col("cls") == F.col("tcls")) & (F.col("rn") == F.col("j")))
                .select(
                    "start_id", "walk",
                    F.col("cur").alias("prev"),
                    F.col("dst").alias("cur"),
                )
            )
        frontier = _util.pin_state(nxt, "cur")
        out_rows.append(
            frontier.select(
                "start_id", "walk", F.lit(t).cast("int").alias("step"),
                F.col("cur").alias("id"),
            )
        )
        if frontier.isEmpty():
            break

    out = out_rows[0]
    for r_ in out_rows[1:]:
        out = out.unionByName(r_)
    e_src.unpersist()
    return out
