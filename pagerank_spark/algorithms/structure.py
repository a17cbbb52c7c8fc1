"""Graph-structure operators beyond the reference surface: k-core
decomposition (coreness), strongly connected components, and whole-graph
summary statistics (reciprocity, degree assortativity).

The reference engine (/root/reference/Pagerank/src/pagerank32c.c) computes
only PageRank over the link graph; a Common-Crawl-scale link-graph engine
also needs the structural decompositions spam/quality pipelines run on web
graphs (k-core pruning of low-engagement pages, SCC for the bow-tie
decomposition of the web, reciprocity/assortativity as corpus-level health
metrics). Execution discipline matches the audited iterative loops
(PLANS.md "statically planned checkpoints"):

- iteration state is pinned with ``util.pin_state`` (AQE off) so the
  LogicalRDD keeps hash partitioning and each round plans one shuffle;
- every reachability fixpoint (SCC backward reach, the four bow-tie
  reaches) is the one frontier search, ``linkanalysis._frontier_search``;
- O(V) join sides are broadcast below ``util.BROADCAST_SAFE_ROWS`` and
  forced to shuffle-hash joins above it;
- nothing O(V) or O(E) is collected to the driver (convergence checks use
  the (count, xor-hash) set checksum, same probabilistic contract as
  components/labelprop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark import util as _util
from pagerank_spark.algorithms.linkanalysis import _frontier_search


def coreness(edges: DataFrame, max_rounds: int = 100) -> DataFrame:
    """k-core decomposition via iterated neighborhood h-index (Lu et al.,
    "The H-index of a network node", PNAS 2016): over the undirected simple
    graph, start from c0(v) = degree(v) and iterate

        c_{t+1}(v) = H({c_t(u) : u adjacent to v})

    where H is the h-index (the largest h such that at least h neighbors
    have value >= h). The sequence is non-increasing per vertex and its
    fixpoint is exactly the coreness, so running extra rounds past
    convergence is a no-op — which is what makes the unrolled SQL oracle in
    __spark_entry__.py exact.

    Returns (id, coreness) for every vertex with at least one neighbor
    (isolated vertices and pure-self-loop vertices have coreness 0 and are
    absent, mirroring the degree operators).

    The iteration is ACTIVE-SET (delta) driven: a vertex's h-index is
    recomputed in round t only if one of its neighbors changed in round
    t-1. Synchronous h-index convergence has a long near-empty tail
    (measured on a 4M-edge Zipf graph: 24 rounds, with <150 vertices
    changing after round 10), so full recomputation per round pays the
    whole-graph shuffle 24 times; the active set shrinks those tail
    rounds to near-zero data. Results are identical to the synchronous
    iteration: an unchanged neighborhood reproduces the same h-index.

    Physical plan per round: candidate generation joins the hash(nb) edge
    layout against the changed set; the candidates' full adjacency comes
    from a zero-exchange semi-join on the hash(id) layout; one exchange
    keys those edges by neighbor for the value lookup and one brings
    (id, neighbor value) back to hash(id) for the h-index window sort +
    groupBy. All three shuffles move only candidate-adjacent edges.
    Convergence = empty changed set (the merged state is checkpointed
    once per round and serves the state, the changed set, and the
    emptiness probe).
    """
    spark = edges.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_verts = _util.approx_vertex_count(edges)
    no_bcast = _util.no_bcast_fn(n_verts)

    canon = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    pairs = canon.select(F.col("a").alias("id"), F.col("b").alias("nb")).union(
        canon.select(F.col("b").alias("id"), F.col("a").alias("nb"))
    )
    nbrs_by_nb = pairs.repartition(shuffle_p, "nb").persist()
    nbrs_by_id = pairs.repartition(shuffle_p, "id").persist()
    nbrs_by_nb.count(), nbrs_by_id.count()

    state = _util.pin_state(
        nbrs_by_id.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("c")),
        "id",
    )
    changed = state.select("id")  # round 0: everyone just got a value

    w = Window.partitionBy("id").orderBy(F.desc("cu"), F.asc("nb"))
    for _ in range(max_rounds):
        # vertices adjacent to a change are the only ones whose h can move
        cand = (
            nbrs_by_nb.join(
                no_bcast(changed.select(F.col("id").alias("nb"))), "nb", "left_semi"
            )
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
            .agg(
                F.max(
                    F.when(F.col("cu") >= F.col("rn"), F.col("rn")).otherwise(0)
                )
                .cast("long")
                .alias("c_new")
            )
        )
        merged = state.join(no_bcast(fresh), "id", "left").select(
            "id",
            F.coalesce(F.col("c_new"), F.col("c")).alias("c"),
            (F.coalesce(F.col("c_new"), F.col("c")) != F.col("c")).alias("moved"),
        )
        merged = _util.pin_state(merged)
        state = merged.select("id", "c")
        changed = merged.filter(F.col("moved")).select("id")
        if changed.isEmpty():
            break

    nbrs_by_nb.unpersist()
    nbrs_by_id.unpersist()
    return state.select("id", F.col("c").alias("coreness"))


def _live_edges(live_e: DataFrame, live_v: DataFrame, no_bcast) -> DataFrame:
    """``live_e`` restricted to edges with both endpoints in ``live_v``,
    pinned hash(src)."""
    return _util.pin_state(
        live_e.join(no_bcast(live_v.select(F.col("id").alias("src"))), "src", "left_semi")
        .join(no_bcast(live_v.select(F.col("id").alias("dst"))), "dst", "left_semi")
        .select("src", "dst"),
        "src",
    )


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_phases: int = 100,
) -> DataFrame:
    """Strongly connected components of a directed graph via trim +
    max-id forward coloring + in-color backward reachability (the
    FW-BW/coloring family of distributed SCC algorithms — Orzan 2004,
    Slota et al. 2014 — expressed as DataFrame fixpoints).

    Each phase:

    1. **Trim** to fixpoint: a vertex with no in-edges or no out-edges in
       the live subgraph is its own (trivial) SCC. On web graphs the vast
       majority of vertices fall here (the bow-tie tendrils), which is why
       trim runs first and to fixpoint.
    2. **Color**: propagate ``color(v) = max id that reaches v`` along
       forward edges to fixpoint (label-propagation-style rounds, so
       O(diameter) rounds, each one shuffle).
    3. **Backward reach**: from each color root r (``color(r) == r``),
       walk reversed edges restricted to color-r vertices (one
       ``linkanalysis._frontier_search`` over the reversed same-color edge
       table from all roots at once); every vertex reached is in SCC(r)
       (it reaches r and r reaches it). Every vertex on such a path
       provably carries color r, so the restriction loses nothing.
    4. Assign those SCCs (labeled by their min member id), delete them
       from the live subgraph, repeat. Each phase removes at least the
       SCC of the max-id vertex of every weakly-connected remainder.

    Returns (id, scc) with scc = min member id, for every vertex in
    ``vertices`` (default: all edge endpoints). Self-loops are ignored
    (they never change SCC membership).

    Nothing is driver-resident: live-set sizes are tracked with
    ``isEmpty``/checksum actions; assigned components accumulate via
    checkpointed unions.
    """
    spark = edges.sparkSession
    n_verts = _util.approx_vertex_count(edges)
    no_bcast = _util.no_bcast_fn(n_verts)

    e = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    if vertices is None:
        vertices = (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    live_v = _util.pin_state(vertices.select(F.col("id").cast("long")), "id")
    live_e = _util.pin_state(e, "src")

    assigned = spark.createDataFrame([], "id long, scc long")

    for _ in range(max_phases):
        # ---- 1. trim to fixpoint: keep only vertices with both in & out
        while True:
            has_out = live_e.select(F.col("src").alias("id")).distinct()
            has_in = live_e.select(F.col("dst").alias("id")).distinct()
            core = has_out.join(no_bcast(has_in), "id", "left_semi")
            trimmed = live_v.join(no_bcast(core), "id", "left_anti").select(
                "id", F.col("id").alias("scc")
            )
            if trimmed.isEmpty():
                break
            assigned = _util.pin_state(assigned.union(trimmed))
            live_v = _util.pin_state(
                live_v.join(no_bcast(core), "id", "left_semi"), "id"
            )
            live_e = _live_edges(live_e, live_v, no_bcast)
        if live_v.isEmpty():
            break

        # ---- 2. forward max-color to fixpoint
        color = _util.pin_state(live_v.select("id", F.col("id").alias("color")), "id")
        prev_sum = _util.set_checksum(color, "id", "color")
        while True:
            incoming = (
                live_e.join(
                    no_bcast(color.select(F.col("id").alias("src"), "color")), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.max("color").alias("in_color"))
            )
            new_color = color.join(no_bcast(incoming), "id", "left").select(
                "id",
                F.greatest(
                    F.col("color"), F.coalesce(F.col("in_color"), F.lit(-1))
                ).alias("color"),
            )
            color = _util.pin_state(new_color, "id")
            cur_sum = _util.set_checksum(color, "id", "color")
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum

        # ---- 3. backward reach from color roots over same-color edges,
        # reversed (dst -> src) so the frontier search walks them forward;
        # every path in this table stays inside one color, so each reached
        # vertex carries its root's color
        rev = (
            live_e.join(
                no_bcast(color.select(F.col("id").alias("src"), F.col("color").alias("c_src"))),
                "src",
            )
            .join(
                no_bcast(color.select(F.col("id").alias("dst"), F.col("color").alias("c_dst"))),
                "dst",
            )
            .filter(F.col("c_src") == F.col("c_dst"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        reached = _frontier_search(
            _util.pin_state(rev, "src"),
            color.filter(F.col("id") == F.col("color")),
            no_bcast,
        )
        reach = reached.join(no_bcast(color), "id").select("id", "color")

        # ---- 4. label by min member id, assign, delete
        labels = reach.groupBy("color").agg(F.min("id").alias("scc"))
        part = reach.join(no_bcast(labels), "color").select("id", "scc")
        assigned = _util.pin_state(assigned.union(part))
        live_v = _util.pin_state(
            live_v.join(no_bcast(reach.select("id")), "id", "left_anti"), "id"
        )
        live_e = _live_edges(live_e, live_v, no_bcast)
        if live_v.isEmpty():
            break
    else:
        raise RuntimeError(f"SCC did not finish within {max_phases} phases")

    return assigned


def graph_summary(edges: DataFrame) -> DataFrame:
    """One-row whole-graph summary of a directed edge table:

    - ``n_vertices``: distinct endpoints
    - ``n_edges``: distinct (src, dst) pairs
    - ``n_self_loops``: distinct self-loop edges
    - ``reciprocity``: fraction of distinct non-loop directed edges whose
      reverse edge also exists (Newman's r for directed graphs)
    - ``assortativity``: Pearson correlation, over distinct non-loop
      edges, of (outdeg(src), indeg(dst)) — the directed out-in degree
      assortativity; NULL when degenerate (constant degrees)

    All terms are joins/aggregates over the deduplicated edge table —
    two scans, no driver-side state; the reciprocity probe is a
    self-semi-join on the (dst, src) key and the assortativity degree
    sides are size-gated like every other O(V) join in the engine.
    """
    n_verts = _util.approx_vertex_count(edges)
    no_bcast = _util.no_bcast_fn(n_verts)

    e = edges.select("src", "dst").distinct().persist()
    nonloop = e.filter(F.col("src") != F.col("dst"))

    recip = nonloop.join(
        no_bcast(nonloop.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
        ["src", "dst"],
        "left_semi",
    )

    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("od"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).cast("double").alias("idg"))
    deg_pairs = nonloop.join(no_bcast(outdeg), "src").join(no_bcast(indeg), "dst")

    counts = e.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.when(F.col("src") == F.col("dst"), 1).otherwise(0)).alias(
            "n_self_loops"
        ),
    )
    nv = (
        e.select(F.col("src").alias("x"))
        .union(e.select(F.col("dst").alias("x")))
        .agg(F.count_distinct("x").alias("n_vertices"))
    )
    rec = recip.agg(F.count(F.lit(1)).alias("n_recip"))
    nl = nonloop.agg(F.count(F.lit(1)).alias("n_nonloop"))
    # Pearson r from population moments (the sample corrections cancel in
    # the ratio); spelled out rather than F.corr because ANSI mode makes
    # corr THROW on zero variance where NULL is the defined answer here
    assort = deg_pairs.agg(
        F.covar_pop("od", "idg").alias("cv"),
        F.stddev_pop("od").alias("sx"),
        F.stddev_pop("idg").alias("sy"),
    ).select(
        F.when(
            (F.col("sx") > 0) & (F.col("sy") > 0),
            F.col("cv") / (F.col("sx") * F.col("sy")),
        ).alias("assortativity")
    )

    out = (
        nv.crossJoin(counts)
        .crossJoin(rec)
        .crossJoin(nl)
        .crossJoin(assort)
        .select(
            "n_vertices",
            "n_edges",
            "n_self_loops",
            (
                F.when(F.col("n_nonloop") > 0, F.col("n_recip") / F.col("n_nonloop"))
                .otherwise(0.0)
            ).alias("reciprocity"),
            "assortativity",
        )
    )
    out = out.localCheckpoint(eager=True)  # tiny (1 row); lets callers unpersist e
    e.unpersist()
    return out


def contract_graph(
    edges: DataFrame,
    mapping: DataFrame,
    drop_internal: bool = True,
) -> DataFrame:
    """Quotient (coarsened) graph under a vertex grouping — the host-graph
    rollup of a page-level link graph: ``mapping`` is (id, group); every
    page edge (src, dst) becomes a group edge (group(src), group(dst)) and
    parallel edges collapse into an integer ``weight``. ``drop_internal``
    removes intra-group edges (the classic host-graph convention).

    Returns (src, dst, weight: long) at group granularity. Unmapped
    endpoints drop out (inner joins) — at web scale the mapping is derived
    from the same crawl, so a missing entry is a data bug worth surfacing
    via count deltas, not silently keeping raw ids.

    Cost: two hash joins on the O(V) mapping (size-gated like every other
    vertex-side join) and one aggregation on the group key — the natural
    shape for a 100 TB edge table since the output is |groups|-sized.
    """
    n_verts = _util.approx_vertex_count(edges)
    no_bcast = _util.no_bcast_fn(n_verts)
    m_src = mapping.select(F.col("id").alias("src"), F.col("group").alias("gsrc"))
    m_dst = mapping.select(F.col("id").alias("dst"), F.col("group").alias("gdst"))
    out = (
        edges.join(no_bcast(m_src), "src")
        .join(no_bcast(m_dst), "dst")
        .select(F.col("gsrc").alias("src"), F.col("gdst").alias("dst"))
    )
    if drop_internal:
        out = out.filter(F.col("src") != F.col("dst"))
    return out.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("weight"))


def bowtie(
    edges: DataFrame,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Bow-tie decomposition of a directed graph (Broder et al., "Graph
    structure in the Web", WWW 2000): classify every vertex into

    - ``CORE``: the largest strongly connected component (ties broken by
      min member id, so the output is deterministic on any graph);
    - ``IN``: reaches CORE but is not in it;
    - ``OUT``: reachable from CORE but not in it;
    - ``TUBES``: on an IN→OUT path that bypasses CORE (reachable from IN
      and reaching OUT, not in CORE/IN/OUT);
    - ``TENDRILS``: hangs off IN (reachable from IN) or into OUT (reaches
      OUT) but not both;
    - ``DISCONNECTED``: everything else.

    Returns (id, component: string) for every vertex (default universe:
    edge endpoints). Built entirely from the engine's existing fixpoint
    discipline: one SCC run + four frontier searches
    (forward/backward from CORE, forward from IN, backward from OUT), all
    O(diameter) rounds with size-gated joins and nothing O(V) on the
    driver — the same shape Broder ran over a 200M-page crawl, so the plan
    holds at web scale where CORE is ~1/3 of all pages.
    """
    spark = edges.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_verts = _util.approx_vertex_count(edges)
    no_bcast = _util.no_bcast_fn(n_verts)

    e = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(shuffle_p, "src")
        .persist()
    )
    et = (
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .repartition(shuffle_p, "src")
        .persist()
    )
    e.count(), et.count()
    if vertices is None:
        vertices = (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    verts = vertices.select(F.col("id").cast("long")).localCheckpoint(eager=True)

    scc = strongly_connected_components(e, verts)
    # largest SCC = CORE; the winning label is one driver-side row (bounded)
    top = (
        scc.groupBy("scc")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("scc"))
        .limit(1)
        .collect()
    )
    if not top:
        e.unpersist()
        et.unpersist()
        return verts.select("id", F.lit("DISCONNECTED").alias("component"))
    core_lbl = top[0]["scc"]
    core = (
        scc.filter(F.col("scc") == core_lbl)
        .select("id")
        .localCheckpoint(eager=True)
    )

    def reach(edges_by_src: DataFrame, seeds: DataFrame) -> DataFrame:
        return _frontier_search(edges_by_src, seeds, no_bcast).select("id")

    def reach_by_edge(edges_by_src: DataFrame, seeds: DataFrame) -> DataFrame:
        # strictly "via >= 1 edge": the dst of every edge whose src was
        # reached, which may still hold seeds that sit on a cycle
        visited = reach(edges_by_src, seeds).select(F.col("id").alias("src"))
        return (
            edges_by_src.join(no_bcast(visited), "src", "left_semi")
            .select(F.col("dst").alias("id"))
            .distinct()
        )

    out_s = reach(e, core).join(no_bcast(core), "id", "left_anti").localCheckpoint(eager=True)
    in_s = reach(et, core).join(no_bcast(core), "id", "left_anti").localCheckpoint(eager=True)
    # TUBES/TENDRILS probes: strictly "via >= 1 edge" so an IN vertex is not
    # its own witness; membership tests below only consult these for
    # vertices outside CORE/IN/OUT, where any overlap is harmless
    fwd_in = reach_by_edge(e, in_s)
    bwd_out = reach_by_edge(et, out_s)

    def flag(df: DataFrame, name: str) -> DataFrame:
        return df.select("id", F.lit(True).alias(name))

    labeled = (
        verts.join(no_bcast(flag(core, "is_core")), "id", "left")
        .join(no_bcast(flag(in_s, "is_in")), "id", "left")
        .join(no_bcast(flag(out_s, "is_out")), "id", "left")
        .join(no_bcast(flag(fwd_in, "from_in")), "id", "left")
        .join(no_bcast(flag(bwd_out, "to_out")), "id", "left")
        .select(
            "id",
            F.when(F.col("is_core"), "CORE")
            .when(F.col("is_in"), "IN")
            .when(F.col("is_out"), "OUT")
            .when(
                F.coalesce("from_in", F.lit(False))
                & F.coalesce("to_out", F.lit(False)),
                "TUBES",
            )
            .when(
                F.coalesce("from_in", F.lit(False))
                | F.coalesce("to_out", F.lit(False)),
                "TENDRILS",
            )
            .otherwise("DISCONNECTED")
            .alias("component"),
        )
    )
    labeled = labeled.localCheckpoint(eager=True)
    e.unpersist()
    et.unpersist()
    return labeled


def degree_powerlaw(
    edges: DataFrame,
    xmin: int = 5,
    which: str = "in",
) -> DataFrame:
    """Discrete power-law exponent for the degree distribution by the
    Clauset/Shalizi/Newman (2009) continuous-approximation MLE at a fixed
    tail cutoff::

        alpha = 1 + n_tail / Σ_{k >= xmin} ln(k / (xmin − 0.5))

    Web in-degrees are the textbook alpha≈2.1 power law (Broder 2000);
    this one-row report is the health check that a crawl's link graph
    still looks like the web (a link-farm-dominated or truncated crawl
    shifts alpha visibly). ``which``: 'in', 'out', or 'total' degrees over
    the distinct nonloop edge set.

    One degree aggregation + one tail aggregate — two partial-agg
    shuffles, scale-free. Returns (n_tail, alpha) with alpha NULL when no
    vertex reaches the cutoff.
    """
    if which not in ("in", "out", "total"):
        raise ValueError(f"which must be in/out/total, got {which!r}")
    if xmin < 1:
        raise ValueError("xmin must be >= 1")
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    if which == "in":
        ends = e.select(F.col("dst").alias("id"))
    elif which == "out":
        ends = e.select(F.col("src").alias("id"))
    else:
        ends = e.select(F.col("src").alias("id")).union(
            e.select(F.col("dst").alias("id"))
        )
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("k"))
    tail = deg.filter(F.col("k") >= xmin)
    return tail.agg(
        F.count(F.lit(1)).alias("n_tail"),
        (
            F.lit(1.0)
            + F.count(F.lit(1))
            / F.sum(F.log(F.col("k") / F.lit(xmin - 0.5)))
        ).alias("alpha"),
    )
