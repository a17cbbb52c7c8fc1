"""Link-analysis extensions beyond the reference surface: HITS/SALSA,
teleport PageRank, Katz centrality, clustering coefficients, BFS/ego
networks, co-citation pair scores and host link features.

The reference engine (/root/reference/Pagerank/src/pagerank32c.c:893-946)
computes only uniform-teleport PageRank. Its iteration with a general
teleport vector runs here in ONE loop, :func:`_teleport_pagerank`, which
steps K vectors at once: K=1 for ``PageRank(mode="dataframe")`` (uniform
1/n), for :func:`personalized_pagerank` and :func:`trustrank` (1/|S| on
the seeds) and for :func:`weighted_pagerank` (uniform, weight-normalized
edges); K=2 for :func:`spam_mass` (both of those teleports); K topics for
:func:`personalized_pagerank_batch`. Every operator re-uses the execution
discipline the audited PageRank/label-propagation loops established
(PLANS.md "statically planned checkpoints"):

- state checkpoints are pinned with ``util.pin_state`` (AQE off) so the
  LogicalRDD keeps its hash(id) partitioning and each iteration plans ONE
  shuffle exchange (the contribution aggregation);
- O(V)-sized join sides are broadcast below ``util.BROADCAST_SAFE_ROWS``
  vertices and forced to shuffle-hash joins above it (``util.no_bcast_fn``;
  the auto-broadcast driver-OOM hazard class, PLANS.md);
- nothing O(V) or O(E) is ever collected to the driver.

The operators are deterministic (fixed iteration counts or exact closed
forms) so they carry DuckDB SQL oracles in ``__spark_entry__.py``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pagerank_spark import util as _util


@dataclass
class HitsResult:
    scores: DataFrame  # (id: long, hub: double, auth: double)
    iterations: int
    iter_seconds: list[float] = field(default_factory=list)


def hits(
    edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 5,
    degree_normalized: bool = False,
) -> HitsResult:
    """HITS (Kleinberg) hubs-and-authorities over a directed edge table.

    ``edges``: (src, dst) long; ``vertices``: (id) long — the full vertex
    universe (vertices with no in-edges get auth 0, no out-edges hub 0).
    Each iteration runs the two half-steps synchronously on the PREVIOUS
    iteration's scores::

        auth'(v) = sum_{u->v} hub(u)      then L1-normalize
        hub'(u)  = sum_{u->v} auth'(v)    then L1-normalize

    L1 normalization (scores are non-negative, so sum == L1) keeps the
    fixed-iteration output deterministic and SQL-reproducible; the principal
    eigenvector direction is the same as under L2.

    ``degree_normalized=True`` runs the SALSA power iteration instead (see
    :func:`salsa`): contributions are divided by the contributing edge's
    outdegree (auth step) / indegree (hub step), i.e. the bipartite
    random-walk chain of Lempel & Moran 2000 rather than HITS's mutual
    reinforcement. Same plan, the weight rides as a column on the edge
    caches.

    Physical plan per half-step: one shuffle (the aggregation). The edge
    cache is partitioned on the half-step's join key; the state checkpoint
    keeps hash(id) via ``util.pin_state``, so the score join and the
    update join are exchange-free (same contract as _teleport_iteration).
    """
    spark = edges.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_verts = _util.approx_vertex_count(edges)

    no_bcast = _util.no_bcast_fn(n_verts)

    # two cached layouts of the same edges: hub-side join consumes hash(src),
    # auth-side join consumes hash(dst) — one-time cost, reused every
    # iteration (the PageRank ew recipe, once per direction). For SALSA the
    # per-direction transition weight (1/outdeg on the auth step, 1/indeg on
    # the hub step) is attached before the repartition so iterations never
    # re-derive degrees.
    if degree_normalized:
        odeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
        ideg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("ideg"))
        e_src = edges.join(no_bcast(odeg), "src").select(
            "src", "dst", (F.lit(1.0) / F.col("odeg")).alias("w")
        )
        e_dst = edges.join(no_bcast(ideg), "dst").select(
            "src", "dst", (F.lit(1.0) / F.col("ideg")).alias("w")
        )
    else:
        e_src = edges.select("src", "dst", F.lit(1.0).alias("w"))
        e_dst = e_src
    e_src = e_src.repartition(shuffle_p, "src").persist()
    e_dst = e_dst.repartition(shuffle_p, "dst").persist()
    e_src.count(), e_dst.count()

    state = _util.pin_state(
        vertices.select(
            F.col("id").cast("long").alias("id"),
            F.lit(1.0).alias("hub"),
            F.lit(1.0).alias("auth"),
        ),
        "id",
    )

    iter_secs: list[float] = []
    for _ in range(max_iter):
        t0 = time.time()
        # auth half-step: contributions keyed by dst
        a_raw = (
            e_src.join(no_bcast(state.select("id", "hub")), e_src.src == F.col("id"))
            .groupBy("dst")
            .agg(F.sum(F.col("hub") * F.col("w")).alias("a_raw"))
        )
        auth = state.join(no_bcast(a_raw), state.id == a_raw.dst, "left").select(
            state.id,
            "hub",
            F.coalesce(F.col("a_raw"), F.lit(0.0)).alias("a_raw"),
        )
        auth = _util.pin_state(auth, "id")
        a_sum = float(auth.agg(F.sum("a_raw")).first()[0] or 0.0)
        a_norm = a_sum if a_sum > 0 else 1.0

        # hub half-step: consumes the just-normalized auth
        h_raw = (
            e_dst.join(
                no_bcast(auth.select("id", (F.col("a_raw") / a_norm).alias("a"))),
                e_dst.dst == F.col("id"),
            )
            .groupBy("src")
            .agg(F.sum(F.col("a") * F.col("w")).alias("h_raw"))
        )
        new_state = auth.join(no_bcast(h_raw), auth.id == h_raw.src, "left").select(
            auth.id,
            F.coalesce(F.col("h_raw"), F.lit(0.0)).alias("h_raw"),
            (F.col("a_raw") / a_norm).alias("auth"),
        )
        new_state = _util.pin_state(new_state, "id")
        h_sum = float(new_state.agg(F.sum("h_raw")).first()[0] or 0.0)
        h_norm = h_sum if h_sum > 0 else 1.0
        # a projection of the checkpoint keeps its hash(id): the next
        # iteration's joins consume it with no exchange and no re-pin
        state = new_state.select(
            "id", (F.col("h_raw") / h_norm).alias("hub"), "auth"
        )
        iter_secs.append(time.time() - t0)

    e_src.unpersist()
    e_dst.unpersist()
    return HitsResult(state.select("id", "hub", "auth"), max_iter, iter_secs)


def salsa(
    edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 5,
) -> HitsResult:
    """SALSA (Lempel & Moran 2000): the stochastic sibling of HITS — the
    same two half-steps, but each contribution is divided by the
    contributing edge's degree, turning mutual reinforcement into a random
    walk on the bipartite hub/authority graph::

        auth'(v) = sum_{u->v} hub(u)  / outdeg(u)   then L1-normalize
        hub'(u)  = sum_{u->v} auth'(v) / indeg(v)   then L1-normalize

    SALSA is the TKC-resistant variant: a tightly-knit link farm that
    dominates HITS's principal eigenvector gets its score diluted by its
    own fan-out, so it's the hub/authority formulation actually usable on
    adversarial web graphs. Same physical plan as :func:`hits` (the
    1/degree weight is attached to the per-direction edge caches once, so
    iterations plan identically — one shuffle per half-step).
    """
    return hits(edges, vertices, max_iter=max_iter, degree_normalized=True)


def _teleport_iteration(
    ew, state, K: int, c: float, dmass, total, no_bcast, salt_partitions=None
):
    """One teleport power-iteration step for K rank vectors at once::

        r_k' = c * (P^T r_k + dmass_k * t_k) + (1-c) * total_k * t_k

    ``state`` is (id, non_dangling, t0.., r0..); the result adds the
    previous ranks as o0.. for the delta. All K vectors ride one edge join
    and ONE shuffle — the contribution groupBy computes K sums at once
    (map-side partials for all K). The contribution join consumes ew's
    hash(src) x the state checkpoint's hash(id), and the rank-update left
    join consumes hash(id) x hash(dst), PROVIDED the state checkpoint was
    pinned with util.pin_state (an AQE-compiled one plans 3 exchanges).
    ``salt_partitions`` swaps in the salted two-stage sum (graph/skew.py).
    Audited by tests/test_plans.py::test_ppr_batch_iteration_single_exchange."""
    joined = ew.join(
        no_bcast(state.select("id", *[f"r{k}" for k in range(K)])),
        ew.src == F.col("id"),
    )
    products = [F.col(f"r{k}") * F.col("w") for k in range(K)]
    outs = [f"c{k}" for k in range(K)]
    if salt_partitions:
        from pagerank_spark.graph.skew import salted_sum

        contribs = salted_sum(
            joined, "dst", products, salt_partitions, salt_source="src", out=outs
        )
    else:
        contribs = joined.groupBy("dst").agg(
            *[F.sum(p).alias(o) for p, o in zip(products, outs)]
        )
    return state.join(no_bcast(contribs), state.id == contribs.dst, "left").select(
        state.id,
        "non_dangling",
        *[F.col(f"t{k}") for k in range(K)],
        *[
            (
                F.lit(c)
                * (
                    F.coalesce(F.col(f"c{k}"), F.lit(0.0))
                    + F.lit(dmass[k]) * F.col(f"t{k}")
                )
                + F.lit((1.0 - c) * total[k]) * F.col(f"t{k}")
            ).alias(f"r{k}")
            for k in range(K)
        ],
        *[state[f"r{k}"].alias(f"o{k}") for k in range(K)],
    )


@dataclass
class TeleportRun:
    """What :func:`_teleport_pagerank` returns. The per-iteration hook sees
    the same object while the loop fills it in."""

    m: int  # edge count: the rows the contribution join reads per iteration
    iterations: int  # number of the last iteration run (start offset included)
    deltas: list[float] = field(default_factory=list)  # max L1 delta over K
    iter_seconds: list[float] = field(default_factory=list)
    ranks: DataFrame | None = None  # (id, r0..r{K-1}), each L1-normalized


def _teleport_pagerank(
    edges: DataFrame,
    n: int,
    teleports: list[Column],
    c: float,
    max_iter: int,
    eps: float,
    seeds: DataFrame | None = None,
    weight_col: str | None = None,
    start: DataFrame | None = None,
    start_iter: int = 0,
    salt_partitions: int | None = None,
    on_iteration=None,
) -> TeleportRun:
    """The one DataFrame power-iteration loop: ``PageRank(mode="dataframe")``
    (K=1, v = 1/n), :func:`personalized_pagerank`, :func:`trustrank`,
    :func:`spam_mass`, :func:`weighted_pagerank` and
    :func:`personalized_pagerank_batch` all run on it. It is the reference
    engine's iteration (src/pagerank32c.c:907-917) with the uniform vector
    1/n replaced by K teleport vectors v_k::

        r0_k = v_k
        r_k' = c * (P^T r_k + dangling_mass_k * v_k) + (1-c) * total_k * v_k

    i.e. dangling mass re-teleports along v_k too. ``teleports`` holds one
    Column per v_k, evaluated on every id in [0, n) after ``seeds`` (an
    id-keyed frame, optional) is left-joined on. P is 1/outdeg, or
    weight / sum-of-out-weights with ``weight_col``; dangling = no
    out-edges.

    ``start`` (id, rank), optional, gives r0's starting ranks (warm start
    or resume; missing ids start at v_0). Iterations are numbered from
    ``start_iter + 1`` up to ``max_iter``. ``on_iteration(run, state,
    dmass, total)`` runs after each step with the :class:`TeleportRun` so
    far, the new state (id, non_dangling, t0.., r0..) and the K scalars.

    Physical cost: ONE shuffle per iteration (the contribution
    aggregation) — the row-normalized edge cache carries hash(src), the
    state checkpoint keeps hash(id) (``util.pin_state``), and the
    teleport columns ride in the state so the update join needs no extra
    v lookup. The per-vector delta/dangling-mass/total scalars come from
    one whole-state aggregate action (3K driver-side doubles); the loop
    stops when EVERY vector's L1 delta is below ``eps``.
    """
    spark = edges.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    no_bcast = _util.no_bcast_fn(n)
    K = len(teleports)

    # row-normalized edge cache: w / (the source's out-weight sum), with
    # unit weights (w = 1/outdeg) when the graph is unweighted
    w = F.lit(1.0) if weight_col is None else F.col(weight_col)
    out = edges.groupBy("src").agg(F.sum(w).alias("out"))
    ew = (
        edges.join(no_bcast(out), "src")
        .select("src", "dst", (w / F.col("out")).alias("w"))
        .repartition(shuffle_p, "src")
        .persist()
    )
    run = TeleportRun(m=ew.count(), iterations=start_iter)

    # state: (id, non_dangling, t0.., r0..) with r = t to start, except r0
    # where ``start`` has a rank. NOTE: spark.range already emits `id: long`
    # — a no-op cast here is NOT harmless: the optimizer collapses it and
    # the checkpoint then records its partitioning against the pre-cast
    # attribute, so every downstream join would re-exchange the state.
    ts = [f"t{k}" for k in range(K)]
    rs = [f"r{k}" for k in range(K)]
    r_start = list(teleports)
    verts = spark.range(0, n, 1, shuffle_p).join(
        no_bcast(out.select(F.col("src").alias("id"), F.lit(True).alias("nd"))),
        "id",
        "left",
    )
    if seeds is not None:
        verts = verts.join(no_bcast(seeds), "id", "left")
    if start is not None:
        verts = verts.join(no_bcast(start.select("id", "rank")), "id", "left")
        r_start[0] = F.coalesce(F.col("rank"), teleports[0])
    state = _util.pin_state(
        verts.select(
            "id",
            F.coalesce(F.col("nd"), F.lit(False)).alias("non_dangling"),
            *[v.alias(t) for v, t in zip(teleports, ts)],
            *[v.alias(r) for v, r in zip(r_start, rs)],
        ),
        "id",
    )

    def sums(df: DataFrame, *per_vector) -> list[list[float]]:
        # K driver-side doubles per aggregate template, in one action
        row = df.agg(*[f(k) for f in per_vector for k in range(K)]).first()
        vals = [float(v or 0.0) for v in row]
        return [vals[i * K : (i + 1) * K] for i in range(len(per_vector))]

    def dangling(k: int) -> Column:
        return F.sum(F.when(~F.col("non_dangling"), F.col(f"r{k}")))

    def mass(k: int) -> Column:
        return F.sum(f"r{k}")

    def delta(k: int) -> Column:
        return F.sum(F.abs(F.col(f"r{k}") - F.col(f"o{k}")))

    def l1(k: int) -> Column:
        return F.sum(F.abs(F.col(f"r{k}")))

    dmass, total = sums(state, dangling, mass)
    for it in range(start_iter + 1, max_iter + 1):
        t0 = time.time()
        new_state = _util.pin_state(
            _teleport_iteration(
                ew, state, K, c, dmass, total, no_bcast, salt_partitions
            )
        )
        dmass, total, deltas = sums(new_state, dangling, mass, delta)
        state = new_state.select("id", "non_dangling", *ts, *rs)
        run.iterations = it
        run.deltas.append(max(deltas))
        run.iter_seconds.append(time.time() - t0)
        if on_iteration is not None:
            on_iteration(run, state, dmass, total)
        if run.deltas[-1] < eps:
            break

    ew.unpersist()
    (norms,) = sums(state, l1)
    run.ranks = state.select(
        "id", *[(F.col(r) / F.lit(norm)).alias(r) for r, norm in zip(rs, norms)]
    )
    return run


def _seed_teleport(seeds: DataFrame, n: int) -> tuple[DataFrame, Column, int]:
    """(distinct seeds as (id, s), the 1/|S| teleport Column, |S|).
    Duplicates would miscount |S| and duplicate state rows; an empty set or
    out-of-range ids would silently shrink the teleport sum (hard errors)."""
    seeds = seeds.select(F.col("id").cast("long").alias("id")).distinct()
    s_stats = seeds.agg(
        F.count(F.lit(1)).alias("k"), F.min("id").alias("lo"), F.max("id").alias("hi")
    ).first()
    n_seeds = int(s_stats["k"])
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    if s_stats["lo"] < 0 or s_stats["hi"] >= n:
        raise ValueError(
            f"seed ids outside [0, {n}): saw [{s_stats['lo']}, {s_stats['hi']}]"
        )
    tele = F.when(F.col("s"), 1.0 / n_seeds).otherwise(0.0)
    return seeds.withColumn("s", F.lit(True)), tele, n_seeds


def personalized_pagerank(
    edges: DataFrame,
    n: int,
    seeds: DataFrame,
    c: float = 0.85,
    max_iter: int = 20,
    eps: float = 0.0,
) -> DataFrame:
    """Topic-sensitive PageRank: teleport lands on ``seeds`` instead of
    uniformly (Haveliwala 2002). ``seeds``: (id) long, non-empty.

    :func:`_teleport_pagerank` with one teleport vector, v(id) = 1/|S| on
    the seed set and 0 elsewhere, so the dangling mass re-teleports to
    the seeds too, sum(r) stays 1 and scores are a probability
    distribution concentrated around the seeds. Duplicate seeds count
    once. Returns (id, rank) L1-normalized, for every vertex in [0, n);
    one shuffle per iteration.
    """
    seeds, tele, _ = _seed_teleport(seeds, n)
    return _teleport_pagerank(
        edges, n, [tele], c, max_iter, eps, seeds=seeds
    ).ranks.select("id", F.col("r0").alias("rank"))


def trustrank(
    edges: DataFrame,
    n: int,
    trusted: DataFrame,
    c: float = 0.85,
    max_iter: int = 20,
    eps: float = 0.0,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): PageRank
    with teleport restricted to a human-vetted trusted core — trust flows
    out along links and attenuates with distance, so spam regions that
    manufacture raw PageRank receive almost none of it. Exactly
    :func:`personalized_pagerank` with the trusted core as the seed set
    (same math, the seeds just carry the 'vetted good' meaning); named
    here because it is the standard anti-spam surface of a web-graph
    engine and the input to :func:`spam_mass`."""
    return personalized_pagerank(
        edges, n, trusted, c=c, max_iter=max_iter, eps=eps
    )


def spam_mass(
    edges: DataFrame,
    n: int,
    trusted: DataFrame,
    c: float = 0.85,
    max_iter: int = 20,
    eps: float = 0.0,
) -> DataFrame:
    """Link-spam mass estimation (Gyöngyi, Berkhin, Garcia-Molina &
    Pedersen 2006): the fraction of each page's PageRank NOT supported by
    a trusted core::

        pr(p)  uniform-teleport PageRank        (L1-normalized, sum 1)
        tr(p)  TrustRank from the core          (L1-normalized, sum 1)
        m(p)   = (pr(p) - (|S|/n) * tr(p)) / pr(p)    relative spam mass

    |S| counts distinct trusted ids, as the teleport does. The |S|/n
    scalar restates the paper's un-normalized core teleport
    (1/n on each trusted page, 0 elsewhere) in terms of this engine's
    1/|S| normalized teleport — PageRank is linear in the teleport
    vector, so the rescaling is exact. m(p) near 1 means the page's rank
    is almost entirely unsupported by the trusted region (link-spam
    candidate); m(p) <= 0 means over-supported (the core's own
    neighborhood). pr(p) > 0 always holds under uniform teleport, so the
    division is safe; the guard is for callers passing degenerate graphs.

    pr and tr are the two vectors of ONE :func:`_teleport_pagerank` loop
    (K=2: teleports 1/n and 1/|S| on the core), read from the same rows.
    With ``eps`` set the loop stops when BOTH L1 deltas are below it; the
    default ``eps=0`` runs exactly ``max_iter`` iterations.

    Returns (id, pagerank, trustrank, rel_mass) for every vertex in
    [0, n).
    """
    seeds, tele, n_seeds = _seed_teleport(trusted, n)
    ranks = _teleport_pagerank(
        edges, n, [F.lit(1.0 / n), tele], c, max_iter, eps, seeds=seeds
    ).ranks
    scale = float(n_seeds) / float(n)
    return ranks.select(
        "id",
        F.col("r0").alias("pagerank"),
        F.col("r1").alias("trustrank"),
        F.when(
            F.col("r0") > 0,
            (F.col("r0") - F.lit(scale) * F.col("r1")) / F.col("r0"),
        )
        .otherwise(F.lit(0.0))
        .alias("rel_mass"),
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient over the undirected simple
    graph: cc(v) = 2*T(v) / (d(v)*(d(v)-1)) with T(v) the triangles through
    v (exact, from the degree-ordered wedge join) and d(v) the distinct
    undirected neighbor count; vertices of degree < 2 get 0.

    Returns (id, degree, n_triangles, cc). Cost: the triangle job (see
    triangles.py — zero-exchange wedge self-join off one persisted pivot
    partitioning) plus one distinct-neighbor aggregation; the final joins
    are on O(V) tables and size-gate their join strategy like every other
    graph operator.
    """
    from pagerank_spark.algorithms.triangles import triangle_counts_per_vertex

    # canonical undirected simple edges (same form triangles._oriented uses:
    # (lo, hi) distinct, self-loops dropped); one exchange on `a` serves the
    # dedup and the degree explode's map-side partials
    canon = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .repartition("a")
        .dropDuplicates(["a", "b"])
    )
    deg = (
        canon.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    n_verts = _util.approx_vertex_count(edges)
    tri = triangle_counts_per_vertex(edges)

    no_bcast = _util.no_bcast_fn(n_verts)

    return (
        deg.join(no_bcast(tri.withColumnRenamed("count", "n_triangles")), "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(0.0)
            .alias("cc"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 30,
    directed: bool = True,
) -> DataFrame:
    """Multi-source BFS hop distances: (id, dist) for every vertex reachable
    from ``sources`` (id) within ``max_hops`` directed (or undirected) hops;
    unreachable vertices are absent. dist = fewest edges from ANY source.

    Runs :func:`_frontier_search` over a hash(src) edge cache (mirrored
    when ``directed=False``); state is O(reached vertices), nothing
    driver-resident.
    """
    spark = edges.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    no_bcast = _util.no_bcast_fn(_util.approx_vertex_count(edges))

    e = edges.select("src", "dst")
    if not directed:
        e = e.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.repartition(shuffle_p, "src").persist()
    e.count()
    dist = _frontier_search(e, sources, no_bcast, max_hops)
    e.unpersist()
    return dist


def _frontier_search(
    e: DataFrame, seeds: DataFrame, no_bcast, max_hops: int | None = None
) -> DataFrame:
    """The engine's one frontier search: (id, dist) for every vertex
    reachable from ``seeds`` (id) along ``e``'s (src, dst) edges within
    ``max_hops`` hops (None: to the fixpoint), dist = fewest edges from
    any seed; seeds have dist 0. ``e`` must arrive hash(src)-partitioned
    (a persisted repartition or a pinned checkpoint).

    Per round: expand the frontier one hop (the edge join consumes e's
    hash(src) x the frontier's hash(id)), drop vertices already settled
    (anti-join against the accumulated distance table), and settle the
    rest. One shuffle (the per-dst aggregate) plus the settled-set
    anti-join; both tables are pinned (``util.pin_state``) so the joins
    consume existing hash(id) partitionings. Stops on an empty frontier
    (one ``isEmpty`` action per round) or at ``max_hops``. The result is
    checkpointed, so the caller may release ``e`` on return.
    """
    dist = _util.pin_state(
        seeds.select(F.col("id").cast("long").alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0)),
        "id",
    )
    frontier = dist.select("id")
    hop = 0
    while max_hops is None or hop < max_hops:
        hop += 1
        nxt = (
            e.join(no_bcast(frontier), e.src == frontier.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.lit(hop).alias("dist"))
        )
        fresh = _util.pin_state(
            nxt.join(no_bcast(dist.select("id")), "id", "left_anti"), "id"
        )
        if fresh.isEmpty():
            break
        dist = _util.pin_state(dist.union(fresh))
        frontier = fresh.select("id")
    return dist


def induced_subgraph(edges: DataFrame, vertex_ids: DataFrame) -> DataFrame:
    """Edges whose BOTH endpoints are in ``vertex_ids`` (id) — edge
    multiplicity preserved. Two left-semi joins against the deduplicated
    vertex set; the vertex side is size-gated (broadcast below
    ``util.BROADCAST_SAFE_ROWS``, shuffle-hash above) like every O(V)
    join side in the engine."""
    v = vertex_ids.select(F.col("id").cast("long").alias("id")).distinct()
    n_verts = _util.approx_vertex_count(vertex_ids, src="id", dst="id")

    no_bcast = _util.no_bcast_fn(n_verts)

    e = edges.join(no_bcast(v), edges.src == v.id, "left_semi")
    return e.join(no_bcast(v), e.dst == v.id, "left_semi")


def ego_network(
    edges: DataFrame,
    centers: DataFrame,
    radius: int = 2,
    directed: bool = True,
) -> DataFrame:
    """The radius-``radius`` ego network of ``centers`` (id): the subgraph
    induced on every vertex within ``radius`` hops of any center — the
    standard neighborhood-extraction primitive for debugging a ranking,
    sampling training subgraphs, or visualizing a spam cluster.

    Composition of the engine's audited pieces: :func:`bfs_distances`
    (one shuffle per hop, state O(reached)) then :func:`induced_subgraph`
    (two size-gated semi-joins). Returns the induced edge table; call
    ``bfs_distances`` directly when the hop distances are also needed.
    """
    reached = bfs_distances(edges, centers, max_hops=radius, directed=directed)
    return induced_subgraph(edges, reached.select("id"))


def weighted_pagerank(
    edges: DataFrame,
    n: int,
    c: float = 0.85,
    max_iter: int = 20,
    eps: float = 0.0,
    weight_col: str = "weight",
) -> DataFrame:
    """PageRank over a weighted edge table (src, dst, weight > 0) — the
    host-graph variant of the engine's uniform PageRank (reference
    semantics src/pagerank32c.c:907-917, with 1/outdeg replaced by
    weight / sum-of-out-weights)::

        P'[u][v]  = w(u,v) / sum_x w(u,x)
        r'        = c * (P'^T r + dangling_mass / n) + (1-c)/n * total

    Dangling = no out-edges; teleport uniform. Returns (id, rank)
    L1-normalized for every vertex in [0, n).

    :func:`_teleport_pagerank` with the weight-normalized edge cache and
    one uniform teleport vector: one shuffle per iteration, the same plan
    as personalized_pagerank.
    """
    return _teleport_pagerank(
        edges, n, [F.lit(1.0 / n)], c, max_iter, eps, weight_col=weight_col
    ).ranks.select("id", F.col("r0").alias("rank"))


def co_citation(
    edges: DataFrame,
    min_count: int = 2,
    max_src_fanout: int | None | str = "auto",
    materialize: bool = True,
) -> DataFrame:
    """Co-citation pairs (Small 1973): (a, b, n_common_src) — the number of
    pages whose out-links include BOTH a and b (a < b), the classic
    link-based relatedness signal for web pages.

    The pair generation is a self-join keyed on src, so one hub source with
    outdeg f emits f^2 pairs — the same blowup class as the dedup module's
    hot shingles, with the same treatment: sources with outdeg >
    ``max_src_fanout`` are EXCLUDED from pair generation ("auto" = 1000;
    None opts into the uncapped plan). Unlike the shingle cap there is no
    exact re-score: a hub source's co-citations are dropped, not deferred —
    a page linking to thousands of targets is a directory/boilerplate page
    whose co-citation signal is noise (documented approximation; counts
    among surviving pairs are exact contributions of non-hub sources).

    Physical plan: one repartition on src serves the fanout filter's
    semi-join AND both sides of the self-join (alias projections of the
    same cached partitioning — the triangles wedge recipe); the pair count
    is the one real shuffle, with map-side partial counts.
    """
    spark = edges.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    if max_src_fanout == "auto":
        max_src_fanout = 1000
    by_src = e.repartition(shuffle_p, "src")
    if max_src_fanout is not None:
        deg = by_src.groupBy("src").agg(F.count(F.lit(1)).alias("f"))
        keep = deg.filter(F.col("f") <= max_src_fanout).select("src")
        by_src = by_src.join(keep, "src", "left_semi")
    by_src = by_src.persist()
    m = by_src.count()

    # both self-join sides are O(E): above the gate, never let Catalyst
    # broadcast one (the standard driver-OOM guard); hinted SHJ reuses
    # the cached hash(src) on both sides — zero extra exchange
    no_bcast = _util.no_bcast_fn(m)

    a = by_src.select("src", F.col("dst").alias("a"))
    b = by_src.select("src", F.col("dst").alias("b"))
    pairs = (
        a.join(no_bcast(b), "src")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common_src"))
        .filter(F.col("n_common_src") >= min_count)
    )
    # materialize before releasing the cache the pair plan references
    # (the siblings' checkpoint+unpersist contract; returning a lazy frame
    # over by_src would pin the O(E) cache for the session lifetime).
    # materialize=False keeps the lazy plan — for plan audits and fused
    # composition — and leaves by_src pinned for the caller to release.
    if materialize:
        pairs = pairs.localCheckpoint(eager=True)
        by_src.unpersist()
    return pairs


def bibliographic_coupling(
    edges: DataFrame,
    min_count: int = 2,
    max_dst_fanin: int | None | str = "auto",
) -> DataFrame:
    """Bibliographic-coupling pairs (Kessler 1963): (a, b, n_common_dst) —
    the number of pages that BOTH a and b link to (a < b). Exactly
    co-citation on the transposed graph; the fan-in cap plays the hub role
    (a page cited by everyone says nothing about its citers' relatedness).
    """
    t = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return co_citation(t, min_count=min_count, max_src_fanout=max_dst_fanin).select(
        "a", "b", F.col("n_common_src").alias("n_common_dst")
    )


def adamic_adar(
    edges: DataFrame,
    min_common: int = 2,
    max_src_fanout: int | None | str = "auto",
    variant: str = "adamic_adar",
    materialize: bool = True,
) -> DataFrame:
    """Degree-weighted co-citation for link prediction: (a, b, n_common_src,
    score) where score = Σ over common sources s of w(outdeg(s)), with
    w(f) = 1/ln(f) (Adamic & Adar 2003) or w(f) = 1/f
    (``variant="resource_allocation"``, Zhou/Lü/Zhang 2009).

    A directory page linking to thousands of targets co-cites every pair of
    them but carries almost no relatedness signal; the inverse-(log-)degree
    weight discounts it continuously where ``co_citation``'s fanout cap cuts
    it off. Both mitigations compose: the cap bounds the f² pair blowup (the
    scale guard), the weight calibrates whatever survives.

    Physical plan is co_citation's exactly — one hash(src) repartition
    reused by the degree aggregation, the fanout semi-join, and both
    self-join sides; the pair aggregation is the single real shuffle. The
    per-source weight rides along as a column on the cached edge rows, so
    the weighted variant plans identically to the unweighted one. Only
    sources with outdeg ≥ 2 can produce a pair (a < b needs two distinct
    dsts), so ln(f) is never 0 where the weight is consumed.
    """
    if variant not in ("adamic_adar", "resource_allocation"):
        raise ValueError(f"unknown variant: {variant!r}")
    spark = edges.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    if max_src_fanout == "auto":
        max_src_fanout = 1000
    by_src = e.repartition(shuffle_p, "src")
    # outdeg-1 sources can never co-cite a pair; dropping them up front both
    # shrinks the self-join and keeps ln(f)/f division ANSI-safe (ln(1)=0)
    deg = by_src.groupBy("src").agg(F.count(F.lit(1)).alias("f")).filter(F.col("f") >= 2)
    if max_src_fanout is not None:
        deg = deg.filter(F.col("f") <= max_src_fanout)
    w = (
        F.lit(1.0) / F.log(F.col("f"))
        if variant == "adamic_adar"
        else F.lit(1.0) / F.col("f")
    )
    # deg is hash(src)-partitioned from the same exchange as by_src, so this
    # join is co-located (zero extra shuffle); inner join doubles as the
    # fanout-cap semi-join when the cap is active.
    by_src = by_src.join(deg.select("src", w.alias("w")), "src").persist()
    m = by_src.count()

    no_bcast = _util.no_bcast_fn(m)

    a = by_src.select("src", F.col("dst").alias("a"), "w")
    b = by_src.select("src", F.col("dst").alias("b"))
    pairs = (
        a.join(no_bcast(b), "src")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common_src"),
            F.sum("w").alias("score"),
        )
        .filter(F.col("n_common_src") >= min_common)
    )
    # materialize=False keeps the lazy plan for audits/composition and
    # leaves by_src pinned for the caller to release (co_citation contract)
    if materialize:
        pairs = pairs.localCheckpoint(eager=True)
        by_src.unpersist()
    return pairs


def personalized_pagerank_batch(
    edges: DataFrame,
    n: int,
    seeds: DataFrame,
    c: float = 0.85,
    max_iter: int = 20,
    eps: float = 0.0,
    max_topics: int = 128,
) -> DataFrame:
    """K topic-sensitive PageRank vectors in ONE power-iteration loop
    (Haveliwala 2002 ran one loop per topic; at web scale the edge scan
    dominates, so batching K topics into one plan is the difference
    between K full passes over a 100 TB edge table and one).

    ``seeds``: (topic, id) — K distinct topic labels, each with a non-empty
    seed set; per-topic semantics are EXACTLY ``personalized_pagerank``'s
    (teleport 1/|S_k| on topic k's seeds, dangling mass re-teleports to the
    seeds, r0 = v). Returns (topic: string, id, rank) with each topic's
    vector L1-normalized.

    Physical plan: :func:`_teleport_pagerank` with K teleport columns, so
    each iteration is STILL one edge-join + one shuffle — the contribution
    aggregation computes K sums in a single groupBy, and the per-topic
    scalars come from one aggregate action (3K driver-side doubles, bounded
    by ``max_topics``). Shuffle bytes grow K-fold per row, but rows, joins,
    stages, and edge-scan passes do not. With ``eps`` set, the loop stops
    when EVERY topic's L1 delta is below it.
    """
    seeds = seeds.select(
        F.col("topic").cast("string").alias("topic"),
        F.col("id").cast("long").alias("id"),
    ).distinct()
    per_topic = (
        seeds.groupBy("topic")
        .agg(F.count(F.lit(1)).alias("k"), F.min("id").alias("lo"), F.max("id").alias("hi"))
        .orderBy("topic")
        .limit(max_topics + 1)
        .collect()
    )
    if not per_topic:
        raise ValueError("personalized_pagerank_batch needs a non-empty seed set")
    if len(per_topic) > max_topics:
        raise ValueError(f"more than max_topics={max_topics} topics")
    topics = [r["topic"] for r in per_topic]
    sizes = {r["topic"]: int(r["k"]) for r in per_topic}
    for r in per_topic:
        if r["lo"] < 0 or r["hi"] >= n:
            raise ValueError(
                f"topic {r['topic']!r}: seed ids outside [0, {n}): "
                f"[{r['lo']}, {r['hi']}]"
            )
    # one vertex-side join builds all K teleport columns: seed membership
    # arrives as a per-id set of topics
    seed_sets = seeds.groupBy("id").agg(F.collect_set("topic").alias("ts"))
    teleports = [
        F.when(F.array_contains(F.col("ts"), t), 1.0 / sizes[t]).otherwise(0.0)
        for t in topics
    ]
    ranks = _teleport_pagerank(
        edges, n, teleports, c, max_iter, eps, seeds=seed_sets
    ).ranks
    # melt via explode of literal structs — topic labels are user data, so
    # they must never be spliced into a SQL string (quotes/backslashes in a
    # label would break or alter an F.expr stack())
    melted = F.explode(
        F.array(
            *[
                F.struct(F.lit(t).alias("topic"), F.col(f"r{k}").alias("rank"))
                for k, t in enumerate(topics)
            ]
        )
    )
    return ranks.select("id", melted.alias("m")).select(
        F.col("m.topic").alias("topic"), "id", F.col("m.rank").alias("rank")
    )


def host_link_features(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Per-host link-spam / nepotism signals (the hand-feature family of
    Fetterly et al. 2004 / Ntoulas et al. 2006, computed on link structure
    alone): given page edges and a page→host ``mapping`` (id, group),
    returns per host

    - ``n_pages``: pages mapped to the host
    - ``n_outlinks``: out-edges from the host's pages (parallel edges kept
      — a 1000-link footer counts 1000 times, which is the signal)
    - ``intra_frac``: fraction of those staying inside the host (navigation
      vs endorsement; near-1.0 with high fanout marks link farms)
    - ``n_out_hosts``: distinct other hosts linked
    - ``reciprocal_frac``: fraction of linked hosts that link back (link
      exchanges); 0.0 when the host links to no other host

    Hosts with pages but no out-edges appear with zero counts (a parked
    domain is a feature, not a missing row).

    Plan: two size-gated mapping joins lift edges to host granularity
    (contract_graph's shape); the per-host counts are one partial-agg
    shuffle; reciprocity is a distinct host-pair self-semi-join — all
    O(E)+O(hosts), no windows.
    """
    n_verts = _util.approx_vertex_count(edges)

    no_bcast = _util.no_bcast_fn(n_verts)

    m_src = mapping.select(F.col("id").alias("src"), F.col("group").alias("hsrc"))
    m_dst = mapping.select(F.col("id").alias("dst"), F.col("group").alias("hdst"))
    he = (
        edges.join(no_bcast(m_src), "src")
        .join(no_bcast(m_dst), "dst")
        .select("hsrc", "hdst")
    )
    outs = he.groupBy(F.col("hsrc").alias("host")).agg(
        F.count(F.lit(1)).alias("n_outlinks"),
        F.sum(F.when(F.col("hsrc") == F.col("hdst"), 1).otherwise(0)).alias("n_intra"),
        F.count_distinct(
            F.when(F.col("hsrc") != F.col("hdst"), F.col("hdst"))
        ).alias("n_out_hosts"),
    )
    hpair = (
        he.filter(F.col("hsrc") != F.col("hdst"))
        .select(F.col("hsrc").alias("a"), F.col("hdst").alias("b"))
        .distinct()
    )
    recip = (
        hpair.join(
            no_bcast(hpair.select(F.col("b").alias("a"), F.col("a").alias("b"))),
            ["a", "b"],
            "left_semi",
        )
        .groupBy(F.col("a").alias("host"))
        .agg(F.count(F.lit(1)).alias("n_recip"))
    )
    pages = mapping.groupBy(F.col("group").alias("host")).agg(
        F.count(F.lit(1)).alias("n_pages")
    )
    return (
        pages.join(no_bcast(outs), "host", "left")
        .join(no_bcast(recip), "host", "left")
        .select(
            "host",
            "n_pages",
            F.coalesce("n_outlinks", F.lit(0)).alias("n_outlinks"),
            F.when(
                F.coalesce("n_outlinks", F.lit(0)) > 0,
                F.coalesce("n_intra", F.lit(0))
                / F.coalesce("n_outlinks", F.lit(0)).cast("double"),
            )
            .otherwise(0.0)
            .alias("intra_frac"),
            F.coalesce("n_out_hosts", F.lit(0)).alias("n_out_hosts"),
            F.when(
                F.coalesce("n_out_hosts", F.lit(0)) > 0,
                F.coalesce("n_recip", F.lit(0))
                / F.coalesce("n_out_hosts", F.lit(0)).cast("double"),
            )
            .otherwise(0.0)
            .alias("reciprocal_frac"),
        )
    )


def katz_centrality(
    edges: DataFrame,
    n: int,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 20,
    eps: float = 0.0,
) -> DataFrame:
    """Katz centrality (Katz 1953): x' = α·Aᵀx + β, the attenuated count
    of all inbound paths — the classic centrality between raw in-degree
    (α→0) and eigenvector centrality (α→1/λ_max). Converges for
    α < 1/λ_max; at web scale pick α ≤ 1/max_indegree (a safe lower bound
    on 1/λ_max for nonnegative matrices).

    Returns (id, katz) for every vertex in [0, n), L2-normalized (the
    convention of the original formulation and NetworkX, making scores
    comparable across graphs). Same physical contract as the engine's
    other power iterations: edge cache hash(src), state checkpoints keep
    hash(id) via pin_state, ONE shuffle per iteration (the
    contribution aggregation); with ``eps`` set, stops when the L1 step
    delta falls below it.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    spark = edges.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))

    no_bcast = _util.no_bcast_fn(n)

    e = (
        edges.select("src", "dst")
        .distinct()
        .repartition(shuffle_p, "src")
        .persist()
    )
    e.count()
    state = _util.pin_state(
        spark.range(0, n, 1, shuffle_p).select("id", F.lit(float(beta)).alias("x")),
        "id",
    )
    for _ in range(max_iter):
        contrib = (
            e.join(no_bcast(state.select(F.col("id").alias("src"), "x")), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("x").alias("c"))
        )
        new_state = state.join(no_bcast(contrib), "id", "left").select(
            "id",
            (F.lit(float(alpha)) * F.coalesce(F.col("c"), F.lit(0.0))
             + F.lit(float(beta))).alias("x"),
            F.col("x").alias("old_x"),
        )
        new_state = _util.pin_state(new_state)
        delta = float(
            new_state.agg(F.sum(F.abs(F.col("x") - F.col("old_x")))).first()[0]
        )
        state = new_state.select("id", "x")
        if delta < eps:
            break
    e.unpersist()
    norm = float(state.agg(F.sqrt(F.sum(F.col("x") * F.col("x")))).first()[0])
    return state.select("id", (F.col("x") / F.lit(norm)).alias("katz"))


def host_mirror_pairs(
    edges: DataFrame,
    mapping: DataFrame,
    threshold: float = 0.8,
    max_dst_fanin: int | None | str = "auto",
) -> DataFrame:
    """Mirror/duplicate-host detection (Bharat & Broder 1999, "Mirror,
    mirror on the Web"): hosts whose DISTINCT external outlink-host sets
    overlap with Jaccard >= threshold — the structure-only signal that two
    hosts serve the same site (mirrors, aliases, parked duplicates), used
    to collapse them before ranking double-counts their links.

    ``mapping`` is (id, group) page→host. Pair generation is the
    bibliographic-coupling inverted index over the host graph (shared
    outlink-host = candidate), with the same fan-in cap discipline: a
    target host linked by everyone (a CDN, a social widget) is excluded
    from CANDIDATE GENERATION and from the intersection count, making the
    reported jaccard a lower bound under the cap; ``max_dst_fanin=None``
    is exact. Returns (a, b, n_common, jaccard) with a < b.

    Cost: the host graph is |hosts|²-free — one contract_graph rollup,
    one distinct, the capped self-join keyed on the shared target, and
    two size joins. All O(host edges), no page-level pair ever forms.
    """
    from pagerank_spark.algorithms.structure import contract_graph

    he = contract_graph(edges, mapping, drop_internal=True).select("src", "dst")
    hset = he.distinct()
    sizes = hset.groupBy("src").agg(F.count(F.lit(1)).alias("sz"))
    pairs = bibliographic_coupling(
        hset, min_count=1, max_dst_fanin=max_dst_fanin
    )
    sa = sizes.select(F.col("src").alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("src").alias("b"), F.col("sz").alias("sz_b"))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.col("n_common_dst").alias("n_common"),
            (
                F.col("n_common_dst")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common_dst")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
