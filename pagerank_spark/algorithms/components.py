"""Connected components via alternating large-star / small-star rounds
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14).

Both phases are pure join/aggregate DataFrame programs — no collect_list, so
a hub with 1e7 neighbors never materializes its neighborhood in one task:

  large-star: for each u, m(u) = min({u} ∪ Γ(u)); emit (v, m(u)) for every
              neighbor v > u.   [groupBy-min + join + filter]
  small-star: orient every edge high->low; for each u, m = min of its
              smaller neighbors ∪ {u}; emit (u, m) and (v, m) for the other
              smaller neighbors.

At the fixpoint every component is a star centered at its minimum vertex id.
Convergence is detected by an order-insensitive checksum of the edge set
(sum of xxhash64(u, v) + count) — one tiny aggregate per round. Each round
localCheckpoints the edge set (lineage truncation, same rationale as the
PageRank loop); with a Catalog attached, rounds checkpoint durably and a
killed run resumes from the last committed round.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark import util
from pagerank_spark.lineage import LineageWriter, commit_iteration, last_checkpoint


def _dedup(e: DataFrame) -> DataFrame:
    return e.filter(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])


# The hint gate keys on the broadcast-side (vertex/min-table) row count, not
# total edges: the OOM hazard is the O(V) min-table's in-memory hash relation
# (see util.BROADCAST_SAFE_ROWS). Gating on edges was too blunt — a 4M-edge /
# 400k-vertex graph paid shuffle joins its vertex tables never needed
# (round-2 bench regression).


def _large_star(e: DataFrame, big: bool) -> DataFrame:
    """Γ taken over both directions; emit (v, m(u)) for v in Γ(u), v > u."""
    und = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # one exchange on u serves the min-aggregate AND the und⋈m join below —
    # without it the join re-exchanges the full O(2E) mirrored set after the
    # groupBy's post-partial-agg exchange
    und = und.repartition("u")
    m = und.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("u", "mn").alias("m"))
    if big:
        m = m.hint("shuffle_hash")
    # no trailing dedup: every consumer is _small_star, whose canonicalize +
    # dropDuplicates subsumes it — one O(E) shuffle per round instead of two
    return (
        und.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame, big: bool) -> DataFrame:
    """Orient high->low, group by the high endpoint, link all to the min."""
    hi_lo = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    # one exchange on u serves BOTH the dedup and the min-aggregate:
    # HashPartitioning(u) satisfies the dedup's ClusteredDistribution(u, v),
    # and the groupBy(u) below reuses the same partitioning — previously the
    # dedup exchanged on (u, v) and the groupBy exchanged again on u
    hi_lo = (
        hi_lo.filter(F.col("u") != F.col("v"))
        .repartition("u")
        .dropDuplicates(["u", "v"])
    )
    m = hi_lo.groupBy("u").agg(F.min("v").alias("m"))
    if big:
        m = m.hint("shuffle_hash")
    out = hi_lo.join(m, "u").filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_link = m.select("u", F.col("m").alias("v"))
    return _dedup(out.union(self_link))


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 50,
    catalog=None,
    lineage: LineageWriter | None = None,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """edges(src,dst) [+ vertices(id) to include isolated nodes]
    -> (id, component), component = min vertex id of the component. Exact."""
    run_id = run_id or uuid.uuid4().hex[:12]
    spark = edges.sparkSession
    table = f"cc_ckpt_{run_id}"
    last = last_checkpoint(spark, catalog, table) if resume and catalog is not None else None
    if last is not None:
        e, start_iter = last[0].localCheckpoint(eager=True), last[1]
    else:
        e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        e, start_iter = _dedup(e).localCheckpoint(eager=True), 0
    # no pre-loop checksum scan: the loop compares consecutive iterates, and
    # round 1's output is in star form while the input is not — prev=None
    # just means the first comparison can't fire (it couldn't have anyway)
    prev: tuple[int, int] | None = None
    big = util.approx_vertex_count(e, "u", "v") > util.BROADCAST_SAFE_ROWS
    for it in range(start_iter + 1, max_iter + 1):
        t0 = time.time()
        e_next = _small_star(_large_star(e, big), big).localCheckpoint(eager=True)
        cur = util.set_checksum(e_next, "u", "v")
        e.unpersist()
        e = e_next
        commit_iteration(
            catalog, lineage, table, e, run_id, it, rows_shuffled=cur[0],
            residual_l1=float(cur != prev), wall_time_s=time.time() - t0,
            extra={"algo": "cc"},
        )
        if cur == prev:
            break
        prev = cur

    # at fixpoint: every edge links a member to its component min
    membership = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    comp = membership.union(roots).groupBy("id").agg(
        F.min("component").alias("component")
    )
    if vertices is not None:
        comp = (
            vertices.select("id")
            .join(comp, "id", "left")
            .select("id", F.coalesce("component", "id").alias("component"))
        )
    return comp
