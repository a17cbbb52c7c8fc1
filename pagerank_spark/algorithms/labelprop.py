"""Synchronous label propagation over the undirected graph.

label_0(v) = v. Each round, every vertex with at least one neighbor adopts
its neighbors' most frequent label; ties break to the smallest label
(deterministic — the fixture contract in FIXTURES.md §5). Vertices without
neighbors keep their label. Runs a fixed number of rounds or until no label
changes, whichever comes first.

One round = join(edges, labels) -> groupBy(dst, label).count ->
max_by(label, (count, -label)) — all hash aggregates; the (count, -label)
struct ordering implements the min-label tie-break without a window.
Physical cost per round: ZERO exchanges on small graphs (broadcast labels
over the cached hash(a) edge table), ONE exchange on big graphs (the
statically-checkpointed labels keep hash(id), so both labels joins are
exchange-free and a single repartition("a") feeds both aggregates — see
_lp_round).

Convergence detection uses an order-insensitive set checksum
(count, bit_xor(xxhash64)) — one cheap scan per round instead of a join.
It is probabilistic: a bit_xor collision (~2^-64 per round) would stop one
round early. The fixed-round mode (check_convergence=False) is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark import util


def _lp_round(und: DataFrame, labels: DataFrame, big: bool) -> DataFrame:
    """One synchronous round as a DataFrame plan.

    Small graphs (labels broadcast): ZERO exchanges — the join preserves
    und's hash(a) and both aggregates reuse it (alias-aware partitioning).
    Big graphs: ONE exchange — und hash(b) x labels' checkpointed hash(id)
    join with no exchange, one repartition("a") feeds BOTH aggregates
    (hash(a) satisfies groupBy(a, label) and groupBy(a)), and the label
    update join reuses hash(id) x the aggregate's hash(id). Requires the
    labels checkpoint to be pinned with util.pin_state (see
    linkanalysis._teleport_iteration for the same contract). Audited by
    tests/test_plans.py::test_labelprop_big_round_single_exchange."""

    def _hs(df: DataFrame) -> DataFrame:
        return df.hint("shuffle_hash") if big else df

    joined = und.join(_hs(labels), und.b == labels.id).select("a", "label")
    if big:
        joined = joined.repartition("a")
    nbr = joined.groupBy(F.col("a").alias("id"), "label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = nbr.groupBy("id").agg(
        F.expr("max_by(label, struct(cnt, -label))").alias("new_label")
    )
    return labels.join(_hs(best), "id", "left").select(
        "id", F.coalesce("new_label", "label").alias("label")
    )


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 10,
    check_convergence: bool = True,
) -> DataFrame:
    """edges(src,dst), vertices(id) -> (id, label). Exact at fixed rounds."""
    labels0 = vertices.select("id", F.col("id").alias("label"))

    # O(V) label/best tables must not be auto-broadcast on big graphs (the
    # driver-OOM class in PLANS.md); small graphs keep the broadcast plans.
    # The vertex count comes free from the convergence checksum when that is
    # on (one fewer action per call).
    prev_sum = util.set_checksum(labels0, "id", "label") if check_convergence else None
    n_vertices = prev_sum[0] if check_convergence else labels0.count()
    big = n_vertices > util.BROADCAST_SAFE_ROWS

    # big graphs: hash(id)-partition the labels and pin them with AQE off
    # so the LogicalRDD KEEPS the partitioning — every round's two labels
    # joins then plan no O(V) re-exchange (AQE-compiled checkpoints record
    # UnknownPartitioning; see util.pin_state)
    labels = util.pin_state(labels0, "id") if big else util.pin_state(labels0)

    # Build the undirected edge table with ONE exchange: mirror first, then
    # repartition on the round key and dedup — HashPartitioning(a) satisfies
    # the dedup's ClusteredDistribution(a, b) (equal pairs colocate), so the
    # dropDuplicates plans no exchange of its own. The edge table is FIXED
    # across rounds, so persist keeps that outputPartitioning (which a
    # localCheckpoint's Scan ExistingRDD would drop) and removes the
    # per-round O(E) exchanges:
    #   small graphs: labels broadcast -> the join preserves und's
    #     partitioning, and HashPartitioning(a) satisfies both groupBy(a,
    #     label) and groupBy(a) — rounds run with ZERO O(E) exchanges.
    #   big graphs: partition by b so the join consumes und's hash(b) x the
    #     checkpointed labels' hash(id) with NO exchange; one
    #     repartition("a") then feeds both aggregates (see _lp_round).
    directed = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    und = (
        directed.union(
            directed.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .repartition("b" if big else "a")
        .dropDuplicates(["a", "b"])
        .persist()
    )
    und.count()  # materialize eagerly, matching the old checkpoint behavior

    for _ in range(max_iter):
        new_labels = util.pin_state(_lp_round(und, labels, big))
        labels.unpersist()
        labels = new_labels
        if check_convergence:
            cur_sum = util.set_checksum(labels, "id", "label")
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    und.unpersist()  # the returned labels are checkpointed — safe to drop
    return labels
