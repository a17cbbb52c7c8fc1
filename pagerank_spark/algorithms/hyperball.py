"""HyperBall: approximate neighborhood function, effective diameter, and
harmonic centrality via per-vertex HyperLogLog counters (Boldi & Vigna,
"In-Core Computation of Geometric Centralities with HyperBall", 2013; the
HyperANF recurrence from Boldi, Rosa & Vigna, WWW 2011).

The reference engine (/root/reference/Pagerank/src/pagerank32c.c) computes
only PageRank; distance-based statistics (effective diameter, harmonic /
closeness centrality) are the other half of the classic web-graph
measurement suite and are exactly what HyperBall was invented for at
Common-Crawl scale — exact per-pair BFS is O(V·E) and dead on arrival at
10^12 documents, while the HLL recurrence is one fixed-width register
merge per edge per hop.

Semantics: each vertex v carries an HLL counter approximating
|B(v, t)| = |{w : dist(v, w) <= t}| (out-balls; ``reverse=True`` gives
in-balls, i.e. "who can reach v", the direction centralities need). The
recurrence is

    B(v, t+1) = B(v, t)  union  U_{(v,w) in E} B(w, t)

which on HLL registers is an elementwise integer ``max`` — associative and
idempotent, so re-running a converged round is a no-op (what makes the
unrolled SQL oracle in __spark_entry__.py exact). The engine adds a
self-loop (v, v) for every vertex to the cached edge table, which folds the
"union B(v, t)" term into the same neighbor merge — one aggregation per hop
and NO own-ball join at all.

Representation: m = 64 registers (b = 6, rsd = 1.04/sqrt(64) ~ 13%) PACKED
8-per-long into 8 BIGINT columns p0..p7 — register j lives in long j >> 3,
byte lane j & 7 (bits 8*(j&7) .. +8). Values are rho <= 55 so a byte lane
never overflows and lane extraction (shiftright + & 255) / repacking
(shiftleft + |) are whole-stage-codegen JVM built-ins — no UDF anywhere.
Packing matters because UnsafeRow spends 8 bytes per FIELD regardless of
type: 64 int columns cost ~520 B/vertex through every join, sort, shuffle
and checkpoint, while 8 longs cost ~88 B — a 6x cut in the bytes every hop
moves (measured r5: the 64-column layout shipped ~1.7 GB/hop of partial
aggregation buffers at the 100k-vertex/4M-edge bench graph; the packed raw
rows ship ~350 MB).

The hash is the engine's md5 convention (md5 hex prefix -> 60-bit int),
bit-for-bit reproducible in DuckDB
(``('0x' || substr(md5(x), 1, 15))::UBIGINT``), so the oracle checks the
registers themselves: register index j = h mod 64, and rho = 1 + leading
zeros of the remaining 54 bits (1 <= rho <= 55).

Exactness contract for the oracle: per-vertex ``s_int`` (the integer-scaled
denominator sum_j 2^(55 - r_j), <= 2^61 so it fits a BIGINT exactly) and
``zero_regs`` are pure integers — no float leaves the engine on the checked
path; the float estimate is a closed-form function of (s_int, zero_regs)
unit-tested against a pure-Python HLL simulation, and the packed registers
are asserted bit-equal to that simulation on the micro graphs.

Physical plan per hop (audited in tests/test_plans.py): the edge cache
(out-edges plus the per-vertex self-loop) carries hash(dst), the state
checkpoint keeps hash(id) via ``util.pin_state``, so the ball-pull join
is exchange-free; the ONE shuffle is an explicit repartition of the pulled
PACKED rows by src feeding an exchange-free groupBy(src) lane-max merge.
Raw packed rows beat Catalyst's default partial-aggregation exchange here
for a structural reason: partial buffers are one 8-byte slot per aggregate
(64 slots, ~520 B/row) and combine only when a src repeats within a
partition — at P partitions the expected combine ratio is out-degree / P,
which is BELOW 1 whenever P exceeds the average out-degree (true at any
realistic cluster size: web pages link to ~tens of pages, clusters run
thousands of partitions). Shuffling the O(E) 88-byte rows is therefore
strictly fewer bytes than shuffling the O(min(E, V·P)) 520-byte buffers,
at bench scale and even more so at 100 TB. Skew note: rows-per-reduce-key
is OUT-degree (bounded by links-per-page, not the heavy-tailed in-degree);
in-degree hubs concentrate the ball-pull join's dst partitions exactly as
they did the old plan — same exposure, no regression.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark import util as _util

M = 64  # registers per counter (b = 6)
_B = 6  # index bits
_HASH_BITS = 60  # md5 hex prefix length 15 -> 60-bit hash
_VALUE_BITS = _HASH_BITS - _B  # 54 bits feed rho; 1 <= rho <= 55
_RHO_MAX = _VALUE_BITS + 1
ALPHA_M = 0.7213 / (1.0 + 1.079 / M)  # standard HLL bias constant, m >= 64
# raw estimate = ALPHA_M * m^2 / sum_j 2^(-r_j)
#              = (ALPHA_M * m^2 * 2^55) / s_int      with s_int a BIGINT
_EST_NUM = ALPHA_M * M * M * float(1 << _RHO_MAX)

NLONGS = 8  # 64 registers / 8 byte-lanes per long


def _hash60(col):
    """The engine's md5 60-bit hash (shared definition: util.md5_hash60)."""
    return _util.md5_hash60(col)


def _pack_cols():
    return [f"p{i}" for i in range(NLONGS)]


def _lane_sql(j: int) -> str:
    """SQL for register j extracted from the packed longs (0 <= value <= 55)."""
    return f"(shiftright(p{j >> 3}, {8 * (j & 7)}) & 255)"


def _init_registers(vertices: DataFrame) -> DataFrame:
    """B(v, 0) = {v}: one nonzero register per vertex, packed. j = h mod 64;
    rho = 1 + leading zeros of (h >> 6) within 54 bits = 55 - bitlen(h >> 6);
    register j is byte lane (j & 7) of long (j >> 3)."""
    h = _hash60(F.col("id"))
    base = vertices.select(
        "id", (h % M).alias("_j"), F.shiftright(h, _B).alias("_rem")
    ).withColumn(
        "_rho",
        F.when(F.col("_rem") == 0, F.lit(_RHO_MAX)).otherwise(
            F.lit(_RHO_MAX) - F.length(F.bin(F.col("_rem")))
        ),
    )
    return base.select(
        "id",
        *[
            F.expr(
                f"if(shiftright(_j, 3) = {i}, "
                f"shiftleft(cast(_rho as bigint), cast((_j & 7) * 8 as int)), 0L)"
            ).alias(f"p{i}")
            for i in range(NLONGS)
        ],
    )


def estimate_expr(s_int, zero_regs):
    """Corrected HLL cardinality estimate as a Column expression.

    raw = ALPHA_M * m^2 * 2^55 / s_int; LinearCounting below 2.5m with
    empty registers present (the standard small-range correction). Pure
    function of the two oracle-checked integers."""
    raw = F.lit(_EST_NUM) / s_int.cast("double")
    return F.when(
        (raw <= F.lit(2.5 * M)) & (zero_regs > 0),
        F.lit(float(M)) * F.log(F.lit(float(M)) / zero_regs.cast("double")),
    ).otherwise(raw)


def estimate_py(s_int: int, zero_regs: int) -> float:
    """Python twin of estimate_expr (unit-tested equal)."""
    raw = _EST_NUM / float(s_int)
    if raw <= 2.5 * M and zero_regs > 0:
        return float(M) * math.log(float(M) / zero_regs)
    return raw


def _summary_cols():
    """(s_int, zero_regs) from the packed registers — exact integers."""
    terms = [F.expr(f"shiftleft(1L, {_RHO_MAX} - {_lane_sql(j)})") for j in range(M)]
    s_int = terms[0]
    for t in terms[1:]:
        s_int = s_int + t
    zeros = [F.when(F.expr(_lane_sql(j)) == 0, 1).otherwise(0) for j in range(M)]
    z = zeros[0]
    for t in zeros[1:]:
        z = z + t
    return s_int.alias("s_int"), z.cast("int").alias("zero_regs")


def _hop(e_dst: DataFrame, state: DataFrame, no_bcast) -> DataFrame:
    """One HyperBall hop: pull counters along edges (join on hash(dst) x the
    checkpoint's hash(id), exchange-free — e_dst includes the per-vertex
    self-loop, so the own ball rides the same pull), repartition the packed
    88-byte rows by src (the ONE shuffle), and lane-max-merge per src with
    an exchange-free groupBy. The output aliases src -> id carrying the
    hash(src) partitioning, so the next hop chains exchange-free. Audited by
    tests/test_plans.py::test_hyperball_hop_single_exchange."""
    spark = state.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    packs = _pack_cols()
    pulled = e_dst.join(no_bcast(state), e_dst.dst == state.id).select("src", *packs)
    spread = pulled.repartition(shuffle_p, "src")
    merged = spread.groupBy("src").agg(
        *[F.max(F.expr(_lane_sql(j))).alias(f"m{j}") for j in range(M)]
    )
    repacked = [
        F.expr(
            " | ".join(
                f"shiftleft(cast(m{8 * i + k} as bigint), {8 * k})" for k in range(8)
            )
        ).alias(f"p{i}")
        for i in range(NLONGS)
    ]
    return merged.select(F.col("src").alias("id"), *repacked)


def _edge_cache(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The ball-pull edge cache every hop joins on dst == state.id, built and
    materialized once, plus its vertex table (id). The per-vertex self-loop
    folds "union own ball" into the same pull (no per-hop own-ball join)."""
    shuffle_p = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    e_dst = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .union(vertices.select(F.col("id").alias("src"), F.col("id").alias("dst")))
        # repartition BEFORE dedup: hash(dst) clusters (src, dst), so the
        # dropDuplicates aggregate reuses the exchange — one O(E) shuffle
        # for the whole setup instead of distinct-then-repartition's two
        .repartition(shuffle_p, "dst")
        .dropDuplicates(["src", "dst"])
        # sort the cache by the join key ONCE: the per-hop sort-merge pull
        # join then reuses the cached ordering instead of re-sorting the
        # O(E) side every hop (InMemoryTableScan preserves outputOrdering)
        .sortWithinPartitions("dst")
        .persist()
    )
    e_dst.count()
    # the cache holds EXACTLY one self-loop per vertex: reuse it as the
    # vertex table (exact count, no second O(E) distinct scan)
    verts = e_dst.filter(F.col("src") == F.col("dst")).select(F.col("src").alias("id"))
    return e_dst, verts


@dataclass
class HyperBallResult:
    balls: DataFrame  # (id, t, s_int, zero_regs, ball_est) for t = 0..T
    nf: list[float]  # neighborhood function NF(t) = sum_v est|B(v,t)|, t=0..T
    effective_diameter: float  # smallest interpolated t with NF >= 0.9*NF(T)
    iterations: int  # T actually run (may stop early on register fixpoint)
    iter_seconds: list[float] = field(default_factory=list)


def hyperball(
    edges: DataFrame,
    t_max: int = 16,
    reverse: bool = False,
    alpha: float = 0.9,
) -> HyperBallResult:
    """Run the HyperBall recurrence for up to ``t_max`` hops (stopping early
    at the register fixpoint — the set checksum the other graph loops use).

    ``edges``: (src, dst) long, directed. ``reverse=True`` computes in-balls
    (counters of {u : dist(u, v) <= t}), the direction harmonic centrality
    integrates over. Vertices are the distinct edge endpoints.
    """
    import time

    if reverse:
        edges = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))

    e_dst, verts = _edge_cache(edges)
    n_verts = verts.count()

    def no_bcast(df: DataFrame) -> DataFrame:
        # above the gate: MERGE, not shuffle_hash — even packed (9 fields,
        # ~88 B as UnsafeRow) an O(V) per-partition hash relation is the
        # thing that exhausts execution memory first; sort-merge spills.
        # Both sides are already hash-partitioned on the join key, so the
        # hint adds sorts, never exchanges (plan-audited).
        return df if n_verts <= _util.BROADCAST_SAFE_ROWS else df.hint("merge")

    state = _util.pin_state(_init_registers(verts), "id")

    def snapshot(st: DataFrame, t: int) -> DataFrame:
        # materialize the 4-column summary per hop (id, s_int, zero_regs,
        # est) instead of pinning the 9-column register checkpoint: only
        # the CURRENT register state stays live, so memory is O(V) summaries
        # x hops + 2 register tables, not hops x register tables.
        # The hop literal ``t`` is added OUTSIDE the checkpointed plan: a
        # literal inside the projection makes every hop's generated code
        # unique, defeating the whole-stage-codegen compile cache (~1s of
        # janino per hop, measured r5); hoisted, hops share one compiled
        # class.
        s_int, zero_regs = _summary_cols()
        frame = st.select("id", s_int, zero_regs).withColumn(
            "ball_est", estimate_expr(F.col("s_int"), F.col("zero_regs"))
        )
        ck = frame.localCheckpoint(eager=True)
        return ck.select(
            "id", F.lit(t).cast("int").alias("t"), "s_int", "zero_regs", "ball_est"
        )

    def summarize(snap: DataFrame) -> tuple[float, tuple[int, int]]:
        # ONE O(V) scan of the 40-byte summary rows yields both the NF sum
        # and the convergence witness. s_int STRICTLY DECREASES whenever any
        # register rises (a raised register swaps a 2^(55-r) term for a
        # smaller one), so (id, s_int) changes iff the register vector
        # changed — the xor checksum over it is exactly the CC/LP
        # convergence contract without rescanning the packed state.
        row = snap.agg(
            F.sum("ball_est").alias("nf"),
            F.count(F.lit(1)).alias("c"),
            F.coalesce(F.expr("bit_xor(xxhash64(id, s_int))"), F.lit(0)).alias("h"),
        ).first()
        return float(row["nf"] or 0.0), (int(row["c"]), int(row["h"]))

    snapshots = [snapshot(state, 0)]
    nf0, checksum = summarize(snapshots[0])
    nf = [nf0]
    iter_secs: list[float] = []

    t = 0
    for t in range(1, t_max + 1):
        t0 = time.time()
        state = _util.pin_state(_hop(e_dst, state, no_bcast))
        snapshots.append(snapshot(state, t))
        nf_t, new_checksum = summarize(snapshots[-1])
        nf.append(nf_t)
        iter_secs.append(time.time() - t0)
        if new_checksum == checksum:
            # fixpoint: last hop added nothing; drop the duplicate snapshot
            # AND its timing so len(iter_seconds) == iterations
            snapshots.pop()
            nf.pop()
            iter_secs.pop()
            t -= 1
            break
        checksum = new_checksum

    balls = snapshots[0]
    for s in snapshots[1:]:
        balls = balls.unionByName(s)
    e_dst.unpersist()
    return HyperBallResult(
        balls=balls,
        nf=nf,
        effective_diameter=_effective_diameter(nf, alpha),
        iterations=t,
        iter_seconds=iter_secs,
    )


def _effective_diameter(nf: list[float], alpha: float) -> float:
    """Smallest (linearly interpolated) t with NF(t) >= alpha * NF(T) —
    the HyperANF convention."""
    if not nf:
        return 0.0
    target = alpha * nf[-1]
    for t, v in enumerate(nf):
        if v >= target:
            if t == 0 or nf[t] == nf[t - 1]:
                return float(t)
            return (t - 1) + (target - nf[t - 1]) / (nf[t] - nf[t - 1])
    return float(len(nf) - 1)


def neighborhood_function(
    edges: DataFrame, t_max: int = 16
) -> tuple[list[float], float]:
    """(NF(0..T), effective diameter at 0.9) — the whole-graph distance
    summary. NF(t) = sum over vertices of the estimated |B(v, t)|."""
    res = hyperball(edges, t_max=t_max)
    return res.nf, res.effective_diameter


def harmonic_centrality(edges: DataFrame, t_max: int = 16) -> DataFrame:
    """Approximate harmonic centrality H(v) = sum_{u != v} 1/dist(u, v)
    (Boldi & Vigna 2013): run HyperBall on the REVERSED graph (in-balls) and
    integrate the ball growth, H(v) ~= sum_{t>=1} (|B(v,t)| - |B(v,t-1)|)/t.

    Returns (id, harmonic double). Estimates inherit the HLL rsd (~13% at
    m=64); ball growth is clamped at 0 (counters are monotone but estimates
    need not be). The integration is a per-vertex window over <= t_max+1
    rows riding the balls frame's hash(id) layout.
    """
    res = hyperball(edges, t_max=t_max, reverse=True)
    w = Window.partitionBy("id").orderBy("t")
    growth = res.balls.withColumn(
        "prev_est", F.lag("ball_est").over(w)
    ).filter(F.col("t") >= 1)
    return (
        growth.select(
            "id",
            (
                F.greatest(F.col("ball_est") - F.col("prev_est"), F.lit(0.0))
                / F.col("t")
            ).alias("g"),
        )
        .groupBy("id")
        .agg(F.sum("g").alias("harmonic"))
    )
