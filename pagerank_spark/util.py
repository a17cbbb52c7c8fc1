"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Row count above which an O(V)-sized join side must never be auto-broadcast:
# its COMPRESSED shuffle size can slip under autoBroadcastJoinThreshold while
# the in-memory hash relation OOMs the driver (reproduced at n=2e7, PLANS.md).
# Below it, Catalyst's broadcast plans win on small graphs, so the
# shuffle_hash hints are size-gated on this shared constant (PageRank
# dataframe mode, connected components, label propagation, triangles).
BROADCAST_SAFE_ROWS = 2_000_000


def no_bcast_fn(n_rows: int):
    """The size gate for a join side of ``n_rows`` rows: above
    ``BROADCAST_SAFE_ROWS`` the returned function hints the side
    ``shuffle_hash`` so Catalyst never broadcasts it; at or below the gate it
    returns the side unchanged. The gate is read on each call, so a patched
    ``BROADCAST_SAFE_ROWS`` takes effect."""

    def no_bcast(df: DataFrame) -> DataFrame:
        return df if n_rows <= BROADCAST_SAFE_ROWS else df.hint("shuffle_hash")

    return no_bcast


def pin_state(df: DataFrame, *keys: str) -> DataFrame:
    """Pin one round of an iterative loop's state: hash-repartition ``df``
    on ``keys`` to ``spark.sql.shuffle.partitions`` (when keys are given)
    and run an eager ``localCheckpoint``, compiled with AQE disabled.

    ``localCheckpoint(eager=True)`` under AQE records UnknownPartitioning in
    the resulting LogicalRDD (AdaptiveSparkPlanExec reports no partitioning
    until its final plan exists, which is after the checkpoint captures it),
    so every downstream join against the checkpoint re-exchanges it. A
    statically planned checkpoint keeps the real hash partitioning, letting
    iterative algorithms chain checkpoints at one shuffle per iteration.
    The previous AQE setting is restored on return.

    Pitfall: a Dataset caches its QueryExecution on first access, so a frame
    pinned without ``keys`` must not have had its plan compiled before this
    call — explaining/auditing it beforehand (with AQE on) poisons the
    checkpoint with the adaptive plan. Audit a separately built copy of the
    plan instead (see tests/test_plans.py)."""
    spark = df.sparkSession
    aqe = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try:
        if keys:
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
            df = df.repartition(n, *keys)
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set(aqe, prev)


def task_slots(sc) -> int:
    """Tasks the scheduler can run at once under the default resource
    profile: the count Spark's barrier mode checks a stage against. Falls
    back to ``sc.defaultParallelism`` while no executor has registered (the
    scheduler then reports 0). Unlike ``defaultParallelism`` and
    ``spark.sql.shuffle.partitions``, which ``get_spark`` raises to at least
    8, it is the real slot count: 4 on ``local[4]``."""
    jsc = sc._jsc.sc()
    profile = jsc.resourceProfileManager().defaultResourceProfile()
    return int(jsc.maxNumConcurrentTasks(profile)) or sc.defaultParallelism


def approx_vertex_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> int:
    """HLL estimate (±~2%) of the number of distinct endpoints in an edge
    DataFrame — one scan with map-side partials and a 1-row shuffle, cheap
    even at 100 TB. Used to size-gate broadcast-vs-shuffle join hints on the
    O(V) side (the hazard is the vertex-table side, not total edges)."""
    row = (
        edges.select(F.col(src).alias("x"))
        .union(edges.select(F.col(dst).alias("x")))
        .agg(F.approx_count_distinct("x").alias("n"))
        .first()
    )
    return int(row["n"])


def widen_partitions(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism when
    a DataFrame arrives with fewer partitions.

    Spark sizes file-scan partitions by BYTES (spark.sql.files.maxPartitionBytes),
    which is right for scan-bound work but wrong for compute-heavy per-ROW
    stages: a corpus that fits one 128 MB split pins an Arrow-UDF signature
    pass or an interpreted higher-order shingle expression to a single task
    (measured 17x slowdown at local[32] on a one-file documents table). At
    cluster scale inputs span many files so this is usually a no-op; the
    repartition only fires on the narrow-input case it exists for.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def set_checksum(df: DataFrame, *cols: str) -> tuple[int, int]:
    """Order-insensitive fingerprint of a DataFrame treated as a SET of rows:
    (row count, bit_xor of xxhash64 over ``cols``). One cheap scan, no join;
    overflow-free (bit_xor) so Spark 4 ANSI mode can't reject it. Used by the
    connected-components and label-propagation convergence checks."""
    row = df.agg(
        F.count(F.lit(1)).alias("c"),
        F.coalesce(
            F.expr(f"bit_xor(xxhash64({', '.join(cols)}))"), F.lit(0)
        ).alias("h"),
    ).first()
    return int(row["c"]), int(row["h"])


def md5_hash60(col) -> "F.Column":
    """The engine's cross-engine 60-bit hash: md5 hex prefix -> int64.
    DuckDB twin: ('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15))::UBIGINT.
    Single definition so HyperBall registers, random-walk choices, and any
    future oracle-checked hashing stay in lockstep with the SQL convention."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def salted_top_k(
    df: DataFrame,
    keys: list[str],
    order: list,
    k: int,
    salt_expr,
    n_salts: int = 32,
    rank_col: str = "rk",
) -> DataFrame:
    """EXACT top-k rows per key via a salted two-stage window — the skew-safe
    replacement for a single ``row_number() over (partition by key)`` when
    keys are web-hot (one host/domain holding 1e8 rows would otherwise sort
    on a single reducer).

    Stage 1 ranks within (keys..., salt) shards and keeps k per shard;
    stage 2 re-ranks the <= k * n_salts survivors per key. Exact for any
    salt assignment: a true global top-k row beats everything in its own
    shard too. ``salt_expr`` must be deterministic per row (hash a stable
    column) so retries shard identically; ``order`` must totally order rows
    (include a unique tiebreaker) or ranks are nondeterministic.

    Returns the input columns plus ``rank_col`` in 1..k per key.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    cols = df.columns
    salted = df.withColumn("_salt", F.pmod(salt_expr, F.lit(n_salts)).cast("int"))
    w1 = Window.partitionBy(*keys, "_salt").orderBy(*order)
    stage1 = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        stage1.withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
        .select(*cols, rank_col)
    )
