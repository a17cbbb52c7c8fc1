"""Hub-skew handling: detection + salted two-stage aggregation.

Web link graphs have power-law in-degree: a few hubs receive 1e5+ in-links.
Spark's hash aggregate already does map-side partial combine (which absorbs
most groupBy(dst) skew), and AQE splits skewed *join* partitions at runtime —
but a reduce partition that owns several hot keys can still straggle. The
salted two-stage aggregate bounds any reduce task's share of a hot key to
1/n_salts of its rows:

  stage 1: groupBy(dst, salt = pmod(hash(src), n_salts)) -> partial sums
  stage 2: groupBy(dst) -> final sum

`salted_sum` applies the pattern to one or several value columns at once.
PageRank(mode="dataframe", salt_partitions=n) swaps it in for the K-sum
contribution aggregation of the teleport iteration
(linkanalysis._teleport_iteration).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_sum(
    df: DataFrame,
    key: str,
    value: Column | list[Column],
    n_salts: int,
    salt_source: str,
    out: str | list[str] = "sum",
) -> DataFrame:
    """Two-stage sum of `value` grouped by `key`, salted by hash(salt_source).

    Equivalent to df.groupBy(key).agg(sum(value).alias(out)) for any
    n_salts >= 1 (tested); use n_salts ~ shuffle partitions for hot keys.
    A list of values (with a list of output names) sums them all in the
    same two aggregations.
    """
    values = value if isinstance(value, list) else [value]
    outs = out if isinstance(out, list) else [out]
    salt = F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salts)).alias("_salt")
    partial = (
        df.select(F.col(key), *[v.alias(f"_v{i}") for i, v in enumerate(values)], salt)
        .groupBy(key, "_salt")
        .agg(*[F.sum(f"_v{i}").alias(f"_p{i}") for i in range(len(values))])
    )
    return partial.groupBy(key).agg(
        *[F.sum(f"_p{i}").alias(o) for i, o in enumerate(outs)]
    )


def partition_skew_report(
    edges, key: str = "dst", n_buckets: int = 32
):
    """One-row shuffle-skew audit for a planned hash partitioning: bucket
    the edge table by the engine's cross-engine md5-60 hash of ``key`` mod
    ``n_buckets`` (a deterministic stand-in for the shuffle partitioner)
    and report (n_buckets_used, max_rows, total_rows, skew_e2) where
    skew = max bucket / ideal-even bucket. skew ≈ 1.0 means the planned
    ``repartition(n, key)`` balances; skew >> 1 is the hub-vertex signal
    that the salted/split paths (this module) exist for — measured BEFORE
    paying for the real shuffle.

    One partial-aggregated pass; the md5 convention makes the report
    byte-reproducible in SQL.
    """
    from pyspark.sql import functions as F

    from pagerank_spark.util import md5_hash60

    per = (
        edges.select(
            F.pmod(md5_hash60(F.col(key)), F.lit(int(n_buckets))).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("rows"))
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_buckets_used"),
        F.max("rows").alias("max_rows"),
        F.sum("rows").alias("total_rows"),
        F.round(
            F.max("rows") / (F.sum("rows") / F.lit(float(n_buckets))) * 1e2
        )
        .cast("long")
        .alias("skew_e2"),
    )
