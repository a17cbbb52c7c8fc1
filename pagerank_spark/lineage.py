"""Per-iteration lineage + metrics rows, persisted through the Catalog.

Schema (FIXTURES.md §5): one row per (run, iteration[, partition]) with rows
shuffled, L1 residual, wall time, and the checkpoint snapshot id, so any run
can be audited and resumed. Partition-level rows are optional (an extra small
job per iteration) — aggregate rows (partition_id = -1) are always written.

:func:`commit_iteration` and :func:`last_checkpoint` are the one commit and
the one resume read of the iterative algorithms' state checkpoints
(PageRank in both modes, connected components): one snapshot per
iteration with summary ``{iteration}``.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_TABLE = "lineage"
# FIXTURES.md §5 types: string, int, int, long, double, double, string, string
LINEAGE_SCHEMA = pa.schema([
    ("run_id", pa.string()),
    ("iteration", pa.int32()),
    ("partition_id", pa.int32()),
    ("rows_shuffled", pa.int64()),
    ("residual_l1", pa.float64()),
    ("wall_time_s", pa.float64()),
    ("snapshot", pa.string()),
    ("extra", pa.string()),
])


class LineageWriter:
    def __init__(self, spark: SparkSession, catalog, per_partition: bool = False):
        self.spark = spark
        self.catalog = catalog
        self.per_partition = per_partition

    def partition_counts(self, df: DataFrame) -> list[tuple[int, int]]:
        rows = (
            df.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        return [(int(r["pid"]), int(r["count"])) for r in rows]

    def log_iteration(
        self,
        run_id: str,
        iteration: int,
        rows_shuffled: int,
        residual_l1: float,
        wall_time_s: float,
        snapshot: str | None = None,
        extra: dict | None = None,
        partition_counts: list[tuple[int, int]] | None = None,
    ) -> None:
        shared = {
            "run_id": run_id, "iteration": iteration, "residual_l1": float(residual_l1),
            "wall_time_s": float(wall_time_s), "snapshot": snapshot,
        }
        rows = [{**shared, "partition_id": -1, "rows_shuffled": int(rows_shuffled),
                 "extra": json.dumps(extra or {})}]
        rows += [{**shared, "partition_id": pid, "rows_shuffled": cnt, "extra": "{}"}
                 for pid, cnt in partition_counts or []]
        # a few driver-resident rows: pyarrow writes them, no Spark job
        self.catalog.write(
            pa.Table.from_pylist(rows, schema=LINEAGE_SCHEMA), LINEAGE_TABLE, mode="append"
        )

    def read(self, run_id: str | None = None) -> DataFrame:
        df = self.catalog.read(self.spark, LINEAGE_TABLE)
        if run_id is not None:
            df = df.filter(F.col("run_id") == run_id)
        return df


def commit_iteration(
    catalog, lineage: LineageWriter | None, table: str,
    state: DataFrame | pa.Table, run_id: str, iteration: int, **log,
) -> None:
    """Commit one iteration: ``state`` as a snapshot of ``table`` with
    summary ``{iteration}``, THEN the lineage row naming that snapshot, so
    every row ties to a resumable state. A pyarrow ``state`` commits with no
    Spark job. ``log`` holds the other ``log_iteration`` fields; either
    writer may be None."""
    snap = None
    if catalog is not None:
        snap = str(catalog.write(state, table, summary={"iteration": iteration}).snapshot_id)
    if lineage is not None:
        lineage.log_iteration(run_id, iteration, snapshot=snap, **log)


def last_checkpoint(spark: SparkSession, catalog, table: str) -> tuple[DataFrame, int] | None:
    """The current snapshot of a :func:`commit_iteration` table and the
    iteration it committed, or None when the table has no snapshot."""
    meta = catalog.current_meta(table)
    if meta is None:
        return None
    df = catalog.read(spark, table, snapshot_id=meta.snapshot_id)
    return df, int(meta.summary["iteration"])
