"""Per-iteration lineage + metrics rows, persisted through the Catalog.

Schema (FIXTURES.md §5): one row per (run, iteration[, partition]) with rows
shuffled, L1 residual, wall time, and the checkpoint snapshot id, so any run
can be audited and resumed. Partition-level rows are optional (an extra small
job per iteration) — aggregate rows (partition_id = -1) are always written.
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
