"""Iceberg-style table layer: parquet data files + JSON snapshot metadata.

No Iceberg runtime jar ships in this sandbox, so the engine implements the
*substance* of the north rule — explicit partition specs, snapshot isolation,
atomic commits, time travel, and snapshot-based resume — behind one small
``Catalog`` API. A real Iceberg/Delta backend can be swapped in by
reimplementing this module; nothing else in the engine touches the layout.

Layout per table::

    <warehouse>/<table>/
        data/snap-<k>/part-*.parquet      # immutable data files for snapshot k
        metadata/v<k>.json                # snapshot manifest (schema, files,
                                          #   partition spec, parent, summary)
        metadata/current.json             # atomically-replaced pointer

Commit protocol (SURVEY.md §7 hard-parts list): write data files to the new
snapshot dir, write the manifest, then ``os.replace`` the ``current.json``
pointer — readers either see the old snapshot or the new one, never a torn
write. A crash mid-commit leaves a dangling snap dir that the next commit
ignores (the pointer was never flipped), which is exactly what resume needs.

One commit protocol, two data writers: a Spark ``DataFrame`` (a distributed
frame: edge tables, dataframe-mode state, CC checkpoints) is written by a
Spark parquet job; a ``pyarrow.Table`` the driver already holds (csr rank
vector checkpoints, lineage rows) is written by ``pyarrow.parquet`` in the
driver with no Spark job. Both then take the same manifest claim and pointer
flip, and record the same Spark schema JSON, so readers cannot tell which
writer produced a snapshot. The warehouse is a driver-local path either way:
the driver already writes every manifest and pointer itself.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema


class CommitConflictError(RuntimeError):
    """Another writer committed the same snapshot id first.

    Raised by :meth:`Catalog.write` when the atomic manifest-claim loses a
    race: both writers read the same parent snapshot and tried to create
    ``v<k+1>.json``; exactly one hard-link create wins, the other gets this
    error and nothing it wrote is visible (its data dir becomes crash-debris
    that ``expire_snapshots`` age-gates away). Retry by calling ``write``
    again AFTER the winner's pointer flip lands — the retry re-reads the
    current pointer and targets the next id. If the winner crashed between
    its claim and its pointer flip, the orphaned manifest blocks that id
    until ``expire_snapshots``'s orphan TTL clears it — the same age gate
    that protects in-flight writers. This is the single-catalog analog of
    Iceberg's optimistic-concurrency CommitFailedException; a real Iceberg
    backend swap-in replaces this with its own commit arbitration.
    """


@dataclass
class TableMeta:
    table: str
    snapshot_id: int
    parent_id: int | None
    schema_json: str
    partition_spec: dict
    data_dir: str
    summary: dict = field(default_factory=dict)


class Catalog:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _meta_dir(self, table: str) -> str:
        return os.path.join(self.warehouse, table, "metadata")

    def _pointer(self, table: str) -> str:
        return os.path.join(self._meta_dir(table), "current.json")

    # -- metadata ----------------------------------------------------------
    def current_meta(self, table: str) -> TableMeta | None:
        ptr = self._pointer(table)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            v = json.load(f)["current"]
        return self.snapshot_meta(table, v)

    def snapshot_meta(self, table: str, snapshot_id: int) -> TableMeta:
        with open(os.path.join(self._meta_dir(table), f"v{snapshot_id}.json")) as f:
            m = json.load(f)
        return TableMeta(
            table=table,
            snapshot_id=m["snapshot_id"],
            parent_id=m.get("parent_id"),
            schema_json=m["schema_json"],
            partition_spec=m.get("partition_spec", {}),
            data_dir=m["data_dir"],
            summary=m.get("summary", {}),
        )

    def snapshots(self, table: str) -> list[int]:
        md = self._meta_dir(table)
        if not os.path.isdir(md):
            return []
        out = []
        for name in os.listdir(md):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def exists(self, table: str) -> bool:
        return self.current_meta(table) is not None

    # -- write (atomic commit) --------------------------------------------
    def write(
        self,
        df: DataFrame | pa.Table,
        table: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        bucket_by: tuple[int, str] | None = None,
        summary: dict | None = None,
    ) -> TableMeta:
        """Commit ``df`` as a new snapshot of ``table``.

        ``df`` is a Spark DataFrame (written by a Spark job) or a
        ``pyarrow.Table`` the driver already holds (written by pyarrow in
        this process, no Spark job); both then take the same commit.
        mode="overwrite" replaces contents; mode="append" unions the parent
        snapshot's files (files are immutable, so append = new files + old
        file list in the new manifest). ``bucket_by=(n, col)`` repartitions by
        hash of ``col`` into n buckets before writing, recording the spec so
        readers know the physical distribution (the iceberg-ish analog of a
        bucket partition transform). Bucketing and ``partition_by`` need a
        Spark DataFrame; with a pyarrow Table they raise ValueError.
        """
        arrow = isinstance(df, pa.Table)
        if arrow and (bucket_by is not None or partition_by):
            raise ValueError(
                "bucket_by/partition_by need a Spark DataFrame: a pyarrow "
                "Table is committed as one unpartitioned file"
            )
        prev = self.current_meta(table)
        snapshot_id = (prev.snapshot_id + 1) if prev else 0
        data_rel = os.path.join("data", f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}")
        data_dir = os.path.join(self.warehouse, table, data_rel)
        if arrow:
            schema_json, spec = _write_arrow(df, data_dir)
        else:
            schema_json, spec = _write_spark(df, data_dir, partition_by, bucket_by)

        data_dirs = [data_rel]
        if mode == "append" and prev is not None:
            data_dirs = json.loads(prev.summary.get("data_dirs", "[]")) or [
                os.path.relpath(prev.data_dir, os.path.join(self.warehouse, table))
            ]
            data_dirs = data_dirs + [data_rel]

        return self._commit(table, {
            "snapshot_id": snapshot_id,
            "parent_id": prev.snapshot_id if prev else None,
            "timestamp_ms": int(time.time() * 1000),
            "schema_json": schema_json,
            "partition_spec": spec,
            "data_dir": data_rel,
            "summary": {**(summary or {}), "data_dirs": json.dumps(data_dirs)},
        })

    def _commit(self, table: str, manifest: dict) -> TableMeta:
        """Claim ``v<snapshot_id>.json`` and flip the pointer to it — the
        one commit routine behind both data writers."""
        snapshot_id = manifest["snapshot_id"]
        os.makedirs(self._meta_dir(table), exist_ok=True)
        # atomic manifest CLAIM, not a plain write: two concurrent writers
        # that both read parent k race to create v<k+1>.json, and open("w")
        # would let the second silently clobber the first's committed
        # manifest (lost update with both callers reporting success).
        # link(2) is atomic-fail-if-exists on POSIX, so exactly one wins;
        # the loser raises CommitConflictError with its data dir left as
        # age-gated debris for expire_snapshots.
        mpath = os.path.join(self._meta_dir(table), f"v{snapshot_id}.json")
        mtmp = mpath + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(mtmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(mtmp, mpath)
        except FileExistsError:
            raise CommitConflictError(
                f"table {table!r}: snapshot {snapshot_id} was committed by a "
                "concurrent writer; re-read the table and retry the write. "
                "If that writer crashed between its manifest claim and its "
                f"pointer flip, no retry can succeed until expire_snapshots("
                f"{table!r}) clears the orphaned v{snapshot_id}.json once it "
                "is older than orphan_ttl_s (default 24 h)"
            ) from None
        finally:
            os.unlink(mtmp)
        tmp = self._pointer(table) + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"current": snapshot_id}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._pointer(table))
        return self.snapshot_meta(table, snapshot_id)

    # -- read --------------------------------------------------------------
    def read(
        self, spark: SparkSession, table: str, snapshot_id: int | None = None
    ) -> DataFrame:
        meta = (
            self.current_meta(table)
            if snapshot_id is None
            else self.snapshot_meta(table, snapshot_id)
        )
        if meta is None:
            raise FileNotFoundError(f"table {table!r} does not exist in {self.warehouse}")
        dirs = json.loads(meta.summary.get("data_dirs", "[]")) or [meta.data_dir]
        paths = [os.path.join(self.warehouse, table, d) for d in dirs]
        return spark.read.parquet(*paths)

    # -- maintenance ---------------------------------------------------------
    def expire_snapshots(
        self, table: str, keep_last: int = 2, orphan_ttl_s: float = 86400.0
    ) -> dict:
        """Iceberg-style snapshot expiry + orphan cleanup.

        Keeps the last ``keep_last`` COMMITTED snapshots — found by walking
        the parent chain from the current pointer, not by taking the top-N
        manifest ids: a dangling manifest from a crash between manifest
        write and pointer flip has an id above current but was never
        committed, and must not consume a retention slot while a committed
        ancestor is expired. Committed ancestors beyond ``keep_last`` are
        expired immediately (they are superseded by definition).

        Uncommitted manifests and manifest-less data dirs are deleted only
        once older than ``orphan_ttl_s`` (Iceberg's delete-orphan-files
        convention, default 24h): a CONCURRENT ``write()`` that has written
        its data dir — or its manifest — but not yet flipped the pointer
        looks identical to crash debris, and the age gate is what makes
        cleanup safe to run next to live writers. Pass ``orphan_ttl_s=0``
        only when the caller is provably the single writer.

        Long-running recrawl loops checkpoint every iteration; without
        expiry the warehouse grows by one snapshot per iteration forever.
        Returns {"expired_snapshots": [...], "deleted_dirs": [...],
        "kept_snapshots": [...]} for the caller's audit log.

        Safety: retention is manifest-driven (a data dir referenced by ANY
        retained manifest survives, so append chains keep their history),
        and the current pointer is never expired even with keep_last=1.
        """
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cur = self.current_meta(table)
        if cur is None:
            return {"expired_snapshots": [], "deleted_dirs": [], "kept_snapshots": []}
        snaps = self.snapshots(table)

        # committed chain: current snapshot and its ancestors, newest first
        chain: list[int] = []
        node: TableMeta | None = cur
        while node is not None:
            chain.append(node.snapshot_id)
            if node.parent_id is None:
                break
            try:
                node = self.snapshot_meta(table, node.parent_id)
            except FileNotFoundError:  # ancestor expired by an earlier run
                break
        committed = set(chain)
        keep = set(chain[:keep_last])

        now_ms = time.time() * 1000.0
        expired: list[int] = []
        debris_dirs: set[str] = set()
        for s in snaps:
            if s in keep:
                continue
            if s in committed:
                expired.append(s)  # superseded committed ancestor
                continue
            # not reachable from current: crashed commit OR a concurrent
            # write whose pointer flip hasn't landed — age-gate it
            with open(os.path.join(self._meta_dir(table), f"v{s}.json")) as f:
                m = json.load(f)
            if now_ms - m.get("timestamp_ms", 0) >= orphan_ttl_s * 1000.0:
                expired.append(s)
                # the manifest's timestamp (write time) already passed the
                # gate, so its data dirs are deletable in this same pass —
                # the dir's own mtime would otherwise defer them a vacuum
                dirs = json.loads(
                    m.get("summary", {}).get("data_dirs", "[]")
                ) or [m.get("data_dir")]
                debris_dirs.update(d for d in dirs if d)

        retained = [s for s in snaps if s not in expired]
        referenced: set[str] = set()
        for s in retained:
            meta = self.snapshot_meta(table, s)
            dirs = json.loads(meta.summary.get("data_dirs", "[]")) or [meta.data_dir]
            referenced.update(dirs)
        for s in expired:
            os.remove(os.path.join(self._meta_dir(table), f"v{s}.json"))

        deleted = []
        data_root = os.path.join(self.warehouse, table, "data")
        if os.path.isdir(data_root):
            for name in sorted(os.listdir(data_root)):
                rel = os.path.join("data", name)
                if rel in referenced:
                    continue
                path = os.path.join(data_root, name)
                # manifest-less dir = in-flight write or crash debris; same
                # age gate as above, on the directory's own mtime — unless
                # an expired uncommitted manifest already aged it out above
                if rel not in debris_dirs and (
                    now_ms - os.path.getmtime(path) * 1000.0
                    < orphan_ttl_s * 1000.0
                ):
                    continue
                shutil.rmtree(path)
                deleted.append(rel)
        return {
            "expired_snapshots": sorted(expired),
            "deleted_dirs": deleted,
            "kept_snapshots": sorted(retained),
        }


def _write_spark(
    df: DataFrame,
    data_dir: str,
    partition_by: list[str] | None,
    bucket_by: tuple[int, str] | None,
) -> tuple[str, dict]:
    """Data step for a distributed frame: a Spark parquet write job.
    Returns the schema JSON and partition spec for the manifest."""
    spec: dict = {}
    out = df
    if bucket_by is not None:
        nbuckets, col = bucket_by
        out = out.repartition(nbuckets, col)
        spec["bucket"] = {"n": nbuckets, "column": col}
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
        spec["identity"] = list(partition_by)
    writer.parquet(data_dir)
    return df.schema.json(), spec


def _write_arrow(tbl: pa.Table, data_dir: str) -> tuple[str, dict]:
    """Data step for a driver-resident table: one parquet file written by
    pyarrow, no Spark job. The manifest gets the Spark JSON of the same
    schema, so readers cannot tell the two writers apart."""
    os.makedirs(data_dir)
    pq.write_table(tbl, os.path.join(data_dir, f"part-00000-{uuid.uuid4().hex}.parquet"))
    return from_arrow_schema(tbl.schema).json(), {}
