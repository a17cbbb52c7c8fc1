"""PageRank power iteration, Spark-first.

Semantics match the reference engine exactly (golden-validated; see
/root/reference/Pagerank/src/pagerank32c.c:413-533 and SURVEY.md §0):

    pi_0      = 1/n
    pi_{k+1}[i] = c * ( sum_{j->i} pi_k[j]/outdeg(j)  +  danglingMass_k / n )
                  + (1-c)/n * totalMass_k
    stop when L1(pi_{k+1} - pi_k) < eps   (reference `delta < eps`,
                                           src/pagerank32c.c:858)
    final L1 normalize                     (getPagrnk_*, :771-785)

The Google matrix is never materialized: dangling rows and the teleport
rank-1 term are the two scalars the reference folds algebraically
(srcUnroll/pagerank32c.c:455-459). totalMass is carried exactly (it is 1.0 in
exact arithmetic; tracking it reproduces the reference's matrix-vector product
bit-for-bit to within fp tolerance).

Two physical strategies:

- ``mode="dataframe"`` — the fully distributed path: the SpMV is the
  edges⋈ranks equi-join + groupBy(dst) sum (the distributed analog of the
  reference's column-strided `getVectorPik` kernel). Scales to any vertex
  count. It is the K=1, uniform-teleport (v = 1/n) case of the one
  DataFrame power-iteration loop, ``linkanalysis._teleport_pagerank``,
  which personalized, weighted and topic-batched PageRank and spam mass
  share: ONE shuffle per iteration (the contribution groupBy, map-side
  combined; ``salt_partitions`` salts it), statically planned state
  checkpoints that keep hash(id), and the residual/dangling/total scalars
  fused into one aggregate over the checkpointed state (the reference's
  fused `getDelta` copy+residual kernel). See ``_teleport_iteration`` for
  the plan contract.

- ``mode="csr"`` — the throughput path: edges are blocked by interleaved
  destination stripes (``dst % nblocks``; hubs further split by src), sorted
  by src and encoded once into compact chunks (``encode_chunk``: RLE or
  plain src, uint16 slots when they fit, ~2.6 B/edge). One byte format,
  two storage carriers (``csr_storage``): "cells" keeps the chunks as binary
  rows in the JVM cache (no executor-local storage needed), "files" writes
  them once to executor-local files so an iteration moves only the rank
  vector. Each iteration is a single map-only stage in which every task
  runs the same NumPy scatter-add (``spmv_chunk``, partition-local CSR
  SpMV) over a broadcast rank vector, emitting one float64 partial block
  per task. Driver assembles the next vector. This is the SIMD analog of
  the reference's NASM kernels (getVectorPik_*.nasm): vectorized inner
  loop, no per-iteration shuffle. Measured 590M edges/s/iter on 8 cores at
  1B edges. Appropriate while the rank vector fits in executor memory
  (~1e8-1e9 vertices at 8 bytes each); beyond that, use "dataframe".

``mode="auto"`` picks csr up to ``AUTO_CSR_MAX_VERTICES`` and dataframe
beyond.

π is the whole state of the iteration (dangling mass and total are
recomputed from it), so both modes start from one ``(id, rank)`` frame and,
with a catalog, commit one checkpoint format after every iteration:
``pagerank_ckpt_<run_id>`` as ``(id long, rank double)`` with summary
``{iteration}`` (``lineage.commit_iteration``). ``resume=True`` continues
from either mode's checkpoint in either mode.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from pagerank_spark.algorithms.linkanalysis import _teleport_pagerank
from pagerank_spark.lineage import LineageWriter, commit_iteration, last_checkpoint
from pagerank_spark.util import task_slots


# bump when the packed block-file layout changes: reuse_pack refuses to
# iterate over files written by an incompatible packer
PACK_FORMAT_VERSION = 2


def _read_exact(f, mv: memoryview) -> None:
    """Fill ``mv`` completely from ``f`` or raise.

    Raw (unbuffered) file objects may return short reads; a silent short read
    would leave stale bytes from the previous chunk in a reused buffer and
    corrupt the SpMV, so loop until full and fail loudly on EOF."""
    need = len(mv)
    got = 0
    while got < need:
        k = f.readinto(mv[got:])
        if not k:
            raise IOError(f"short read: wanted {need} bytes, got {got}")
        got += k


# Packed chunk layout (one format for both csr_storage carriers). Per-edge
# DRAM traffic is the scaling ceiling for SpMV, so the raw 8 B/edge int32
# pairs are encoded to ~2-3 B/edge:
#   int64 k | int64 n_uniq (0 = plain src) | int32 u16 (slots are uint16)
#   [rle: n_uniq src idx_t, n_uniq run counts int32 | plain: k src idx_t]
#   k slots (uint16 when u16, else idx_t)
# src is sorted within a chunk, so the rank gather rwv[src] is
# (near-)sequential — the cache-locality analog of the reference's srcSparse
# reduced-matrix layout, paid once at pack time.
_CHUNK_HEADER = 20


def encode_chunk(src_s: np.ndarray, slot_s: np.ndarray, idx_t, u16: bool) -> bytes:
    """Encode one block's src-sorted (src, slot) edges as a packed chunk."""
    k = src_s.shape[0]
    uniq, counts = np.unique(src_s, return_counts=True)
    use_rle = uniq.shape[0] <= k // 4
    parts = [
        np.int64(k).tobytes(),
        np.int64(uniq.shape[0] if use_rle else 0).tobytes(),
        np.int32(1 if u16 else 0).tobytes(),
    ]
    if use_rle:
        parts += [uniq.astype(idx_t).tobytes(), counts.astype(np.int32).tobytes()]
    else:
        parts.append(src_s.astype(idx_t).tobytes())
    parts.append(slot_s.astype(np.uint16 if u16 else idx_t).tobytes())
    return b"".join(parts)


def _chunk_fields(buf, idx_t) -> tuple[int, int, bool, int]:
    """(k, n_uniq, u16, total byte length) from a chunk's header."""
    k, nu = (int(x) for x in np.frombuffer(buf, np.int64, 2, 0))
    u16 = bool(np.frombuffer(buf, np.int32, 1, 16)[0])
    isz = np.dtype(idx_t).itemsize
    src_len = nu * (isz + 4) if nu else k * isz
    return k, nu, u16, _CHUNK_HEADER + src_len + k * (2 if u16 else isz)


class ChunkReader:
    """Reads chunk files into one reused buffer, grown when a larger chunk
    arrives (np.load/mmap would re-fault every page every iteration)."""

    def __init__(self):
        self._buf = np.empty(1 << 20, dtype=np.uint8)

    def read(self, path: str, idx_t) -> memoryview:
        with open(path, "rb", buffering=0) as f:
            _read_exact(f, memoryview(self._buf)[:_CHUNK_HEADER])
            need = _chunk_fields(self._buf, idx_t)[3]
            if self._buf.shape[0] < need:
                grown = np.empty(need, dtype=np.uint8)
                grown[:_CHUNK_HEADER] = self._buf[:_CHUNK_HEADER]
                self._buf = grown
            _read_exact(f, memoryview(self._buf)[_CHUNK_HEADER:need])
        return memoryview(self._buf)[:need]


def spmv_chunk(
    buf, rwv: np.ndarray, acc: np.ndarray, idx_t, sub: int | None = None
) -> int:
    """Scatter-add one packed chunk into ``acc``: acc[slot] += rwv[src] per
    edge (np.bincount = the NumPy analog of the reference's SIMD
    getVectorPik kernel). Returns the chunk's edge count.

    The chunk is processed in ``sub``-edge pieces so the expand/gather/
    bincount working set stays L2-resident and DRAM only streams the chunk.
    Measured with bench_kernel.py over the 1B-edge bench pack (round 5):
    2M-edge pieces run 0.95B edges/s aggregate at 32 procs, 64k pieces
    2.7-2.8B edges/s (1p 0.15B / 4p 0.58B / 8p ~1.0B) — kernel-only scaling
    1->4 ~0.93 and 8->32 ~0.6-0.7, the box's DRAM wall (BENCH/BASELINE.md).
    Each bincount also zeroes+adds an O(ml) output, so the default ``sub``
    grows with ml to keep that amortized when blocks are big."""
    k, nu, u16, _ = _chunk_fields(buf, idx_t)
    ml = acc.shape[0]
    if sub is None:
        sub = min(1 << 21, max(1 << 16, 4 * ml))
    isz = np.dtype(idx_t).itemsize
    if nu:
        uniq = np.frombuffer(buf, idx_t, nu, _CHUNK_HEADER)
        counts = np.frombuffer(buf, np.int32, nu, _CHUNK_HEADER + nu * isz)
        w_runs = rwv[uniq]
        ends = np.cumsum(counts)
        slot_off = _CHUNK_HEADER + nu * (isz + 4)
    else:
        src = np.frombuffer(buf, idx_t, k, _CHUNK_HEADER)
        wbuf = np.empty(min(sub, k), dtype=rwv.dtype)
        slot_off = _CHUNK_HEADER + k * isz
    slots = np.frombuffer(buf, np.uint16 if u16 else idx_t, k, slot_off)
    for lo in range(0, k, sub):
        clen = min(sub, k - lo)
        if nu:
            # expand the RLE runs covering [lo, lo+clen)
            i0 = int(np.searchsorted(ends, lo, "right"))
            i1 = int(np.searchsorted(ends, lo + clen, "left"))
            cw = counts[i0 : i1 + 1].astype(np.int64)
            cw[0] -= lo - (int(ends[i0]) - int(counts[i0]))
            over = int(ends[i1]) - (lo + clen)
            if over > 0:
                cw[-1] -= over
            w = np.repeat(w_runs[i0 : i1 + 1], cw)
        else:
            w = wbuf[:clen]
            np.take(rwv, src[lo : lo + clen], out=w)
        acc += np.bincount(slots[lo : lo + clen], weights=w, minlength=ml)
    return k


# nblocks -> {block b: smallest x with pmod(hash(x), nblocks) == b}. Spark's
# hash() has a fixed seed, so the mapping depends on nblocks alone and holds
# for every session in the process.
_PREIMAGES: dict[int, dict[int, int]] = {}

# Largest block_size (accumulator values per task, 128 MiB of float64) the
# default block count allows: past it, blocks come in further waves.
MAX_BLOCK_VALUES = 1 << 24


def _preimages(spark, nblocks: int) -> dict[int, int]:
    """For each block b, a key x_b with pmod(hash(x_b), nblocks) == b, found
    by probing Spark's own Murmur3 (one job), memoized per nblocks."""
    remap = _PREIMAGES.get(nblocks)
    if remap is None:
        probe = (
            spark.range(0, max(4096, nblocks * 64))
            .select(
                F.col("id").alias("x"),
                F.pmod(F.hash(F.col("id")), F.lit(nblocks)).alias("p"),
            )
            .groupBy("p")
            .agg(F.min("x").alias("x"))
            .collect()
        )
        remap = _PREIMAGES[nblocks] = {int(r["p"]): int(r["x"]) for r in probe}
    return remap


def _block_aligned(df: DataFrame, nblocks: int, spark) -> DataFrame:
    """Repartition (block, ...) rows so partition i holds EXACTLY block i.

    Why not the obvious calls: hash repartition by "block" collides for a
    small key domain (several blocks on one task, others empty — iteration
    latency = the worst task), and repartitionByRange SAMPLES its child to
    pick boundaries, re-executing it — the pack stage writes block files as
    a side effect and must run exactly once. Instead, hash-repartition on
    each block's Murmur3 preimage key (``_preimages``): one shuffle, no
    sampling, perfect one-block-per-task placement."""
    remap = _preimages(spark, nblocks)
    if len(remap) < nblocks:  # astronomically unlikely at 64x oversampling;
        return df.repartition(nblocks, "block")  # degrade to collisions
    mapping = F.create_map(
        *[
            lit
            for b in range(nblocks)
            for lit in (F.lit(b).cast("long"), F.lit(remap[b]).cast("long"))
        ]
    )
    return (
        df.withColumn("pkey", mapping[F.col("block")])
        .repartition(nblocks, "pkey")
        .drop("pkey")
    )


def _balanced(df: DataFrame, nblocks: int) -> DataFrame:
    """Round-robin repartition ONLY when the input partitioning is far from
    the target task count — a full shuffle of the edge set is the most
    expensive step of the pack phase, and pack is partition-agnostic (any
    task can emit chunks for any block), so an already-balanced input goes
    straight through as one pipelined stage."""
    p = df.rdd.getNumPartitions()
    if p < max(1, nblocks // 2) or p > nblocks * 4:
        return df.repartition(nblocks)
    return df


@dataclass
class PageRankResult:
    ranks: DataFrame          # (id: long, rank: double)
    iterations: int
    deltas: list[float]       # L1 residual per iteration
    run_id: str
    edges_per_sec_per_iter: float = 0.0
    iter_seconds: list[float] = field(default_factory=list)


class PageRank:
    def __init__(
        self,
        c: float = 0.85,
        eps: float = 1e-5,
        max_iter: int = 200,
        mode: str = "dataframe",
        catalog=None,
        lineage: LineageWriter | None = None,
        num_blocks: int | None = None,
        salt_partitions: int | None = None,
        csr_storage: str = "cells",
        scratch_dir: str | None = None,
        reuse_pack: bool = False,
        pack_key: str | None = None,
        initial_ranks: DataFrame | None = None,
        rank_dtype: str = "float64",
    ):
        # reject unknown strategies here: run() would otherwise fall through
        # to the dataframe path (and _run_csr to cells) without a word
        if mode not in ("auto", "dataframe", "csr"):
            raise ValueError(f"mode must be auto|dataframe|csr, got {mode!r}")
        if csr_storage not in ("cells", "files"):
            raise ValueError(
                f"csr_storage must be cells|files, got {csr_storage!r}"
            )
        self.c = c
        self.eps = eps
        self.max_iter = max_iter
        self.mode = mode
        self.catalog = catalog
        self.lineage = lineage
        # csr block count, one Spark task per block per iteration. Default:
        # the scheduler's task slots (util.task_slots), so an iteration is
        # ONE task wave whatever spark.sql.shuffle.partitions says; a
        # multiple of them only when n / slots would pass MAX_BLOCK_VALUES.
        # An explicit value is the only override; a pack reused from a
        # manifest keeps the count it was packed with.
        self.num_blocks = num_blocks
        # hub-skew mitigation: when set, the per-iteration contrib aggregation
        # runs as a salted two-stage sum (graph/skew.py) so no reduce task
        # owns more than 1/salt_partitions of a hot dst key's rows.
        self.salt_partitions = salt_partitions
        # csr_storage chooses only WHERE the packed chunks live (the byte
        # format is the same, see encode_chunk). "cells": binary rows cached
        # in the JVM (default; no external storage needed). "files": chunks
        # written once to b*.bin files under scratch_dir — per-iteration data
        # movement is then ONLY the rank vector, the analog of
        # executor-local shuffle files; demands storage shared/local to
        # executors (trivially true in local mode).
        self.csr_storage = csr_storage
        self.scratch_dir = scratch_dir
        # reuse_pack=True + scratch_dir: if scratch_dir holds a manifest from a
        # previous pack of the SAME graph, skip generation/degree/pack entirely
        # and iterate over the existing packed files (pack once, run many —
        # what the scaling bench uses so lo- and hi-parallelism configs read
        # identical bytes). The manifest records format version, n and
        # nblocks, which are validated; the edge CONTENT cannot be verified
        # without scanning it (which reuse exists to avoid), so callers who
        # can name their graph should pass pack_key (a seed/edge-count/
        # checksum string): it is stored in the manifest and a
        # present-but-different key on reuse is a hard error instead of
        # silently computing the wrong graph's ranks. A manifest without a
        # key (pre-key pack) triggers a one-time re-pack when a key is now
        # supplied.
        self.reuse_pack = reuse_pack
        self.pack_key = pack_key
        # warm start: (id, rank) to initialize the power iteration from —
        # the recrawl/delta-update path (re-rank an updated graph starting
        # from the previous crawl's ranks instead of 1/n). Ids absent from
        # the table (new pages) start at 1/n. The iteration conserves total
        # mass and the result is L1-normalized, so the fixed point is
        # IDENTICAL to a cold start — warm starting only changes how many
        # iterations convergence takes (1 when the graph didn't change).
        # catalog resume, when it fires, takes precedence (it is a later
        # snapshot of the same run). Validated before any pack or edge-cache
        # job (_start_ranks).
        self.initial_ranks = initial_ranks
        # rank_dtype="float32" (csr modes only): the per-iteration rank
        # broadcast, the SpMV gather source, AND the contribution partials
        # pulled back from the executors are fp32 — half the O(V) vector
        # traffic in BOTH directions per iteration (the dominant cost once
        # the rank vector outgrows cache). ACCUMULATION STAYS fp64: the rank
        # vector itself, the per-block bincount partials, the driver-side
        # stripe merge, and the residual / dangling-mass scalars are all
        # double. Per iteration each value suffers one fp32 quantization of
        # r/outdeg plus one per contributing TASK partial — hub ids merge up
        # to nblocks independently quantized nonnegative partials, which
        # keeps the same ~6e-8 RELATIVE error (nonnegative terms can't
        # cancel) though not a literal single quantization — and the
        # test1.graph golden stays within its 1e-6 tolerance (parity test
        # pins this). This is the practical half of the reference's -single
        # mode (src/pagerank32c.c:933-938): its fp32 ACCUMULATION under
        # nondeterministic reduce order is what breaks 1e-6 reproducibility
        # (SURVEY §1.2), not the fp32 operand width. Ignored by the
        # dataframe mode (its ranks live in Spark doubles).
        if rank_dtype not in ("float32", "float64"):
            raise ValueError(f"rank_dtype must be float32|float64, got {rank_dtype!r}")
        self.rank_dtype = np.float32 if rank_dtype == "float32" else np.float64

    def _start_ranks(self, spark, n: int, run_id: str, resume: bool):
        """(id, rank) start ranks and the number of the iteration they come
        from, for both modes: the run's last checkpoint when resuming (in
        either mode, from either mode's checkpoint), else initial_ranks,
        else (None, 0) for the uniform 1/n start. initial_ranks fails on
        out-of-range or duplicate ids (a duplicate would double-count that
        vertex's mass) before any pack or edge-cache job runs."""
        if resume and self.catalog is not None:
            last = last_checkpoint(spark, self.catalog, f"pagerank_ckpt_{run_id}")
            if last is not None:
                return last[0].select("id", "rank"), last[1]
        if self.initial_ranks is None:
            return None, 0
        ir = self.initial_ranks.select(
            F.col("id").cast("long").alias("id"),
            F.col("rank").cast("double").alias("rank"),
        )
        st = ir.agg(
            F.count(F.lit(1)).alias("k"),
            F.count_distinct("id").alias("kd"),
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
        ).first()
        if st["k"]:
            if st["lo"] < 0 or st["hi"] >= n:
                raise ValueError("initial_ranks ids outside [0, n)")
            if st["k"] != st["kd"]:
                raise ValueError("initial_ranks contains duplicate ids")
        return ir, 0

    # ------------------------------------------------------------------ API
    def run(
        self,
        edges: DataFrame,
        n: int,
        run_id: str | None = None,
        resume: bool = False,
    ) -> PageRankResult:
        """edges: (src: long, dst: long), dense 0-based ids in [0, n)."""
        run_id = run_id or uuid.uuid4().hex[:12]
        mode = self.mode
        if mode == "auto":
            mode = self.dispatch_mode(n)
        start = self._start_ranks(edges.sparkSession, n, run_id, resume)
        if mode == "csr":
            return self._run_csr(edges, n, run_id, *start)
        return self._run_dataframe(edges, n, run_id, *start)

    # vertices above which the driver-resident rank vector (8 B/vertex, plus
    # the same again broadcast per iteration) stops being sensible; beyond it
    # only the fully distributed dataframe path scales. 2^27 = 128M vertices
    # = ~1 GiB of float64 on the driver.
    AUTO_CSR_MAX_VERTICES = 1 << 27

    @classmethod
    def dispatch_mode(cls, n: int) -> str:
        """mode="auto" resolution: csr (driver-assembled rank vector, fastest
        measured throughput) while the vector comfortably fits driver/executor
        memory; dataframe (nothing driver-resident, 1 shuffle/iter) beyond."""
        return "csr" if n <= cls.AUTO_CSR_MAX_VERTICES else "dataframe"

    # ------------------------------------------------------- dataframe path
    def _run_dataframe(
        self, edges: DataFrame, n: int, run_id: str, start, start_iter: int
    ) -> PageRankResult:
        """The K=1, uniform-teleport case of the one DataFrame loop
        (linkanalysis._teleport_pagerank), started from ``start`` and
        committed every iteration through the loop's per-iteration hook."""
        lin = self.lineage

        def commit(run, state, dmass, total) -> None:
            state = state.select("id", F.col("r0").alias("rank"))
            commit_iteration(
                self.catalog, lin, f"pagerank_ckpt_{run_id}", state, run_id,
                run.iterations, rows_shuffled=run.m, residual_l1=run.deltas[-1],
                wall_time_s=run.iter_seconds[-1],
                extra={"dangling_mass": dmass[0], "total_mass": total[0], "mode": "dataframe"},
                partition_counts=lin.partition_counts(state) if lin and lin.per_partition else None,
            )

        run = _teleport_pagerank(
            edges, n, [F.lit(1.0 / n)], self.c, self.max_iter, self.eps,
            start=start, start_iter=start_iter,
            salt_partitions=self.salt_partitions, on_iteration=commit,
        )
        secs = run.iter_seconds
        tput = run.m / (sum(secs) / len(secs)) if secs else 0.0
        return PageRankResult(
            run.ranks.select("id", F.col("r0").alias("rank")),
            run.iterations, run.deltas, run_id, tput, secs,
        )

    # -------------------------------------------------------------- csr path
    def _run_csr(
        self, edges: DataFrame, n: int, run_id: str, start, start_iter: int
    ) -> PageRankResult:
        spark = edges.sparkSession
        sc = spark.sparkContext
        c, eps = self.c, self.eps

        import json as _json
        import os as _os

        scratch = None
        manifest = None
        man_path = None
        if self.csr_storage == "files":
            import tempfile as _tempfile

            scratch = self.scratch_dir or _tempfile.mkdtemp(prefix=f"prcsr_{run_id}_")
            _os.makedirs(scratch, exist_ok=True)
            man_path = _os.path.join(scratch, "manifest.json")
            if self.reuse_pack and _os.path.exists(man_path):
                with open(man_path) as fh:
                    manifest = _json.load(fh)
                if manifest.get("version") != PACK_FORMAT_VERSION:
                    # stale layout: re-pack (the sweep below removes the old
                    # block files, the pack rewrites the rest)
                    manifest = None
                elif int(manifest["n"]) != n:
                    raise ValueError(
                        f"packed manifest at {scratch} is for n={manifest['n']}, "
                        f"requested n={n}"
                    )
                elif (
                    self.num_blocks is not None
                    and int(manifest["nblocks"]) != self.num_blocks
                ):
                    raise ValueError(
                        f"packed manifest at {scratch} has nblocks="
                        f"{manifest['nblocks']}, requested {self.num_blocks}"
                    )
                elif (
                    self.pack_key is not None
                    and manifest.get("key") is not None
                    and manifest["key"] != self.pack_key
                ):
                    # graph-identity mismatch: silently reusing would return
                    # the OTHER graph's ranks — hard error (reuse_pack doc)
                    raise ValueError(
                        f"packed manifest at {scratch} was packed with "
                        f"key={manifest['key']!r}, requested "
                        f"{self.pack_key!r} — wrong graph for this scratch dir"
                    )
                elif self.pack_key is not None and manifest.get("key") is None:
                    # pre-key pack: identity unverifiable — re-pack once so
                    # the key is recorded from here on
                    manifest = None
                # NOTE: with no pack_key the edge CONTENT remains the
                # caller's responsibility — it cannot be cross-checked
                # without scanning the source (which reuse exists to avoid)
            if manifest is None and self.scratch_dir is not None:
                # about to (re-)pack into a persistent scratch dir: remove
                # any block files from earlier packs first — they are about
                # to be orphaned (new packs use fresh uuid names and rewrite
                # the manifest), and repeated runs would otherwise leak GBs
                import glob as _glob

                for pth in _glob.glob(_os.path.join(scratch, "b*.bin")):
                    _os.remove(pth)

        idx_t = np.int32 if n < 2**31 else np.int64

        if manifest is not None:
            # Pack-once / iterate-many: everything the iterations need was
            # persisted by a previous pack of the SAME graph. ``edges`` is
            # never evaluated on this path.
            nblocks = int(manifest["nblocks"])
            block_size = int(manifest["block_size"])
            m = int(manifest["m"])
            hub_ids = np.load(_os.path.join(scratch, "hub_ids.npy"))
            n_hubs = int(hub_ids.shape[0])
            outdeg = np.load(_os.path.join(scratch, "outdeg.npy"))
            packed = (
                spark.createDataFrame(
                    [(int(b), str(p)) for b, p in manifest["files"]],
                    "block long, path string",
                )
                .localCheckpoint(eager=True)
            )
            # co-locate each block's files on ONE task (see the pack-path
            # comment on the O(P*n) -> O(n) contribution transport)
            packed = _block_aligned(packed, nblocks, spark).localCheckpoint(
                eager=True
            )
            return self._iterate_csr(
                spark, sc, run_id, start, start_iter, n, m, nblocks, block_size,
                n_hubs, hub_ids, outdeg, idx_t, packed, scratch, keep_scratch=True,
            )

        # one block per task slot, so an iteration runs in one task wave; as
        # many waves as keep block_size <= MAX_BLOCK_VALUES
        slots = task_slots(sc)
        nblocks = self.num_blocks or slots * max(
            1, -(-n // (slots * MAX_BLOCK_VALUES))
        )
        block_size = (n + nblocks - 1) // nblocks

        # One-time layout: route edges to interleaved dst blocks, then ENCODE
        # each block's src-sorted (src, slot) arrays into compact chunks
        # (encode_chunk). Iterations then stream a handful of memcpy-able
        # blobs instead of millions of rows — per-row serde was measured at
        # ~5M rows/s/core, the packed path is ~2 GB/s/core. This is the
        # "partition-local CSR" layout: build once, reuse every iteration.
        degrees = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        m = edges.count()

        # Hub splitting: a power-law top destination can hold 30%+ of all
        # edges, so no dst-blocking scheme alone balances tasks. Destinations
        # whose in-degree exceeds m/(4*nblocks) are "hubs": their edges route
        # by src%nblocks into reserved per-block accumulator slots and the
        # driver sums the partials — the map-side analog of the salted
        # two-stage aggregate (graph/skew.py). Collected driver-side because
        # the hub set is tiny by construction (< 4*nblocks ids above the
        # threshold, capped at 65536).
        hub_threshold = max(65, m // (4 * nblocks))
        hub_rows = (
            edges.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("indeg"))
            .filter(F.col("indeg") > hub_threshold)
            .orderBy(F.desc("indeg"))
            .limit(65536)
            .toArrow()
        )
        hub_ids = np.sort(hub_rows.column("dst").to_numpy().astype(np.int64))
        n_hubs = int(hub_ids.shape[0])

        # chunk cap: 8 MiB of int32 pairs (1M edges) — big enough to amortize
        # per-row serde, small enough to stay GC-friendly as a JVM cell
        # (64 MiB cells measured 2-4x noisier iteration times under memory
        # pressure)
        chunk_edges = (8 << 20) // (2 * np.dtype(idx_t).itemsize)
        bs = block_size
        u16 = (bs + n_hubs) < 65536

        def chunks(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[int, bytes]]:
            """Route a task's edges to (block, chunk) pairs.

            INTERLEAVED blocking (dst % nblocks, slot = dst // nblocks): web
            graphs put hubs at low dense ids, so contiguous ranges would dump
            nearly all edges into block 0 (measured: one task did 99% of the
            work). Hub destinations (top in-degree, see hub_ids) are further
            split: routed by src % nblocks into reserved slots bs+hub_pos,
            partial-summed per block, finalized driver-side. Raw batches
            accumulate untouched; ALL routing happens once per flush as a
            single vectorized lexsort (a per-batch nblocks-way mask split
            dominated pack time ~4:1)."""
            parts: list[np.ndarray] = []
            pending = 0

            def flush() -> Iterator[tuple[int, bytes]]:
                cat = np.concatenate(parts, axis=1)
                src, dst = cat[0], cat[1]
                if n_hubs:
                    pos = np.clip(np.searchsorted(hub_ids, dst), 0, n_hubs - 1)
                    is_hub = hub_ids[pos] == dst
                    blk = np.where(is_hub, src % nblocks, dst % nblocks)
                    slot = np.where(is_hub, bs + pos, dst // nblocks)
                else:
                    blk = dst % nblocks
                    slot = dst // nblocks
                order = np.lexsort((src, blk))
                src_s, slot_s = src[order], slot[order]
                bounds = np.searchsorted(blk[order], np.arange(nblocks + 1))
                for b in range(nblocks):
                    for lo in range(int(bounds[b]), int(bounds[b + 1]), chunk_edges):
                        hi = min(lo + chunk_edges, int(bounds[b + 1]))
                        yield b, encode_chunk(src_s[lo:hi], slot_s[lo:hi], idx_t, u16)

            for batch in batches:
                src = batch.column("src").to_numpy(zero_copy_only=False)
                dst = batch.column("dst").to_numpy(zero_copy_only=False)
                parts.append(np.stack([src, dst]))
                pending += src.shape[0]
                # ~17M pending edges -> ~500k-edge per-block chunks (RLE
                # engages), ~1 GB transient per task during the flush
                if pending >= chunk_edges * 16:
                    yield from flush()
                    parts, pending = [], 0
            if pending:
                yield from flush()

        if self.csr_storage == "files":
            # write chunks once to files; iterations move only the rank
            # vector (the executor-local-storage analog of shuffle files)
            def pack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
                blocks: list[int] = []
                paths: list[str] = []
                for b, chunk in chunks(batches):
                    path = _os.path.join(
                        scratch, f"b{b:06d}_{uuid.uuid4().hex[:10]}.bin"
                    )
                    with open(path, "wb") as f:
                        f.write(chunk)
                    blocks.append(b)
                    paths.append(path)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(blocks, type=pa.int64()), pa.array(paths)],
                    names=["block", "path"],
                )

            schema = "block long, path string"
        else:

            def pack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
                for b, chunk in chunks(batches):
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array([b], type=pa.int64()),
                            pa.array([chunk], type=pa.binary()),
                        ],
                        names=["block", "chunk"],
                    )

            schema = "block long, chunk binary"

        # _block_aligned: co-locate each block's chunks on ONE task. Every
        # source partition emits partials for every block it touches, so
        # without this the iteration's contribution transport is O(P * n) —
        # each of P tasks ships a full O(n) accumulator set (measured:
        # 7.7 GB/iteration at n=3e7, P=32; Java heap OOM). Block-aligned
        # tasks merge a block's partials locally and ship each block ONCE:
        # O(n + P * n_hubs) per iteration. For cells the chunks shuffle ONCE
        # here, at pack time. Explicit numPartitions keeps AQE from
        # coalescing the tiny path rows.
        packed = _block_aligned(
            _balanced(edges.select("src", "dst"), nblocks).mapInArrow(pack, schema),
            nblocks,
            spark,
        )
        if self.csr_storage == "files":
            packed = packed.localCheckpoint(eager=True)
        else:
            packed = packed.persist()
            packed.count()

        # outdeg vector -> dangling mask, collected once via Arrow.
        deg_tbl = degrees.toArrow()
        outdeg = np.zeros(n)
        outdeg[deg_tbl.column("src").to_numpy()] = deg_tbl.column("outdeg").to_numpy()

        # persist the manifest only when the scratch dir can outlive this run
        # (explicit scratch_dir); a throwaway mkdtemp is deleted at the end,
        # so writing outdeg/hub arrays there would be pure overhead
        if self.scratch_dir is None:
            man_path = None

        if man_path is not None:
            # persist everything the iterations need so a later run with
            # reuse_pack=True skips generation/degrees/pack entirely
            files = [[int(r["block"]), r["path"]] for r in packed.collect()]
            np.save(_os.path.join(scratch, "hub_ids.npy"), hub_ids)
            np.save(_os.path.join(scratch, "outdeg.npy"), outdeg)
            tmp = man_path + ".tmp"
            with open(tmp, "w") as fh:
                _json.dump(
                    {"version": PACK_FORMAT_VERSION, "n": n, "m": m,
                     "nblocks": nblocks, "block_size": block_size,
                     "key": self.pack_key, "files": files},
                    fh,
                )
            _os.replace(tmp, man_path)

        return self._iterate_csr(
            spark, sc, run_id, start, start_iter, n, m, nblocks, block_size,
            n_hubs, hub_ids, outdeg, idx_t, packed, scratch,
            keep_scratch=self.scratch_dir is not None,
        )

    def _iterate_csr(
        self, spark, sc, run_id, start, start_iter, n, m, nblocks, block_size,
        n_hubs, hub_ids, outdeg, idx_t, packed, scratch, keep_scratch,
    ) -> PageRankResult:
        """Power-iterate over an already-packed block layout (see _run_csr)."""
        c, eps = self.c, self.eps
        dangling = outdeg == 0.0

        # Arrow batch pull, not collect(): the start ranks are O(n) and
        # collect() would build n Row objects on the driver
        pi = np.full(n, 1.0 / n)
        if start is not None:
            t = start.toArrow()
            pi[t.column("id").to_numpy()] = t.column("rank").to_numpy()
        ids = pa.array(np.arange(n, dtype=np.int64))

        out_schema = StructType(
            [
                StructField("block", LongType(), False),
                StructField("off", LongType(), False),
                StructField("contrib", BinaryType(), False),
            ]
        )
        # per-row contribution payload cap, in VALUES (2 MB fp64 / 1 MB
        # fp32), one Arrow batch per chunk: a block's partial vector is
        # O(n/nblocks) and shipping it as ONE binary cell makes the Arrow
        # writer allocate whole-blob direct buffers — 32 concurrent tasks x
        # multi-MB blobs blew netty's 8 GiB MaxDirectMemorySize at n=3e7
        # (reproduced). Bounded chunks keep direct-memory use flat no matter
        # how big n/nblocks grows; the driver reassembles by (block, off).
        chunk_vals = 1 << 18

        def emit_contrib_chunks(acc, out_dtype):
            """Yield each block's partial vector as bounded Arrow batches
            (block, off, contrib) — transported in rank_dtype (fp32 halves
            the O(V) pull; accumulation in the tasks and the driver merge
            stay fp64). Quantization count per value: a destination id can
            receive one fp32-quantized partial from EACH task that holds
            in-edges to its stripe, so hub ids accumulate up to nblocks
            independently quantized nonnegative partials — each carrying the
            same ~6e-8 relative error, so the merged sum keeps that relative
            bound (errors on nonnegative terms can't cancel the magnitude);
            it is NOT a single quantization per value. Grows with nblocks
            only in count, not in relative error — revisit the golden 1e-6 /
            1e-7 tolerances if the bound or nblocks regime changes."""
            for b, a in acc.items():
                av = a.astype(out_dtype, copy=False)
                for lo in range(0, av.shape[0], chunk_vals):
                    seg = av[lo : lo + chunk_vals]
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array([b], type=pa.int64()),
                            pa.array([lo], type=pa.int64()),
                            pa.array([seg.tobytes()]),
                        ],
                        names=["block", "off", "contrib"],
                    )

        deltas: list[float] = []
        iter_secs: list[float] = []
        it = start_iter
        for it in range(start_iter + 1, self.max_iter + 1):
            t0 = time.time()
            rw = pi / np.where(outdeg > 0, outdeg, 1.0)
            rw[dangling] = 0.0
            # rank_dtype=float32 halves the broadcast and the gather source;
            # astype(copy=False) is a no-op for the default float64
            b_rw = sc.broadcast(rw.astype(self.rank_dtype, copy=False))

            def spmv(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
                # one kernel for both carriers: a cells row holds the chunk
                # bytes, a files row the path of a file holding the same bytes
                acc: dict[int, np.ndarray] = {}
                rwv = b_rw.value
                ml = block_size + n_hubs
                reader = ChunkReader() if scratch is not None else None
                for batch in batches:
                    blocks = batch.column("block").to_pylist()
                    col = batch.column(1)
                    for i, b in enumerate(blocks):
                        a = acc.get(b)
                        if a is None:
                            a = acc.setdefault(b, np.zeros(ml))
                        buf = col[i].as_py()
                        if reader is not None:
                            buf = reader.read(buf, idx_t)
                        spmv_chunk(buf, rwv, a, idx_t)
                if acc:
                    yield from emit_contrib_chunks(acc, rwv.dtype)

            # Arrow batch pull, NOT collect(): the contribution payload is
            # O(V) (nblocks x ml values/iter — 240 MB fp64 at n=3e7) and Row
            # materialization of binary columns serializes it through the
            # driver one object at a time. Same convention as the
            # start-rank pull above.
            tbl = packed.mapInArrow(spmv, out_schema).toArrow()
            contrib = np.zeros(n)
            blk_col = tbl.column("block").to_pylist()
            off_col = tbl.column("off").to_pylist()
            bin_col = tbl.column("contrib")
            for i, b in enumerate(blk_col):
                arr = np.frombuffer(bin_col[i].as_py(), dtype=self.rank_dtype)
                off = off_col[i]
                # interleaved blocks: block b owns global ids b, b+nblocks, ...
                stripe = contrib[b::nblocks]
                s_len = stripe.shape[0]  # <= block_size (tail padding unused)
                if off < s_len:
                    e = min(off + arr.shape[0], s_len)
                    # upcast add: driver merge stays fp64
                    stripe[off:e] += arr[: e - off]
                if n_hubs and off + arr.shape[0] > block_size:
                    # hub partial sums live in slots [bs, bs+n_hubs)
                    h0 = max(off, block_size) - block_size
                    a0 = max(off, block_size) - off
                    hseg = arr[a0:]
                    contrib[hub_ids[h0 : h0 + hseg.shape[0]]] += hseg
            b_rw.destroy()

            dmass = pi[dangling].sum()
            new = c * (contrib + dmass / n) + (1.0 - c) / n * pi.sum()
            delta = float(np.abs(new - pi).sum())
            pi = new
            deltas.append(delta)
            wall = time.time() - t0
            iter_secs.append(wall)
            # the driver's vector commits with no Spark job; an iteration is
            # one map-only stage over the block-aligned pack: it shuffles
            # nothing
            commit_iteration(
                self.catalog, self.lineage, f"pagerank_ckpt_{run_id}",
                pa.table({"id": ids, "rank": pi}), run_id, it, rows_shuffled=0,
                residual_l1=delta, wall_time_s=wall,
                extra={"dangling_mass": dmass, "mode": "csr"},
            )
            if delta < eps:
                break

        pi = pi / np.abs(pi).sum()
        packed.unpersist()
        if scratch is not None and not keep_scratch:
            import shutil

            shutil.rmtree(scratch, ignore_errors=True)
        ranks = spark.createDataFrame(pa.table({"id": ids, "rank": pi}).to_pandas())
        tput = m / (sum(iter_secs) / len(iter_secs)) if iter_secs else 0.0
        return PageRankResult(ranks, it, deltas, run_id, tput, iter_secs)
