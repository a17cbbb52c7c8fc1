#!/usr/bin/env python
"""At-scale smokes (not part of the per-round bench: minutes-long).

Run:  python bench_smoke.py [triangles|ngram|labelprop|kcore|scc|hyperball|walks|ppr_batch|spans|bowtie|all|csr30m|df10m]

(csr30m and df10m are NOT in "all": minutes-long at-scale PageRank smokes,
run them alone on a quiet box — they feed BENCH/BASELINE.md's at-scale
sections.)

- triangles: exact triangle count at 10M vertices / 30M edges on local[32]
  (the hint gate flips to shuffle_hash joins here) — proves the
  degree-ordered plan completes without OOM and records wall time.
- labelprop: 2 fixed LP rounds at 4M vertices / 16M edges — above the
  broadcast gate, so this exercises the big-graph 1-exchange round (the
  statically-checkpointed labels keep hash(id); see _lp_round). label_sum
  is a determinism fingerprint comparable across code versions.
- ngram: capped n-gram Jaccard at 50k docs where EVERY doc shares a planted
  boilerplate prefix (the f^2 inverted-index blowup case). Records wall
  time, candidate-pair count, and final pair count, and asserts the
  candidate/doc ratio stays bounded (cap working) — at 50k docs the
  uncapped plan would need ~1.25e9 candidate rows from the hot shingles
  alone.

Prints one JSON line per smoke.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def smoke_triangles(spark, n_vertices=10_000_000, n_edges=30_000_000):
    from pagerank_spark.algorithms.triangles import triangle_count
    from pagerank_spark.sources.synthetic import synthetic_edges

    edges = synthetic_edges(
        spark, n_vertices, n_edges, seed=7, num_partitions=32
    ).persist()
    m = edges.count()
    t0 = time.time()
    tri = triangle_count(edges)
    wall = time.time() - t0
    edges.unpersist()
    return {
        "smoke": "triangles_10M",
        "n_vertices": n_vertices,
        "n_edges": m,
        "triangles": tri,
        "wall_s": round(wall, 2),
    }


def smoke_ngram_capped(spark, n_docs_target=50_000):
    """Corpus note: the driver's synthetic documents draw from a ~31-token
    vocabulary, so at 50k docs nearly every pair shares some moderate-df
    shingle — the candidate graph is dense for ANY exact inverted-index
    method and says nothing about the hot-shingle cap. This smoke instead
    synthesizes a realistic-entropy corpus (100 tokens/doc from a 50k-word
    vocabulary, all JVM-side and deterministic): 45k unique docs + 5k
    planted near-dups, every doc sharing a planted boilerplate prefix (the
    f^2 = 2.5e9 hot-shingle blowup case the cap exists for)."""
    from pagerank_spark.pipeline.dedup import ngram_jaccard_pairs

    n_base = n_docs_target * 9 // 10
    base = spark.range(n_base).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("common boiler plate prefix shared by every document "),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(100)),
                    lambda i: F.concat(
                        F.lit("w"),
                        F.pmod(F.xxhash64(F.col("id") * 1000 + i), F.lit(50_000)),
                    ),
                ),
                " ",
            ),
        ).alias("text"),
    )
    neardup = spark.range(n_docs_target - n_base).select(
        (F.col("id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(
            F.lit("common boiler plate prefix shared by every document "),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(100)),
                    lambda i: F.concat(
                        F.lit("w"),
                        F.pmod(F.xxhash64(F.col("id") * 1000 + i), F.lit(50_000)),
                    ),
                ),
                " ",
            ),
            F.lit(" extra tail token"),
        ).alias("text"),
    )
    docs = base.unionByName(neardup).repartition(32).localCheckpoint(eager=True)
    n_docs = docs.count()
    cap = max(1000, n_docs // 100)
    t0 = time.time()
    pairs = ngram_jaccard_pairs(docs, threshold=0.4, max_shingle_df=cap).count()
    wall = time.time() - t0
    # candidate volume the capped inverted index actually generates
    # (mirrors the internal candidate plan: hot shingles dropped)
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.filter(F.split(F.lower("text"), r"\W+"), lambda x: x != "").alias("toks"),
    ).filter(F.size("toks") > 0)
    sh = toks.select(
        "id",
        F.array_distinct(
            F.when(
                F.size("toks") >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 3),
                    lambda i: F.array_join(F.slice("toks", i + 1, 3), " "),
                ),
            ).otherwise(F.array(F.array_join("toks", " ")))
        ).alias("sh"),
    )
    inv = sh.select("id", F.explode("sh").alias("s"))
    hot = (
        inv.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap)
        .select("s")
    )
    inv_cand = inv.join(hot, "s", "left_anti")
    cands = (
        inv_cand.alias("a")
        .join(inv_cand.alias("b"), "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .select("a.id", "b.id")
        .distinct()
        .count()
    )
    cand_per_doc = cands / n_docs
    assert cand_per_doc < 100, (
        f"candidate blowup: {cands} candidates for {n_docs} docs"
    )
    return {
        "smoke": "ngram_capped_50k_hot",
        "n_docs": n_docs,
        "max_shingle_df": cap,
        "candidates": cands,
        "pairs_ge_040": pairs,
        "cand_per_doc": round(cand_per_doc, 2),
        "wall_s": round(wall, 2),
    }


def smoke_labelprop_big(spark, n_vertices=4_000_000, n_edges=16_000_000):
    from pagerank_spark.algorithms.labelprop import label_propagation
    from pagerank_spark.sources.synthetic import synthetic_edges

    edges = synthetic_edges(
        spark, n_vertices, n_edges, seed=44, num_partitions=32
    ).persist()
    edges.count()
    verts = spark.range(n_vertices)
    t0 = time.time()
    labels = label_propagation(edges, verts, max_iter=2, check_convergence=False)
    row = labels.agg(
        F.count(F.lit(1)).alias("rows"), F.sum("label").alias("label_sum")
    ).first()
    wall = time.time() - t0
    edges.unpersist()
    return {
        "smoke": "labelprop_big_2rounds",
        "n_vertices": n_vertices,
        "n_edges": n_edges,
        "rows": int(row["rows"]),
        "label_sum": int(row["label_sum"]),
        "wall_s": round(wall, 2),
    }


def smoke_kcore(spark, n_vertices=1_000_000, n_edges=8_000_000):
    """Active-set h-index coreness at scale: correctness invariant is the
    (count, sum, max) of the coreness distribution (deterministic seed)."""
    from pagerank_spark.algorithms.structure import coreness
    from pagerank_spark.sources.synthetic import synthetic_edges

    edges = synthetic_edges(
        spark, n_vertices, n_edges, seed=45, num_partitions=32
    ).persist()
    edges.count()
    t0 = time.time()
    c = coreness(edges)
    row = c.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("coreness").alias("core_sum"),
        F.max("coreness").alias("k_max"),
    ).first()
    wall = time.time() - t0
    edges.unpersist()
    return {
        "smoke": "kcore_coreness",
        "n_vertices": n_vertices,
        "n_edges": n_edges,
        "rows": int(row["rows"]),
        "core_sum": int(row["core_sum"]),
        "k_max": int(row["k_max"]),
        "wall_s": round(wall, 2),
    }


def smoke_scc(spark, n_vertices=1_000_000, n_edges=8_000_000):
    """Trim+coloring SCC at scale: invariant is component count and the
    giant-SCC size (deterministic seed)."""
    from pagerank_spark.algorithms.structure import strongly_connected_components
    from pagerank_spark.sources.synthetic import synthetic_edges

    edges = synthetic_edges(
        spark, n_vertices, n_edges, seed=45, num_partitions=32
    ).persist()
    edges.count()
    t0 = time.time()
    scc = strongly_connected_components(edges)
    row = scc.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("scc").alias("n_sccs"),
    ).first()
    giant = (
        scc.groupBy("scc").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    wall = time.time() - t0
    edges.unpersist()
    return {
        "smoke": "scc",
        "n_vertices": n_vertices,
        "n_edges": n_edges,
        "rows": int(row["rows"]),
        "n_sccs": int(row["n_sccs"]),
        "giant_scc": int(giant),
        "wall_s": round(wall, 2),
    }


def smoke_hyperball(spark, n_vertices=4_000_000, n_edges=16_000_000, t_max=4):
    """HyperBall at scale (above the 2M broadcast gate -> shuffle-hash
    hints on): 4 hops of the 64-register max-merge over 16M edges.
    Invariant is the exact register checksum (count, xor-hash over
    (id, s_int)) — deterministic seed, so comparable across versions."""
    from pagerank_spark.algorithms.hyperball import hyperball
    from pagerank_spark.sources.synthetic import synthetic_edges
    from pagerank_spark.util import set_checksum

    edges = synthetic_edges(
        spark, n_vertices, n_edges, seed=45, num_partitions=32
    ).persist()
    edges.count()
    t0 = time.time()
    res = hyperball(edges, t_max=t_max)
    last = res.balls.filter(F.col("t") == res.iterations)
    csum = set_checksum(last, "id", "s_int")
    wall = time.time() - t0
    edges.unpersist()
    return {
        "smoke": "hyperball",
        "n_vertices": n_vertices,
        "n_edges": n_edges,
        "t_max": t_max,
        "iterations": res.iterations,
        "nf": [round(v) for v in res.nf],
        "effective_diameter": round(res.effective_diameter, 3),
        "register_checksum": list(csum),
        "hop_seconds": [round(s, 2) for s in res.iter_seconds],
        "wall_s": round(wall, 2),
    }


def smoke_walks(spark, n_vertices=4_000_000, n_edges=16_000_000, walk_length=4):
    """Random walks at scale: one walk from each of ~4M start vertices,
    4 steps (above the 2M gate -> shuffle-hash hints). Invariant is the
    exact (count, xor-hash) checksum over the emitted (start, step, id)
    rows — deterministic seed + deterministic argmin rule."""
    from pagerank_spark.algorithms.walks import random_walks
    from pagerank_spark.sources.synthetic import synthetic_edges
    from pagerank_spark.util import set_checksum

    edges = synthetic_edges(
        spark, n_vertices, n_edges, seed=45, num_partitions=32
    ).persist()
    edges.count()
    t0 = time.time()
    w = random_walks(edges, walk_length=walk_length, walks_per_node=1, seed=9)
    csum = set_checksum(w, "start_id", "walk", "step", "id")
    wall = time.time() - t0
    edges.unpersist()
    return {
        "smoke": "random_walks",
        "n_vertices": n_vertices,
        "n_edges": n_edges,
        "walk_length": walk_length,
        "rows": csum[0],
        "walk_checksum": list(csum),
        "wall_s": round(wall, 2),
    }



def smoke_ppr_batch(spark, n_vertices=2_000_000, n_edges=8_000_000, k_topics=8):
    """Batched K-topic personalized PageRank vs K sequential runs at 2M
    vertices / 8M edges (above the broadcast gate): the batch's win is
    K-fold fewer edge-scan/shuffle stages per iteration. Records both wall
    times and the speedup; asserts the batch actually beats sequential."""
    from pagerank_spark.algorithms.linkanalysis import (
        personalized_pagerank,
        personalized_pagerank_batch,
    )
    from pagerank_spark.sources.synthetic import synthetic_edges

    e = synthetic_edges(spark, n_vertices, n_edges, seed=5).localCheckpoint(eager=True)
    seeds = spark.createDataFrame(
        [(f"t{k}", (k * 99991 + j * 1009) % n_vertices)
         for k in range(k_topics) for j in range(10)],
        "topic string, id long",
    )
    t0 = time.time()
    batch = personalized_pagerank_batch(e, n_vertices, seeds, max_iter=3)
    n_rows = batch.count()
    t_batch = time.time() - t0

    t0 = time.time()
    tot = 0
    for k in range(k_topics):
        s1 = seeds.filter(F.col("topic") == f"t{k}").select("id")
        tot += personalized_pagerank(e, n_vertices, s1, max_iter=3).count()
    t_seq = time.time() - t0
    assert n_rows == k_topics * n_vertices and tot == k_topics * n_vertices
    # structural batching is pinned by test_ppr_batch_iteration_single_exchange;
    # wall-clock comparison here is evidence, not a hard gate (timing on a
    # shared box can race) — only an egregious inversion fails the smoke
    assert t_batch < 2.0 * t_seq, (t_batch, t_seq)
    return {
        "smoke": "ppr_batch",
        "n_vertices": n_vertices,
        "n_edges": n_edges,
        "k_topics": k_topics,
        "batch_wall_s": round(t_batch, 1),
        "sequential_wall_s": round(t_seq, 1),
        "speedup": round(t_seq / t_batch, 2),
    }



def smoke_span_dedup(spark, n_docs=50_000):
    """Span-level dedup at 50k docs where EVERY doc shares a planted
    10-token boilerplate prefix — the worst case for the window-df stage
    (one span hash carried by the whole corpus; map-side combine must
    absorb it). Records wall time and asserts the flag stage found exactly
    the boilerplate coverage."""
    from pagerank_spark.pipeline.dedup import duplicate_spans

    boiler = "the quick brown fox jumps over the lazy sleeping dog"
    docs = (
        spark.range(0, n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit(boiler + " "),
                F.concat_ws(
                    " ",
                    *[
                        F.concat(F.lit(f"w{j}u"), (F.col("id") * 37 + j).cast("string"))
                        for j in range(90)
                    ],
                ),
            ).alias("text"),
        )
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    t0 = time.time()
    out = duplicate_spans(docs, span_tokens=10, min_df=2)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_dup_windows").alias("dups"),
        F.min("n_dup_windows").alias("mn"),
        F.max("n_dup_windows").alias("mx"),
    ).first()
    wall = time.time() - t0
    # exactly the planted 10-token prefix window is cross-doc duplicated:
    # 1 duplicated window position per doc (unique tails kill the rest)
    assert agg["n"] == n_docs and agg["mn"] == 1 and agg["mx"] == 1
    return {
        "smoke": "span_dedup",
        "n_docs": n_docs,
        "dup_windows": int(agg["dups"]),
        "wall_s": round(wall, 1),
    }



def smoke_bowtie(spark, n_vertices=1_000_000, n_edges=8_000_000):
    """Broder decomposition at 1M vertices / 8M edges (above the broadcast
    gate): SCC + four reachability fixpoints complete without OOM; the
    class counts partition the vertex set exactly."""
    from pagerank_spark.algorithms.structure import bowtie
    from pagerank_spark.sources.synthetic import synthetic_edges

    e = synthetic_edges(spark, n_vertices, n_edges, seed=11).localCheckpoint(
        eager=True
    )
    t0 = time.time()
    lab = bowtie(e)
    counts = {
        r["component"]: int(r["c"])
        for r in lab.groupBy("component").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    wall = time.time() - t0
    n_covered = sum(counts.values())
    n_endpoints = (
        e.select(F.col("src").alias("x")).union(e.select("dst")).distinct().count()
    )
    assert n_covered == n_endpoints, (n_covered, n_endpoints)
    assert counts.get("CORE", 0) > 0
    return {
        "smoke": "bowtie",
        "n_vertices": n_vertices,
        "n_edges": n_edges,
        "counts": counts,
        "wall_s": round(wall, 1),
    }


def smoke_pagerank_csr_30m(spark, n_vertices=30_000_000, n_edges=300_000_000,
                           iters=5):
    """The 100x-vertex regime that exposed the O(P*n) contribution transport
    in round 4 (PLANS.md 'CSR contribution transport at O(n), not O(P*n)'):
    n=3e7 / m=3e8, csr:files, 32 blocks, local[32]. Before the block-aligned
    pack this OOMed netty's direct-memory pool or ran ~57 s/iter; the fix
    ships each block's merged partial exactly once, so per-iteration Arrow
    traffic is n*dtype_bytes down (chunked pull) + n*dtype_bytes up (rank
    broadcast). Runs fp64 and fp32 over the SAME packed bytes — this is the
    rank-vector-in-DRAM regime (240 MB fp64) rank_dtype=float32 exists for.
    """
    import tempfile

    from pagerank_spark.algorithms.pagerank import PageRank
    from pagerank_spark.sources.synthetic import synthetic_edges

    edges = synthetic_edges(spark, n_vertices, n_edges, seed=11,
                            num_partitions=32)
    scratch = tempfile.mkdtemp(prefix="csr30m_")
    out = {"smoke": "pagerank_csr_30m", "n_vertices": n_vertices,
           "n_edges": n_edges, "mode": "csr:files", "num_blocks": 32}
    try:
        for dtype in ("float64", "float32"):
            t0 = time.time()
            pr = PageRank(mode="csr", csr_storage="files", max_iter=iters,
                          eps=0.0, scratch_dir=scratch, reuse_pack=True,
                          num_blocks=32, rank_dtype=dtype)
            res = pr.run(edges, n_vertices)
            secs = sorted(res.iter_seconds[1:])
            med = secs[len(secs) // 2]
            nb = 8 if dtype == "float64" else 4
            out[dtype] = {
                "iter_seconds": [round(s, 2) for s in res.iter_seconds],
                "iter_sec_med_excl_warmup": round(med, 3),
                "edges_per_sec_per_iter": round(n_edges / med, 0),
                "arrow_pull_mb_per_iter": round(n_vertices * nb / 1e6, 1),
                "rank_broadcast_mb_per_iter": round(n_vertices * nb / 1e6, 1),
                "wall_total_s": round(time.time() - t0, 1),
            }
    finally:
        import shutil

        shutil.rmtree(scratch, ignore_errors=True)
    return out


def smoke_pagerank_df_10m(spark, n_vertices=10_000_000, n_edges=40_000_000,
                          iters=6):
    """Dataframe mode in its dispatch regime: auto switches to it above
    2^27 vertices where the driver-assembled CSR vector stops being
    reasonable; this smoke puts numbers on the beyond-csr path (the largest
    dataframe-mode measurement was n=4e5 before round 5). Reports
    per-iteration seconds AND the planned shuffle-exchange count of one
    iteration at this exact scale (the 1-exchange/iter contract the plan
    test pins at n=300)."""
    from pyspark.sql import functions as FF

    from pagerank_spark.algorithms.linkanalysis import _teleport_iteration
    from pagerank_spark.algorithms.pagerank import PageRank
    from pagerank_spark.sources.synthetic import synthetic_edges
    from pagerank_spark.util import pin_state

    edges = synthetic_edges(spark, n_vertices, n_edges, seed=13,
                            num_partitions=32).persist()
    m = edges.count()
    t0 = time.time()
    res = PageRank(mode="dataframe", max_iter=iters, eps=0.0).run(
        edges, n_vertices
    )
    res.ranks.count()
    wall = time.time() - t0
    secs = sorted(res.iter_seconds[1:]) or res.iter_seconds
    med = secs[len(secs) // 2]

    # exchange count of one iteration plan at THIS scale (plan-only, not
    # executed): same walker as tests/test_plans.py::_exchanges, which
    # unwraps the AQE root to its initial plan (the exchanges are placed
    # there; AQE adds none)
    def exchanges(df):
        def walk(jp, acc):
            if jp.nodeName() == "AdaptiveSparkPlan":
                jp = jp.initialPlan()
            name = jp.nodeName()
            if "Exchange" in name and "Reused" not in name:
                acc[1 if "Broadcast" in name else 0] += 1
            ch = jp.children()
            for i in range(ch.size()):
                walk(ch.apply(i), acc)
        acc = [0, 0]
        walk(df._jdf.queryExecution().executedPlan(), acc)
        return acc[0]

    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = edges.groupBy("src").agg(FF.count(FF.lit(1)).alias("out"))
    ew = (
        edges.join(out.hint("shuffle_hash"), "src")
        .select("src", "dst", (FF.lit(1.0) / FF.col("out")).alias("w"))
        .repartition(p, "src")
        .persist()
    )
    ew.count()  # materialize: the cache's own build exchanges are pack-time,
    # not per-iteration — exactly as _teleport_pagerank amortizes them
    state = pin_state(
        spark.range(0, n_vertices, 1, p)
        .select("id", FF.lit(True).alias("non_dangling"),
                FF.lit(1.0 / n_vertices).alias("t0"),
                FF.lit(1.0 / n_vertices).alias("r0")),
        "id",
    )
    sh = exchanges(_teleport_iteration(
        ew, state, 1, 0.85, [0.0], [1.0], lambda df: df.hint("shuffle_hash")
    ))
    ew.unpersist()
    edges.unpersist()
    return {
        "smoke": "pagerank_df_10m",
        "n_vertices": n_vertices,
        "n_edges": m,
        "mode": "dataframe",
        "iter_seconds": [round(s, 2) for s in res.iter_seconds],
        "iter_sec_med_excl_warmup": round(med, 3),
        "edges_per_sec_per_iter": round(m / med, 0),
        "planned_shuffle_exchanges_per_iter": sh,
        "wall_total_s": round(wall, 1),
    }


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    from pagerank_spark.session import get_spark

    spark = get_spark("bench_smoke", master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    if which in ("triangles", "all"):
        print(json.dumps(smoke_triangles(spark)))
    if which in ("labelprop", "all"):
        print(json.dumps(smoke_labelprop_big(spark)))
    if which in ("ngram", "all"):
        print(json.dumps(smoke_ngram_capped(spark)))
    if which in ("kcore", "all"):
        print(json.dumps(smoke_kcore(spark)))
    if which in ("scc", "all"):
        print(json.dumps(smoke_scc(spark)))
    if which in ("hyperball", "all"):
        print(json.dumps(smoke_hyperball(spark)))
    if which in ("bowtie", "all"):
        print(json.dumps(smoke_bowtie(spark)))
    if which in ("spans", "all"):
        print(json.dumps(smoke_span_dedup(spark)))
    if which in ("ppr_batch", "all"):
        print(json.dumps(smoke_ppr_batch(spark)))
    if which in ("walks", "all"):
        print(json.dumps(smoke_walks(spark)))
    # NOT in "all": minutes-long at-scale PageRank smokes (quiet box only)
    if which == "csr30m":
        print(json.dumps(smoke_pagerank_csr_30m(spark)))
    if which == "df10m":
        print(json.dumps(smoke_pagerank_df_10m(spark)))
    spark.stop()


if __name__ == "__main__":
    main()
