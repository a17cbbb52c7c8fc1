"""spark-submit entry point.

    spark-submit --py-files pagerank_spark_pkg.zip -m pagerank_spark.cli ...
or locally:
    python -m pagerank_spark.cli pagerank --edges <parquet> --n <N> --output <dir>

Build the zip with ``python -c "from pagerank_spark.session import
package_zip; print(package_zip())"``. Subcommands cover every engine job;
each reads/writes parquet or catalog tables so runs chain together.
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid

from pyspark.sql import functions as F


def _spark(args):
    from pagerank_spark.session import get_spark

    return get_spark(
        "pagerank_spark_cli",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def _catalog(args, default_durable: bool = False):
    """Resolve the checkpoint/lineage catalog.

    Durable checkpoints are ON by default for iterative jobs
    (default_durable=True): localCheckpoint alone does not survive executor
    loss, so cluster runs need a durable warehouse to resume from. The
    default location is `<output>_warehouse` (a sibling of --output, so
    overwrite of the output dir cannot wipe it) or a fresh temp dir when no
    --output is given; the resolved path and the run id are echoed in the
    result JSON. `pagerank --run-id ... --resume` picks a killed run back
    up; `components` has no resume flag, so its echoed run id is resumed
    through the library (`connected_components(..., catalog=Catalog(wh),
    run_id=..., resume=True)`). Pass `--warehouse none` to opt out
    (fastest, but a killed run restarts from iteration 0)."""
    wh = args.warehouse
    if wh == "none":
        return None
    if wh is None:
        if not default_durable:
            return None
        out = getattr(args, "output", None)
        if out:
            wh = out.rstrip("/") + "_warehouse"
        else:
            import tempfile

            wh = tempfile.mkdtemp(prefix="pagerank_spark_wh_")
    from pagerank_spark.tables import Catalog

    return Catalog(wh)


def cmd_build_graph(args) -> int:
    spark = _spark(args)
    from pagerank_spark.graph.build import build_link_graph

    pages = spark.read.parquet(args.pages)
    g = build_link_graph(pages)
    cat = _catalog(args)
    if cat:
        cat.write(g.edges, "edges", bucket_by=(args.shuffle_partitions or 32, "src"))
        cat.write(g.vertices, "vertices")
    else:
        g.edges.write.mode("overwrite").parquet(args.output + "/edges")
        g.vertices.write.mode("overwrite").parquet(args.output + "/vertices")
    print(json.dumps({"n_vertices": g.n, "n_edges": g.edges.count()}))
    return 0


def cmd_generate_pages(args) -> int:
    spark = _spark(args)
    from pagerank_spark.sources.pages import generate_pages

    pages = generate_pages(spark, args.n, seed=args.seed)
    pages.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"pages": args.n, "output": args.output}))
    return 0


def _load_edges(spark, args):
    if args.graph_file:
        from pagerank_spark.sources.graphfile import read_graph_file

        return read_graph_file(spark, args.graph_file)
    edges = spark.read.parquet(args.edges)
    n = args.n or (
        edges.agg(F.greatest(F.max("src"), F.max("dst"))).first()[0] + 1
    )
    return edges, int(n)


def cmd_pagerank(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.pagerank import PageRank
    from pagerank_spark.lineage import LineageWriter

    edges, n = _load_edges(spark, args)
    cat = _catalog(args, default_durable=True)
    lineage = LineageWriter(spark, cat, per_partition=True) if cat else None
    pr = PageRank(
        c=args.c, eps=args.eps, max_iter=args.max_iter, mode=args.mode,
        catalog=cat, lineage=lineage,
        rank_dtype=getattr(args, "rank_dtype", "float64"),
    )
    res = pr.run(edges, n, run_id=args.run_id, resume=args.resume)
    if args.output:
        res.ranks.orderBy("id").write.mode("overwrite").parquet(args.output)
    if args.text_output:
        from pagerank_spark.sources.graphfile import save_pageranks_text

        save_pageranks_text(res.ranks, args.text_output)
    print(
        json.dumps(
            {
                "iterations": res.iterations,
                "final_delta": res.deltas[-1] if res.deltas else None,
                "edges_per_sec_per_iter": res.edges_per_sec_per_iter,
                "run_id": res.run_id,
                "warehouse": cat.warehouse if cat else None,
            }
        )
    )
    return 0


def cmd_components(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.components import connected_components
    from pagerank_spark.sources.graphfile import vertices_df

    edges, n = _load_edges(spark, args)
    cat = _catalog(args, default_durable=True)
    run_id = uuid.uuid4().hex[:12]
    comp = connected_components(edges, vertices_df(spark, n), catalog=cat, run_id=run_id)
    if args.output:
        comp.write.mode("overwrite").parquet(args.output)
    print(
        json.dumps(
            {
                "n_components": comp.select("component").distinct().count(),
                "run_id": run_id,
                "warehouse": cat.warehouse if cat else None,
            }
        )
    )
    return 0


def cmd_triangles(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.triangles import triangle_count

    edges, _ = _load_edges(spark, args)
    print(json.dumps({"triangles": triangle_count(edges)}))
    return 0


def cmd_labelprop(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.labelprop import label_propagation
    from pagerank_spark.sources.graphfile import vertices_df

    edges, n = _load_edges(spark, args)
    labels = label_propagation(edges, vertices_df(spark, n), max_iter=args.max_iter)
    if args.output:
        labels.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"n_labels": labels.select("label").distinct().count()}))
    return 0


def cmd_hits(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.linkanalysis import hits
    from pagerank_spark.sources.graphfile import vertices_df

    edges, n = _load_edges(spark, args)
    res = hits(
        edges,
        vertices_df(spark, n),
        max_iter=args.max_iter,
        degree_normalized=getattr(args, "salsa", False),
    )
    if args.output:
        res.scores.write.mode("overwrite").parquet(args.output)
    top = res.scores.orderBy(F.desc("auth"), F.asc("id")).limit(1).first()
    print(json.dumps({"iterations": res.iterations,
                      "top_auth_id": int(top["id"]) if top else None}))
    return 0


def cmd_spam_mass(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.linkanalysis import spam_mass

    edges, n = _load_edges(spark, args)
    seeds = spark.createDataFrame(
        [(int(s),) for s in args.seeds.split(",")], "id long"
    )
    out = spam_mass(edges, n, seeds, c=args.c, max_iter=args.max_iter)
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
    row = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("rel_mass").alias("m"),
        F.sum(F.when(F.col("rel_mass") > args.threshold, 1).otherwise(0)).alias(
            "flagged"
        ),
    ).first()
    print(
        json.dumps(
            {
                "n": int(row["n"]),
                "max_rel_mass": float(row["m"]),
                "flagged": int(row["flagged"]),
                "threshold": args.threshold,
            }
        )
    )
    return 0


def cmd_ppr(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.linkanalysis import personalized_pagerank

    edges, n = _load_edges(spark, args)
    seeds = spark.createDataFrame(
        [(int(s),) for s in args.seeds.split(",")], "id long"
    )
    ranks = personalized_pagerank(
        edges, n, seeds, c=args.c, max_iter=args.max_iter, eps=args.eps
    )
    if args.output:
        ranks.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"n_ranked": ranks.filter(F.col("rank") > 0).count()}))
    return 0


def cmd_bfs(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.linkanalysis import bfs_distances

    edges, _ = _load_edges(spark, args)
    sources = spark.createDataFrame(
        [(int(s),) for s in args.seeds.split(",")], "id long"
    )
    dist = bfs_distances(
        edges, sources, max_hops=args.max_hops, directed=not args.undirected
    )
    if args.output:
        dist.write.mode("overwrite").parquet(args.output)
    row = dist.agg(F.count(F.lit(1)).alias("n"), F.max("dist").alias("d")).first()
    print(json.dumps({"n_reached": int(row["n"]), "max_dist": int(row["d"] or 0)}))
    return 0


def cmd_clustering(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.linkanalysis import clustering_coefficients

    edges, _ = _load_edges(spark, args)
    cc = clustering_coefficients(edges)
    if args.output:
        cc.write.mode("overwrite").parquet(args.output)
    row = cc.agg(F.avg("cc").alias("avg"), F.count(F.lit(1)).alias("n")).first()
    print(json.dumps({"n_vertices": int(row["n"]),
                      "avg_cc": round(float(row["avg"] or 0.0), 6)}))
    return 0


def cmd_kcore(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.structure import coreness

    edges, _ = _load_edges(spark, args)
    core = coreness(edges)
    if args.output:
        core.write.mode("overwrite").parquet(args.output)
    row = core.agg(F.max("coreness").alias("k"), F.count(F.lit(1)).alias("n")).first()
    print(json.dumps({"n_vertices": int(row["n"]), "k_max": int(row["k"] or 0)}))
    return 0


def cmd_scc(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.structure import strongly_connected_components
    from pagerank_spark.sources.graphfile import vertices_df

    edges, n = _load_edges(spark, args)
    scc = strongly_connected_components(edges, vertices_df(spark, n))
    if args.output:
        scc.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"n_sccs": scc.select("scc").distinct().count()}))
    return 0


def cmd_hyperball(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.hyperball import harmonic_centrality, hyperball

    edges, _ = _load_edges(spark, args)
    res = hyperball(edges, t_max=args.t_max)
    if args.output:
        res.balls.write.mode("overwrite").parquet(args.output)
    out = {
        "iterations": res.iterations,
        "nf": [round(v, 2) for v in res.nf],
        "effective_diameter": round(res.effective_diameter, 4),
    }
    if args.harmonic:
        hc = harmonic_centrality(edges, t_max=args.t_max)
        top = hc.orderBy(F.desc("harmonic"), F.asc("id")).limit(5).collect()
        out["top_harmonic"] = [
            {"id": int(r["id"]), "harmonic": round(float(r["harmonic"]), 3)}
            for r in top
        ]
    print(json.dumps(out))
    return 0


def cmd_walks(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.walks import random_walks

    edges, _ = _load_edges(spark, args)
    w = random_walks(
        edges,
        walk_length=args.walk_length,
        walks_per_node=args.walks_per_node,
        seed=args.seed,
    )
    if args.output:
        w.write.mode("overwrite").parquet(args.output)
    row = w.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("start_id").alias("starts"),
        F.max("step").alias("max_step"),
    ).first()
    print(
        json.dumps(
            {
                "rows": int(row["rows"]),
                "starts": int(row["starts"]),
                "max_step": int(row["max_step"] or 0),
            }
        )
    )
    return 0


def cmd_cocite(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.linkanalysis import co_citation

    edges, _ = _load_edges(spark, args)
    pairs = co_citation(
        edges, min_count=args.min_count, max_src_fanout=args.max_src_fanout
    )
    if args.output:
        pairs.write.mode("overwrite").parquet(args.output)
    row = pairs.agg(
        F.count(F.lit(1)).alias("pairs"), F.max("n_common_src").alias("max_common")
    ).first()
    print(
        json.dumps(
            {
                "pairs": int(row["pairs"] or 0),
                "max_common": int(row["max_common"] or 0),
            }
        )
    )
    return 0



def cmd_bowtie(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.structure import bowtie

    edges, _ = _load_edges(spark, args)
    lab = bowtie(edges)
    if args.output:
        lab.write.mode("overwrite").parquet(args.output)
    counts = {r["component"]: int(r["c"]) for r in
              lab.groupBy("component").agg(F.count(F.lit(1)).alias("c")).collect()}
    print(json.dumps({k: counts.get(k, 0) for k in
                      ("CORE", "IN", "OUT", "TUBES", "TENDRILS", "DISCONNECTED")}))
    return 0


def cmd_adamic_adar(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.linkanalysis import adamic_adar

    edges, _ = _load_edges(spark, args)
    pairs = adamic_adar(
        edges, min_common=args.min_common,
        max_src_fanout=args.max_src_fanout, variant=args.variant,
    )
    if args.output:
        pairs.write.mode("overwrite").parquet(args.output)
    row = pairs.agg(
        F.count(F.lit(1)).alias("pairs"), F.max("score").alias("max_score")
    ).first()
    print(json.dumps({
        "pairs": int(row["pairs"] or 0),
        "max_score": round(float(row["max_score"] or 0.0), 6),
    }))
    return 0


def cmd_graph_diff(args) -> int:
    spark = _spark(args)
    from pagerank_spark.graph.diff import degree_delta, edge_diff

    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    d = edge_diff(old, new)
    if args.output:
        d.write.mode("overwrite").parquet(args.output)
    by = {r["change"]: int(r["c"]) for r in
          d.groupBy("change").agg(F.count(F.lit(1)).alias("c")).collect()}
    moved = degree_delta(old, new).count()
    print(json.dumps({
        "added": by.get("added", 0),
        "removed": by.get("removed", 0),
        "vertices_degree_changed": int(moved),
    }))
    return 0



def cmd_katz(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.linkanalysis import katz_centrality

    edges, n = _load_edges(spark, args)
    k = katz_centrality(edges, n, alpha=args.alpha, beta=args.beta,
                        max_iter=args.max_iter, eps=args.eps)
    if args.output:
        k.write.mode("overwrite").parquet(args.output)
    top = k.orderBy(F.desc("katz"), F.asc("id")).limit(1).first()
    print(json.dumps({"n": n, "top_id": int(top["id"]),
                      "top_katz": round(float(top["katz"]), 6)}))
    return 0


def cmd_node2vec(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.walks import node2vec_walks

    edges, _ = _load_edges(spark, args)
    w = node2vec_walks(edges, walk_length=args.walk_length,
                       walks_per_node=args.walks_per_node,
                       p=args.p, q=args.q, seed=args.seed)
    if args.output:
        w.write.mode("overwrite").parquet(args.output)
    row = w.agg(F.count(F.lit(1)).alias("rows"),
                F.count_distinct("start_id").alias("starts"),
                F.max("step").alias("max_step")).first()
    print(json.dumps({"rows": int(row["rows"]), "starts": int(row["starts"]),
                      "max_step": int(row["max_step"])}))
    return 0



def cmd_vacuum(args) -> int:
    import os

    from pagerank_spark.tables import Catalog

    cat = Catalog(args.warehouse_dir)
    report = {}
    for table in sorted(os.listdir(args.warehouse_dir)):
        if os.path.isdir(os.path.join(args.warehouse_dir, table, "metadata")):
            r = cat.expire_snapshots(
                table, keep_last=args.keep, orphan_ttl_s=args.orphan_ttl
            )
            report[table] = {
                "expired": len(r["expired_snapshots"]),
                "deleted_dirs": len(r["deleted_dirs"]),
                "kept": r["kept_snapshots"],
            }
    print(json.dumps(report))
    return 0


def cmd_summary(args) -> int:
    spark = _spark(args)
    from pagerank_spark.algorithms.structure import graph_summary

    edges, _ = _load_edges(spark, args)
    row = graph_summary(edges).first()
    print(
        json.dumps(
            {
                "n_vertices": int(row["n_vertices"]),
                "n_edges": int(row["n_edges"]),
                "n_self_loops": int(row["n_self_loops"]),
                "reciprocity": round(float(row["reciprocity"]), 6),
                "assortativity": (
                    None
                    if row["assortativity"] is None
                    else round(float(row["assortativity"]), 6)
                ),
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pagerank_spark")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument(
        "--warehouse", default=None,
        help="catalog dir for durable checkpoints/lineage. Iterative jobs "
        "(pagerank, components) default to <output>_warehouse (or a temp "
        "dir); pagerank --resume restarts a killed run from it, a killed "
        "components run resumes through the library from its echoed "
        "run_id; pass 'none' to opt out",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate-pages")
    g.add_argument("--n", type=int, required=True)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--output", required=True)
    g.set_defaults(fn=cmd_generate_pages)

    b = sub.add_parser("build-graph")
    b.add_argument("--pages", required=True)
    b.add_argument("--output", default="graph_out")
    b.set_defaults(fn=cmd_build_graph)

    def graph_args(sp):
        sp.add_argument("--edges", default=None, help="edges parquet dir")
        sp.add_argument("--graph-file", default=None, help="reference .graph binary")
        sp.add_argument("--n", type=int, default=None)
        sp.add_argument("--output", default=None)

    pr = sub.add_parser("pagerank")
    graph_args(pr)
    pr.add_argument("--c", type=float, default=0.85)
    pr.add_argument("--eps", type=float, default=1e-5)
    pr.add_argument("--max-iter", type=int, default=200)
    pr.add_argument("--mode", default="auto",
                    choices=["auto", "dataframe", "csr"])
    pr.add_argument("--run-id", default=None)
    pr.add_argument("--resume", action="store_true")
    pr.add_argument("--text-output", default=None)
    pr.add_argument(
        "--rank-dtype", default="float64", choices=["float32", "float64"],
        help="csr modes: fp32 rank broadcast/gather with fp64 accumulation "
        "(half the per-iteration broadcast bytes; golden-parity tested)",
    )
    pr.set_defaults(fn=cmd_pagerank)

    cc = sub.add_parser("components")
    graph_args(cc)
    cc.set_defaults(fn=cmd_components)

    tr = sub.add_parser("triangles")
    graph_args(tr)
    tr.set_defaults(fn=cmd_triangles)

    lp = sub.add_parser("labelprop")
    graph_args(lp)
    lp.add_argument("--max-iter", type=int, default=10)
    lp.set_defaults(fn=cmd_labelprop)

    ht = sub.add_parser("hits")
    graph_args(ht)
    ht.add_argument("--max-iter", type=int, default=5)
    ht.add_argument(
        "--salsa",
        action="store_true",
        help="degree-normalized (SALSA) variant instead of HITS",
    )
    ht.set_defaults(fn=cmd_hits)

    sm = sub.add_parser("spam-mass", help="TrustRank-based link-spam mass")
    graph_args(sm)
    sm.add_argument("--seeds", required=True, help="comma-separated trusted ids")
    sm.add_argument("--c", type=float, default=0.85)
    sm.add_argument("--max-iter", type=int, default=20)
    sm.add_argument("--threshold", type=float, default=0.9)
    sm.set_defaults(fn=cmd_spam_mass)

    pp = sub.add_parser("ppr", help="personalized (topic-sensitive) pagerank")
    graph_args(pp)
    pp.add_argument("--seeds", required=True, help="comma-separated seed ids")
    pp.add_argument("--c", type=float, default=0.85)
    pp.add_argument("--eps", type=float, default=1e-5)
    pp.add_argument("--max-iter", type=int, default=50)
    pp.set_defaults(fn=cmd_ppr)

    bf = sub.add_parser("bfs", help="multi-source BFS hop distances")
    graph_args(bf)
    bf.add_argument("--seeds", required=True, help="comma-separated source ids")
    bf.add_argument("--max-hops", type=int, default=30)
    bf.add_argument("--undirected", action="store_true")
    bf.set_defaults(fn=cmd_bfs)

    kc = sub.add_parser("kcore", help="k-core decomposition (coreness)")
    graph_args(kc)
    kc.set_defaults(fn=cmd_kcore)

    sc = sub.add_parser("scc", help="strongly connected components")
    graph_args(sc)
    sc.set_defaults(fn=cmd_scc)

    hb = sub.add_parser(
        "hyperball",
        help="HyperBall neighborhood function / effective diameter / harmonic",
    )
    graph_args(hb)
    hb.add_argument("--t-max", type=int, default=16)
    hb.add_argument("--harmonic", action="store_true")
    hb.set_defaults(fn=cmd_hyperball)

    wk = sub.add_parser("walks", help="seeded random walks (embedding corpus)")
    graph_args(wk)
    wk.add_argument("--walk-length", type=int, default=4)
    wk.add_argument("--walks-per-node", type=int, default=1)
    wk.add_argument("--seed", type=int, default=42)
    wk.set_defaults(fn=cmd_walks)

    co = sub.add_parser("cocite", help="co-citation relatedness pairs")
    graph_args(co)
    co.add_argument("--min-count", type=int, default=2)
    co.add_argument("--max-src-fanout", type=int, default=1000)
    co.set_defaults(fn=cmd_cocite)

    bt = sub.add_parser("bowtie", help="Broder bow-tie decomposition")
    graph_args(bt)
    bt.set_defaults(fn=cmd_bowtie)

    aa = sub.add_parser("adamic-adar", help="degree-weighted co-citation link prediction")
    graph_args(aa)
    aa.add_argument("--min-common", type=int, default=2)
    aa.add_argument("--max-src-fanout", type=int, default=1000)
    aa.add_argument("--variant", choices=["adamic_adar", "resource_allocation"],
                    default="adamic_adar")
    aa.set_defaults(fn=cmd_adamic_adar)

    gd = sub.add_parser("graph-diff", help="edge/degree delta between two snapshots")
    gd.add_argument("--old", required=True, help="old edges parquet dir")
    gd.add_argument("--new", required=True, help="new edges parquet dir")
    gd.add_argument("--output", default=None)
    gd.set_defaults(fn=cmd_graph_diff)

    kz = sub.add_parser("katz", help="Katz centrality")
    graph_args(kz)
    kz.add_argument("--alpha", type=float, default=0.05)
    kz.add_argument("--beta", type=float, default=1.0)
    kz.add_argument("--max-iter", type=int, default=10)
    kz.add_argument("--eps", type=float, default=0.0)
    kz.set_defaults(fn=cmd_katz)

    nv = sub.add_parser("node2vec", help="p/q-biased second-order walks")
    graph_args(nv)
    nv.add_argument("--walk-length", type=int, default=4)
    nv.add_argument("--walks-per-node", type=int, default=1)
    nv.add_argument("--p", type=float, default=1.0)
    nv.add_argument("--q", type=float, default=1.0)
    nv.add_argument("--seed", type=int, default=42)
    nv.set_defaults(fn=cmd_node2vec)

    vc = sub.add_parser("vacuum", help="expire old snapshots + orphan data dirs")
    vc.add_argument("--warehouse-dir", required=True)
    vc.add_argument("--keep", type=int, default=2)
    vc.add_argument(
        "--orphan-ttl", type=float, default=86400.0,
        help="age in seconds before uncommitted manifests / manifest-less "
        "data dirs are deleted (0 = immediate; single-writer only)",
    )
    vc.set_defaults(fn=cmd_vacuum)

    gs = sub.add_parser("summary", help="whole-graph summary stats")
    graph_args(gs)
    gs.set_defaults(fn=cmd_summary)

    cl = sub.add_parser("clustering", help="local clustering coefficients")
    graph_args(cl)
    cl.set_defaults(fn=cmd_clustering)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
