"""spark-submit entry point (north_rule: ``spark-submit --py-files``).

    spark-submit --py-files bitcoinpagerank_spark.zip -m ...   # cluster
    python -m bitcoinpagerank_spark <command> ...              # local

Commands mirror the reference's driver mains (PrepareDataset,
BuildTextGraph, RunPageRankBasic, FindMaxPageRankNodes, CheckSumPageRank —
SURVEY.md §3):

  etl        pages parquet → edges parquet (+ url dictionary)
  pagerank   edges parquet → ranks parquet (checkpointed, resumable)
  components edges parquet → (id, component) parquet
  scc        edges parquet → (id, scc) parquet
  bfs        edges parquet → (id, dist) parquet from --sources seeds
  walks      edges parquet → (walk_id, step, pos) parquet
  labelprop  edges parquet → (id, label) parquet
  triangles  edges parquet → triangle count on stdout
  topk       ranks parquet → top-k report (CSV or text dump)
  mis        edges parquet → (id, status) parquet (Luby MIS)
  coloring   edges parquet → (id, color) parquet (iterated-MIS greedy)
  sssp       edges parquet → (id, dist) parquet from --sources[0]
  centrality edges parquet → scores parquet (--variant katz|eigenvector|salsa)
  louvain    edges parquet → (id, community) parquet (synchronous Louvain)
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="bitcoinpagerank_spark")
    ap.add_argument("command", choices=[
        "etl", "pagerank", "components", "scc", "bfs", "walks",
        "labelprop", "triangles", "topk", "ktruss", "harmonic", "linkpred",
        "mis", "coloring", "sssp", "centrality", "louvain",
        "trustrank", "spammass", "incremental-components",
        "decontaminate",
    ])
    ap.add_argument("--input", required=True, help="input parquet path")
    ap.add_argument("--output", help="output parquet/csv path")
    ap.add_argument("--master", default=None)
    ap.add_argument("--alpha", type=float, default=0.15)
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--checkpoint-dir", default=None,
                    help="snapshot dir; any Hadoop FS scheme works "
                         "(file://, hdfs://, s3a://) — snapshots are Iceberg "
                         "commits when the runtime jar is on the classpath, "
                         "else parquet + JSON manifest")
    ap.add_argument("--checkpoint-interval", type=int, default=10)
    ap.add_argument("--resume", action="store_true",
                    help="continue from the latest snapshot in --checkpoint-dir")
    ap.add_argument("--k", type=int, default=100)
    ap.add_argument("--sources", default="0",
                    help="bfs: comma-separated seed vertex ids")
    ap.add_argument("--walk-length", type=int, default=10)
    ap.add_argument("--walks-per-vertex", type=int, default=1)
    ap.add_argument("--truss-k", type=int, default=3)
    ap.add_argument("--min-common", type=int, default=2)
    ap.add_argument("--max-pivot-degree", type=int, default=None,
                    help="linkpred: drop shared-neighbor pivots above this "
                         "degree before the wedge join (hub cap)")
    ap.add_argument("--weight-col", default=None,
                    help="sssp: edge weight column (default: unit weights)")
    ap.add_argument("--prior-labels", default=None,
                    help="incremental-components: yesterday's labels parquet")
    ap.add_argument("--prior-edges", default=None,
                    help="incremental-components: yesterday's edges parquet")
    ap.add_argument("--variant", default="katz",
                    choices=["katz", "eigenvector", "salsa"],
                    help="centrality: which algorithm")
    ap.add_argument("--eval-set", default=None,
                    help="decontaminate: eval-set parquet (doc_id, text)")
    ap.add_argument("--ngram", type=int, default=13,
                    help="decontaminate: n-gram size (default 13)")
    ap.add_argument("--additions", default=None,
                    help="incremental-components: added-edges parquet "
                         "(delta-given path; with --deletions, replaces "
                         "--input-derived delta discovery)")
    ap.add_argument("--deletions", default=None,
                    help="incremental-components: deleted-edges parquet")
    args = ap.parse_args(argv)

    if args.command == "incremental-components" and (
        args.prior_labels is None or args.prior_edges is None
    ):
        ap.error(
            "incremental-components requires --prior-labels and "
            "--prior-edges (yesterday's CC labels and edge set)"
        )
    if args.command == "incremental-components" and (
        (args.additions is None) != (args.deletions is None)
    ):
        # exactly one delta flag would silently fall through to the
        # derive-from---input path and ignore the provided delta
        ap.error(
            "incremental-components: --additions and --deletions must be "
            "given together (delta-given path) or both omitted "
            "(derive the delta from --input)"
        )
    if args.command == "decontaminate" and args.eval_set is None:
        ap.error("decontaminate requires --eval-set (doc_id, text parquet)")

    from .session import get_spark

    spark = get_spark(app_name=f"bpr-{args.command}", master=args.master)

    if args.command == "etl":
        from .plans.linkgraph import build_link_graph

        pages = spark.read.parquet(args.input)
        lg = build_link_graph(pages, num_partitions=args.partitions)
        lg.edges.write.mode("overwrite").parquet(f"{args.output}/edges")
        lg.url_dict.write.mode("overwrite").parquet(f"{args.output}/url_dict")
        print(json.dumps({"edges": f"{args.output}/edges",
                          "url_dict": f"{args.output}/url_dict"}))
        return 0

    if args.command == "pagerank":
        from .operators.pagerank import pagerank, resume_pagerank

        edges = spark.read.parquet(args.input)
        kw = dict(alpha=args.alpha, tol=args.tol, max_iter=args.max_iter,
                  num_partitions=args.partitions,
                  checkpoint_interval=args.checkpoint_interval)
        if args.resume and args.checkpoint_dir:
            res = resume_pagerank(spark, edges, args.checkpoint_dir, **kw)
        else:
            res = pagerank(spark, edges, checkpoint_dir=args.checkpoint_dir, **kw)
        if args.output:
            res.ranks.write.mode("overwrite").parquet(args.output)
        print(json.dumps({
            "iterations": res.iterations,
            "converged": res.converged,
            "final_delta_l1": res.metrics[-1].delta_l1 if res.metrics else None,
            "total_mass": res.metrics[-1].total_mass if res.metrics else None,
        }))
        return 0

    if args.command == "components":
        from .operators.components import (
            connected_components,
            resume_components,
        )

        edges = spark.read.parquet(args.input)
        kw = dict(max_iter=args.max_iter, num_partitions=args.partitions,
                  checkpoint_interval=args.checkpoint_interval)
        if args.resume and args.checkpoint_dir:
            res = resume_components(spark, edges, args.checkpoint_dir, **kw)
        else:
            res = connected_components(
                spark, edges, checkpoint_dir=args.checkpoint_dir, **kw)
        if args.output:
            res.labels.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"iterations": res.iterations,
                          "converged": res.converged,
                          "num_components": res.num_components()}))
        return 0

    if args.command == "scc":
        from .operators.scc import strongly_connected_components

        res = strongly_connected_components(
            spark, spark.read.parquet(args.input),
            num_partitions=args.partitions)
        if args.output:
            res.labels.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"rounds": res.rounds, "converged": res.converged}))
        return 0

    if args.command == "bfs":
        from .operators.bfs import bfs_distances

        seeds = [int(s) for s in args.sources.split(",") if s.strip()]
        res = bfs_distances(
            spark, spark.read.parquet(args.input), sources=seeds,
            max_iter=args.max_iter, num_partitions=args.partitions)
        if args.output:
            res.distances.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"rounds": res.iterations,
                          "converged": res.converged,
                          "reached": res.distances.count()}))
        return 0

    if args.command == "walks":
        from .operators.walks import random_walks

        res = random_walks(
            spark, spark.read.parquet(args.input),
            walk_length=args.walk_length,
            walks_per_vertex=args.walks_per_vertex,
            num_partitions=args.partitions)
        if args.output:
            res.steps.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"output": args.output,
                              "walk_length": res.walk_length}))
        else:
            print(json.dumps({"steps": res.steps.count()}))
        return 0

    if args.command == "labelprop":
        from .operators.labelprop import label_propagation

        res = label_propagation(
            spark, spark.read.parquet(args.input),
            max_iter=min(args.max_iter, 20), num_partitions=args.partitions)
        if args.output:
            res.labels.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"iterations": res.iterations,
                          "converged": res.converged}))
        return 0

    if args.command == "triangles":
        from .operators.triangles import triangle_count

        n = triangle_count(spark.read.parquet(args.input))
        print(json.dumps({"triangles": n}))
        return 0

    if args.command == "topk":
        from .operators.pagerank import checksum, top_k
        from .sources.tables import write_csv

        ranks = spark.read.parquet(args.input)
        top = top_k(ranks, args.k)
        if args.output:
            write_csv(top, args.output, single_file=True)
        else:
            for r in top.collect():
                print(f"{r['id']}\t{r['score']:.5f}")
        print(json.dumps({"k": args.k, "checksum": checksum(ranks)}),
              file=sys.stderr)
        return 0

    if args.command == "ktruss":
        from .operators.ktruss import k_truss

        res = k_truss(
            spark, spark.read.parquet(args.input), k=args.truss_k,
            max_iter=args.max_iter, num_partitions=args.partitions)
        if args.output:
            res.edges.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"rounds": res.iterations,
                          "converged": res.converged,
                          "edges": res.edges.count()}))
        return 0

    if args.command == "harmonic":
        from .operators.bfs import harmonic_centrality

        seeds = [int(s) for s in args.sources.split(",") if s.strip()]
        res = harmonic_centrality(
            spark, spark.read.parquet(args.input), sources=seeds,
            max_iter=args.max_iter, num_partitions=args.partitions)
        if args.output:
            res.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"vertices": res.count(), "seeds": len(seeds)}))
        return 0

    if args.command == "linkpred":
        from .operators.linkpred import predicted_links

        res = predicted_links(
            spark.read.parquet(args.input),
            min_common=args.min_common,
            max_pivot_degree=args.max_pivot_degree)
        if args.output:
            res.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"pairs": res.count(), "output": args.output}))
        else:
            print(json.dumps({"pairs": res.count()}))
        return 0

    if args.command == "mis":
        from .operators.mis import maximal_independent_set

        res = maximal_independent_set(
            spark, spark.read.parquet(args.input),
            num_partitions=args.partitions)
        if args.output:
            res.labels.write.mode("overwrite").parquet(args.output)
        n_mis = res.labels.where("status = 'mis'").count()
        print(json.dumps({"rounds": res.rounds, "converged": res.converged,
                          "mis_size": n_mis}))
        return 0

    if args.command == "coloring":
        from .operators.mis import greedy_coloring

        res = greedy_coloring(
            spark, spark.read.parquet(args.input),
            num_partitions=args.partitions)
        if args.output:
            res.colors.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"n_colors": res.n_colors,
                          "converged": res.converged}))
        return 0

    if args.command == "sssp":
        from .operators.sssp import sssp

        seeds = [int(s) for s in args.sources.split(",") if s.strip()]
        res = sssp(
            spark, spark.read.parquet(args.input), source=seeds[0],
            weight_col=args.weight_col, max_rounds=args.max_iter,
            num_partitions=args.partitions)
        if args.output:
            res.distances.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"rounds": res.rounds, "converged": res.converged,
                          "reached": res.distances.count()}))
        return 0

    if args.command == "louvain":
        from .operators.community import louvain_communities

        res = louvain_communities(
            spark, spark.read.parquet(args.input),
            max_rounds=min(args.max_iter, 20), num_partitions=args.partitions)
        if args.output:
            res.communities.write.mode("overwrite").parquet(args.output)
        n_comm = res.communities.select("community").distinct().count()
        print(json.dumps({"rounds": res.rounds, "converged": res.converged,
                          "n_communities": n_comm}))
        return 0

    if args.command == "centrality":
        from .operators.centrality import (
            eigenvector_centrality,
            katz_centrality,
            salsa,
        )

        edges = spark.read.parquet(args.input)
        fn = {"katz": katz_centrality, "eigenvector": eigenvector_centrality,
              "salsa": salsa}[args.variant]
        res = fn(spark, edges, max_iter=min(args.max_iter, 20),
                 num_partitions=args.partitions)
        if args.output:
            res.scores.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"variant": args.variant,
                          "iterations": res.iterations,
                          "vertices": res.scores.count()}))
        return 0

    if args.command == "trustrank":
        from .operators.trust import trustrank

        edges = spark.read.parquet(args.input)
        seeds = [int(s) for s in args.sources.split(",")]
        res = trustrank(spark, edges, seeds, alpha=args.alpha, tol=args.tol,
                        max_iter=args.max_iter,
                        num_partitions=args.partitions)
        if args.output:
            res.ranks.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"iterations": res.iterations,
                          "converged": res.converged}))
        return 0

    if args.command == "spammass":
        from .operators.trust import spam_mass

        edges = spark.read.parquet(args.input)
        seeds = [int(s) for s in args.sources.split(",")]
        sm = spam_mass(spark, edges, seeds, alpha=args.alpha, tol=args.tol,
                       max_iter=args.max_iter,
                       num_partitions=args.partitions)
        if args.output:
            sm.write.mode("overwrite").parquet(args.output)
        from pyspark.sql import functions as F

        top = sm.orderBy(F.desc("spam_mass"), F.asc("id")).limit(args.k)
        print(json.dumps({"rows": sm.count(),
                          "top_spam_ids": [r["id"] for r in top.collect()]}))
        return 0

    if args.command == "decontaminate":
        from .operators.dedup import decontaminate

        corpus = spark.read.parquet(args.input)
        eval_docs = spark.read.parquet(args.eval_set)
        flags = decontaminate(corpus, eval_docs, n=args.ngram)
        if args.output:
            flags.write.mode("overwrite").parquet(args.output)
            # read the materialized flags back: the summary agg otherwise
            # re-runs the corpus-side n-gram explode + join a second time
            flags = spark.read.parquet(args.output)
        from pyspark.sql import functions as F

        agg = flags.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_hits").alias("hits"),
        ).collect()[0]
        print(json.dumps({
            "contaminated_docs": int(agg["docs"] or 0),
            "total_ngram_hits": int(agg["hits"] or 0),
            "ngram": args.ngram,
        }))
        return 0

    if args.command == "incremental-components":
        from .operators.components import (
            incremental_components,
            incremental_components_from_delta,
        )

        prior_labels = spark.read.parquet(args.prior_labels)
        prior_edges = spark.read.parquet(args.prior_edges)
        if args.additions is not None and args.deletions is not None:
            # delta-given path: the crawl differ's output IS the input —
            # skips the three |E|-scale delta-discovery joins
            res = incremental_components_from_delta(
                spark, prior_edges, prior_labels,
                spark.read.parquet(args.additions),
                spark.read.parquet(args.deletions),
                max_iter=args.max_iter, num_partitions=args.partitions)
        else:
            edges = spark.read.parquet(args.input)
            res = incremental_components(
                spark, edges, prior_labels, prior_edges,
                max_iter=args.max_iter, num_partitions=args.partitions)
        if args.output:
            res.labels.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"iterations": res.iterations,
                          "converged": res.converged,
                          "num_components": res.num_components()}))
        return 0

    return 1


if __name__ == "__main__":
    raise SystemExit(main())
