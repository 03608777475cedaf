"""The benchmark's workloads: inputs, one pass through the engine, and checks.

Each workload writes its inputs once per run (``write_inputs``), builds its
oracle in numpy (``build_oracle``), then runs passes. A pass calls the
engine's public API only. With a ``Tracer`` the pass calls each layer on
its own and materializes at every layer boundary; without one it runs the
pipeline as a user would write it.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bitcoinpagerank_spark.functions.extract import page_links
from bitcoinpagerank_spark.functions.ids import edges_from_links
from bitcoinpagerank_spark.functions.text import token_dictionary, tokens_col
from bitcoinpagerank_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    neardup_clusters,
    simhash,
    simhash_neardup_pairs,
)
from bitcoinpagerank_spark.operators.edges import dedup_edges
from bitcoinpagerank_spark.operators.labelprop import label_propagation
from bitcoinpagerank_spark.operators.pagerank import checksum, pagerank, top_k
from bitcoinpagerank_spark.operators.triangles import triangle_count
from bitcoinpagerank_spark.plans.linkgraph import build_link_graph
from bitcoinpagerank_spark.sources import tablestore
from bitcoinpagerank_spark.sources.pages import generate_pages

import oracles

TOL = 1e-6
TOP_K = 100
# input sizes: "full" is what the benchmark measures, "tiny" is for the
# self-test. Pass time is mostly fixed cost per Spark job; full sizes keep
# one run (set-up, cold pass, two timed passes) near a minute on 4 cores.
SIZES = {
    "crawl_graph": {"full": {"pages": 5_000}, "tiny": {"pages": 600}},
    "neardup_docs": {"full": {"docs": 1_000, "planted": 50},
                     "tiny": {"docs": 120, "planted": 6}},
}


def crawl_edges(n: int) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (src, dst) page indices of the link rule of
    ``sources.pages``: page i links to the first i % 5 of (i·a + b) mod n,
    page 0 links to pages 1..min(n/2, 500), and no page links to itself."""
    i = np.arange(n, dtype=np.int64)
    src, dst = [], []
    for k, (a, b) in enumerate(((7, 1), (13, 3), (19, 7), (23, 11))):
        has = i % 5 > k
        src.append(i[has])
        dst.append((i[has] * a + b) % n)
    hub = np.arange(1, min(n // 2, 500) + 1)
    src.append(np.zeros_like(hub))
    dst.append(hub)
    pairs = np.unique(np.concatenate(src) * n + np.concatenate(dst))
    src, dst = pairs // n, pairs % n
    keep = src != dst
    return src[keep], dst[keep]


def _layer(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext({})


def _materialize(tracer, df):
    """Materialize at a layer boundary in a traced pass only."""
    return df.localCheckpoint(eager=True) if tracer is not None else df


class Workload:
    name = ""

    def __init__(self, seed: int, size: str, workdir: str):
        self.seed = seed
        self.size = SIZES[self.name][size]
        self.workdir = workdir
        self.input = ""
        self.passes = 0

    def write_inputs(self, spark, path: str) -> None:
        raise NotImplementedError

    def build_oracle(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tracer=None) -> dict:
        """One pass; returns its outputs plus figures for end-to-end metrics."""
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        """Failed output checks of a pass, as messages (empty when correct)."""
        raise NotImplementedError


class CrawlGraph(Workload):
    """Crawl pages → link graph → label propagation, triangles, and
    PageRank to 1e-6 with loop-state snapshots every 5 iterations."""

    name = "crawl_graph"
    # a fixed cap keeps the work per pass the same on every seed
    LABELPROP_ITERATIONS = 3

    def write_inputs(self, spark, path: str) -> None:
        # The seed renames every site. That changes every vertex id, and
        # with it how pages and edges spread over partitions, but not the
        # link structure, so the work per pass is the same on every seed.
        site = f"://s{self.seed}-site"
        pages = generate_pages(spark, self.size["pages"])
        pages.select(
            F.regexp_replace("url", "://site", site).alias("url"),
            "warc_ts",
            F.encode(F.regexp_replace(F.decode("html", "UTF-8"), "://site", site),
                     "UTF-8").alias("html"),
            "text",
            "lang",
        ).write.parquet(path)
        self.input = path

    def build_oracle(self) -> None:
        """Triangle counts and the sorted PageRank scores do not depend on
        how vertices are named, so the oracle works in page-index space."""
        src, dst = crawl_edges(self.size["pages"])
        self.want_triangles = oracles.triangles(src, dst)
        scores, _ = oracles.pagerank(src, dst, tol=TOL)
        self.want_top = np.sort(scores)[::-1][:TOP_K]
        self.lp_hash = None  # fixed by the first pass, then held constant

    def run_pass(self, spark, tracer=None) -> dict:
        pages = spark.read.parquet(self.input)
        if tracer is None:
            edges = build_link_graph(pages).edges.persist()
            n_edges = edges.count()
        else:
            with tracer.span("extract") as x:
                links = page_links(pages).localCheckpoint(eager=True)
            x["pages"], x["links"] = pages.count(), links.count()
            with tracer.span("linkgraph") as y:
                edges = dedup_edges(edges_from_links(links)).persist()
                n_edges = edges.count()
            y["links"], y["edges"] = x["links"], n_edges
        ckpt = os.path.join(self.workdir, f"snapshots{self.passes}")
        self.passes += 1
        try:
            with _layer(tracer, "labelprop") as x:
                lp = label_propagation(spark, edges,
                                       max_iter=self.LABELPROP_ITERATIONS)
                lab = lp.labels.toPandas()
            x["iterations"] = lp.iterations
            with _layer(tracer, "triangles"):
                tri = triangle_count(edges)
            t0 = time.monotonic()
            with _layer(tracer, "pagerank") as x:
                pr = pagerank(spark, edges, tol=TOL, checkpoint_dir=ckpt,
                              checkpoint_interval=5)
            pagerank_s = time.monotonic() - t0
            x.update(iterations=pr.iterations, edges=pr.metrics[-1].edges_processed,
                     iter_s=[m.wall_sec for m in pr.metrics],
                     shuffle_bytes=[m.shuffle_read_bytes + m.shuffle_write_bytes
                                    for m in pr.metrics])
            with _layer(tracer, "pagerank_sink"):
                top = [r["score"] for r in top_k(pr.ranks, TOP_K).collect()]
                mass = checksum(pr.ranks, digits=9)
        finally:
            edges.unpersist()
        snapshot_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(ckpt) for f in fs
        )
        shutil.rmtree(ckpt, ignore_errors=True)
        return {"top": top, "mass": mass, "lp": lab, "triangles": tri,
                "snapshot_bytes": snapshot_bytes, "pagerank_s": pagerank_s,
                "pr_iterations": pr.iterations, "pr_edges": x["edges"]}

    def check(self, out: dict) -> list[str]:
        bad = []
        got = np.asarray(out["top"])
        if got.shape != self.want_top.shape or not np.allclose(
            got, self.want_top, rtol=0, atol=TOL
        ):
            bad.append("pagerank top-100 scores differ from the oracle")
        if abs(out["mass"] - 1.0) > TOL:
            bad.append(f"pagerank mass {out['mass']} != 1")
        if out["triangles"] != self.want_triangles:
            bad.append(f"triangles {out['triangles']} != {self.want_triangles}")
        h = oracles.label_hash(out["lp"]["id"].to_numpy(), out["lp"]["label"].to_numpy())
        if self.lp_hash is None:
            self.lp_hash = h
        if h != self.lp_hash:
            bad.append("label propagation labels changed between passes")
        return bad


class NeardupDocs(Workload):
    """Documents with planted near-duplicates → MinHash LSH pair count, and
    SimHash pairs → near-duplicate clusters."""

    name = "neardup_docs"
    # a small vocabulary makes documents overlap heavily, as in the repo's
    # documents test data, so the LSH self-join is quadratic in documents
    _VOCAB = (
        "a the key agg row scan slow fast table value part hash merge batch "
        "spark line sort window order data column join small customer query "
        "big stream group filter vector"
    ).split()

    def _docs(self) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
        rng = np.random.default_rng(self.seed)
        n, planted = self.size["docs"], self.size["planted"]
        texts = []
        for _ in range(n):
            words = rng.choice(self._VOCAB, size=rng.integers(20, 80))
            texts.append(" ".join(words))
        pairs = []
        for j, orig in enumerate(rng.choice(n, size=planted, replace=False)):
            # same token multiset, new order, case and spacing: a near
            # duplicate that tokenization maps to identical signatures
            words = texts[orig].split()
            rng.shuffle(words)
            words = [w.upper() if rng.random() < 0.3 else w for w in words]
            texts.append("  ".join(words))
            pairs.append((int(orig), n + j))
        ids = rng.permutation(len(texts))  # planted copies get scattered ids
        df = pd.DataFrame({"doc_id": ids.astype(np.int64), "text": texts})
        return df, [(int(ids[a]), int(ids[b])) for a, b in pairs]

    def write_inputs(self, spark, path: str) -> None:
        self.docs, self.planted = self._docs()
        spark.createDataFrame(self.docs).write.parquet(path)
        self.input = path

    def build_oracle(self) -> None:
        """Clusters as ``neardup_clusters`` over SimHash pairs within
        Hamming distance 3 must give them: token ids number the corpus
        vocabulary in sorted order from 1, as ``token_dictionary`` does;
        every pair of documents is compared, and the pairs are merged by
        union-find; a document's canonical id is the least id of its
        cluster."""
        tokens = [t.lower().split() for t in self.docs["text"]]
        vocab = {w: i for i, w in enumerate(sorted({w for ts in tokens for w in ts}), 1)}
        sims = oracles.simhash64([[vocab[w] for w in ts] for ts in tokens])
        a, b = oracles.hamming_pairs(sims, max_hamming=3)
        ids = self.docs["doc_id"].to_numpy()
        canon = oracles.components(ids[a], ids[b])
        self.want_canonical = {int(d): canon.get(int(d), int(d)) for d in ids}
        self.lsh_pairs = None  # fixed by the first pass, then held constant

    def run_pass(self, spark, tracer=None) -> dict:
        docs = spark.read.parquet(self.input)
        with _layer(tracer, "text"):
            toks = docs.select(
                F.col("doc_id").alias("id"),
                F.explode(tokens_col(F.col("text"))).alias("token"),
            )
            # materialized in both modes: the token rows feed two operators
            tids = toks.join(token_dictionary(docs), "token").select(
                "id", F.col("tid").cast("long").alias("tid")
            ).localCheckpoint(eager=True)
        with _layer(tracer, "dedup.minhash"):
            sigs = _materialize(tracer, minhash_signatures(tids, k=8))
        with _layer(tracer, "dedup.lsh") as x:
            n_lsh = lsh_candidate_pairs(sigs, bands=4).count()
        x["pairs"] = n_lsh
        with _layer(tracer, "dedup.simhash"):
            sims = _materialize(tracer, simhash(tids, bits=64))
        with _layer(tracer, "dedup.simhash_pairs") as x:
            pairs = _materialize(tracer, simhash_neardup_pairs(
                sims, bits=64, max_hamming=3, block_bits=16))
        if tracer is not None:
            x["pairs"] = pairs.count()
        with _layer(tracer, "dedup.clusters"):
            clusters = neardup_clusters(spark, docs, pairs).select(
                "doc_id", "canonical_id").toPandas()
        return {"lsh_pairs": n_lsh, "clusters": clusters}

    def check(self, out: dict) -> list[str]:
        bad = []
        if self.lsh_pairs is None:
            self.lsh_pairs = out["lsh_pairs"]
        if out["lsh_pairs"] != self.lsh_pairs or out["lsh_pairs"] <= 0:
            bad.append(f"lsh pair count {out['lsh_pairs']} != {self.lsh_pairs}")
        canon = dict(zip(out["clusters"]["doc_id"].tolist(),
                         out["clusters"]["canonical_id"].tolist()))
        split = [p for p in self.planted if canon.get(p[0]) != canon.get(p[1])]
        if split:
            bad.append(f"{len(split)} planted pairs not in one cluster")
        if canon != self.want_canonical:
            bad.append("clusters differ from the union-find oracle")
        return bad


WORKLOADS = {w.name: w for w in (CrawlGraph, NeardupDocs)}


def wrap_tablestore(tracer):
    """Time every snapshot write of ``sources.tablestore`` as a span of
    its own; returns the function that removes the wrapper."""
    cls = tablestore.TableStore
    original = cls.write_table

    def write_table(self, df, name):
        with tracer.span("tablestore"):
            return original(self, df, name)

    cls.write_table = write_table

    def restore():
        cls.write_table = original

    return restore
