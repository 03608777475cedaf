"""bitcoinpagerank_spark — a PySpark-native link-graph analytics engine.

A from-scratch re-expression of the capabilities of
mikojnacki/BitcoinPageRank (a Hadoop MapReduce join-then-iterate
pipeline, see /root/reference) as an idiomatic Spark SQL engine:

- ``sources``   — synthetic Common-Crawl-style pages table, adjacency-text
                  parser (reference ``data/p2p-Gnutella08-adj.txt`` shape),
                  parquet table loaders, and a snapshot-manifest table store.
- ``functions`` — vectorized pandas/Arrow UDFs (HTML → text+links extractor),
                  vertex-id hashing, text-analysis and similarity helpers.
- ``operators`` — edge-table construction (dedup, filters, dangling-vertex
                  discovery, degrees, salting), PageRank / connected components / label propagation /
                  triangle counting, top-k & checksum reports, dedup and
                  ANN similarity operators for training-data pipelines.
- ``plans``     — the reference's relational join chain re-expressed as
                  declarative DataFrame plans, lineage metrics, checkpoints.
- streaming     — out of scope (the reference is pure batch, SURVEY.md
                  §2.9); resumability is batch-incremental.
"""

__version__ = "0.1.0"
