"""pagerank_spark — a from-scratch PySpark-native link-graph analytics engine.

Capabilities (re-expressed Spark-first from the reference engine at
/root/reference/Pagerank, a single-node C+SIMD PageRank power-iteration
engine — see SURVEY.md):

- PageRank power iteration with teleport + dangling-mass redistribution
  (reference semantics: src/pagerank32c.c:413-533, golden-validated), as
  (a) a pure DataFrame join/agg loop and (b) a partition-local CSR SpMV
  fast path inside Arrow pandas UDFs.
- Connected components (large-star/small-star), synchronous label
  propagation, exact degree-ordered triangle counting.
- Common-Crawl-style page ingestion: vectorized Arrow UDF out-link +
  text extraction, dense-ID remap, bucketed edge storage, hub-skew
  salting.
- Iceberg-style table layer (parquet data + JSON snapshot manifests,
  atomic commits) with per-iteration checkpoint, lineage + metrics rows,
  and mid-run resume.
- Training-data pipeline ops: exact/MinHash-LSH/SimHash/n-gram-Jaccard/
  embedding-cosine dedup, brute-force + LSH ANN similarity search,
  language-ID, quality scoring, token counting, document fingerprinting,
  multimodal binary-column plumbing.
"""

__version__ = "0.1.0"

from pagerank_spark import _zipimport_cache

# every Python UDF task of the package runs in a worker that imported it
_zipimport_cache.install()
