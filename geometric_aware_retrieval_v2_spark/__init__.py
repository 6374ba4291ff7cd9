"""geometric_aware_retrieval_v2_spark — a from-scratch PySpark-native analytics
engine with the capabilities of the reference library
``Intrinsical-AI/geometric-aware-retrieval-v2`` (a single-node geometric-aware
dense-retrieval prototype), re-scoped by BASELINE.json's north rule into a
distributed inverted-index build + BM25 query engine with a geometric
(k-NN-graph / diffusion) re-ranking stage.

Design stance (NOT a port):
  * Everything relational is declared with the DataFrame/SQL API so Catalyst
    handles pushdown, pruning, join selection, AQE skew handling.
  * Dense linear algebra (per-query candidate graphs, PPR diffusion, heat
    kernels, Dijkstra) runs as batched NumPy inside grouped/iterator pandas
    UDFs — never per-row Python, never corpus-global O(n^2).
  * All randomness is derived from per-row cryptographic hashes, never from
    RNG call order, so every artifact is partition-count invariant.

Subpackages:
  sources/    deterministic corpus synthesis + scans (text/tsv/jsonl/parquet)
  functions/  tokenizers, varbyte codec, deterministic hashing encoder
  operators/  postings build, BM25, block-max WAND, k-NN, rerank, curvature,
              dedup, similarity search, text stats, eval metrics, multimodal
  plans/      manifest table: checkpoint/resume with per-partition lineage
  streaming/  Structured Streaming ingest (incremental windowed aggregation)
"""

__all__ = ["get_spark", "quick_experiment"]
__version__ = "0.1.0"

_LAZY = {
    "get_spark": "geometric_aware_retrieval_v2_spark.session",
    "quick_experiment": "geometric_aware_retrieval_v2_spark.experiment",
}


def __getattr__(name: str):
    # resolved on first use: every Python worker that unpickles an engine
    # UDF imports this package, and experiment pulls in pandas through
    # plans.trainer; a worker that only decodes postings should not pay that
    if name in _LAZY:
        import importlib

        value = getattr(importlib.import_module(_LAZY[name]), name)
        globals()[name] = value
        return value
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
