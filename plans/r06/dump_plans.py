#!/usr/bin/env python
"""Dump .explain('formatted') for the bench query paths + declared queries
this round touches (judge evidence: plans/r06/<name>_{before,after}.txt).

Usage: python plans/r06/dump_plans.py <suffix>   # suffix = before|after
"""

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from geometric_aware_retrieval_v2_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
OUT = Path(__file__).resolve().parent


def dump(name: str, df, suffix: str) -> None:
    p = OUT / f"{name}_{suffix}.txt"
    p.write_text(df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"))
    print("wrote", p)


def main(suffix: str) -> None:
    spark = get_spark(app_name="plan-dump", master="local[8]",
                      shuffle_partitions=8)
    from geometric_aware_retrieval_v2_spark.operators.rerank import (
        cosine_topk,
        geodesic_rerank,
    )
    from geometric_aware_retrieval_v2_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    qvecs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    hits = cosine_topk(emb, qvecs, k=100)
    dump("cosine_topk", hits, suffix)
    cands = (
        hits.select("qid", "doc_id")
        .join(emb.withColumnRenamed("vec_id", "doc_id"), "doc_id")
        .join(qvecs, "qid")
        .select("qid", "doc_id", "embedding", "qvec")
    )
    dump("rerank_pipeline", geodesic_rerank(cands, k=10, connect_k=10, knn_k=10),
         suffix)

    from geometric_aware_retrieval_v2_spark.operators.knn import knn_edges
    dump("knn_edges", knn_edges(emb, k=5, metric="cosine", n_blocks=4), suffix)

    # build hot path: the tokenize+tf projection the docstats stage writes
    from geometric_aware_retrieval_v2_spark.functions.tokenizer import (
        tokenize_terms_arrow,
    )
    from geometric_aware_retrieval_v2_spark.sources.tables import (
        docs_from_documents as _dfd,
    )
    dump(
        "build_tokenize_tf",
        tokenize_terms_arrow(_dfd(spark, SF_DIR), mode="code").withColumn(
            "term_id", F.xxhash64("term")
        ),
        suffix,
    )

    # WAND + flagship over a persisted index of the documents table
    import shutil
    import tempfile

    from geometric_aware_retrieval_v2_spark.operators.index import (
        IndexHandle,
        build_index,
        bm25_topk_indexed,
    )
    from geometric_aware_retrieval_v2_spark.operators.pipelines import (
        bm25_geodesic_indexed,
    )
    from geometric_aware_retrieval_v2_spark.queryset import queries_df
    from geometric_aware_retrieval_v2_spark.sources.tables import (
        docs_from_documents,
    )

    doc_idx = tempfile.mkdtemp(prefix="gar2_plandump_")
    shutil.rmtree(doc_idx, ignore_errors=True)
    build_index(spark, docs_from_documents(spark, SF_DIR), doc_idx,
                n_partitions=2, n_shards=8, block_size=128)
    dh = IndexHandle(spark, doc_idx).cache()
    from geometric_aware_retrieval_v2_spark.localrel import local_queries_df
    one_q = local_queries_df(spark, [(1, "hash join")])
    # the interactive result is a LocalRelation built from collected partials;
    # the plan worth recording is the PARTIAL computation feeding it
    from geometric_aware_retrieval_v2_spark.operators import index as idx_mod
    trip = idx_mod._interactive_trip(dh, one_q)
    if trip is not idx_mod._BULK and trip:
        dump("wand_partials", idx_mod._interactive_partials(
            dh, trip, 42, 1.2, 0.75, True), suffix)
        dump("wand_exchange_partials", idx_mod._exchange_partials(
            dh, idx_mod._cand_from_trip(dh, trip), 42, 1.2, 0.75, True),
            suffix)
    dump("bm25_topk_wand_distributed", bm25_topk_indexed(
        spark, dh, queries_df(spark), k=10, method="wand",
        finish="distributed"), suffix)
    dump("flagship_indexed", bm25_geodesic_indexed(
        spark, dh, emb, queries_df(spark), k=10, search_k=100), suffix)
    shutil.rmtree(doc_idx, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "before")
