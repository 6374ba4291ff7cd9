"""End-to-end retrieval pipelines: BM25 (exhaustive or WAND-indexed)
candidate generation -> embedding join -> geometric re-rank.

This is the engine's flagship shape (BASELINE.json north_star): exact BM25
top-k, then the reference's geometric re-ranking over the per-query candidate
set. E2/E3 lifecycle parity (SURVEY.md §3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geometric_aware_retrieval_v2_spark import localrel
from geometric_aware_retrieval_v2_spark.functions.hashing import embed_text, encode_queries
from geometric_aware_retrieval_v2_spark.functions.tokenizer import doc_stats, tokenize_terms
from geometric_aware_retrieval_v2_spark.operators import bm25, rerank
from geometric_aware_retrieval_v2_spark.operators.index import in_expr


# largest candidate doc_id set still compiled into the embeddings scan as an
# IN literal (parquet row-group stat skipping); past this the filter is
# dropped and the join alone prunes
_EMB_PRUNE_MAX_IDS = 32_768

# largest interactive candidate set finished driver-side by the flagship
# (see _geodesic_local_finish): bounds the collected vector volume
# (rows x d doubles) of its one point-lookup embedding fetch
_LOCAL_RERANK_MAX_ROWS = 4096


def _local_query_rows(queries: DataFrame):
    """Driver-side (qid, text) rows for an interactive batch, or None when
    the frame overflows the interactive cap (same tiers as the WAND probe:
    the localrel tag is free; otherwise one bounded take())."""
    from geometric_aware_retrieval_v2_spark.operators.index import (
        _DRIVER_FINISH_MAX_QIDS,
    )

    rows = getattr(queries, localrel.LOCAL_ROWS_ATTR, None)
    if rows is None:
        taken = queries.select("qid", "text").take(_DRIVER_FINISH_MAX_QIDS + 1)
        if len(taken) > _DRIVER_FINISH_MAX_QIDS:
            return None
        rows = [(r.qid, r.text) for r in taken]
    return rows


def _empty_flagship_df(spark: SparkSession) -> DataFrame:
    """Empty (qid, doc_id, bm25, geo_dist, rank) LocalRelation — the
    interactive all-OOV flagship result, collected job-free (the same
    folded-VALUES shape as operators.index._empty_topk_df)."""
    df = getattr(spark, "_spark_graft_empty_flagship", None)
    if df is None:
        df = spark.sql(
            "SELECT * FROM VALUES (CAST(NULL AS LONG), CAST(NULL AS LONG), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS LONG)) "
            "t(qid, doc_id, bm25, geo_dist, `rank`) WHERE 1=0"
        )
        spark._spark_graft_empty_flagship = df
    return df


def _geodesic_local_finish(
    spark: SparkSession,
    local_topk: list,
    queries: DataFrame,
    emb: DataFrame,
    k: int,
    connect_k: int,
    knn_k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame | None:
    """Driver-side finish of the interactive flagship tail: WAND already
    materialized the per-query top-search_k ON THE DRIVER
    (_driver_finish_rows exposes the rows), so the remaining work —
    candidate-vector fetch, per-query geodesic kernel, round, rank — runs
    as ONE point-lookup job plus driver NumPy instead of an embedding
    join + qid exchange + grouped Python kernel + window (3 distributed
    stages of pure scheduling overhead for <= qids x search_k rows).

    Exactness (pinned by test_flagship_local_finish_matches_distributed):
      * candidate vectors are the same doubles the join would deliver
        (collect widens float32 exactly; inner-join fan-out and drops are
        mirrored);
      * qvec comes from the same ``embed_text`` the encode_queries kernel
        calls;
      * the kernel IS rerank._geodesic_kernel — value-identical by
        construction, and its outputs are row-order-independent (every
        selection key is a value, never a position);
      * rounding stays JVM-side: raw distances ride a one-column Arrow
        LocalRelation whose round(_, 6) projection folds via
        ConvertToLocalRelation — no job, and bit-for-bit the F.round the
        distributed plan applies (np.round can land 1 ulp off the decimal
        HALF_UP the driver gates hash);
      * rank = sort on (rounded dist, doc_id) — a total order over exact
        float64 values, so Python's sort reproduces the row_number window.

    Returns None when the batch overflows the driver caps (the caller
    falls back to the distributed plan).
    """
    if len(local_topk) > _LOCAL_RERANK_MAX_ROWS:
        return None
    qrows = _local_query_rows(queries)
    if qrows is None:
        return None
    if not local_topk:
        return _empty_flagship_df(spark)
    qtext = {q: t for q, t in qrows}
    hits_by_qid: dict[int, list] = {}
    for q, d, s, *_ in local_topk:
        hits_by_qid.setdefault(q, []).append((d, s))
    hit_qids = sorted(hits_by_qid)
    if any(q not in qtext for q in hit_qids):
        return None  # hits from a frame we cannot see driver-side
    ids = sorted({h[1] for h in local_topk})
    vec_rows = (
        emb.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("_v"))
        .filter(in_expr("doc_id", ids))
        .collect()
    )
    vecs_by_id: dict[int, list] = {}
    for r in vec_rows:
        vecs_by_id.setdefault(r.doc_id, []).append(r._v)
    outs: list[pd.DataFrame] = []
    for qid in hit_qids:
        qv = embed_text(qtext[qid], dim)
        d_, s_, v_ = [], [], []
        for d, s in hits_by_qid[qid]:
            for v in vecs_by_id.get(d, ()):  # inner-join semantics
                d_.append(d), s_.append(s), v_.append(np.asarray(v))
        if not d_:
            continue
        cand_pdf = pd.DataFrame(
            {"doc_id": d_, "bm25": s_, "embedding": v_, "qvec": [qv] * len(d_)}
        )
        outs.append(
            rerank._geodesic_kernel(
                cand_pdf, None, qid, connect_k, knn_k, "embedding",
                passthrough=("bm25",),
            )
        )
    if not outs:
        return _empty_flagship_df(spark)
    allout = pd.concat(outs, ignore_index=True)
    rounded = [
        r.g
        for r in localrel.local_df(
            spark, g=allout["geo_dist"].to_numpy(dtype=np.float64)
        )
        .select(F.round("g", rerank.SCORE_DECIMALS).alias("g"))
        .collect()
    ]
    by_qid: dict[int, list] = {}
    for (qid, d, s), g in zip(
        zip(allout["qid"], allout["doc_id"], allout["bm25"]), rounded
    ):
        by_qid.setdefault(int(qid), []).append((g, int(d), float(s)))
    final: list[tuple[int, int, float, float, int]] = []
    for qid in sorted(by_qid):
        cands = sorted(by_qid[qid], key=lambda t: (t[0], t[1]))[:k]
        final.extend(
            (qid, d, s, g, i + 1) for i, (g, d, s) in enumerate(cands)
        )
    q_, d_, s_, g_, r_ = zip(*final)
    return localrel.local_df(
        spark,
        qid=np.array(q_, dtype=np.int64),
        doc_id=np.array(d_, dtype=np.int64),
        bm25=np.array(s_, dtype=np.float64),
        geo_dist=np.array(g_, dtype=np.float64),
        rank=np.array(r_, dtype=np.int64),
    )


def attach_candidates(
    hits: DataFrame, emb: DataFrame, qvecs: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    prune_ids: "list[int] | None" = None,
) -> DataFrame:
    """(qid, doc_id, ...) hits -> (qid, doc_id, bm25, embedding, qvec).

    The embedding join shuffles on doc_id (hits are tiny: q x search_k rows,
    so AQE turns this into a broadcast of the hits side); qvecs is broadcast.

    ``prune_ids``: when the caller already knows the candidate doc_ids
    driver-side (the interactive index path materializes its top-k), they
    are pushed into the embeddings scan as an isin filter — a broadcast
    join still STREAMS the whole probe side, so without this a 10^12-row
    embeddings table would be scanned end-to-end to fetch a few hundred
    vectors; with it the scan row-group-skips on the doc_id column stats.
    Semantically a no-op: the inner join keeps exactly these ids anyway.
    """
    e = emb.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("embedding"))
    if prune_ids is not None and 0 < len(prune_ids) <= _EMB_PRUNE_MAX_IDS:
        e = e.filter(in_expr("doc_id", sorted(set(prune_ids))))
    return (
        hits.select("qid", "doc_id", F.col("score").alias("bm25"))
        .join(e, "doc_id")
        .join(F.broadcast(qvecs), "qid")
    )


def bm25_geodesic(
    spark: SparkSession,
    docs: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    search_k: int = 100,
    connect_k: int = 10,
    knn_k: int = 10,
    dim: int = 64,
    tokenizer_mode: str = "ws",
) -> DataFrame:
    """Flagship: exhaustive BM25 top-search_k -> geodesic Strategy C rerank.
    -> (qid, doc_id, bm25, geo_dist, rank)."""
    from geometric_aware_retrieval_v2_spark.config import GeoConfig

    # the reference's config contract gates the geometric-stage entry point
    GeoConfig(k_graph=knn_k, geodesic=True)
    hits = bm25.bm25_topk(
        tokenize_terms(docs, mode=tokenizer_mode),
        doc_stats(docs, mode=tokenizer_mode),
        queries,
        k=search_k,
        query_mode=tokenizer_mode,
    )
    qvecs = encode_queries(queries, dim=dim)
    cands = attach_candidates(hits, emb, qvecs)
    # bm25 rides through the rerank kernel (already 6dp-rounded by the
    # scorer): joining it back onto `cands` would recompute the whole
    # retrieval subtree a second time
    return rerank.geodesic_rerank(
        cands, k=k, connect_k=connect_k, knn_k=knn_k, passthrough=("bm25",)
    )


def bm25_geodesic_indexed(
    spark: SparkSession,
    index,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    search_k: int = 100,
    connect_k: int = 10,
    knn_k: int = 10,
    dim: int = 64,
    method: str = "wand",
    local_finish: bool = True,
) -> DataFrame:
    """The production flagship (reference E1 lifecycle over a PERSISTED
    index, /root/reference/geoIR/cli.py:39-61 -> retrieval/index.py:171-189):
    compressed-index block-max WAND top-search_k -> embedding join ->
    geodesic Strategy C rerank. -> (qid, doc_id, bm25, geo_dist, rank).

    ``index`` is an index_dir path or an IndexHandle (pass a .cache()d handle
    to amortize index loading across query batches). Both this and the
    exhaustive ``bm25_geodesic`` are exact, so on the same corpus + queries
    their outputs are bit-identical (pytest-asserted): WAND changes which
    blocks are DECODED, never the scores of surviving top-k docs, and query
    text is tokenized with the index's own tokenizer_mode.

    ``local_finish`` (default on) lets interactive batches — those whose
    WAND top-k was already materialized driver-side — finish the geodesic
    tail on the driver too (see _geodesic_local_finish); batches past the
    driver caps fall back to the distributed plan, and ``local_finish=False``
    forces it (the equivalence-test seam; both tails are bit-identical).
    """
    from geometric_aware_retrieval_v2_spark.config import GeoConfig
    from geometric_aware_retrieval_v2_spark.operators.index import (
        IndexHandle,
        bm25_topk_indexed,
    )

    GeoConfig(k_graph=knn_k, geodesic=True)
    handle = IndexHandle(spark, index) if isinstance(index, str) else index
    hits = bm25_topk_indexed(spark, handle, queries, k=search_k, method=method)
    local = getattr(hits, "_spark_graft_local_topk", None)
    if local_finish and local is not None:
        out = _geodesic_local_finish(
            spark, local, queries, emb, k, connect_k, knn_k, dim
        )
        if out is not None:
            return out
    qvecs = encode_queries(queries, dim=dim)
    cands = attach_candidates(
        hits, emb, qvecs,
        prune_ids=[r[1] for r in local] if local is not None else None,
    )
    # bm25 rides through the kernel: a join back onto `cands` would run the
    # WAND scan + scoring kernel TWICE per query batch (observed ~2x the
    # engine work in the flagship bench job before this)
    return rerank.geodesic_rerank(
        cands, k=k, connect_k=connect_k, knn_k=knn_k, passthrough=("bm25",)
    )


def bm25_ppr(
    spark: SparkSession,
    docs: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 50,
    search_k: int = 100,
    adjacency: str = "cosine",
    dim: int = 64,
) -> DataFrame:
    """BM25 top-search_k -> PPR diffusion rerank (eval/metrics.py:55-92 shape).
    -> (qid, doc_id, ppr, rank)."""
    hits = bm25.bm25_topk(tokenize_terms(docs), doc_stats(docs), queries, k=search_k)
    qvecs = encode_queries(queries, dim=dim)
    cands = attach_candidates(hits, emb, qvecs)
    return rerank.ppr_rerank(cands, k=k, adjacency=adjacency)
