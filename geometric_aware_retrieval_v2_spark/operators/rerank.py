"""Geometric re-ranking stage: per-query candidate graphs + graph-diffusion
re-scoring as batched NumPy inside grouped pandas UDFs (no per-row Python).

Reference parity (normative code paths, SURVEY.md §2a rows 12-19):
  * cosine top-k with the reference's tie-break (larger docID first):
    Index.search metric="cosine" (/root/reference/geoIR/retrieval/index.py:138-139,166)
  * geodesic "Strategy C": cosine prefilter top-search_k -> induced candidate
    subgraph -> virtual query node wired to top-connect_k with weight 1-cos ->
    single-source Dijkstra -> top-k by distance (index.py:171-189); the
    reference's tie order is dict-insertion-undetermined, pinned here to
    (dist asc, doc_id asc)
  * personalized PageRank: p <- (1-alpha)*prior + alpha*A_norm^T p, 20 iters,
    alpha=0.2, row-normalization +1e-12, prior clamped to >=1e-6 then
    normalized (/root/reference/geoIR/geo/graph_rerank.py:16-67,
    eval/metrics.py:74-86)
  * heat-kernel distances: K_t = exp(-tL) via Taylor/Horner accumulation,
    normalized Laplacian by default, d_ij = ||K_t[i]-K_t[j]||^2
    (/root/reference/geoIR/geo/differentiable.py:143-211)
  * soft-kNN graph forward semantics (differentiable.py:19-140): gamma
    auto-calibration P20(D^2>0)/ln k, row-softmax with -inf diagonal, tau-fix
    row mass to k, hard top-k threshold, symmetrize, renormalize, W = A*D^2

Distribution stance: every kernel sees ONE query's candidate set (m <= a few
hundred) as a dense (m,m) NumPy problem inside ``applyInPandas("qid")``. The
O(m^2)/O(m^3) shapes that the reference materializes corpus-globally
(graph.py:60,70) exist here only per group — the 100 TB-safe re-design.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geometric_aware_retrieval_v2_spark.operators.topk import grouped_topk

SCORE_DECIMALS = 6
RANK_KEY_DECIMALS = 9  # rank keys: coarse enough to absorb <=1e-15 engine
# float diffs, fine enough that real ties are genuine (both comparison sides
# round identically, so boundary coincidence is measure-zero)


def _sum_arr(col):
    return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x)


def cosine_expr(vec_col: str, qvec_col: str = "qvec"):
    """Explicit float64 cosine: dot / (||a|| * ||b||) — embeddings are only
    float32-normalized (~1e-8 off), so raw dot would drift vs true cosine.

    Inline form; every engine call site now uses the norm-FACTORED twin
    (simsearch._with_norm + _factored_cos — identical expression tree, norms
    projected before the join so they are not re-evaluated per matched
    pair). Kept as the reference formulation and for external callers."""
    a = F.col(vec_col).cast("array<double>")
    b = F.col(qvec_col).cast("array<double>")
    dot = _sum_arr(F.zip_with(a, b, lambda x, y: x * y))
    na = F.sqrt(_sum_arr(F.transform(a, lambda x: x * x)))
    nb = F.sqrt(_sum_arr(F.transform(b, lambda x: x * x)))
    return dot / (na * nb)


# ------------------------------------------------------------- cosine search

# largest interactive query-vector set scored by the vectorized Arrow
# kernel (collected driver-side into the task closure); past it the JVM
# higher-order-function plan takes over (offline query logs)
_COS_KERNEL_MAX_QUERIES = 256


def _hof_factored_cos(
    emb: DataFrame, qvecs: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(qid, doc_id, _cos) via the crossJoin, with the doc-side cast and
    norm PROJECTED BEFORE the join (guide §2.3 "project before the
    exchange"): per doc they are query-independent, so evaluating them
    inside the joined frame re-ran the O(d) array chain once per query.
    The final expression is the same ``dot / (na * nb)`` tree over the
    same float64 inputs, so every bit of ``cos`` is unchanged."""
    a = F.col(vec_col).cast("array<double>")
    na = F.sqrt(_sum_arr(F.transform(a, lambda x: x * x)))
    e = emb.select(
        F.col(id_col).alias("doc_id"), a.alias("_a"), na.alias("_na")
    )
    b = F.col("qvec").cast("array<double>")
    nb = F.sqrt(_sum_arr(F.transform(b, lambda x: x * x)))
    q = qvecs.select("qid", b.alias("_b"), nb.alias("_nb"))
    dot = _sum_arr(F.zip_with(F.col("_a"), F.col("_b"), lambda x, y: x * y))
    cos = dot / (F.col("_na") * F.col("_nb"))
    return e.crossJoin(F.broadcast(q)).select("qid", "doc_id", cos.alias("_cos"))


def _kernel_factored_cos(
    emb: DataFrame, id_col: str, vec_col: str, qrows: list
) -> DataFrame:
    """(qid, doc_id, _cos) via one mapInArrow pass: the query matrix rides
    the task closure, the per-batch doc block scores against all queries in
    d vectorized passes. Bit parity with the HOF plan (fuzz-pinned by
    test_cosine_kernel_matches_hof): the dot accumulates
    acc = acc + (a_j * b_j) per element j exactly like
    aggregate(zip_with(a, b, *), 0.0, +) — one rounded multiply then one
    rounded add per step, in j order — the norms fold x*x the same way, and
    cos = dot / (na * nb) rounds the norm product once before the divide,
    all in float64. float32 inputs widen exactly on both paths. Rows with
    null or ragged vectors would diverge (the HOF plan yields NULL cos);
    the kernel fails loudly instead — both are outside the engine's
    fixed-dimension embedding contract."""
    import pyarrow as pa

    qids = np.array([q for q, _ in qrows], dtype=np.int64)
    Q = np.vstack([np.asarray(v, dtype=np.float64) for _, v in qrows])
    nq, d = Q.shape
    accq = np.zeros(nq)
    for j in range(d):
        accq += Q[:, j] * Q[:, j]
    nb = np.sqrt(accq)

    def run(batches):
        for rb in batches:
            tab = pa.Table.from_batches([rb])
            ids = tab.column(id_col).to_numpy().astype(np.int64, copy=False)
            col = tab.column(vec_col).combine_chunks()
            flat = col.flatten()
            # per-row lengths, not len(flat): rows of d - 1 and d + 1
            # balance out in the flattened length and would misalign
            if col.null_count or flat.null_count or np.any(
                col.value_lengths().to_numpy(zero_copy_only=False) != d
            ):
                raise NotImplementedError(
                    "null or ragged embedding vectors (fixed-dim contract)"
                )
            A = flat.to_numpy(zero_copy_only=False).astype(np.float64)
            A = A.reshape(len(ids), d)
            acc = np.zeros((len(ids), nq))
            accn = np.zeros(len(ids))
            for j in range(d):
                acc += A[:, j][:, None] * Q[:, j][None, :]
                accn += A[:, j] * A[:, j]
            na = np.sqrt(accn)
            cos = acc / (na[:, None] * nb[None, :])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(qids, len(ids))),
                    pa.array(np.tile(ids, nq)),
                    pa.array(cos.ravel(order="F")),
                ],
                names=["qid", "doc_id", "_cos"],
            )

    return emb.select(id_col, vec_col).mapInArrow(
        run, schema="qid long, doc_id long, _cos double"
    )


def _norm_factored_cos(
    emb: DataFrame, qvecs: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(qid, doc_id, _cos): interactive query sets (<= 256, fetched with one
    bounded take) score through the vectorized Arrow kernel — the JVM
    higher-order functions are CodegenFallback, so the crossJoin projection
    evaluates ~2(d+1) interpreted lambda steps per (doc, query) pair where
    the kernel does d NumPy passes per doc block (~5x the rerank-stage
    scoring rate, same bits). Larger query sets (offline logs) keep the
    broadcast-crossJoin HOF plan; both paths are value-identical (see
    _kernel_factored_cos)."""
    from pyspark.sql.types import LongType

    id_field = next(
        (f for f in emb.schema.fields if f.name == id_col), None
    )
    if id_field is not None and isinstance(id_field.dataType, LongType):
        taken = qvecs.select("qid", "qvec").take(_COS_KERNEL_MAX_QUERIES + 1)
        if 0 < len(taken) <= _COS_KERNEL_MAX_QUERIES:
            return _kernel_factored_cos(
                emb, id_col, vec_col, [(r.qid, r.qvec) for r in taken]
            )
    return _hof_factored_cos(emb, qvecs, id_col, vec_col)


def cosine_topk(
    emb: DataFrame,
    qvecs: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tie: str = "reference",
) -> DataFrame:
    """Dense cosine top-k search -> (qid, doc_id, sim, rank).

    tie="reference" reproduces np.argsort(sims)[-k:][::-1] — larger docID
    first on equal similarity (index.py:166). JVM-side cosine via
    ``aggregate(zip_with(...))`` (codegen; no Python), doc-side norm
    factored out of the crossJoin (see _norm_factored_cos). For GEMM-scale
    scoring use operators/knn.knn_candidates.
    """
    cos = F.col("_cos")
    scored = _norm_factored_cos(emb, qvecs, id_col, vec_col).select(
        "qid",
        "doc_id",
        # rank key and output are rounded INDEPENDENTLY from the raw value:
        # round(round(x,9),6) would manufacture exact .5 midpoints at the 6dp
        # boundary where engines round differently (double-rounding hazard)
        F.round(cos, RANK_KEY_DECIMALS).alias("sim_key"),
        F.round(cos, SCORE_DECIMALS).alias("sim"),
    )
    order = [
        F.col("sim_key").desc(),
        F.col("doc_id").desc() if tie == "reference" else F.col("doc_id").asc(),
    ]
    return grouped_topk(scored, keys=["qid"], order=order, k=k).select(
        "qid", "doc_id", "sim", "rank"
    )


def curvature_mix_topk(
    emb: DataFrame,
    qvecs: DataFrame,
    node_curv: DataFrame,
    alpha: float,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Blend (1-alpha)*cosine + alpha*avg_node_curvature (index.py:141-166);
    missing curvature -> 0.0. alpha in [0,1]."""
    if not 0 <= alpha <= 1:
        raise ValueError(f"alpha must be between 0 and 1, got {alpha}")
    mix = F.lit(1.0 - alpha) * F.col("cos") + F.lit(alpha) * F.coalesce(
        F.col("avg_kappa"), F.lit(0.0)
    )
    scored = (
        _norm_factored_cos(emb, qvecs, id_col, vec_col)
        .withColumnRenamed("_cos", "cos")
        # un-hinted: node_curv is O(|V|) — AQE broadcasts it only while it
        # actually fits (the docmap-broadcast defect class otherwise)
        .join(node_curv.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "qid",
            "doc_id",
            F.round(mix, RANK_KEY_DECIMALS).alias("score_key"),
            F.round(mix, SCORE_DECIMALS).alias("score"),
        )
    )
    return grouped_topk(
        scored, keys=["qid"], order=[F.col("score_key").desc(), F.col("doc_id").desc()], k=k
    ).select("qid", "doc_id", "score", "rank")


# --------------------------------------------------------- NumPy group kernels


def _dijkstra_from_query(adj_w: np.ndarray, q_w: np.ndarray) -> np.ndarray:
    """Single-source Dijkstra from a virtual query node.

    adj_w: (m, m) candidate-candidate weights (0 = no edge), q_w: (m,)
    query->candidate weights (inf = no edge). Returns (m,) distances (inf =
    unreachable). heapq over dense rows — per-group m is small by contract.
    """
    m = adj_w.shape[0]
    dist = np.full(m, np.inf)
    heap = [(float(w), int(i)) for i, w in enumerate(q_w) if np.isfinite(w)]
    heapq.heapify(heap)
    done = np.zeros(m, dtype=bool)
    while heap:
        d, u = heapq.heappop(heap)
        if done[u]:
            continue
        done[u] = True
        dist[u] = d
        nbrs = np.nonzero(adj_w[u] > 0)[0]
        for v in nbrs:
            nd = d + adj_w[u, v]
            if not done[v] and nd < dist[v]:
                heapq.heappush(heap, (float(nd), int(v)))
    return dist


def _candidate_knn_weights(
    E: np.ndarray, knn_k: int, doc_ids: np.ndarray | None = None
) -> np.ndarray:
    """Dense cosine k-NN graph among candidates: symmetric (m,m) weight
    matrix, weight = 1-cos (raw), 0 = no edge. Mirrors build_knn_graph
    semantics (self excluded, undirected union of per-node top-k). Neighbor
    SELECTION is pinned on (round(sim, 9) desc, doc_id desc) so the graph is
    engine-independent — raw-float argpartition ties would be arbitrary and
    unmatchable by a SQL oracle."""
    m = E.shape[0]
    sims = E @ E.T
    np.fill_diagonal(sims, -np.inf)
    kk = min(knn_k, m - 1)
    if kk <= 0:
        return np.zeros((m, m))
    if doc_ids is None:
        doc_ids = np.arange(m, dtype=np.int64)
    simr = np.round(sims, RANK_KEY_DECIMALS)
    W = np.zeros((m, m))
    for i in range(m):
        nbr = np.lexsort((-doc_ids, -simr[i]))[:kk]
        W[i, nbr] = 1.0 - sims[i, nbr]
    W = np.maximum(W, W.T)  # undirected: edge if either side selected
    return W


def personalized_pagerank_np(A: np.ndarray, prior: np.ndarray, alpha: float = 0.2, iters: int = 20) -> np.ndarray:
    """graph_rerank.py:16-67 forward semantics in NumPy float64."""
    deg = A.sum(axis=1, keepdims=True)
    A_norm = A / (deg + 1e-12)
    p = prior / prior.sum()
    for _ in range(iters):
        p = (1.0 - alpha) * prior + alpha * (A_norm.T @ p)
    return p


def heat_kernel_distances_np(
    A: np.ndarray, t: float = 1.0, steps: int = 10, normalize: bool = True
) -> np.ndarray:
    """differentiable.py:143-211 literal semantics: symmetrize A; L = D - A;
    normalized variant multiplies by diag(1/sqrt(deg+1e-8)) on both sides
    (NOT I - normalized-A: the eps makes those differ); K_t = exp(-tL) by
    Taylor/Horner; d_ij = ||K_t[i]-K_t[j]||^2."""
    n = A.shape[0]
    A_sym = 0.5 * (A + A.T)
    deg = A_sym.sum(axis=1)
    L = np.diag(deg) - A_sym
    if normalize:
        dinv = 1.0 / np.sqrt(deg + 1e-8)
        L = dinv[:, None] * L * dinv[None, :]
    K = np.eye(n)
    term = np.eye(n)
    for s in range(1, steps + 1):
        term = term @ (-t * L) / s
        K = K + term
    diff = K[:, None, :] - K[None, :, :]
    return np.sum(diff * diff, axis=-1)


def soft_knn_graph_np(
    E: np.ndarray, k: int, gamma: float | None = None, sample_cap: int = 2000
) -> tuple[np.ndarray, np.ndarray]:
    """differentiable.py:19-140 forward semantics -> (A, W).

    squared-L2 cdist; gamma auto = P20(D2[D2>0]) / ln(k); row softmax of
    -D2/gamma with -inf diagonal; tau-fix rows to mass k; hard top-k keep
    >= kth; symmetrize (A+A^T)/2; renormalize rows to mass k; W = A * D2.
    """
    n = E.shape[0]
    sq = np.sum(E * E, axis=1)
    D2 = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (E @ E.T), 0.0)
    if gamma is None:
        vals = D2[np.triu_indices(n, 1)] if n <= sample_cap else None
        if vals is None:
            rng_idx = np.arange(sample_cap)
            sub = D2[np.ix_(rng_idx, rng_idx)]
            vals = sub[np.triu_indices(sample_cap, 1)]
        pos = vals[vals > 0]
        p20 = np.percentile(pos, 20) if pos.size else 1.0
        gamma = float(p20 / np.log(max(k, 2)))
        gamma = max(gamma, 1e-12)
    logits = -D2 / gamma
    np.fill_diagonal(logits, -np.inf)
    shifted = logits - logits.max(axis=1, keepdims=True)
    ex = np.exp(shifted)
    P = ex / ex.sum(axis=1, keepdims=True)
    A = P * (k / P.sum(axis=1, keepdims=True))  # tau-fix: row mass exactly k
    if k < n - 1:  # soft-top-k only when it can drop anything (ref guard)
        kth = np.partition(A, n - k, axis=1)[:, n - k]
        A = np.where(A >= kth[:, None], A, 0.0)
    A = 0.5 * (A + A.T)
    A = A * (k / (A.sum(axis=1, keepdims=True) + 1e-8))
    return A, A * D2


# -------------------------------------------------------- grouped rerank ops


def _normalize_rows(M: np.ndarray) -> np.ndarray:
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)


def _geodesic_kernel(
    cand_pdf: pd.DataFrame,
    edge_pdf: pd.DataFrame | None,
    qid,
    connect_k: int,
    knn_k: int,
    vec_col: str,
    passthrough: tuple[str, ...] = (),
) -> pd.DataFrame:
    E = _normalize_rows(np.vstack(cand_pdf[vec_col].to_numpy()).astype(np.float64))
    q = np.asarray(cand_pdf["qvec"].iat[0], dtype=np.float64)
    qn = np.linalg.norm(q)
    q = q / qn if qn > 0 else q
    doc_ids = cand_pdf["doc_id"].to_numpy(dtype=np.int64)
    sims = E @ q
    m = len(doc_ids)
    if edge_pdf is None:
        W = _candidate_knn_weights(E, knn_k, doc_ids=doc_ids)
    else:
        pos = {int(d): i for i, d in enumerate(doc_ids)}
        W = np.zeros((m, m))
        for s, d, w in zip(edge_pdf["src"], edge_pdf["dst"], edge_pdf["weight"]):
            i, j = pos[int(s)], pos[int(d)]
            W[i, j] = W[j, i] = float(w)
    # virtual query node: edges to top-connect_k candidates by cosine,
    # ties larger docID first (reference argsort order, index.py:177);
    # selection key rounded to 9dp like every engine rank key
    order = np.lexsort((-doc_ids, -np.round(sims, RANK_KEY_DECIMALS)))
    top = order[: min(connect_k, m)]
    q_w = np.full(m, np.inf)
    q_w[top] = 1.0 - sims[top]
    dist = _dijkstra_from_query(W, q_w)
    reach = np.isfinite(dist)
    # RAW distances out; the 6dp output rounding happens JVM-side (F.round)
    # so the float bit pattern matches DuckDB round() exactly — np.round's
    # scaled-rint can land 1 ulp off the correctly-rounded decimal and flip
    # the driver's bit-exact hash even when values compare equal
    out = {"qid": qid, "doc_id": doc_ids[reach], "geo_dist": dist[reach]}
    for c in passthrough:  # rows align with cand_pdf order by construction
        out[c] = cand_pdf[c].to_numpy()[reach]
    return pd.DataFrame(out)


def geodesic_rerank(
    candidates: DataFrame,
    k: int = 10,
    connect_k: int = 10,
    knn_k: int = 10,
    edges: DataFrame | None = None,
    vec_col: str = "embedding",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Strategy C per query group -> (qid, doc_id, geo_dist, rank).

    ``passthrough``: double columns of ``candidates`` to carry through the
    kernel into the output (e.g. the bm25 score) — the flagship pipelines
    use this so the final result needs NO join back onto the candidate
    frame, which would otherwise recompute the whole retrieval subtree
    (the WAND scan + kernel ran twice per query batch before this).

    ``candidates``: (qid, doc_id, embedding, qvec) — the BM25/cosine top-
    search_k hits joined to the embedding table and the query vector.

    Graph source: with ``edges`` (a global k-NN graph, (src, dst, weight)),
    the subgraph induced on each query's candidates is assembled by two
    joins and cogrouped into the kernel — the reference's exact construction
    (index.py:176 ``self.graph.subgraph(...)``). Without ``edges``, a dense
    k-NN graph is built within the candidate group (the north-star variant:
    "k-NN candidate graph over the top-k hits per query").

    Unreachable candidates are dropped, matching Dijkstra dict semantics.
    """
    schema = "qid long, doc_id long, geo_dist double" + "".join(
        f", {c} double" for c in passthrough
    )
    if edges is None:

        def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            return _geodesic_kernel(
                pdf, None, key[0], connect_k, knn_k, vec_col, passthrough
            )

        out = candidates.groupBy("qid").applyInPandas(run, schema=schema)
    else:
        ca = candidates.select("qid", "doc_id").alias("ca")
        cb = candidates.select("qid", "doc_id").alias("cb")
        induced = (
            edges.alias("e")
            .join(ca, F.col("e.src") == F.col("ca.doc_id"))
            .join(
                cb,
                (F.col("ca.qid") == F.col("cb.qid"))
                & (F.col("e.dst") == F.col("cb.doc_id")),
            )
            .select(
                F.col("ca.qid").alias("qid"),
                F.col("e.src").alias("src"),
                F.col("e.dst").alias("dst"),
                F.col("e.weight").alias("weight"),
            )
        )

        def run2(key: tuple, cand_pdf: pd.DataFrame, edge_pdf: pd.DataFrame) -> pd.DataFrame:
            return _geodesic_kernel(
                cand_pdf, edge_pdf, key[0], connect_k, knn_k, vec_col, passthrough
            )

        out = (
            candidates.groupBy("qid")
            .cogroup(induced.groupBy("qid"))
            .applyInPandas(run2, schema=schema)
        )
    out = out.withColumn("geo_dist", F.round("geo_dist", SCORE_DECIMALS))
    return grouped_topk(
        out, keys=["qid"], order=[F.col("geo_dist").asc(), F.col("doc_id").asc()], k=k
    ).select("qid", "doc_id", *passthrough, "geo_dist", "rank")


def ppr_rerank(
    candidates: DataFrame,
    k: int = 50,
    alpha: float = 0.2,
    iters: int = 20,
    adjacency: str = "cosine",
    knn_k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """PPR diffusion re-scoring per query (eval/metrics.py:55-92 shape)
    -> (qid, doc_id, ppr, rank). adjacency: 'cosine' = clamped-nonnegative
    dense cosine sims (zero diagonal); 'knn' = candidate k-NN weights;
    'softknn' = soft-kNN A matrix."""

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        E = _normalize_rows(np.vstack(pdf[vec_col].to_numpy()).astype(np.float64))
        q = np.asarray(pdf["qvec"].iat[0], dtype=np.float64)
        qn = np.linalg.norm(q)
        q = q / qn if qn > 0 else q
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        sims = E @ q
        if adjacency == "cosine":
            A = np.maximum(E @ E.T, 0.0)
            np.fill_diagonal(A, 0.0)
        elif adjacency == "knn":
            A = _candidate_knn_weights(E, knn_k)
        else:
            A, _ = soft_knn_graph_np(E, knn_k)
        prior = np.maximum(sims, 1e-6)
        prior = prior / prior.sum()
        p = personalized_pagerank_np(A, prior, alpha=alpha, iters=iters)
        # raw p out; rounding happens JVM-side (see _geodesic_kernel note)
        return pd.DataFrame({"qid": key[0], "doc_id": doc_ids, "ppr": p})

    out = candidates.groupBy("qid").applyInPandas(
        run, schema="qid long, doc_id long, ppr double"
    ).withColumn("ppr", F.round("ppr", RANK_KEY_DECIMALS))
    return grouped_topk(
        out, keys=["qid"], order=[F.col("ppr").desc(), F.col("doc_id").asc()], k=k
    ).select("qid", "doc_id", "ppr", "rank")


def heat_kernel_rerank(
    candidates: DataFrame,
    k: int = 50,
    t: float = 1.0,
    steps: int = 10,
    knn_k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Heat-kernel distance to the best candidate (proxy query anchor) per
    group -> (qid, doc_id, heat_dist, rank). Anchor = top-cosine candidate;
    smaller diffusion distance = better."""

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        E = _normalize_rows(np.vstack(pdf[vec_col].to_numpy()).astype(np.float64))
        q = np.asarray(pdf["qvec"].iat[0], dtype=np.float64)
        qn = np.linalg.norm(q)
        q = q / qn if qn > 0 else q
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        sims = E @ q
        A = _candidate_knn_weights(E, knn_k, doc_ids=doc_ids)
        D = heat_kernel_distances_np(A, t=t, steps=steps)
        anchor = int(np.lexsort((-doc_ids, -np.round(sims, RANK_KEY_DECIMALS)))[0])
        # raw distances out; rounding happens JVM-side (see _geodesic_kernel)
        return pd.DataFrame(
            {"qid": key[0], "doc_id": doc_ids, "heat_dist": D[anchor]}
        )

    out = candidates.groupBy("qid").applyInPandas(
        run, schema="qid long, doc_id long, heat_dist double"
    ).withColumn("heat_dist", F.round("heat_dist", RANK_KEY_DECIMALS))
    return grouped_topk(
        out, keys=["qid"], order=[F.col("heat_dist").asc(), F.col("doc_id").asc()], k=k
    ).select("qid", "doc_id", "heat_dist", "rank")
