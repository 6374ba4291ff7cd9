"""Engine-vs-NumPy-oracle rank/value parity for the geometric stage
(SURVEY.md §5 item 1). The oracle (tests/oracle/geo.py) reimplements the
reference's normative semantics naively; the engine must agree.

Float policy: rank keys are rounded identically on both sides (9dp), output
values compared at atol 1e-9 (or exactly where both sides round to 6dp).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geometric_aware_retrieval_v2_spark.operators import rerank
from geometric_aware_retrieval_v2_spark.operators.curvature import forman_curvature
from geometric_aware_retrieval_v2_spark.operators.knn import knn_edges
from tests.conftest import SF_SMOKE
from tests.oracle import geo as oracle

N_QUERIES = 5
KNN_K = 5


@pytest.fixture(scope="module")
def emb_np():
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    M = np.vstack(emb["embedding"].to_numpy()).astype(np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    assert (emb["vec_id"].to_numpy() == np.arange(len(emb))).all()
    return M


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="module")
def qvecs_df(spark, emb_np):
    rows = [(int(i), emb_np[i].tolist()) for i in range(N_QUERIES)]
    return spark.createDataFrame(rows, schema="qid long, qvec array<double>")


@pytest.fixture(scope="module")
def engine_edges(spark, emb_df):
    df = knn_edges(emb_df, k=KNN_K, metric="cosine", n_blocks=4)
    return {(r.src, r.dst): r.weight for r in df.collect()}


def test_knn_edges_parity(engine_edges, emb_np):
    want = oracle.knn_graph_edges(emb_np, k=KNN_K, metric="cosine")
    assert set(engine_edges) == set(want)
    for e, w in want.items():
        assert abs(engine_edges[e] - w) < 6e-7  # engine rounds weights to 6dp


def test_cosine_topk_parity(spark, emb_df, qvecs_df, emb_np):
    got = rerank.cosine_topk(emb_df, qvecs_df, k=10).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r.qid, r.rank)):
        by_q.setdefault(r.qid, []).append(r.doc_id)
    for q in range(N_QUERIES):
        want = oracle.cosine_topk(emb_np, emb_np[q], k=10)
        assert by_q[q] == want, f"qid {q}: {by_q[q]} != {want}"


def test_cosine_kernel_matches_hof(spark):
    """The Arrow cosine kernel must be BIT-identical to the JVM
    higher-order-function plan it replaces for interactive query sets:
    the kernel's d accumulation passes reproduce the fold
    aggregate(zip_with(a,b,*), 0.0, +) element-for-element (one rounded
    multiply + one rounded add per step), the norms fold x*x the same
    way, and cos = dot / (na * nb) rounds the norm product once before
    the divide. Fuzzed over float32 vectors spanning magnitudes (the
    engine's embedding dtype) plus near-parallel and near-zero vectors;
    compares RAW _cos doubles, not the rounded outputs."""
    import pandas as pd

    from geometric_aware_retrieval_v2_spark.operators.rerank import (
        _hof_factored_cos,
        _kernel_factored_cos,
        _norm_factored_cos,
    )

    rng = np.random.default_rng(7)
    n, d, nq = 400, 16, 8
    A = (rng.standard_normal((n, d)) * 10.0 ** rng.integers(-6, 6, (n, 1))
         ).astype(np.float32)
    A[0] = A[1]          # exactly parallel pair
    A[2] = np.float32(1e-30)  # near-zero norms
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(A)}
    )
    emb = spark.createDataFrame(
        pdf, schema="vec_id long, embedding array<float>"
    )
    Q = A[:nq].astype(np.float64)
    qvecs = spark.createDataFrame(
        [(int(i), Q[i].tolist()) for i in range(nq)],
        schema="qid long, qvec array<double>",
    )
    hof = {
        (r.qid, r.doc_id): r._cos
        for r in _hof_factored_cos(emb, qvecs, "vec_id", "embedding").collect()
    }
    qrows = [(r.qid, r.qvec) for r in qvecs.collect()]
    kern = {
        (r.qid, r.doc_id): r._cos
        for r in _kernel_factored_cos(emb, "vec_id", "embedding", qrows).collect()
    }
    assert set(hof) == set(kern) and len(hof) == n * nq
    diff = [k for k in hof if hof[k] != kern[k]]
    assert diff == [], f"{len(diff)} raw-cos bit mismatches, e.g. {diff[:3]}"
    # the router takes the kernel for interactive sets and falls back for
    # non-long id columns
    assert "MapInArrow" in _norm_factored_cos(
        emb, qvecs, "vec_id", "embedding"
    )._jdf.queryExecution().executedPlan().toString()
    emb_int = emb.withColumn("vec_id", F.col("vec_id").cast("int"))
    assert "MapInArrow" not in _norm_factored_cos(
        emb_int, qvecs, "vec_id", "embedding"
    )._jdf.queryExecution().executedPlan().toString()


def test_cosine_kernel_rejects_ragged_rows(spark):
    """Rows of length d - 1 and d + 1 in one Arrow batch keep the flattened
    length at rows x d, so only a per-row length check catches them; the
    kernel must fail loudly instead of scoring misaligned vectors."""
    from geometric_aware_retrieval_v2_spark.operators.rerank import (
        _kernel_factored_cos,
    )

    d = 4
    emb = spark.createDataFrame(
        [(0, [1.0] * (d - 1)), (1, [1.0] * (d + 1))],
        schema="vec_id long, embedding array<double>",
    ).coalesce(1)
    with pytest.raises(Exception, match="ragged"):
        _kernel_factored_cos(emb, "vec_id", "embedding", [(0, [1.0] * d)]).collect()


@pytest.fixture(scope="module")
def candidates_df(spark, emb_df, qvecs_df):
    """Per-query cosine top-50 joined with vectors: (qid, doc_id, embedding, qvec)."""
    hits = rerank.cosine_topk(emb_df, qvecs_df, k=50)
    return (
        hits.select("qid", "doc_id")
        .join(emb_df.withColumnRenamed("vec_id", "doc_id"), "doc_id")
        .join(qvecs_df, "qid")
        .select("qid", "doc_id", "embedding", "qvec")
    )


def test_geodesic_parity(spark, candidates_df, engine_edges, emb_np, emb_df, qvecs_df):
    """Strategy C with the induced global graph, vs the oracle on the same
    (rounded) edge weights."""
    edges_df = spark.createDataFrame(
        [(u, v, w) for (u, v), w in engine_edges.items()],
        schema="src long, dst long, weight double",
    )
    got = rerank.geodesic_rerank(
        candidates_df, k=10, connect_k=10, edges=edges_df
    ).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r.qid, r.rank)):
        by_q.setdefault(r.qid, []).append((r.doc_id, r.geo_dist))
    for q in range(N_QUERIES):
        want = oracle.geodesic_search(
            emb_np, emb_np[q], engine_edges, k=10, search_k=50, connect_k=10
        )
        got_q = by_q[q]
        assert [d for d, _ in got_q] == [d for d, _ in want], f"qid {q}"
        for (_, gd), (_, wd) in zip(got_q, want):
            assert abs(gd - wd) < 1e-6


def test_ppr_parity(spark, candidates_df, emb_np):
    got = rerank.ppr_rerank(candidates_df, k=50, adjacency="cosine").toPandas()
    cand_by_q = (
        candidates_df.select("qid", "doc_id").toPandas().groupby("qid")["doc_id"].apply(list)
    )
    for q in range(N_QUERIES):
        cand = sorted(cand_by_q[q])
        _, p = oracle.ppr_pipeline(emb_np, emb_np[q], cand)
        want = {d: s for d, s in zip(cand, p)}
        sub = got[got.qid == q]
        assert len(sub) == len(cand)
        for d, s in zip(sub.doc_id, sub.ppr):
            assert abs(s - want[d]) < 1e-9, f"qid {q} doc {d}"
        # rank order: ppr desc, doc asc (oracle re-sorted the same way)
        want_order = [d for d, _ in sorted(want.items(), key=lambda t: (-round(t[1], 9), t[0]))]
        got_order = list(sub.sort_values("rank").doc_id)
        assert got_order == want_order, f"qid {q}"


def test_heat_kernel_parity():
    rng = np.random.default_rng(42)
    A = rng.random((30, 30))
    A = np.triu(A, 1)
    A = A + A.T
    got = rerank.heat_kernel_distances_np(A, t=1.0, steps=10, normalize=True)
    want = oracle.heat_kernel_distances(A, t=1.0, steps=10, normalize=True)
    assert np.allclose(got, want, atol=1e-9)
    got_u = rerank.heat_kernel_distances_np(A, t=0.5, steps=8, normalize=False)
    want_u = oracle.heat_kernel_distances(A, t=0.5, steps=8, normalize=False)
    assert np.allclose(got_u, want_u, atol=1e-9)


def test_soft_knn_parity(emb_np):
    E = emb_np[:100]
    A_got, W_got = rerank.soft_knn_graph_np(E, k=8)
    W_want, A_want = oracle.soft_knn_graph(E, k=8)
    assert np.allclose(A_got, A_want, atol=1e-9)
    assert np.allclose(W_got, W_want, atol=1e-9)


def test_forman_tensorized_parity():
    from geometric_aware_retrieval_v2_spark.functions.geoformulas import (
        forman_ricci_differentiable_np,
    )

    rng = np.random.default_rng(44)
    A = rng.random((40, 40))
    got = forman_ricci_differentiable_np(A, k_chunk=16)  # force chunking
    want = oracle.forman_ricci_differentiable(A)
    assert np.allclose(got, want, atol=1e-9)


def test_loss_forward_parity():
    from geometric_aware_retrieval_v2_spark.functions.geoformulas import (
        forman_loss_np,
        info_nce_geo_np,
        ricci_loss_np,
    )

    rng = np.random.default_rng(45)
    d_pos = rng.random(16)
    d_neg = rng.random((16, 7)) + 0.5
    assert abs(info_nce_geo_np(d_pos, d_neg) - oracle.info_nce_geo(d_pos, d_neg)) < 1e-10
    kap = rng.normal(size=50)
    assert abs(ricci_loss_np(kap, 0.1) - oracle.hinge_curvature_loss(kap, 0.1)) < 1e-12
    assert abs(forman_loss_np(kap, -0.2) - oracle.hinge_curvature_loss(kap, -0.2)) < 1e-12
    with pytest.raises(ValueError):
        info_nce_geo_np(rng.random((2, 2)), d_neg)


def test_forman_parity(spark, engine_edges):
    edges_df = spark.createDataFrame(
        [(u, v, w) for (u, v), w in engine_edges.items()],
        schema="src long, dst long, weight double",
    )
    got = {(r.src, r.dst): r.kappa for r in forman_curvature(edges_df).collect()}
    want = oracle.forman_ricci_weighted(engine_edges)
    assert set(got) == set(want)
    for e, kap in want.items():
        assert abs(got[e] - kap) < 2e-6, f"edge {e}: {got[e]} vs {kap}"


def test_knn_edges_ivf_recall(spark, emb_df, engine_edges):
    """The IVF-bucketed approximate graph must recover most of the exact
    graph even on these cluster-free embeddings (multi-assignment nprobe=4),
    and every approximate edge carries the exact weight (verification is
    exact cosine)."""
    from geometric_aware_retrieval_v2_spark.operators.knn import knn_edges_ivf

    approx = {
        (r.src, r.dst): r.weight
        for r in knn_edges_ivf(emb_df, k=KNN_K, every=50, nprobe=4).collect()
    }
    exact = engine_edges
    hit = set(approx) & set(exact)
    recall = len(hit) / len(exact)
    assert recall >= 0.8, f"IVF graph recall {recall:.3f}"
    for e in hit:
        assert abs(approx[e] - exact[e]) < 1e-9  # identical rounded weights


def test_knn_edges_block_count_invariant(spark, emb_df):
    """VERDICT r5 #1: n_blocks is a physical-layout knob only — the edge set
    (and weights) must be identical between an explicit tiny block count and
    the data-derived default, and derive_n_blocks must bound per-cell bytes."""
    from geometric_aware_retrieval_v2_spark.operators.knn import (
        BLOCK_BYTES_TARGET,
        derive_n_blocks,
        knn_edges,
    )

    key = lambda r: (r.src, r.dst, r.weight)
    a = sorted(map(key, knn_edges(emb_df, k=KNN_K, n_blocks=2).collect()))
    b = sorted(map(key, knn_edges(emb_df, k=KNN_K).collect()))  # derived
    assert a == b and len(a) > 0

    # sizing math: parallelism floor on small inputs, byte ceiling on huge
    # ones, never more blocks than rows
    assert derive_n_blocks(100, 64, 8) == 8
    assert derive_n_blocks(4, 64, 8) == 4
    big = derive_n_blocks(10_000_000, 64, 8)
    assert (10_000_000 // big) * 64 * 8 <= BLOCK_BYTES_TARGET
    assert derive_n_blocks(10**9, 64, 32) == -(-(10**9) * 64 * 8 // BLOCK_BYTES_TARGET)
