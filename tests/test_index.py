"""Index lifecycle invariants (FIXTURES.md §E):
  * indexed exhaustive scoring == tf-frame BM25 (rank-identical, same scores)
  * block-max WAND == exhaustive on every fixture query
  * resume-after-kill completes only missing partitions, identical results
  * permutation invariance: input partitioning never changes the index
  * content_sha256 survives the pipeline (BASELINE.json per-row invariant)
"""

from __future__ import annotations

import shutil

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from geometric_aware_retrieval_v2_spark.functions.tokenizer import doc_stats, tokenize_terms
from geometric_aware_retrieval_v2_spark.operators import bm25
from geometric_aware_retrieval_v2_spark.operators.index import (
    build_index,
    bm25_topk_indexed,
    wand_block_stats,
)
from geometric_aware_retrieval_v2_spark.plans import manifest as mf
from geometric_aware_retrieval_v2_spark.queryset import queries_df
from geometric_aware_retrieval_v2_spark.sources.tables import docs_from_documents
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index") / "idx")
    docs = docs_from_documents(spark, SF_SMOKE)
    build_index(spark, docs, d, n_partitions=4, n_shards=4, block_size=64)
    return d


def _collect_topk(df):
    return sorted(
        (r.qid, r.doc_id, r.score, r.rank) for r in df.collect()
    )


def test_indexed_matches_tf_frame(spark, index_dir):
    docs = docs_from_documents(spark, SF_SMOKE)
    want = _collect_topk(
        bm25.bm25_topk(tokenize_terms(docs), doc_stats(docs), queries_df(spark), k=10)
    )
    got = _collect_topk(
        bm25_topk_indexed(spark, index_dir, queries_df(spark), k=10, method="exhaustive")
    )
    assert got == want


def test_wand_equals_exhaustive(spark, index_dir):
    ex = _collect_topk(
        bm25_topk_indexed(spark, index_dir, queries_df(spark), k=10, method="exhaustive")
    )
    wd = _collect_topk(
        bm25_topk_indexed(spark, index_dir, queries_df(spark), k=10, method="wand")
    )
    assert wd == ex


def test_wand_skips_blocks(spark, tmp_path):
    """Pruning needs idf spread: on the uniform 31-term driver corpus there is
    nothing to skip (every term is in ~90% of docs), so exercise WAND on the
    Zipf(1.2) synthetic code corpus with a rare+hot term query."""
    from geometric_aware_retrieval_v2_spark.sources.corpus import (
        corpus_to_docs,
        synth_corpus_files,
    )
    from geometric_aware_retrieval_v2_spark.operators.index import build_index as bi

    d = str(tmp_path / "zipf_idx")
    docs = corpus_to_docs(synth_corpus_files(spark, 2000, partitions=8)).select(
        "doc_id", "content"
    )
    bi(spark, docs, d, n_partitions=2, n_shards=2, block_size=64, tokenizer_mode="code")
    qs = spark.createDataFrame(
        [(1, "def ident_3999"), (2, "return val ident_2500"), (3, "class import")],
        schema="qid long, text string",
    )
    stats = wand_block_stats(spark, d, qs, k=10).agg(
        F.sum("n_blocks").alias("nb"), F.sum("n_decoded").alias("nd")
    ).collect()[0]
    assert stats.nd < stats.nb, f"WAND decoded all {stats.nb} blocks — no pruning"
    # and it must stay exact
    ex = _collect_topk(bm25_topk_indexed(spark, d, qs, k=10, method="exhaustive"))
    wd = _collect_topk(bm25_topk_indexed(spark, d, qs, k=10, method="wand"))
    assert wd == ex


def test_resume_and_permutation_invariance(spark, index_dir, tmp_path):
    docs = docs_from_documents(spark, SF_SMOKE)

    # permutation invariance: different input partitioning -> same results
    d2 = str(tmp_path / "idx2")
    build_index(spark, docs.repartition(13), d2, n_partitions=4, n_shards=4, block_size=64)
    a = _collect_topk(bm25_topk_indexed(spark, index_dir, queries_df(spark), k=10))
    b = _collect_topk(bm25_topk_indexed(spark, d2, queries_df(spark), k=10))
    assert a == b

    # resume: kill after 2 committed docstats partitions -> resume completes
    d3 = str(tmp_path / "idx3")
    with pytest.raises(RuntimeError):
        _build_partial(spark, docs, d3)
    done_before = set(mf.completed_partitions(spark, d3, "docstats"))
    assert len(done_before) == 2
    build_index(spark, docs, d3, n_partitions=4, n_shards=4, block_size=64)
    assert set(mf.completed_partitions(spark, d3, "docstats")) == {0, 1, 2, 3}
    assert set(mf.completed_partitions(spark, d3, "segments")) == {0, 1, 2, 3}
    c = _collect_topk(bm25_topk_indexed(spark, d3, queries_df(spark), k=10))
    assert c == a
    # the resumed run must not have rewritten completed partitions: manifest
    # has exactly one row per (stage, partition)
    m = mf.read_manifest(spark, d3)
    per_part = m.groupBy("stage", "partition_id").count().collect()
    assert all(r["count"] == 1 for r in per_part)


def _build_partial(spark, docs, index_dir):
    """Simulate a crash after 2 segment partitions by monkey-layering."""
    import geometric_aware_retrieval_v2_spark.operators.index as idx

    import threading

    calls = {"n": 0}
    lock = threading.Lock()
    orig = mf.append_manifest

    def crashing(spark_, dir_, rows):
        # commit 1 is the params row; commits 2-3 are docstats partitions,
        # then the "machine dies" — leaving exactly 2 committed partitions
        with lock:
            calls["n"] += 1
            n = calls["n"]
        if n > 3:
            raise RuntimeError("simulated crash")
        orig(spark_, dir_, rows)
        if n == 3:
            raise RuntimeError("simulated crash")

    mf_append = mf.append_manifest
    try:
        mf.append_manifest = crashing
        idx.mf.append_manifest = crashing
        build_index(spark, docs, index_dir, n_partitions=4, n_shards=4, block_size=64)
    finally:
        mf.append_manifest = mf_append
        idx.mf.append_manifest = mf_append


def test_content_sha_invariant(spark, index_dir):
    """docstats sha256 equals recomputing from the source table row-by-row."""
    src = docs_from_documents(spark, SF_SMOKE).select(
        "doc_id", F.sha2("content", 256).alias("expected")
    )
    stored = spark.read.parquet(f"{index_dir}/docstats").select("doc_id", "content_sha256")
    n_total = src.count()
    n_match = stored.join(src, "doc_id").filter(
        F.col("content_sha256") == F.col("expected")
    ).count()
    assert n_match == n_total


def test_compact_merge_equals_logical_merge(spark, index_dir):
    """compact=True (decode -> reshuffle -> repack) must carry exactly the
    same postings as the logical concat merge; and a WAND query over the
    compacted postings returns identical results."""
    from geometric_aware_retrieval_v2_spark.operators.postings import (
        merge_segments,
        unpack_postings,
    )

    segments = spark.read.parquet(f"{index_dir}/segments")
    logical = merge_segments(segments, n_shards=4, block_size=64, compact=False)
    compacted = merge_segments(segments, n_shards=4, block_size=64, compact=True)
    key = lambda r: (r.term_id, r.shard, r.doc_id, r.tf, r.dl)
    a = sorted(map(key, unpack_postings(logical).collect()))
    b = sorted(map(key, unpack_postings(compacted).collect()))
    assert a == b
    # compacted blocks are per-(term, shard) disjoint and doc-sorted
    rows = compacted.collect()
    by_ts: dict = {}
    for r in rows:
        by_ts.setdefault((r.term_id, r.shard), []).append((r.first_doc, r.last_doc))
    for spans in by_ts.values():
        spans.sort()
        for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
            assert a1 < b0, "overlapping compacted blocks"


def test_pack_width_bounds_buffer_and_preserves_postings(spark, index_dir):
    """The pack shuffle width must be sized from the data (bounded per-task
    pandas buffer at any corpus size), and an explicit width must not change
    the postings content — only the physical layout."""
    from geometric_aware_retrieval_v2_spark.operators.postings import (
        ROWS_PER_PACK_TASK,
        pack_postings,
        pack_width,
        unpack_postings,
    )

    # width math: parallelism floor on small inputs, row ceiling on huge ones
    assert pack_width(0, 32) == 32
    assert pack_width(10_000, 32) == 32
    assert pack_width(40 * ROWS_PER_PACK_TASK, 32) == 40
    assert pack_width(40 * ROWS_PER_PACK_TASK + 1, 32) == 41
    assert pack_width(10**12 * 200, 32) == -(-(10**12 * 200) // ROWS_PER_PACK_TASK)

    # explicit n_tasks controls the physical width and preserves content
    # deterministic subset (limit() re-samples per action)
    tf = unpack_postings(spark.read.parquet(f"{index_dir}/segments")).filter(
        F.pmod(F.col("term_id"), F.lit(11)) == 0
    )
    key = lambda r: (r.term_id, r.shard, r.doc_id, r.tf, r.dl)
    base = pack_postings(tf, n_shards=4, block_size=64)
    wide = pack_postings(tf, n_shards=4, block_size=64, n_tasks=7)
    assert wide.rdd.getNumPartitions() == 7
    assert sorted(map(key, unpack_postings(base).collect())) == sorted(
        map(key, unpack_postings(wide).collect())
    )


_ROUTE_BATCH = [
    (1, "hash join"), (2, "table scan"), (3, "merge sort"),
    (9, "the a"), (11, "nosuchterm zzz"),
]


def _spy_routes(monkeypatch, ix) -> list:
    """Record the name of every partials function a query calls."""
    calls = []  # list.append is atomic across the slice threads

    def spy(fn):
        def wrapped(*a, **kw):
            calls.append(fn.__name__)
            return fn(*a, **kw)
        monkeypatch.setattr(ix, fn.__name__, wrapped)

    for fn in (ix._driver_partials, ix._interactive_partials, ix._exchange_partials):
        spy(fn)
    return calls


@pytest.mark.parametrize("method", ["wand", "exhaustive"])
@pytest.mark.parametrize(
    "route",
    ["driver", "one_slice", "slices", "one_qid_over_budget", "exchange_cap0",
     "exchange_distributed"],
)
def test_routes_match_tf_frame(spark, index_dir, monkeypatch, route, method):
    """Every query route — the driver route; the Spark interactive route
    (forced by a zero driver budget) as one inline slice, as several
    concurrent qid slices, and with a single qid over the slice budget;
    the exchange route reached through the qid cap and through
    finish="distributed" — returns exactly the tf-frame ``bm25.bm25_topk``
    rows. A spy pins which route each case took."""
    from geometric_aware_retrieval_v2_spark.localrel import local_queries_df
    from geometric_aware_retrieval_v2_spark.operators import index as ix

    rows = [(9, "the a")] if route == "one_qid_over_budget" else _ROUTE_BATCH
    queries = local_queries_df(spark, rows)
    h = ix.IndexHandle(spark, index_dir)
    total_df = sum(t[2] for t in ix._interactive_trip(h, queries))
    assert 3 < total_df <= ix._DRIVER_SCORE_MAX_POSTINGS
    finish = "auto"
    if route in ("one_slice", "slices", "one_qid_over_budget"):
        monkeypatch.setattr(ix, "_DRIVER_SCORE_MAX_POSTINGS", 0)
    if route == "slices":
        monkeypatch.setattr(ix, "_FAST_PARTIALS_MAX_POSTINGS", total_df // 3)
    elif route == "one_qid_over_budget":
        monkeypatch.setattr(ix, "_FAST_PARTIALS_MAX_POSTINGS", 1)
    elif route == "exchange_cap0":
        monkeypatch.setattr(ix, "_DRIVER_FINISH_MAX_QIDS", 0)
    elif route == "exchange_distributed":
        finish = "distributed"
    calls = _spy_routes(monkeypatch, ix)
    got = _collect_topk(
        bm25_topk_indexed(spark, h, queries, k=10, method=method, finish=finish)
    )
    n_drv = calls.count("_driver_partials")
    n_int = calls.count("_interactive_partials")
    n_exc = calls.count("_exchange_partials")
    if route.startswith("exchange"):
        assert (n_drv, n_int, n_exc) == (0, 0, 1), calls
    elif route == "driver":
        assert (n_drv, n_int, n_exc) == (1, 0, 0), calls
    elif route == "slices":
        assert n_drv == 0 and n_int >= 2 and n_exc == 0, calls
    else:
        assert (n_drv, n_int, n_exc) == (0, 1, 0), calls
    docs = docs_from_documents(spark, SF_SMOKE)
    want = _collect_topk(
        bm25.bm25_topk(tokenize_terms(docs), doc_stats(docs), queries, k=10)
    )
    assert got == want and len(got) > 0


@pytest.mark.parametrize("offset", [-1, 0, 1])
def test_driver_budget_seam(spark, index_dir, monkeypatch, offset):
    """At the driver budget's seam: a batch whose sum(df) equals the budget
    or is below it is scored on the driver, one over it on Spark, and both
    sides return exactly the tf-frame rows."""
    from geometric_aware_retrieval_v2_spark.localrel import local_queries_df
    from geometric_aware_retrieval_v2_spark.operators import index as ix

    queries = local_queries_df(spark, _ROUTE_BATCH)
    h = ix.IndexHandle(spark, index_dir)
    total_df = sum(t[2] for t in ix._interactive_trip(h, queries))
    monkeypatch.setattr(ix, "_DRIVER_SCORE_MAX_POSTINGS", total_df + offset)
    calls = _spy_routes(monkeypatch, ix)
    got = _collect_topk(bm25_topk_indexed(spark, h, queries, k=10))
    assert calls == (
        ["_interactive_partials"] if offset < 0 else ["_driver_partials"]
    )
    docs = docs_from_documents(spark, SF_SMOKE)
    want = _collect_topk(
        bm25.bm25_topk(tokenize_terms(docs), doc_stats(docs), queries, k=10)
    )
    assert got == want and len(got) > 0


def test_in_expr_rejects_empty_ids(spark):
    """An empty IN list is a caller bug: it must raise, not parse to SQL
    that fails later (or vanish under python -O like an assert)."""
    from geometric_aware_retrieval_v2_spark.operators.index import in_expr

    with pytest.raises(ValueError, match="non-empty"):
        in_expr("ord", [])
    assert spark.range(5).filter(in_expr("id", [1, 3])).count() == 2


@pytest.mark.parametrize("finish", ["auto", "distributed"])
@pytest.mark.parametrize("method", ["wand", "exhaustive"])
def test_boundary_ties_across_doc_lengths(spark, tmp_path, method, finish):
    """140 docs tie on the rounded score of query "x" across two doc
    lengths: avgdl is exactly 3, so tf 1 at dl 3 and tf 2 at dl 7 give
    tf / (tf + k1 (1 - b + b dl / avgdl)) = 1 / 2.2 for both. The dl-7 docs
    hold the smallest doc_ids, so the exact top-10 is doc_ids 0..9; ords
    rank dl-3 docs first, and each of the 2 shards holds ~60 of them, so a
    shard cut on (score, ord) at any fixed depth under the class size
    keeps the wrong docs."""
    rows = (
        [(i, "x x p p p p q") for i in range(20)]  # dl 7, tf 2
        + [(20 + i, "x p q") for i in range(120)]  # dl 3, tf 1
        + [(140 + i, "z") for i in range(40)]  # dl 1, no x
    )
    docs = spark.createDataFrame(rows, schema="doc_id long, content string")
    d = str(tmp_path / "ties")
    build_index(spark, docs, d, n_partitions=2, n_shards=2, block_size=16)
    queries = spark.createDataFrame([(1, "x")], schema="qid long, text string")
    want = _collect_topk(
        bm25.bm25_topk(tokenize_terms(docs), doc_stats(docs), queries, k=10)
    )
    assert [r[1] for r in want] == list(range(10))
    got = _collect_topk(
        bm25_topk_indexed(spark, d, queries, k=10, method=method, finish=finish)
    )
    assert got == want


@st.composite
def _tie_corpora(draw):
    """A corpus whose "x" docs tie on the rounded BM25 score across two
    doc lengths (tf 1 at dl 3 and tf 2 at dl 7 under avgdl exactly 3: two
    dl-1 fillers balance each dl-7 doc), with shuffled doc_ids. Ords rank
    the dl-3 docs of the class first, and the class holds more of them
    than k + 32 per shard, while a dl-7 doc has a doc_id among the class's
    k smallest: a shard cut on (score, ord) at any fixed depth drops it.
    A few dl-3 "x y q" docs rank above the class for a query with "y"."""
    n7 = draw(st.integers(4, 30))
    n3 = draw(st.integers(100, 160))
    k = draw(st.integers(1, 20))
    texts = (
        ["x x p p p p q"] * n7 + ["x p q"] * n3 + ["z"] * (2 * n7)
        + ["x y q"] * draw(st.integers(0, 4)) + ["z z z"] * draw(st.integers(0, 10))
    )
    ids = draw(st.permutations(range(len(texts))))
    assume(min(ids[:n7]) < sorted(ids[n7 : n7 + n3])[k - 1])
    return (
        [(int(i), t) for i, t in zip(ids, texts)],
        k,
        draw(st.sampled_from([1, 2])),
        draw(st.sampled_from(["x", "x y", "x q"])),
    )


@given(_tie_corpora())
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rounded_ties_exact_on_every_route(spark, tmp_path_factory, monkeypatch, case):
    """Generated corpora with large rounded-score tie classes across doc
    lengths: ``wand`` and ``exhaustive`` return exactly the tf-frame rows
    on the driver, Spark interactive and exchange routes."""
    from geometric_aware_retrieval_v2_spark.operators import index as ix

    rows, k, n_shards, text = case
    docs = spark.createDataFrame(rows, schema="doc_id long, content string")
    d = str(tmp_path_factory.mktemp("ties") / "idx")
    build_index(spark, docs, d, n_partitions=1, n_shards=n_shards, block_size=8)
    queries = spark.createDataFrame([(1, text)], schema="qid long, text string")
    want = _collect_topk(
        bm25.bm25_topk(tokenize_terms(docs), doc_stats(docs), queries, k=k)
    )
    h = ix.IndexHandle(spark, d)
    budget = ix._DRIVER_SCORE_MAX_POSTINGS
    for route, driver_budget, finish in (
        ("driver", budget, "auto"),
        ("spark", 0, "auto"),
        ("exchange", budget, "distributed"),
    ):
        monkeypatch.setattr(ix, "_DRIVER_SCORE_MAX_POSTINGS", driver_budget)
        for method in ("wand", "exhaustive"):
            got = _collect_topk(
                bm25_topk_indexed(spark, h, queries, k=k, method=method, finish=finish)
            )
            assert got == want, (route, method)


def test_pack_narrowed_types_identical(spark, index_dir):
    """The segments job narrows tf/dl to int32 before the pack shuffle
    (guide §2.3): the packed block rows — payload bytes included — must be
    bit-identical to packing the original int64 columns."""
    from geometric_aware_retrieval_v2_spark.operators.postings import (
        pack_postings,
    )

    tf = unpack_for_test(spark, index_dir)
    key = lambda r: (
        r.term_id, r.shard, r.block_id, r.first_doc, r.last_doc,
        r.n, r.max_tf, r.min_dl, bytes(r.bytes),
    )
    wide = pack_postings(tf, n_shards=4, block_size=64, n_tasks=5)
    narrow = pack_postings(
        tf.withColumn("tf", F.col("tf").cast("int")).withColumn(
            "dl", F.col("dl").cast("int")
        ),
        n_shards=4, block_size=64, n_tasks=5,
    )
    assert sorted(map(key, wide.collect())) == sorted(map(key, narrow.collect()))


def unpack_for_test(spark, index_dir):
    from geometric_aware_retrieval_v2_spark.operators.postings import (
        unpack_postings,
    )

    return unpack_postings(spark.read.parquet(f"{index_dir}/segments")).filter(
        F.pmod(F.col("term_id"), F.lit(7)) == 0
    )


def test_docmap_shuffle_join_equals_broadcast(spark, index_dir, tmp_path):
    """The docmap join strategy is picked from the committed doc count
    (broadcast below docmap_broadcast_max_rows, shuffle join past it — a
    corpus-proportional table cannot be hardwired-broadcast at 10^12 docs).
    Forcing the shuffle-join path must produce an identical index, and the
    strategy input (stage_rows_total over the docstats commits) must equal
    the real document count without running a counting job."""
    from geometric_aware_retrieval_v2_spark.operators.postings import unpack_postings

    docs = docs_from_documents(spark, SF_SMOKE)
    d2 = str(tmp_path / "idx_shuffle_join")
    build_index(spark, docs, d2, n_partitions=4, n_shards=4, block_size=64,
                docmap_broadcast_max_rows=0)

    assert mf.stage_rows_total(spark, d2, "docstats") == docs.count()

    key = lambda r: (r.term_id, r.shard, r.doc_id, r.tf, r.dl)
    a = sorted(map(key, unpack_postings(
        spark.read.parquet(f"{index_dir}/postings")).collect()))
    b = sorted(map(key, unpack_postings(
        spark.read.parquet(f"{d2}/postings")).collect()))
    assert a == b

    wd = _collect_topk(
        bm25_topk_indexed(spark, d2, queries_df(spark), k=10, method="wand")
    )
    base = _collect_topk(
        bm25_topk_indexed(spark, index_dir, queries_df(spark), k=10, method="wand")
    )
    assert wd == base


def test_resume_with_different_params_raises(spark, index_dir, tmp_path):
    """Completed artifacts are keyed by pmod(xxhash64(doc_id), n_partitions);
    resuming under different parameters must refuse instead of silently
    dropping the documents whose stale bp falls outside the new loop."""
    docs = docs_from_documents(spark, SF_SMOKE)
    with pytest.raises(ValueError, match="parameters"):
        build_index(spark, docs, index_dir, n_partitions=2, n_shards=4, block_size=64)
    with pytest.raises(ValueError, match="parameters"):
        build_index(spark, docs, index_dir, n_partitions=4, n_shards=4, block_size=32)
    # same params: still a clean idempotent resume
    build_index(spark, docs, index_dir, n_partitions=4, n_shards=4, block_size=64)


def test_invalid_build_params_rejected(spark, tmp_path):
    docs = docs_from_documents(spark, SF_SMOKE)
    with pytest.raises(ValueError):
        build_index(spark, docs, str(tmp_path / "bad1"), n_partitions=0)
    with pytest.raises(ValueError):
        build_index(spark, docs, str(tmp_path / "bad2"), block_size=4)
    with pytest.raises(ValueError):
        build_index(spark, docs, str(tmp_path / "bad3"), tokenizer_mode="nope")


def test_vocab_collision_gate():
    from geometric_aware_retrieval_v2_spark.operators.index import _check_vocab

    _check_vocab(100, 100)  # clean vocabulary passes
    with pytest.raises(RuntimeError, match="collision"):
        _check_vocab(100, 99)


def test_manifest_on_schemed_path(spark, tmp_path):
    """A 'file://'-schemed index_dir exercises the non-POSIX commit path
    (Spark-job append) that an HDFS/S3 index_dir would take; resume
    bookkeeping must behave identically."""
    d = "file://" + str(tmp_path / "remote_idx")
    assert not mf.is_local_path("hdfs://nn/idx") and not mf.is_local_path("s3a://b/idx")
    assert mf.is_local_path(str(tmp_path)) and mf.is_local_path(d)
    # file:// IS local-addressable; force the Spark commit path via a fake
    # scheme check by calling append on an hdfs-shaped path is not possible
    # in-sandbox, so pin the dispatch decision itself plus the local round
    # trip through the schemed path
    mf.append_manifest(spark, d, [mf.manifest_row("r", "docstats", 3, "fp", 1, 0, 1, d)])
    got = mf.completed_partitions(spark, d, "docstats")
    assert got == {3: "fp"}


def test_manifest_spark_commit_path(spark, tmp_path, monkeypatch):
    """Force the non-local dispatch (what hdfs://... would take): commits
    route through a Spark append job, reads probe via spark.read — the
    driver-POSIX fast path must never be touched."""
    import os

    d = str(tmp_path / "rmt")
    monkeypatch.setattr(mf, "is_local_path", lambda p: False)
    monkeypatch.setattr(mf.os, "rename", lambda *a: (_ for _ in ()).throw(AssertionError("POSIX path used")))
    # fresh dir: read path must return empty without raising
    assert mf.completed_partitions(spark, d, "docstats") == {}
    mf.append_manifest(spark, d, [mf.manifest_row("r", "segments", 7, "fp7", 1, 0, 1, d)])
    mf.append_manifest(spark, d, [mf.manifest_row("r", "segments", 8, "fp8", 1, 0, 1, d)])
    assert mf.completed_partitions(spark, d, "segments") == {7: "fp7", 8: "fp8"}


def test_high_partition_build_with_ingest_stage(spark, tmp_path_factory):
    """n_partitions > 8 triggers the partitioned-input ingest stage; the
    resulting index must answer queries identically to the low-P build, and
    resume must recognize the committed ingest stage."""
    d = str(tmp_path_factory.mktemp("hp") / "idx")
    docs = docs_from_documents(spark, SF_SMOKE)
    build_index(spark, docs, d, n_partitions=12, n_shards=4, block_size=64)
    assert -1 in mf.completed_partitions(spark, d, "ingest")
    got = _collect_topk(
        bm25_topk_indexed(spark, d, queries_df(spark), k=10, method="wand")
    )
    want = _collect_topk(
        bm25.bm25_topk(tokenize_terms(docs), doc_stats(docs), queries_df(spark), k=10)
    )
    assert got == want
    # idempotent resume: nothing to do on a second call, results unchanged
    build_index(spark, docs, d, n_partitions=12, n_shards=4, block_size=64)
    assert _collect_topk(
        bm25_topk_indexed(spark, d, queries_df(spark), k=10, method="wand")
    ) == want


def test_bounded_cache_fill_refetches_evicted_keys():
    """Eviction must widen the fetch set to ALL requested keys — clearing
    without that left previously-cached keys missing and the caller's
    cache[key] lookups crashing (round-5 review finding)."""
    from geometric_aware_retrieval_v2_spark.operators.index import (
        _bounded_cache_fill,
    )

    cache = {i: i for i in range(10)}
    calls: list[list[int]] = []

    def fetch(missing):
        calls.append(list(missing))
        cache.update({k: k for k in missing})

    _bounded_cache_fill(cache, [5, 99], fetch, cap=8)
    assert 5 in cache and 99 in cache  # 5 was evicted, then refetched
    assert calls == [[5, 99]]
    # no-op when everything is cached: fetch not called
    _bounded_cache_fill(cache, [5, 99], fetch, cap=8)
    assert calls == [[5, 99]]


def test_bm25_topk_indexed_rejects_nonpositive_k(spark):
    with pytest.raises(ValueError, match="k must be >= 1"):
        bm25_topk_indexed(spark, "/nonexistent", queries_df(spark), k=0)


def _merge_reference(rows, k, docmap):
    """The coordinator merge as plain Python: per qid, keep every partial
    scoring >= the k-th best, then rank by (score desc, doc_id asc)."""
    by_qid: dict[int, list] = {}
    for q, o, s in rows:
        by_qid.setdefault(q, []).append((s, o))
    out = []
    for q in sorted(by_qid):
        scores = sorted((s for s, _ in by_qid[q]), reverse=True)
        kth = scores[min(k, len(scores)) - 1]
        kept = sorted(
            ((s, docmap[o]) for s, o in by_qid[q] if s >= kth),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        out.extend((q, d, s, i + 1) for i, (s, d) in enumerate(kept))
    return out


def _partials_table(rows):
    import pyarrow as pa

    return pa.table({
        "qid": pa.array([r[0] for r in rows], pa.int64()),
        "ord": pa.array([r[1] for r in rows], pa.int64()),
        "score": pa.array([r[2] for r in rows], pa.float64()),
    })


def _numpy_merge(rows, k, docmap):
    import numpy as np

    from geometric_aware_retrieval_v2_spark.operators.index import _merge_partials

    resolved = []

    def resolve(ords):
        assert ords.dtype == np.int64 and list(ords) == sorted(set(ords.tolist()))
        resolved.append(ords.tolist())
        return [docmap[o] for o in ords.tolist()]

    q, d, s, r = _merge_partials(_partials_table(rows), k, resolve)
    assert [a.dtype.name for a in (q, d, s, r)] == ["int64", "int64", "float64", "int64"]
    return list(zip(q.tolist(), d.tolist(), s.tolist(), r.tolist())), resolved


def test_merge_partials_matches_python_reference():
    """The NumPy coordinator merge against the plain-Python one, on hand-built
    partial tables (rows of several shards interleaved, as slices deliver
    them): a k-boundary tie class spanning shards, a qid with fewer than k
    partials, equal scores whose ord order reverses their doc_id order."""
    docmap = {o: 1000 - 7 * o for o in range(60)}  # ord asc == doc_id desc
    rows = [
        # qid 1, k=3: 5.0 then a 2.5 tie class of 4 over two shards
        (1, 3, 2.5), (1, 1, 5.0), (1, 40, 2.5), (1, 2, 2.5), (1, 41, 2.5),
        (1, 4, 1.0), (1, 42, 0.5),
        # qid 2: fewer than k partials
        (2, 7, 0.25), (2, 50, 0.75),
        # qid 0: every score equal, ords reversed against doc_ids
        (0, 10, 1.5), (0, 11, 1.5), (0, 12, 1.5), (0, 13, 1.5),
    ]
    got, resolved = _numpy_merge(rows, 3, docmap)
    assert got == _merge_reference(rows, 3, docmap)
    assert [(q, d) for q, d, _, _ in got if q == 1] == [
        (1, docmap[1]), (1, docmap[41]), (1, docmap[40])
    ]
    assert [d for q, d, _, _ in got if q == 0] == [docmap[13], docmap[12], docmap[11]]
    # only the boundary tie classes are resolved: ords 4 and 42 score below
    # qid 1's k-th score
    assert resolved == [[1, 2, 3, 7, 10, 11, 12, 13, 40, 41, 50]]

    assert _numpy_merge([], 3, docmap) == ([], [])  # nothing to resolve


@pytest.mark.parametrize("seed", range(6))
def test_merge_partials_random_ties(seed):
    """Randomized: few distinct scores, so tie classes straddle k."""
    import random

    rng = random.Random(seed)
    ords = rng.sample(range(10_000), 400)
    docmap = {o: rng.randrange(10**9) for o in ords}
    rows = [
        (rng.randrange(8), o, rng.choice([0.5, 1.25, 1.25, 2.0, 3.75]))
        for o in ords
    ]
    for k in (1, 5, 20, 100):
        assert _numpy_merge(rows, k, docmap)[0] == _merge_reference(rows, k, docmap)


@pytest.mark.parametrize(
    "rows",
    [[(1, "hash join"), (None, "table scan")], [(None, "hash join")]],
    ids=["mixed", "alone"],
)
def test_null_qid_rejected(spark, index_dir, rows):
    """A null qid in an interactive batch is a caller error: it must raise a
    ValueError naming it, not a TypeError from sorting the probe pairs or a
    failure inside the scoring task."""
    from geometric_aware_retrieval_v2_spark.localrel import local_queries_df

    with pytest.raises(ValueError, match="null qid"):
        bm25_topk_indexed(spark, index_dir, local_queries_df(spark, rows), k=5)


def test_interactive_result_over_4096_rows(spark, tmp_path):
    """A 256-qid x k=20 interactive batch returns 5,120 rows — past the
    4,096-row limit the SQL-text result relation had — and still returns
    exactly the tf-frame rows as a LocalRelation whose collect() schedules
    no Spark job."""
    import random

    from geometric_aware_retrieval_v2_spark.localrel import local_queries_df

    rng = random.Random(3)
    vocab = "ant bee cat dog eel fox gnu hen ibis jay".split()
    rows = [
        (i, " ".join(w for w in vocab for _ in range(rng.choice([0, 0, 1, 2, 3]))))
        for i in range(80)
    ]
    assert all(sum(w in t.split() for _, t in rows) >= 20 for w in vocab)
    docs = spark.createDataFrame(rows, schema="doc_id long, content string")
    d = str(tmp_path / "wide")
    build_index(spark, docs, d, n_partitions=2, n_shards=2, block_size=16)
    queries = local_queries_df(
        spark, [(q, " ".join(rng.sample(vocab, rng.randint(1, 3)))) for q in range(256)]
    )
    out = bm25_topk_indexed(spark, d, queries, k=20)
    sc = spark.sparkContext
    sc.setJobGroup("wide_result", "wide_result")
    try:
        got = _collect_topk(out)
        jobs = sc.statusTracker().getJobIdsForGroup("wide_result") or []
    finally:
        sc.setJobGroup(None, None)
    assert len(got) == 256 * 20 and jobs == []
    want = _collect_topk(
        bm25.bm25_topk(tokenize_terms(docs), doc_stats(docs), queries, k=20)
    )
    assert got == want


@pytest.mark.parametrize(
    "shape", ["whole", "sliced", "chunked", "large_binary", "empty"]
)
def test_decode_blocks_matches_decode_block(index_dir, shape):
    """The one-pass decoder returns, block row by block row, exactly what
    ``decode_block`` returns for that row alone — on a real index's
    postings, for a sliced array (offset != 0), a column of several
    chunks, ``large_binary`` (int64 offsets) and an empty input."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geometric_aware_retrieval_v2_spark.operators.postings import (
        decode_block,
        decode_blocks,
    )

    tab = pq.read_table(f"{index_dir}/postings", columns=["n", "bytes"])
    arr = tab.column("bytes").combine_chunks()
    ns = tab.column("n").to_numpy().astype(np.int64)
    m = len(arr)
    assert m > 20
    if shape == "sliced":
        arr, ns = arr.slice(7, m - 20), ns[7 : m - 13]
    elif shape == "chunked":
        arr = pa.chunked_array([arr.slice(0, 5), arr.slice(5, m // 2), arr.slice(5 + m // 2)])
    elif shape == "large_binary":
        arr, ns = arr.cast(pa.large_binary()).slice(3), ns[3:]
    elif shape == "empty":
        arr, ns = arr.slice(0, 0), ns[:0]
    docs, tfs, dls, row_start = decode_blocks(arr, ns)
    assert (docs.dtype, tfs.dtype, dls.dtype) == (np.int64, np.uint64, np.uint64)
    assert row_start.tolist() == [0] + np.cumsum(ns).tolist()
    rows = arr.to_pylist()
    assert len(rows) == len(ns)
    for i, (buf, n) in enumerate(zip(rows, ns)):
        d, t, l = decode_block(buf, int(n))
        sl = slice(row_start[i], row_start[i + 1])
        assert np.array_equal(docs[sl], d)
        assert np.array_equal(tfs[sl], t) and np.array_equal(dls[sl], l)
    if shape == "empty":
        assert decode_blocks(pa.chunked_array([], pa.binary()), ns)[3].tolist() == [0]


def _per_block_partials(post, trip, k, k1, b, avgdl):
    """Per-row reference for the interactive kernel: every (qid, shard)
    group scored exhaustively, each block decoded on its own with
    ``decode_block`` and each doc's term contributions summed in term_id
    order, in the kernel's group order (shard, qid), and cut to the docs
    whose rounded score reaches the group's k-th."""
    import math

    import numpy as np

    from geometric_aware_retrieval_v2_spark.operators.bm25 import SCORE_DECIMALS
    from geometric_aware_retrieval_v2_spark.operators.postings import decode_block

    blocks = sorted(
        post.select(["term_id", "shard", "first_doc", "n", "bytes"]).to_pylist(),
        key=lambda r: (r["shard"], r["term_id"], r["first_doc"]),
    )
    out = []
    for shard in sorted({r["shard"] for r in blocks}):
        for qid in sorted({q for q, _, _, _ in trip}):
            idf = {t: i for q, t, _, i in trip if q == qid}
            acc: dict[int, float] = {}
            for r in blocks:
                if r["shard"] != shard or r["term_id"] not in idf:
                    continue
                d, t, l = decode_block(r["bytes"], r["n"])
                tf, dl = t.astype(np.float64), l.astype(np.float64)
                s = idf[r["term_id"]] * (
                    tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
                )
                for doc, v in zip(d.tolist(), s.tolist()):
                    acc[doc] = acc.get(doc, 0.0) + v
            scale = 10.0**SCORE_DECIMALS
            ranked = sorted(
                ((math.floor(v * scale + 0.5) / scale, doc) for doc, v in acc.items()),
                key=lambda x: (-x[0], x[1]),
            )
            kth = ranked[min(k, len(ranked)) - 1][0] if ranked else 0.0
            out += [(qid, doc, v) for v, doc in ranked if v >= kth]
    return out


@pytest.mark.parametrize("method", ["wand", "exhaustive"])
def test_partials_kernel_matches_per_block_reference(spark, index_dir, method):
    """The kernel decodes each block row of its partition once and scores
    every qid that shares the row's term from that one decode: its
    (qid, ord, score) table equals, bit for bit, a reference that decodes
    every (qid, block) on its own, whichever way the shards are split over
    partitions. Its diagnostics keep their schema and count every block of
    an exhaustive group as decoded."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from geometric_aware_retrieval_v2_spark.localrel import local_queries_df
    from geometric_aware_retrieval_v2_spark.operators import index as ix

    h = ix.IndexHandle(spark, index_dir)
    batch = [(1, "hash join"), (2, "join table"), (3, "table scan hash"), (4, "the a"), (5, "a scan")]
    trip = ix._interactive_trip(h, local_queries_df(spark, batch))
    terms = [t for _, t, _, _ in trip]
    assert len(set(terms)) < len(terms)  # some term serves several qids
    post = pq.read_table(f"{index_dir}/postings")
    post = post.filter(pc.is_in(post.column("term_id"), pa.array(sorted(set(terms)))))
    k, k1, b = 10, 1.2, 0.75
    avgdl = h.meta.avgdl
    want = _per_block_partials(post, trip, k, k1, b, avgdl)
    assert len(want) > 50
    schema = pa.schema([("qid", pa.int64()), ("ord", pa.int64()), ("score", pa.float64())])
    want_tab = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in want], schema=schema
    )
    key = [("qid", "ascending"), ("ord", "ascending")]
    shards = post.column("shard").to_numpy()
    for n_parts in (1, 2, 4):
        got = []
        for p in range(n_parts):
            part = post.filter(pa.array(shards % n_parts == p))
            kernel = ix._partials_kernel(
                ix._expand_by_term(trip), k, k1, b, avgdl, method == "wand"
            )
            got += list(kernel(part.to_batches(max_chunksize=97)))
        got_tab = pa.Table.from_batches(got, schema=schema)
        assert got_tab.sort_by(key).equals(want_tab.sort_by(key)), n_parts
    stats_kernel = ix._partials_kernel(
        ix._expand_by_term(trip), k, k1, b, avgdl, method == "wand", stats=True
    )
    stats = pa.Table.from_batches(list(stats_kernel(post.to_batches())))
    assert stats.schema.names == ["qid", "shard", "n_blocks", "n_decoded"]
    nb, nd = (stats.column(c).to_numpy() for c in ("n_blocks", "n_decoded"))
    assert np.all(nd <= nb) and (method == "wand" or np.array_equal(nd, nb))


@pytest.mark.parametrize(
    "n_shards,n_parts", [(8, 4), (6, 4), (8, 8), (5, 3), (12, 5), (16, 4)]
)
def test_shard_partition_salt_balances_loads(spark, n_shards, n_parts):
    """The chosen salt places the shard values on Spark's own hash
    partitioner with the ideal ceil(n_shards / n_parts) fullest partition."""
    from collections import Counter

    from geometric_aware_retrieval_v2_spark.operators import index as ix

    salt = ix._shard_partition_salt(spark, n_shards, n_parts)
    placed = (
        spark.range(n_shards)
        .select(F.col("id").cast("int").alias("shard"))
        .repartition(n_parts, (F.col("shard") + F.lit(salt)).cast("int"))
        .select(F.spark_partition_id().alias("p"))
        .collect()
    )
    assert max(Counter(r.p for r in placed).values()) == -(-n_shards // n_parts)


@pytest.mark.parametrize("n_shards", [8, 6])
def test_shard_view_fewer_cores_than_shards(spark, tmp_path, monkeypatch, n_shards):
    """With defaultParallelism 4 below n_shards, the cached shard view has
    4 balanced partitions that each hold whole shards, and both query
    methods still return the tf-frame rows on the Spark interactive route
    (the driver budget is zeroed), for one query and for a batch split
    over several concurrent qid slices."""
    from collections import Counter

    from geometric_aware_retrieval_v2_spark.localrel import local_queries_df
    from geometric_aware_retrieval_v2_spark.operators import index as ix

    docs = docs_from_documents(spark, SF_SMOKE)
    d = str(tmp_path / "idx")
    build_index(spark, docs, d, n_partitions=2, n_shards=n_shards, block_size=64)
    monkeypatch.setattr(
        type(spark.sparkContext), "defaultParallelism", property(lambda self: 4)
    )
    monkeypatch.setattr(ix, "_DRIVER_SCORE_MAX_POSTINGS", 0)
    h = ix.IndexHandle(spark, d).cache()
    try:
        placed = (
            h.shard_clustered()
            .select("shard", F.spark_partition_id().alias("p"))
            .distinct()
            .collect()
        )
        assert sorted(Counter(r.shard for r in placed).items()) == [
            (s, 1) for s in range(n_shards)
        ]
        loads = Counter(r.p for r in placed)
        assert set(loads) <= set(range(4))
        assert max(loads.values()) == -(-n_shards // 4)
        tf, stats = tokenize_terms(docs), doc_stats(docs)
        for rows in ([(1, "hash join")], _ROUTE_BATCH):
            queries = local_queries_df(spark, rows)
            if len(rows) > 1:
                total_df = sum(t[2] for t in ix._interactive_trip(h, queries))
                monkeypatch.setattr(ix, "_FAST_PARTIALS_MAX_POSTINGS", total_df // 3)
            want = _collect_topk(bm25.bm25_topk(tf, stats, queries, k=10))
            assert want
            for method in ("wand", "exhaustive"):
                got = _collect_topk(bm25_topk_indexed(spark, h, queries, k=10, method=method))
                assert got == want, (rows, method)
    finally:
        h.postings.unpersist()
        h.dictionary.unpersist()
        h.docmap.unpersist()


def test_all_oov_block_stats_schedule_no_job(spark, index_dir):
    """All-OOV diagnostics are an empty LocalRelation with the stats
    schema: collecting them schedules no Spark job."""
    from geometric_aware_retrieval_v2_spark.localrel import local_queries_df

    out = wand_block_stats(
        spark, index_dir, local_queries_df(spark, [(7, "zzz_oov qqq_oov")])
    )
    assert out.schema.simpleString() == (
        "struct<qid:bigint,shard:int,n_blocks:bigint,n_decoded:bigint>"
    )
    sc = spark.sparkContext
    sc.setJobGroup("oov_stats", "oov_stats")
    try:
        rows = out.collect()
        jobs = sc.statusTracker().getJobIdsForGroup("oov_stats") or []
    finally:
        sc.setJobGroup(None, None)
    assert rows == [] and jobs == []


def test_worker_modules_import_without_pandas():
    """The modules a Python worker imports to run the build and query
    UDFs (postings, ordinals, tokenizer) load without pandas: the package
    resolves its pandas-backed exports lazily."""
    import subprocess
    import sys

    code = (
        "import sys\n"
        "import geometric_aware_retrieval_v2_spark.operators.postings\n"
        "import geometric_aware_retrieval_v2_spark.operators.ordinals\n"
        "import geometric_aware_retrieval_v2_spark.functions.tokenizer\n"
        "assert 'pandas' not in sys.modules, 'pandas imported'\n"
        "from geometric_aware_retrieval_v2_spark import get_spark, quick_experiment\n"
        "assert callable(get_spark) and callable(quick_experiment)\n"
    )
    from tests.conftest import REPO

    subprocess.run([sys.executable, "-c", code], cwd=str(REPO), check=True)
