"""Round-4 lifecycle closures:

  * the index-backed flagship (persisted index -> WAND -> geodesic rerank)
    is bit-identical to the exhaustive pipeline — both are exact, so any
    divergence is a bug (VERDICT r3 Missing #1);
  * exact dedup verified on a POSITIVE case (the sf fixtures contain
    near-dups but no exact dups, so the driver gate passes vacuously);
  * a 'file://'-schemed (mock-remote) index_dir completes the FULL
    build -> search -> compact lifecycle through the pyarrow.fs routing
    (VERDICT r3 Missing #2);
  * the large-batch broadcast-semi-join term pushdown returns the same
    hits as the driver-side isin pushdown.
"""

from __future__ import annotations

import hashlib
import json

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE


# ------------------------------------------------ flagship rank-identity

def test_flagship_indexed_matches_exhaustive(spark):
    """bm25_geodesic_indexed (index -> WAND -> rerank) must reproduce the
    exhaustive bm25_geodesic bit-for-bit: WAND only changes which blocks
    are DECODED, never surviving top-k scores, and the geodesic stage sees
    identical candidate sets."""
    exh = entrymod.q_bm25_geodesic(spark, SF_SMOKE).collect()
    idx = entrymod.q_bm25_geodesic_indexed(spark, SF_SMOKE).collect()

    def key(rows):
        return sorted((r.qid, r.rank, r.doc_id, r.bm25, r.geo_dist) for r in rows)

    assert len(exh) > 0
    assert key(exh) == key(idx)


def test_flagship_rank_identity_at_search_k_1000(spark, tmp_path):
    """The reference's geodesic default is search_k=1000
    (/root/reference/geoIR/retrieval/index.py:171-177); the driver gates run
    at 100. Pin rank-identity of the indexed vs exhaustive flagship at the
    full default depth (VERDICT r4 #4) — the sf0.01 corpus caps candidate
    pools at 500 docs/query here; the m=1000 regime is timed at sf0.1 in
    BENCH/BASELINE.md."""
    from pyspark.sql import functions as F

    from geometric_aware_retrieval_v2_spark.operators.index import build_index
    from geometric_aware_retrieval_v2_spark.operators.pipelines import (
        bm25_geodesic,
        bm25_geodesic_indexed,
    )
    from geometric_aware_retrieval_v2_spark.queryset import queries_df
    from geometric_aware_retrieval_v2_spark.sources.tables import (
        docs_from_documents,
        load_table,
    )
    from tests.conftest import SF_CORRECTNESS

    docs = docs_from_documents(spark, SF_CORRECTNESS)
    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    q = queries_df(spark)
    idx = str(tmp_path / "sk1000_idx")
    build_index(spark, docs, idx, n_partitions=2, n_shards=8, block_size=128)

    exh = bm25_geodesic(spark, docs, emb, q, k=10, search_k=1000).collect()
    ind = bm25_geodesic_indexed(spark, idx, emb, q, k=10, search_k=1000).collect()

    def key(rows):
        return sorted((r.qid, r.rank, r.doc_id, r.bm25, r.geo_dist) for r in rows)

    assert len(exh) > 0
    assert key(exh) == key(ind)
    # candidate pools really exceed the gate depth (search_k=100 regime)
    from geometric_aware_retrieval_v2_spark.operators.index import bm25_topk_indexed

    pools = (
        bm25_topk_indexed(spark, idx, q, k=1000)
        .groupBy("qid").count().agg(F.max("count")).collect()[0][0]
    )
    assert pools > 100


# ------------------------------------------------ exact dedup, non-vacuous

def test_exact_dedup_positive(spark):
    from geometric_aware_retrieval_v2_spark.operators.dedup import exact_dedup

    docs = spark.createDataFrame(
        [
            (7, "alpha beta gamma"),
            (3, "alpha beta gamma"),   # exact duplicate, lower id -> rep
            (9, "alpha beta gamma"),   # triple
            (4, "delta epsilon"),
            (5, "delta  epsilon"),     # whitespace differs: NOT exact
        ],
        schema="doc_id long, content string",
    )
    rows = exact_dedup(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.content_sha256 == hashlib.sha256(b"alpha beta gamma").hexdigest()
    assert r.n_dups == 3
    assert r.rep_doc_id == 3


# --------------------------------- mock-remote full index lifecycle

def test_schemed_index_dir_full_lifecycle(spark, tmp_path, capsys):
    """build -> search -> compact -> search on a 'file://'-schemed index_dir:
    every driver-side filesystem touch (meta.json, byte accounting, manifest
    commits, the compaction swap) must route through the scheme-dispatched
    pyarrow.fs layer instead of assuming a POSIX path."""
    from geometric_aware_retrieval_v2_spark import cli
    from tests.test_sources_cli import SMALL_CORPUS

    inp = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        list(enumerate(SMALL_CORPUS)), schema="doc_id long, content string"
    ).write.parquet(inp)
    index = "file://" + str(tmp_path / "remote_idx")

    rc = cli.main(
        ["build-index", "--input", inp, "--index", index, "--partitions", "2",
         "--shards", "2", "--tokenizer", "ws"],
        spark=spark,
    )
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["n_docs"] == len(SMALL_CORPUS)

    def search():
        rc = cli.main(
            ["search", "--index", index, "--query", "man riding horse", "--k", "3"],
            spark=spark,
        )
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    hits = search()
    assert len(hits) == 3 and hits[0]["rank"] == 1

    rc = cli.main(["compact", "--index", index], spark=spark)
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["swapped"] is True
    # retired dirs are cleaned up; compacted postings live at the index path
    local = str(tmp_path / "remote_idx")
    import os

    assert os.path.isdir(f"{local}/postings")
    assert not os.path.isdir(f"{local}/postings_compacted")
    assert not any("retired" in d for d in os.listdir(local))
    assert search() == hits


# --------------------------------- large-batch semi-join term pushdown

def test_semi_join_pushdown_matches_isin(spark, tmp_path, monkeypatch):
    """Forcing the >_ISIN_PUSHDOWN_MAX_TERMS path (broadcast semi-join, no
    driver-side isin collect) must return identical hits."""
    from geometric_aware_retrieval_v2_spark.operators import index as ix
    from tests.test_sources_cli import SMALL_CORPUS

    docs = spark.createDataFrame(
        list(enumerate(SMALL_CORPUS)), schema="doc_id long, content string"
    )
    d = str(tmp_path / "idx")
    ix.build_index(spark, docs, d, n_partitions=2, n_shards=2, block_size=8)
    queries = spark.createDataFrame(
        [(0, "man riding horse"), (1, "woman playing violin"), (2, "zzz_oov")],
        schema="qid long, text string",
    )
    base = ix.bm25_topk_indexed(spark, d, queries, k=3).collect()
    monkeypatch.setattr(ix, "_ISIN_PUSHDOWN_MAX_TERMS", 1)
    semi = ix.bm25_topk_indexed(spark, d, queries, k=3).collect()

    def key(rows):
        return sorted((r.qid, r.rank, r.doc_id, r.score) for r in rows)

    assert len(base) > 0
    assert key(base) == key(semi)


# ------------------------------ coordinator-merge vs distributed tail

def test_driver_finish_matches_distributed_tail(spark, tmp_path, monkeypatch):
    """The interactive coordinator merge (collect partials, trim to the
    k-boundary tie class, pruned docmap lookup, Python rank) must be
    bit-identical to the distributed docmap-join + window tail it replaces
    — same values, same dtypes, including a query with an OOV term and an
    all-OOV query."""
    from geometric_aware_retrieval_v2_spark.operators import index as ix
    from tests.test_sources_cli import SMALL_CORPUS

    docs = spark.createDataFrame(
        list(enumerate(SMALL_CORPUS)), schema="doc_id long, content string"
    )
    d = str(tmp_path / "idx")
    ix.build_index(spark, docs, d, n_partitions=2, n_shards=2, block_size=8)
    queries = spark.createDataFrame(
        [(0, "man riding horse"), (1, "woman zzz_oov violin"), (2, "zzz_oov")],
        schema="qid long, text string",
    )
    handle = ix.IndexHandle(spark, d)
    fast = ix.bm25_topk_indexed(spark, handle, queries, k=3)
    assert fast.schema.simpleString() == (
        "struct<qid:bigint,doc_id:bigint,score:double,rank:bigint>"
    )
    fast_rows = fast.collect()
    monkeypatch.setattr(ix, "_DRIVER_FINISH_MAX_QIDS", 0)
    slow_rows = ix.bm25_topk_indexed(spark, handle, queries, k=3).collect()

    def key(rows):
        return sorted((r.qid, r.rank, r.doc_id, r.score) for r in rows)

    assert len(fast_rows) > 0
    assert key(fast_rows) == key(slow_rows)
    assert all(r.qid != 2 for r in fast_rows)  # all-OOV query scores nothing
    # warm second run (hot df/docmap caches) stays identical
    assert key(ix.bm25_topk_indexed(spark, handle, queries, k=3).collect()) \
        == key(fast_rows)
    # explicit finish= overrides pick the same bits as the auto threshold
    monkeypatch.undo()
    assert key(
        ix.bm25_topk_indexed(
            spark, handle, queries, k=3, finish="distributed"
        ).collect()
    ) == key(fast_rows)
    for bad in ("driver", "bogus"):
        with pytest.raises(ValueError, match="finish"):
            ix.bm25_topk_indexed(spark, handle, queries, k=3, finish=bad)


def test_all_oov_result_is_empty_localrelation(spark, tmp_path):
    """The all-OOV result must be an empty LocalRelation: right schema,
    zero rows, and — the interactive fast path this pins — a warm all-OOV
    query over a local_queries_df frame schedules ZERO Spark jobs: the
    term probe runs in pure Python on the driver (py_terms + xxh64_str),
    the dictionary df rides the handle cache, and the empty result is a
    LocalRelation (createDataFrame([], schema) would parallelize an empty
    RDD and burn a whole job of empty tasks on it)."""
    from geometric_aware_retrieval_v2_spark.localrel import local_queries_df
    from geometric_aware_retrieval_v2_spark.operators import index as ix
    from tests.test_sources_cli import SMALL_CORPUS

    docs = spark.createDataFrame(
        list(enumerate(SMALL_CORPUS)), schema="doc_id long, content string"
    )
    d = str(tmp_path / "idx")
    ix.build_index(spark, docs, d, n_partitions=2, n_shards=2, block_size=8)
    handle = ix.IndexHandle(spark, d)
    q = local_queries_df(spark, [(7, "zzz_oov qqq_oov")])
    # cold run caches the OOV terms (dictionary miss fetch)
    out = ix.bm25_topk_indexed(spark, handle, q, k=5)
    assert out.schema.simpleString() == (
        "struct<qid:bigint,doc_id:bigint,score:double,rank:bigint>"
    )
    assert out.collect() == []
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def warm_jobs(frame):
        sc.setJobGroup("oov_probe", "oov_probe")
        try:
            before = set(tracker.getJobIdsForGroup("oov_probe") or [])
            assert ix.bm25_topk_indexed(spark, handle, frame, k=5).collect() == []
            return len(set(tracker.getJobIdsForGroup("oov_probe") or []) - before)
        finally:
            sc.setJobGroup(None, None)

    # round-6 session-2: the probe runs in pure Python on the driver
    # (py_terms + xxh64_str twins), so a warm all-OOV local-frame query
    # schedules ZERO jobs — the previous pin was 1 (the VALUES term probe)
    assert warm_jobs(q) == 0
    # an untagged createDataFrame frame pays the bounded take() fetch
    # (executeTake's partition cascade over the parallelize slices) but
    # nothing else — still a handful of tiny jobs, never a scoring job
    q2 = spark.createDataFrame([(8, "zzz_oov qqq_oov")], "qid long, text string")
    assert 1 <= warm_jobs(q2) <= 4


# ------------------------------ flagship driver-side finish (round 6 s3)

def test_flagship_local_finish_matches_distributed(spark, tmp_path):
    """The interactive flagship's driver-side geodesic finish
    (pipelines._geodesic_local_finish) must be bit-identical to the
    distributed tail it replaces — same candidate vectors (collect widens
    float32 exactly), same embed_text qvec, the same _geodesic_kernel, the
    same JVM round(_, 6) (via the folded VALUES projection), the same
    (dist, doc_id) total order. Also pins the empty-batch (all-OOV) shape
    and the fallback seam (local_finish=False forces the distributed
    plan)."""
    from geometric_aware_retrieval_v2_spark.localrel import local_queries_df
    from geometric_aware_retrieval_v2_spark.operators import index as ix
    from geometric_aware_retrieval_v2_spark.operators.pipelines import (
        bm25_geodesic_indexed,
    )
    from geometric_aware_retrieval_v2_spark.queryset import queries_df
    from geometric_aware_retrieval_v2_spark.sources.tables import (
        docs_from_documents,
        load_table,
    )

    docs = docs_from_documents(spark, SF_SMOKE)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    d = str(tmp_path / "lf_idx")
    ix.build_index(spark, docs, d, n_partitions=2, n_shards=4, block_size=64)
    handle = ix.IndexHandle(spark, d).cache()
    q = queries_df(spark)

    loc = bm25_geodesic_indexed(spark, handle, emb, q, k=10, search_k=50)
    dist = bm25_geodesic_indexed(
        spark, handle, emb, q, k=10, search_k=50, local_finish=False
    )
    # the fast path really was taken: a LocalRelation result has no exchanges
    assert "Exchange" not in loc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in dist._jdf.queryExecution().executedPlan().toString()
    assert loc.schema.simpleString() == dist.schema.simpleString()

    def key(rows):
        return sorted((r.qid, r.rank, r.doc_id, r.bm25, r.geo_dist) for r in rows)

    rl, rd = loc.collect(), dist.collect()
    assert len(rl) > 0
    assert key(rl) == key(rd)

    # all-OOV batch: empty LocalRelation with the flagship schema
    oov = bm25_geodesic_indexed(
        spark, handle, emb,
        local_queries_df(spark, [(1, "zzz_oov_term qqq_oov")]),
        k=10, search_k=50,
    )
    assert oov.schema.simpleString() == (
        "struct<qid:bigint,doc_id:bigint,bm25:double,geo_dist:double,rank:bigint>"
    )
    assert oov.collect() == []


# --------------------------------- CLI search --rerank geodesic (E1 surface)

def test_cli_search_rerank_geodesic(spark, tmp_path, capsys):
    """End-to-end smoke of the user-facing reranked search (reference E1,
    /root/reference/geoIR/cli.py:39-61): build an index, point --embeddings
    at a parquet, and assert the (doc_id, bm25, geo_dist, rank) output shape
    plus the missing---embeddings SystemExit (VERDICT r4 Missing #1)."""
    from geometric_aware_retrieval_v2_spark import cli
    from geometric_aware_retrieval_v2_spark.functions.hashing import embed_text
    from tests.test_sources_cli import SMALL_CORPUS

    inp = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        list(enumerate(SMALL_CORPUS)), schema="doc_id long, content string"
    ).write.parquet(inp)
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(i, embed_text(t).tolist()) for i, t in enumerate(SMALL_CORPUS)],
        schema="vec_id long, embedding array<double>",
    ).write.parquet(emb_path)
    index = str(tmp_path / "geo_idx")
    assert cli.main(
        ["build-index", "--input", inp, "--index", index,
         "--partitions", "2", "--shards", "2", "--tokenizer", "ws"],
        spark=spark,
    ) == 0
    capsys.readouterr()

    rc = cli.main(
        ["search", "--index", index, "--query", "man riding horse", "--k", "3",
         "--rerank", "geodesic", "--embeddings", emb_path, "--search-k", "6"],
        spark=spark,
    )
    assert rc == 0
    hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hits and sorted(hits[0]) == ["bm25", "doc_id", "geo_dist", "rank"]
    assert [h["rank"] for h in hits] == list(range(1, len(hits) + 1))
    # the rank-1 hit must be one of the two horse-riding docs
    assert hits[0]["doc_id"] in (3, 5)
    assert all(isinstance(h["bm25"], float) and isinstance(h["geo_dist"], float)
               for h in hits)

    with pytest.raises(SystemExit):
        cli.main(
            ["search", "--index", index, "--query", "man riding horse",
             "--rerank", "geodesic"],
            spark=spark,
        )


# --------------------------------- compact swap journal + object-store guard

def test_swap_journal_crash_recovery(spark, tmp_path):
    """A crash between fs_swap_dir's two renames (live moved to retired_*,
    staged not yet moved in) must self-heal on the next IndexMeta.load via
    the swap journal — no manual retired_* rename (ADVICE r4 manifest.py)."""
    import os
    import shutil

    from geometric_aware_retrieval_v2_spark.operators import index as ix
    from geometric_aware_retrieval_v2_spark.plans import manifest as mf
    from tests.test_sources_cli import SMALL_CORPUS

    docs = spark.createDataFrame(
        list(enumerate(SMALL_CORPUS)), schema="doc_id long, content string"
    )
    d = str(tmp_path / "jidx")
    ix.build_index(spark, docs, d, n_partitions=2, n_shards=2, block_size=8)
    # atomic meta write leaves no staging residue
    assert not os.path.exists(f"{d}/meta.json.tmp")
    q = spark.createDataFrame([(0, "man riding horse")], schema="qid long, text string")
    before = sorted(
        (r.qid, r.rank, r.doc_id, r.score)
        for r in ix.bm25_topk_indexed(spark, d, q, k=3).collect()
    )

    # simulate the mid-swap crash state: journal written, postings retired,
    # staged dir still present under its compacted name
    tag = "deadbeef"

    def _backdate_journal(age_sec: float = 3600.0) -> None:
        # a crashed swap's journal is stale by the time anyone recovers;
        # recover_swap's grace window exists to protect IN-FLIGHT compacts
        import json as _json
        import time as _time

        jp = f"{d}/swap_journal.json"
        j = _json.loads(open(jp).read())
        j["ts"] = _time.time() - age_sec
        mf.fs_write_bytes_atomic(jp, _json.dumps(j).encode())

    mf.write_swap_journal(d, tag, [f"{d}/postings", f"{d}/dictionary"])
    shutil.copytree(f"{d}/postings", f"{d}/postings_compacted")
    shutil.move(f"{d}/postings", f"{d}/postings_retired_{tag}")
    assert not os.path.isdir(f"{d}/postings")

    # a FRESH journal (compact possibly in flight) must not be touched
    ix.IndexMeta.load(d)
    assert not os.path.isdir(f"{d}/postings")
    assert os.path.exists(f"{d}/swap_journal.json")

    # a journal future-dated within the grace window (reader clock trailing
    # the compact writer's by seconds) is ALSO in-flight-protected: running
    # recovery here would yank directories out from under the live compact
    # (round-5 ADVICE) — only beyond the bounded skew window is it stale
    _backdate_journal(-60.0)
    ix.IndexMeta.load(d)
    assert not os.path.isdir(f"{d}/postings")
    assert os.path.exists(f"{d}/swap_journal.json")

    _backdate_journal()
    ix.IndexMeta.load(d)  # stale journal -> recover_swap repairs
    assert os.path.isdir(f"{d}/postings")
    assert not os.path.isdir(f"{d}/postings_retired_{tag}")
    assert not os.path.exists(f"{d}/swap_journal.json")
    after = sorted(
        (r.qid, r.rank, r.doc_id, r.score)
        for r in ix.bm25_topk_indexed(spark, d, q, k=3).collect()
    )
    assert after == before

    # completed-swap-but-uncleaned state: live present, retired lingering
    mf.write_swap_journal(d, tag, [f"{d}/dictionary"])
    shutil.copytree(f"{d}/dictionary", f"{d}/dictionary_retired_{tag}")
    _backdate_journal()
    ix.IndexMeta.load(d)
    assert not os.path.isdir(f"{d}/dictionary_retired_{tag}")
    assert not os.path.exists(f"{d}/swap_journal.json")


def test_compact_fallback_without_dir_rename(spark, tmp_path, capsys, monkeypatch):
    """On a rename-less object store compact must not touch the live dirs:
    feature-detect first, leave the output staged, report swapped=false
    (ADVICE r4 cli.py)."""
    import os

    from geometric_aware_retrieval_v2_spark import cli
    from geometric_aware_retrieval_v2_spark.plans import manifest as mf
    from tests.test_sources_cli import SMALL_CORPUS

    inp = str(tmp_path / "c.parquet")
    spark.createDataFrame(
        list(enumerate(SMALL_CORPUS)), schema="doc_id long, content string"
    ).write.parquet(inp)
    index = str(tmp_path / "os_idx")
    cli.main(
        ["build-index", "--input", inp, "--index", index,
         "--partitions", "2", "--shards", "2", "--tokenizer", "ws"],
        spark=spark,
    )
    capsys.readouterr()
    monkeypatch.setattr(mf, "fs_supports_dir_move", lambda p: False)
    rc = cli.main(["compact", "--index", index], spark=spark)
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["swapped"] is False
    assert out["output"].endswith("postings_compacted")
    assert os.path.isdir(f"{index}/postings")           # live untouched
    assert os.path.isdir(f"{index}/postings_compacted")  # staged output kept
    assert not os.path.exists(f"{index}/swap_journal.json")
    rc = cli.main(
        ["search", "--index", index, "--query", "man riding horse", "--k", "3"],
        spark=spark,
    )
    assert rc == 0
    hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hits and hits[0]["rank"] == 1


def test_code2_index_query_tokenizer_parity(spark, tmp_path):
    """On a code2 index, query text like 'parseHTTPServer' must be tokenized
    with the index's own mode (lowercased subtokens) — a raw whitespace
    split would match nothing (ADVICE r3: bm25.py:51)."""
    from geometric_aware_retrieval_v2_spark.operators import index as ix

    docs = spark.createDataFrame(
        [
            (0, "def parseHTTPServer(conn): return http_response"),
            (1, "class DataFrameWriter: pass"),
            (2, "unrelated words entirely"),
        ],
        schema="doc_id long, content string",
    )
    d = str(tmp_path / "idx2")
    ix.build_index(
        spark, docs, d, n_partitions=2, n_shards=2, block_size=8,
        tokenizer_mode="code2",
    )
    q = spark.createDataFrame(
        [(0, "parseHTTPServer")], schema="qid long, text string"
    )
    hits = ix.bm25_topk_indexed(spark, d, q, k=3).collect()
    assert [r.doc_id for r in hits if r.rank == 1] == [0]
