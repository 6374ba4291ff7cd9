"""Inverted-index lifecycle: resumable segmented build -> distributed merge ->
block-max WAND / exhaustive BM25 query over the compressed index.

Layout (parquet-as-Iceberg, see plans/manifest.py):
    index_dir/
      meta.json        n_docs, avgdl, n_shards, block_size, tokenizer_mode
      docstats/part=I/ (doc_id, doc_len, content_sha256) per build partition
      segments/part=I/ posting block rows per build partition
      postings/        merged consolidated block rows
      dictionary/      (term_id, df) — derived from block metadata only
      manifest/        per-partition lineage + metrics

Build is checkpoint-resumable: build partitions are ``pmod(xxhash64(doc_id),
P)`` (content-addressed, so a resume after kill processes exactly the missing
partitions and produces byte-identical segments — verified by tests). Each
partition's job is an independent Spark action, which is how a spark-submit
driver on a 1000-executor cluster would chunk a 10^12-file build; partition
granularity P scales with input size while each job stays shuffle-light.

Query topology: postings are document-sharded (see operators/postings.py), so
scoring is a per-(qid, shard) partial top-k followed by a per-qid merge —
partials are exact because a document's every query term lives in its one
shard. One kernel (_partials_kernel) decodes every block row of its input
once and scores every (qid, shard) group of it in batched NumPy, keeping
each group's whole k-boundary tie class, and three routes feed it:
  * driver (<= _DRIVER_FINISH_MAX_QIDS qids and sum(df) within
    _DRIVER_SCORE_MAX_POSTINGS): a term-pruned JVM-only scan of the cached
    shard view comes to the driver as Arrow and the kernel runs there, with
    no Python-UDF job;
  * Spark interactive (the same qid cap, over the postings budget): the
    kernel as a mapInArrow over the term-pruned scan of the
    shard-clustered postings, qid/idf expanded from the task closure, no
    exchange;
  * exchange (larger batches, offline logs, finish="distributed"): block
    rows joined to their (qid, idf) and hash-partitioned on (qid, shard);
    the partials are resolved by a docmap join and ranked by a window.
The first two share the coordinator merge: the partials, one Arrow table,
are ranked in NumPy on the driver and resolved through the handle's
ord -> doc_id array.

Block-max WAND (Ding & Suel, SIGIR 2011), adapted to a vectorized two-pass
form that is *provably exact* (see _score_blocks): phase 1 scores the few
highest-upper-bound blocks to establish a score floor theta (a lower bound on
the true k-th best score); phase 2 skips every block whose own upper bound
plus the overlapping upper bounds of the other query terms cannot reach
theta. Any document whose true score >= theta has all of its blocks survive,
hence is scored exactly; all others cannot be in the top-k.
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from geometric_aware_retrieval_v2_spark import localrel
from geometric_aware_retrieval_v2_spark.functions.tokenizer import (
    _terms_col,
    py_terms,
    tokenize_terms_arrow,
)
from geometric_aware_retrieval_v2_spark.functions.xxh64 import xxh64_str
from geometric_aware_retrieval_v2_spark.operators.bm25 import (
    B_DEFAULT,
    K1_DEFAULT,
    SCORE_DECIMALS,
    query_terms,
)
from geometric_aware_retrieval_v2_spark.operators.ordinals import assign_ordinals
from geometric_aware_retrieval_v2_spark.operators.postings import (
    _ranges_to_indices,
    decode_blocks,
    merge_segments,
    pack_postings,
    pack_width,
)
from geometric_aware_retrieval_v2_spark.operators.topk import grouped_topk
from geometric_aware_retrieval_v2_spark.plans import manifest as mf


@dataclass
class IndexMeta:
    n_docs: int
    avgdl: float
    n_shards: int
    block_size: int
    tokenizer_mode: str

    def save(self, index_dir: str) -> None:
        # pyarrow.fs routing (scheme dispatch like the manifest layer):
        # meta.json works on local, file://, and remote filesystems alike;
        # staged-tmp + rename so a crash mid-write cannot leave a torn
        # meta.json that breaks every subsequent load/search/compact
        mf.fs_write_bytes_atomic(
            index_dir.rstrip("/") + "/meta.json",
            json.dumps(self.__dict__).encode(),
        )

    @staticmethod
    def load(index_dir: str) -> "IndexMeta":
        # every query/compact path loads meta first, so this is the natural
        # point to replay a crashed compact swap (see manifest.recover_swap)
        mf.recover_swap(index_dir)
        return IndexMeta(
            **json.loads(mf.fs_read_bytes(index_dir.rstrip("/") + "/meta.json"))
        )


def _check_vocab(n_terms: int, n_term_ids: int) -> None:
    """Build-time integrity gate on the 8-byte term_id keying: an xxhash64
    collision silently merges two terms' posting lists and inflates df/BM25
    for both, so the merge stage fails the build instead. (Widening to a
    two-hash-column key is the design escape hatch if a real corpus ever
    trips this — odds ~v^2/2^65; see operators/postings.py.)"""
    if n_terms != n_term_ids:
        raise RuntimeError(
            f"term_id hash collision detected: {n_terms} distinct terms map to "
            f"{n_term_ids} distinct term_ids. Rebuild with a widened term key."
        )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    n_partitions: int = 8,
    n_shards: int = 8,
    block_size: int = 128,
    tokenizer_mode: str = "ws",
    run_id: str = "run-0",
    verify_vocab: bool = True,
    docmap_broadcast_max_rows: int = 8_000_000,
) -> IndexMeta:
    """Resumable build. ``docs`` must have (doc_id, content).

    Stages (each manifest-committed, resume skips completed ones):
      params       build parameters pinned (resume with different parameters
                   RAISES: completed docstats/ingest/segments artifacts are
                   keyed by pmod(xxhash64(doc_id), n_partitions), so resuming
                   under a different partitioning would silently drop or
                   duplicate documents)
      docstats[p]  per-partition doc_len + content_sha256
      docmap       dense ordinal assignment over all docstats (ordinals.py)
      segments[p]  tokenized triples joined to ordinals, packed into blocks
      merge        consolidated postings + dictionary + meta (+ vocab
                   integrity gate, see _check_vocab)
    """
    from geometric_aware_retrieval_v2_spark.config import IndexConfig

    IndexConfig(  # the reference's validation contract gates the entry point
        n_partitions=n_partitions,
        n_shards=n_shards,
        block_size=block_size,
        tokenizer_mode=tokenizer_mode,
    )
    mf.fs_mkdirs(index_dir)

    params_fp = json.dumps(
        {
            "n_partitions": n_partitions,
            "n_shards": n_shards,
            "block_size": block_size,
            "tokenizer_mode": tokenizer_mode,
        },
        sort_keys=True,
    )
    committed_params = mf.completed_partitions(spark, index_dir, "params")
    if -1 in committed_params:
        fps = mf.stage_fingerprints(spark, index_dir, "params")
        if len(fps) > 1:
            raise RuntimeError(
                f"index_dir {index_dir} manifest holds {len(fps)} conflicting "
                f"'params' rows {sorted(fps)} — a prior resume ran against a "
                "manifest it could not read. The partition-keyed artifacts "
                "cannot be trusted; delete the index_dir and rebuild."
            )
        if committed_params[-1] != params_fp:
            raise ValueError(
                f"index_dir {index_dir} holds a build started with parameters "
                f"{committed_params[-1]}; resuming with {params_fp} would corrupt "
                "the partition-keyed artifacts. Delete the index_dir or match "
                "the original parameters."
            )
    else:
        mf.append_manifest(
            spark, index_dir,
            [mf.manifest_row(run_id, "params", -1, params_fp, 0, 0, 0, index_dir)],
        )
    docs = docs.select("doc_id", "content").withColumn(
        "bp", F.pmod(F.xxhash64("doc_id"), F.lit(n_partitions)).cast("int")
    )

    # bp is a COMPUTED column, so each per-partition job's filter(bp == p)
    # re-scans the whole source — O(P x corpus) scans. Above a small P,
    # materialize the input once partitionBy(bp) (a resumable, manifest-
    # committed ingest stage): every job then reads only its directory
    # (partition pruning), turning 2P full scans into 1 write + 2P pruned
    # reads. Below the threshold the duplicate scan is cheaper than the
    # extra write.
    if n_partitions > 8:
        inp = f"{index_dir}/input"
        if -1 not in mf.completed_partitions(spark, index_dir, "ingest"):
            t0 = time.monotonic()
            docs.write.partitionBy("bp").mode("overwrite").parquet(inp)
            mf.append_manifest(
                spark, index_dir,
                [mf.manifest_row(run_id, "ingest", -1, "source", 0, 0,
                                 int((time.monotonic() - t0) * 1000), inp)],
            )
        docs = spark.read.parquet(inp)

    # per-partition jobs are submitted CONCURRENTLY (Spark schedules many
    # jobs in one session); each still commits its own manifest row, so
    # resume granularity is unchanged while driver-side job latencies overlap
    manifest_lock = threading.Lock()

    def _commit(stage: str, p: int, fp: str, rows: int, wall_ms: int, out: str) -> None:
        with manifest_lock:
            mf.append_manifest(
                spark, index_dir,
                [mf.manifest_row(run_id, stage, p, fp, rows, 0, wall_ms, out)],
            )

    def _docstats_job(p: int) -> None:
        t0 = time.monotonic()
        part = docs.filter(F.col("bp") == p).drop("bp")
        # tokenize ONCE (narrow Arrow pass), store the tf projection; doc_len
        # falls out of it — content is never re-scanned by a regex again.
        # (A fused kernel emitting tf rows + per-doc (doc_len, sha256) rows
        # from one pass was A/B-tested this round and LOST in the warm state
        # the bench runs in: the extra Python work — hashlib, concat, the
        # dynamic-partition sort — costs ~2 s/partition more than the two
        # warm JVM scans it saves. Guide §1.1: empirical loop beat the
        # first-principles "one pass" plan; see OPTIMIZATION_r06.md.)
        tf_path = f"{index_dir}/tf/part={p}"
        # term_id is precomputed here (cheap JVM projection riding the same
        # write job): the segments stage then scans the dict-encodable int64
        # column and skips both the term-string column read and the hash —
        # only the vocab-gate's distinct still touches the strings
        tokenize_terms_arrow(part, mode=tokenizer_mode).withColumn(
            "term_id", F.xxhash64("term")
        ).write.mode("overwrite").parquet(tf_path)
        tf_stored = spark.read.parquet(tf_path)
        dl = tf_stored.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
        out = f"{index_dir}/docstats/part={p}"
        # the input fingerprint rides the write job as an Observation —
        # no separate post-write aggregation job per partition
        obs = Observation(f"docstats-fp-{p}")
        (
            part.select("doc_id", F.sha2("content", 256).alias("content_sha256"))
            .join(dl, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("doc_len", F.lit(0)).alias("doc_len"),
                "content_sha256",
            )
            .observe(
                obs,
                # decimal(38,0) accumulation: overflow-free under ANSI mode
                F.sum(F.xxhash64("doc_id", "content_sha256").cast("decimal(38,0)")).alias("fp"),
                F.count(F.lit(1)).alias("rows"),
            )
            .write.mode("overwrite")
            .parquet(out)
        )
        got = obs.get
        _commit("docstats", p, str(got["fp"]), int(got["rows"]),
                int((time.monotonic() - t0) * 1000), out)

    done = mf.completed_partitions(spark, index_dir, "docstats")
    todo = [p for p in range(n_partitions) if p not in done]
    if todo:
        with ThreadPoolExecutor(max_workers=min(4, len(todo))) as ex:
            list(ex.map(_docstats_job, todo))

    if -1 not in mf.completed_partitions(spark, index_dir, "docmap"):
        t0 = time.monotonic()
        dstats = spark.read.parquet(f"{index_dir}/docstats")
        # docmap carries dl so segment jobs join ONE small table, not two;
        # the exact doc count is free from the docstats manifest commits, so
        # the ordinal sampler skips its counting job
        docmap = assign_ordinals(
            dstats, n_ranges=max(n_partitions, 8),
            n_rows=mf.stage_rows_total(spark, index_dir, "docstats"),
        ).join(
            dstats.select("doc_id", F.col("doc_len").alias("dl")), "doc_id"
        )
        docmap.write.mode("overwrite").parquet(f"{index_dir}/docmap")
        mf.append_manifest(
            spark,
            index_dir,
            [
                mf.manifest_row(
                    run_id, "docmap", -1, "all-docstats", 0, 0,
                    int((time.monotonic() - t0) * 1000), f"{index_dir}/docmap",
                )
            ],
        )

    # cached once: every segment job broadcasts this table, and without the
    # cache each job re-scans the docmap parquet to build its broadcast
    dl_by_ord = (
        spark.read.parquet(f"{index_dir}/docmap").select("doc_id", "ord", "dl").cache()
    )
    # join-strategy switch: the docmap is corpus-proportional, so a hardwired
    # F.broadcast would collect 10^12 rows to the driver at the target scale
    # (the same defect class pack_width fixed for the pack shuffle). The doc
    # count is free from the docstats manifest commits — no counting job.
    # Below the cap (~8M rows ≈ a few hundred MB relation) the broadcast
    # skips shuffling the much larger tf fan-out; above it the join runs as
    # a plain shuffle join (AQE picks the physical strategy).
    n_docs_total = mf.stage_rows_total(spark, index_dir, "docstats")
    broadcast_docmap = n_docs_total <= docmap_broadcast_max_rows

    def _segments_job(p: int) -> None:
        t0 = time.monotonic()
        # scan only (doc_id, term_id, tf): term_id was precomputed at tf
        # write time, so the term STRING column is never read here. A tf
        # partition committed by a PRE-upgrade build (resume) lacks the
        # column — hash inline for exactly those (same xxhash64, same bits)
        tf = spark.read.parquet(f"{index_dir}/tf/part={p}")
        if "term_id" not in tf.columns:
            tf = tf.withColumn("term_id", F.xxhash64("term"))
        tf = tf.select("doc_id", "term_id", "tf")
        # postings are keyed by dense ordinal from here on; shard is a pure
        # function of the ordinal so partial top-k per shard stays exact.
        # docmap join strategy chosen above from the committed doc count:
        # broadcast below docmap_broadcast_max_rows, shuffle join past it
        tf_ord = (
            tf.join(F.broadcast(dl_by_ord) if broadcast_docmap else dl_by_ord,
                    "doc_id")
            .select(
                F.col("ord").alias("doc_id"),
                # postings stay keyed by the 8-byte term hash; the string
                # never enters the pack shuffle/sort/parquet (pack_postings)
                "term_id",
                # tf and dl always fit int32 (dl = per-doc token count);
                # narrowing them halves their share of the pack shuffle
                # (guide §2.3 "narrower types") — the pack kernel upcasts
                # to uint64 on arrival, so block bytes are bit-identical
                # (pinned by test_pack_narrowed_types_identical)
                F.col("tf").cast("int").alias("tf"),
                F.col("dl").cast("int").alias("dl"),
                F.pmod(F.col("ord"), F.lit(n_shards)).cast("int").alias("shard"),
            )
        )
        # pack shuffle width sized from the DATA: sum(doc_len) over this
        # partition's docstats (a tiny columnar agg on an already-written
        # table) is a free upper bound on posting rows — bounds the pack
        # kernel's per-task pandas buffer at any corpus size, where the
        # session-default width would buffer corpus/width rows per task
        dl_sum = (
            spark.read.parquet(f"{index_dir}/docstats/part={p}")
            .agg(F.sum("doc_len"))
            .collect()[0][0]
            or 0
        )
        width = pack_width(int(dl_sum), spark.sparkContext.defaultParallelism)
        seg = pack_postings(tf_ord, n_shards=n_shards, block_size=block_size, n_tasks=width)
        seg_path = f"{index_dir}/segments/part={p}"
        seg.write.mode("overwrite").parquet(seg_path)
        n_bytes = mf.fs_dir_bytes(seg_path)
        with manifest_lock:
            mf.append_manifest(
                spark,
                index_dir,
                [
                    mf.manifest_row(
                        run_id, "segments", p, "tokenize+pack", 0,
                        int(n_bytes), int((time.monotonic() - t0) * 1000), seg_path,
                    )
                ],
            )

    done = mf.completed_partitions(spark, index_dir, "segments")
    todo = [p for p in range(n_partitions) if p not in done]
    if todo:
        with ThreadPoolExecutor(max_workers=min(4, len(todo))) as ex:
            list(ex.map(_segments_job, todo))
    dl_by_ord.unpersist()

    if -1 not in mf.completed_partitions(spark, index_dir, "merge"):
        t0 = time.monotonic()
        segments = spark.read.parquet(f"{index_dir}/segments")
        # logical merge (cross-segment blocks are doc-disjoint, see
        # merge_segments) until fragmentation matters; physical compaction
        # kicks in automatically at high partition counts
        merged = merge_segments(
            segments,
            n_shards=n_shards,
            block_size=block_size,
            compact=n_partitions > 32,
        )

        # the four merge products are mutually independent, so their jobs run
        # CONCURRENTLY (Amdahl residue: serializing them costs fixed driver/
        # scheduling seconds that do not shrink with cluster size). The
        # dictionary derives from the SEGMENTS metadata — the merge is a 1:1
        # repartition of the same block rows (compact=True repack also
        # preserves per-term posting counts), so sum(n) per term_id is
        # identical to deriving it from the written postings.
        def _write_postings() -> None:
            merged.write.mode("overwrite").parquet(f"{index_dir}/postings")

        def _write_dictionary() -> None:
            segments.groupBy("term_id").agg(F.sum("n").alias("df")).write.mode(
                "overwrite"
            ).parquet(f"{index_dir}/dictionary")

        def _vocab_n_terms() -> int:
            # the tf projection still carries the term STRINGS (postings
            # dropped them at segment time), so the collision gate is one
            # distinct-count over tf vs the dictionary's term_id count
            return (
                spark.read.parquet(f"{index_dir}/tf").select("term").distinct().count()
            )

        def _corpus_stats():
            return (
                spark.read.parquet(f"{index_dir}/docstats")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.avg(F.col("doc_len").cast("double")).alias("a"),
                )
                .collect()[0]
            )

        with ThreadPoolExecutor(max_workers=4) as ex:
            f_post = ex.submit(_write_postings)
            f_dict = ex.submit(_write_dictionary)
            f_vocab = ex.submit(_vocab_n_terms) if verify_vocab else None
            f_stats = ex.submit(_corpus_stats)
            f_post.result()
            f_dict.result()
            stats = f_stats.result()
            if f_vocab is not None:
                _check_vocab(
                    f_vocab.result(), spark.read.parquet(f"{index_dir}/dictionary").count()
                )
        IndexMeta(int(stats.n), float(stats.a), n_shards, block_size, tokenizer_mode).save(index_dir)
        mf.append_manifest(
            spark,
            index_dir,
            [
                mf.manifest_row(
                    run_id, "merge", -1, "all-segments", 0, 0,
                    int((time.monotonic() - t0) * 1000), f"{index_dir}/postings",
                )
            ],
        )
    return IndexMeta.load(index_dir)


# ----------------------------------------------------------------- query path


def _wand_survival(
    terms: np.ndarray,
    first: np.ndarray,
    last: np.ndarray,
    ub: np.ndarray,
    theta: float,
) -> np.ndarray:
    """Vectorized WAND phase-2 survival test: keep[i] iff an upper bound on
    any doc in block i's achievable score reaches theta.

    bound[i] = ub[i] + sum over OTHER query terms t of (an upper bound on)
    max{ub[j] : j is a block of t whose doc interval overlaps block i's}.

    Per term t, blocks sorted by first_doc: every truly-overlapping j lies in
    [lo, hi) where hi = |{first_j <= last_i}| (sorted prefix) and lo = first
    index with cummax(last)[j] >= first_i. Within one segment a term's block
    intervals are disjoint and sorted, so cummax(last) == last and [lo, hi)
    is EXACTLY the overlap set; across logically-merged segments ranges may
    interleave and [lo, hi) is a superset — max over a superset is still a
    valid upper bound, so exactness is preserved (pruning loosens only where
    a long early block spans past later ones). Range-max over [lo, hi) uses
    a per-term sparse table: O(nb log nb) NumPy total, no per-block Python
    (replaces the O(nb x terms x blocks_per_term) loop flagged at 100x
    scale in round 2).
    """
    nb = len(ub)
    bound = ub.astype(np.float64, copy=True)
    order = np.lexsort((first, terms))
    ts = terms[order]
    tstart = np.nonzero(np.r_[True, ts[1:] != ts[:-1]])[0]
    tend = np.r_[tstart[1:], nb]
    for s, e in zip(tstart, tend):  # one iteration per QUERY TERM (tiny)
        idx = order[s:e]
        f_t = first[idx]
        u_t = ub[idx]
        cml = np.maximum.accumulate(last[idx])
        nt = e - s
        # sparse table: tabs[k][j] = max(u_t[j : j + 2^k])
        tabs = [u_t]
        k = 0
        while (1 << (k + 1)) <= nt:
            half = 1 << k
            tabs.append(np.maximum(tabs[k][:-half], tabs[k][half:]))
            k += 1
        q = np.nonzero(terms != ts[s])[0]
        if len(q) == 0:
            continue
        hi = np.searchsorted(f_t, last[q], side="right")
        lo = np.searchsorted(cml, first[q], side="left")
        valid = hi > lo
        if not valid.any():
            continue
        lov, hiv = lo[valid], hi[valid]
        lev = np.log2((hiv - lov).astype(np.float64)).astype(np.int64)
        contrib = np.empty(len(lov))
        for lv in np.unique(lev):  # <= log2(nt) gather passes
            m = lev == lv
            half = 1 << int(lv)
            contrib[m] = np.maximum(tabs[lv][lov[m]], tabs[lv][hiv[m] - half])
        upd = np.zeros(len(q))
        upd[valid] = contrib
        bound[q] += upd
    return bound >= theta


def _score_blocks(
    idf: np.ndarray,
    mtf: np.ndarray,
    mdl: np.ndarray,
    first: np.ndarray,
    last: np.ndarray,
    terms: np.ndarray,
    ns: np.ndarray,
    starts: np.ndarray,
    docs: np.ndarray,
    w: np.ndarray,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    use_wand: bool,
) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Score one (qid, shard) group of block rows given as plain NumPy
    columns. Its postings are already decoded: block i's doc_ids and
    per-posting BM25 tf weights tf (k1 + 1) / (tf + k1 (1 - b + b dl /
    avgdl)) are ``docs`` and ``w`` over ``[starts[i], starts[i] + ns[i])``,
    so a block "decoded" here is a slice, and a posting scores idf x w.
    -> (doc_ids, scores, n_blocks, n_decoded), where n_decoded counts the
    blocks scored (the WAND probe plus the survivors). Batched NumPy only
    — the body of _partials_kernel, which every query route runs, so they
    are score-identical by construction.

    The cut is exact under the final key (rounded score desc, doc_id asc):
    every doc whose rounded score reaches the group's k-th rounded score is
    kept, so the whole k-boundary tie class survives whatever order its
    doc_ids take against the ords, and the coordinator's doc_id tie-break
    sees all of it. WAND prunes against the lower edge of theta's rounded
    class for the same reason: a doc scoring below theta can still round
    into the k-th score's class."""
    nb = len(terms)
    scale = 10.0**SCORE_DECIMALS
    ub = idf * (mtf * (k1 + 1.0) / (mtf + k1 * (1.0 - b + b * mdl / avgdl)))

    def gather(blocks: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        # postings of `blocks` (ascending) in block order: per doc, the
        # add.at below then sums term contributions in term_id order
        idx = _ranges_to_indices(starts[blocks], ns[blocks])
        return docs[idx], np.repeat(idf[blocks], ns[blocks]) * w[idx]

    keep = np.ones(nb, dtype=bool)
    if use_wand and nb > 2:
        # phase 1: score a few highest-ub blocks -> theta (lower bound on
        # the true kth-best score: partial sums are <= true scores). The
        # probe set is the global top few PLUS the single highest-ub block
        # of EVERY query term: multi-term queries otherwise establish theta
        # from one hot term only, so the floor misses the cross-term score
        # mass and phase 2 keeps nearly everything
        order = np.argsort(-ub, kind="mergesort")
        probe = order[: max(2, min(nb, 2 * max(k // 8, 1) + 2))]
        _, first_idx = np.unique(terms[order], return_index=True)
        probe = np.unique(np.concatenate([probe, order[first_idx]]))
        pd_docs, pd_scores = gather(probe)
        uniq, inv = np.unique(pd_docs, return_inverse=True)
        acc = np.zeros(len(uniq))
        np.add.at(acc, inv, pd_scores)
        theta = np.partition(acc, len(acc) - k)[len(acc) - k] if len(acc) >= k else -np.inf
        if np.isfinite(theta):
            # phase 2: vectorized per-block survival test (see _wand_survival)
            # against the lower edge of theta's rounded class, less a slack
            # for the float error of summing a doc's terms in another order
            theta = (np.floor(theta * scale + 0.5) - 0.5) / scale - 1e-9
            keep = _wand_survival(terms, first, last, ub, theta)
            keep[probe] = True  # already scored; keep their contributions

    all_docs, scores = gather(np.nonzero(keep)[0])
    uniq, inv = np.unique(all_docs, return_inverse=True)
    acc = np.zeros(len(uniq))
    np.add.at(acc, inv, scores)
    # scores are HALF_UP-rounded here, as the final merge ranks them; the
    # cut keeps the k-th rounded score's whole tie class
    acc_r = np.floor(acc * scale + 0.5) / scale
    if len(acc_r) > k:
        sel = acc_r >= np.partition(acc_r, len(acc_r) - k)[len(acc_r) - k]
        uniq, acc_r = uniq[sel], acc_r[sel]
    return uniq, acc_r, nb, int(keep.sum())


def _shard_partition_salt(
    spark: SparkSession, n_shards: int, n_parts: int, max_salt: int = 4096
) -> int:
    """Find a salt c so that ``repartition(n_parts, (shard + c) AS INT)``
    balances the shard values over the partitions: the first c whose
    fullest partition holds the ideal ceil(n_shards / n_parts) shards (with
    n_parts == n_shards: every shard in its own partition), else the c with
    the smallest fullest partition in budget. HashPartitioning applies the
    same Murmur3 ``hash()`` SQL exposes, so the bucket of every (c, shard)
    pair is evaluated driver-side in ONE LocalRelation fold — no job. For
    large n_shards an ideal spread is combinatorially out of reach and
    collisions average out anyway, so the search caps at 512 candidate
    salts."""
    budget = max_salt if n_shards <= 16 else 512
    ideal = -(-n_shards // n_parts)
    best_c, best_max = 0, n_shards + 1
    for chunk in range(0, budget, 256):
        cs = range(chunk, min(chunk + 256, budget))
        rows = spark.sql(
            "SELECT col1 AS c, pmod(hash(CAST(col1 + col2 AS INT)), "
            f"{int(n_parts)}) AS b FROM VALUES "
            + ",".join(f"({c},{s})" for c in cs for s in range(n_shards))
        ).collect()
        loads: dict[int, dict[int, int]] = {}
        for r in rows:
            per_b = loads.setdefault(r.c, {})
            per_b[r.b] = per_b.get(r.b, 0) + 1
        for c in cs:
            m = max(loads[c].values())
            if m < best_max:
                best_c, best_max = c, m
            if m <= ideal:
                return c
    return best_c


class IndexHandle:
    """A loaded index: postings/dictionary/docmap DataFrames + meta.

    ``cache()`` pins the (metadata + payload) frames in executor memory so a
    stream of queries pays the parquet scan once — the Spark analogue of a
    search node keeping its segments hot. On a cluster the cache is
    partitioned across executors like any other block-managed data.
    """

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.meta = IndexMeta.load(index_dir)
        self.postings = spark.read.parquet(f"{index_dir}/postings")
        self.dictionary = spark.read.parquet(f"{index_dir}/dictionary")
        self.docmap = spark.read.parquet(f"{index_dir}/docmap")
        # driver-side hot state for the interactive path (a search head
        # keeps its dictionary in RAM): term_id -> (df, idf) with df=0 for
        # terms absent from the index, misses batch-fetched in one
        # pruned-scan job, and the ord -> doc_id array (doc_ids()). Warm
        # queries schedule no dictionary or docmap job at all. Same
        # staleness contract as the DataFrames above: fixed at handle load.
        self._df_cache: dict[int, tuple[int, float]] = {}
        self._doc_ids: np.ndarray | None = None
        self._shard_view: DataFrame | None = None

    def doc_ids(self) -> np.ndarray:
        """The docmap as a driver-side int64 array indexed by ord (ords are
        the dense 0..n_docs-1 rank, see ordinals.py): 8 B per document,
        read in one docmap scan on first use. The coordinator merge resolves
        a k-boundary tie class of any size with one gather — a hot term's
        class can hold most of the corpus, far past what an IN-list docmap
        lookup can carry."""
        if self._doc_ids is None:
            tab = self.docmap.select("ord", "doc_id").toArrow()
            doc_ids = np.empty(tab.num_rows, dtype=np.int64)
            doc_ids[tab.column("ord").to_numpy()] = tab.column("doc_id").to_numpy()
            self._doc_ids = doc_ids
        return self._doc_ids

    def shard_clustered(self) -> DataFrame:
        """Postings re-clustered so every partition holds COMPLETE shards —
        the layout the no-shuffle interactive kernel needs (a partial top-k
        per (qid, shard) is exact only over all of a shard's blocks) — in
        min(n_shards, defaultParallelism) partitions, so a query's scoring
        job is one task wave: with fewer cores than shards, each task
        scores several whole shards rather than a second wave of tasks
        waiting for free cores. The partition key is salted so Murmur3
        balances the shard values (plain ``repartition(n, "shard")``
        collides a handful of values into shared buckets — a straggler
        doing extra shards' work while another task idles). In-partition
        (shard, term_id) sort makes the cached batch min/max stats prune
        the per-query term_id IN (...) filter."""
        if self._shard_view is None:
            n_shards = self.meta.n_shards
            n_parts = min(n_shards, self.spark.sparkContext.defaultParallelism)
            salt = _shard_partition_salt(self.spark, n_shards, n_parts)
            self._shard_view = self.postings.repartition(
                n_parts, (F.col("shard") + F.lit(salt)).cast("int")
            ).sortWithinPartitions("shard", "term_id", "first_doc")
        return self._shard_view

    def cache(self) -> "IndexHandle":
        # ONE cached copy of the postings, in the shard-clustered layout:
        # the interactive kernel scans it shuffle-free, and the distributed
        # tail re-shuffles it by (qid, shard) exactly as it would any layout.
        # The docmap scan that fills doc_ids() also materializes its cache.
        self.postings = self.shard_clustered().cache()
        self._shard_view = self.postings
        self.dictionary = self.dictionary.cache()
        self.docmap = self.docmap.cache()
        self.postings.count(), self.dictionary.count(), self.doc_ids()
        return self


# above this many distinct query terms the driver-side isin pushdown (one
# collect + a literal IN list compiled into the scan) stops paying for
# itself: the list no longer fits row-group stat skipping economics and the
# collect becomes a driver bottleneck for offline million-query joins
_ISIN_PUSHDOWN_MAX_TERMS = 4096

# largest batch taking the coordinator merge (the driver or the Spark
# interactive partials). The partials it collects hold each (qid, shard)
# group's top k plus the rest of its k-boundary tie class, so their volume
# is bounded by the batch's postings, not by qids x shards x k
_DRIVER_FINISH_MAX_QIDS = 256

# postings budget of the driver route, as sum(df) over the batch's
# scoreable (qid, term) pairs (free from the probe's df cache): a batch
# within it is scored on the driver from one JVM-only scan of the cached
# shard view, with no Python-UDF task wave. Recorded on 4 cores: the
# driver kernel runs 4-6M postings/s on few-group batches (2.41-2.53M
# postings in 0.42-0.57 s), plus about 0.2 ms per (qid, shard) group; the
# warm Python task wave it replaces costs 0.41-0.73 s before any scoring.
# At 262,144 = 2^18 postings the kernel's worst case is ~65 ms, a sixth of
# the cheapest task wave, which leaves room for the scan and toArrow
# (57-201 ms for single queries) that also grow with the postings fetched;
# every single query of the benchmark pools fits, batches of 100+ do not.
_DRIVER_SCORE_MAX_POSTINGS = 262_144

# postings budget of one interactive qid slice, measured as sum(df) over the
# slice's scoreable (qid, term) pairs — an upper bound on postings touched,
# free from the probe's df cache. One slice's parallelism is bounded by the
# shard view's min(n_shards, defaultParallelism) partitions (one task per
# partition scores its shards' qids serially), so a batch over the budget
# splits into min(ceil(sum(df) / budget), n_qids) slices run as concurrent
# jobs. Measured same-session at 8 shards/local[32], 500k docs,
# 20 queries, sum(df) 17.7M: one job 1.11 s, 3 concurrent slices 0.63 s.
# A too-low budget only forfeits latency, never correctness (every slice
# runs the same kernel over whole qids).
_FAST_PARTIALS_MAX_POSTINGS = 6_000_000

def in_expr(col_name: str, ids) -> "F.Column":
    """``col IN (id, id, ...)`` as ONE parsed SQL expression.

    ``Column.isin(ids)`` builds a JVM Literal per element through py4j —
    measured ~0.47 ms/element of pure driver latency (0.67 s for a
    1429-id candidate fetch, the dominant cost of the flagship's
    point-lookup job). Parsing the equivalent IN list from a single SQL
    string is one py4j call (~0.1 s at 1429 ids, linear and ~5x cheaper
    per element). Same In expression after analysis: integer literals
    coerce to the column type exactly as isin's typed literals do, so
    plans, pushdown, and results are identical. Integer ids only."""
    ids = list(ids)
    if not ids:
        raise ValueError("in_expr needs a non-empty id list")
    return F.expr(f"{col_name} IN ({','.join(str(int(i)) for i in ids)})")


def _empty_topk_df(spark: SparkSession) -> DataFrame:
    """Empty (qid, doc_id, score, rank) result as a LocalRelation.
    createDataFrame([], schema) parallelizes an empty RDD across the
    default parallelism, so the caller's .collect() schedules a whole
    job of empty tasks just to learn there are no rows; a VALUES row
    behind WHERE 1=0 folds to an empty LocalRelation (PruneFilters +
    ConvertToLocalRelation) and collects job-free — this is the all-OOV
    interactive fast path. The folded plan is constant, so it is built
    once per session (a plan cache, not a result cache: the relation is
    empty by construction) — re-parsing it cost ~5 ms per OOV query."""
    df = getattr(spark, "_spark_graft_empty_topk", None)
    if df is None:
        df = spark.sql(
            "SELECT * FROM VALUES "
            "(CAST(NULL AS LONG), CAST(NULL AS LONG), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS LONG)) t(qid, doc_id, score, `rank`) WHERE 1=0"
        )
        spark._spark_graft_empty_topk = df
    return df


def _bounded_cache_fill(cache: dict, keys, fetch, cap: int = 4_000_000) -> None:
    """Bounded fill of the handle's driver-side df cache: fetch(missing)
    must insert every requested key. Eviction past `cap` resets `missing`
    to ALL keys — previously-cached entries were just
    wiped, so they must be refetched (the bug class this helper exists to
    make impossible: clearing without widening the fetch set leaves the
    subsequent cache[key] lookups raising KeyError)."""
    missing = [k for k in keys if k not in cache]
    if not missing:
        return
    if len(cache) > cap:
        cache.clear()
        missing = list(keys)
    fetch(missing)


def _merge_partials(partials: pa.Table, k: int, resolve) -> tuple:
    """Coordinator merge of (qid, ord, score) partial rows, in NumPy ->
    (qid, doc_id, score, rank) int64/int64/float64/int64 arrays ordered by
    (qid, rank).

    Each qid keeps its k-boundary tie class (every row scoring >= its k-th
    best partial score), ``resolve(ords)`` maps the kept distinct ords
    (sorted int64 array) to their doc_ids, and the kept rows are ranked by
    (score desc, doc_id asc) and cut at k. Spark-free: ``resolve`` is the
    only lookup."""
    if not partials.num_rows:
        e = np.empty(0, dtype=np.int64)
        return e, e, np.empty(0, dtype=np.float64), e
    q = partials.column("qid").to_numpy()
    o = partials.column("ord").to_numpy()
    s = partials.column("score").to_numpy()

    def segments(qs):
        starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
        return starts, np.diff(np.r_[starts, len(qs)])

    order = np.lexsort((-s, q))
    q, o, s = q[order], o[order], s[order]
    starts, counts = segments(q)
    keep = s >= np.repeat(s[starts + np.minimum(counts, k) - 1], counts)
    q, o, s = q[keep], o[keep], s[keep]
    uniq, inv = np.unique(o, return_inverse=True)
    d = np.asarray(resolve(uniq), dtype=np.int64)[inv]
    order = np.lexsort((d, -s, q))
    q, d, s = q[order], d[order], s[order]
    starts, counts = segments(q)
    rank = np.arange(len(q)) - np.repeat(starts, counts) + 1
    cut = rank <= k
    return q[cut], d[cut], s[cut], rank[cut]


def _driver_finish_rows(handle: IndexHandle, partials: pa.Table, k: int) -> DataFrame:
    """Coordinator merge of the partials of a batch scored on the driver or
    by the Spark interactive route, as one Arrow table: each query is
    trimmed to its k-boundary tie class and ranked in NumPy
    (_merge_partials), and the surviving ordinals are resolved by a gather
    from the handle's ord -> doc_id array (IndexHandle.doc_ids). How a
    search head merges shard results: no docmap join, no window stage, and
    an Arrow LocalRelation result whose collect() schedules no job.

    Parity with the exchange route's distributed tail: kernel scores are
    already HALF_UP-rounded at SCORE_DECIMALS by ``_score_blocks`` (the
    tail's F.round on them is an identity) and keep their float64 bits
    from the kernel to the result, shards hold disjoint doc sets so merge
    is a union, each shard kept its whole k-boundary tie class, and
    (score desc, doc_id asc) is a total order — the lexsort reproduces the
    row_number window bit-for-bit."""

    def resolve(ords: np.ndarray) -> np.ndarray:
        return handle.doc_ids()[ords]

    q, d, s, r = _merge_partials(partials, k, resolve)
    if not len(q):
        df = _empty_topk_df(handle.spark)
        df._spark_graft_local_topk = []
        return df
    df = localrel.local_df(handle.spark, qid=q, doc_id=d, score=s, rank=r)
    # the rows are already on the driver — expose them so composing
    # pipelines can push the candidate doc_ids into downstream scans
    # (pipelines.attach_candidates prune_ids) without re-collecting
    df._spark_graft_local_topk = list(
        zip(q.tolist(), d.tolist(), s.tolist(), r.tolist())
    )
    return df


# sentinel: the batch overflowed the interactive caps (offline query log)
_BULK = object()


def _interactive_trip(handle: IndexHandle, queries: DataFrame):
    """Driver-side probe of an interactive batch.

    Returns ``[(qid, term_id, df, idf), ...]`` for batches that fit the
    interactive caps (the empty list means every term is OOV / no terms at
    all — nothing can score), or the ``_BULK`` sentinel when the batch
    overflows them (offline query log: take the distributed bulk path).

    Probe tiers (cheapest wins):
      1. the caller built the frame with localrel.local_queries_df — the
         raw rows ride an attribute, zero fetch cost;
      2. untagged frame: bounded take() of the raw (qid, text) rows —
         executeTake stops as soon as the interactive cap overflows, so
         a million-row offline log reads only its first partition(s);
      3. row overflow (> _DRIVER_FINISH_MAX_QIDS): the batch is an
         offline log — probe the original frame with coalesce(1) so the
         single merged task consumes its input lazily up to the pair cap.
    Tiers 1-2 tokenize + hash the rows ON THE DRIVER in pure Python
    (functions.tokenizer.py_terms + functions.xxh64.xxh64_str — both
    fuzz-pinned bit-identical to the JVM _terms_col / xxhash64 expressions
    by test_driver_probe.py): the previous shape evaluated the identical
    logic as a Catalyst parse + constant-fold over a VALUES LocalRelation,
    which is job-free but still cost 55-65 ms of driver latency per query
    — the dominant share of the warm all-OOV floor and ~22% of a warm
    scoring query (round-6 measurement).

    df AND idf come from the handle's hot cache; misses are batch-fetched
    in ONE pruned dictionary scan whose projection computes idf with the
    same JVM F.log expression the exhaustive path uses (a driver-side
    math.log could differ from the JVM's by an ulp and flip a 6dp rounding
    boundary the gates hash), and terms absent from the index are cached
    as df=0. Warm batches schedule no dictionary job — and no second
    Catalyst round-trip to evaluate idf, which used to cost ~40 ms of
    single-query latency.
    """
    mode = handle.meta.tokenizer_mode
    local_rows = getattr(queries, localrel.LOCAL_ROWS_ATTR, None)
    if local_rows is None:
        taken = queries.select("qid", "text").take(_DRIVER_FINISH_MAX_QIDS + 1)
        if len(taken) <= _DRIVER_FINISH_MAX_QIDS:
            local_rows = [(r.qid, r.text) for r in taken]
    if local_rows is not None:
        for q_, t_ in local_rows:
            if q_ is None:
                raise ValueError(
                    f"query batch has a null qid (text {t_!r}): every query "
                    "needs a qid"
                )
        if not local_rows:
            return []
        # tiers 1-2: pure-Python probe, zero Catalyst work. The token-count
        # cap mirrors the old Catalyst limit exactly (pre-dedupe occurrence
        # count) so routing crosses to _BULK at the same boundary.
        pair_set: set[tuple[int, int]] = set()
        total = 0
        for q_, t_ in local_rows:
            for tok in py_terms(t_, mode):
                total += 1
                if total > _ISIN_PUSHDOWN_MAX_TERMS:
                    return _BULK
                pair_set.add((q_, xxh64_str(tok)))
        pairs = sorted(pair_set)
    else:
        pair_rows = (
            queries.coalesce(1)
            .select("qid", F.explode(_terms_col("text", mode)).alias("term"))
            .filter(F.col("term") != "")
            .select("qid", F.xxhash64("term").alias("term_id"))
            .limit(_ISIN_PUSHDOWN_MAX_TERMS + 1)
            .collect()
        )
        if len(pair_rows) > _ISIN_PUSHDOWN_MAX_TERMS:
            return _BULK
        pairs = sorted({(r.qid, r.term_id) for r in pair_rows})
    if not pairs:
        return []
    cache = handle._df_cache
    qterm_list = sorted({t for _, t in pairs})

    def _fetch_dfs(missing: list) -> None:
        n = float(handle.meta.n_docs)
        idf = F.log(
            F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        tab = (
            handle.dictionary.filter(in_expr("term_id", missing))
            .select("term_id", "df", idf.alias("idf"))
            .toArrow()
        )
        cache.update(
            zip(
                tab.column("term_id").to_pylist(),
                zip(tab.column("df").to_pylist(), tab.column("idf").to_pylist()),
            )
        )
        for t in missing:
            cache.setdefault(t, (0, 0.0))

    _bounded_cache_fill(cache, qterm_list, _fetch_dfs)
    return [
        (q, t, cache[t][0], cache[t][1]) for q, t in pairs if cache[t][0] > 0
    ]


def _bulk_candidate_blocks(handle: IndexHandle, queries: DataFrame) -> DataFrame:
    """Large-batch path (huge offline query logs): prune the postings scan
    with a SEMI-join on the DISTINCT term_id set only — the full
    (qid, term_id) frame can be multi-million rows and hinting it
    broadcast would blow Spark's 8 GB broadcast limit / driver memory
    on exactly the workloads this path exists for. No size probe and
    no hint: a probe would cost a full distinct shuffle plus a
    single-task global-limit count per batch just to decide what AQE
    already decides from the REAL post-shuffle size at runtime
    (broadcast when the distinct set is small, shuffle join when it
    is not). The qid attach join is un-hinted for the same reason."""
    n = float(handle.meta.n_docs)
    idf = F.log(F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    idf_dict = F.broadcast(
        handle.dictionary.withColumn("idf", idf).select("term_id", "idf")
    )
    qt = query_terms(queries, mode=handle.meta.tokenizer_mode).select(
        "qid", F.xxhash64("term").alias("term_id")
    )
    pruned = handle.postings.join(
        qt.select("term_id").distinct(), "term_id", "left_semi"
    )
    return pruned.join(qt, "term_id").join(idf_dict, "term_id")


def _cand_from_trip(handle: IndexHandle, trip: list[tuple]) -> DataFrame:
    """Candidate frame of an interactive-size batch for the exchange route:
    postings pruned by a term_id IN literal (parquet / cached-batch stat
    skipping) joined to the broadcast (qid, term_id, idf) relation. The
    idf doubles were evaluated by the JVM in the dictionary fetch and ride
    an Arrow LocalRelation with their bits intact, so the broadcast needs
    no collect job."""
    present = sorted({t for _, t, _, _ in trip})
    qt = localrel.local_df(
        handle.spark,
        qid=pa.array([q for q, _, _, _ in trip], pa.int64()),
        term_id=pa.array([t for _, t, _, _ in trip], pa.int64()),
        idf=pa.array([i for _, _, _, i in trip], pa.float64()),
    )
    return handle.postings.filter(in_expr("term_id", present)).join(
        F.broadcast(qt), "term_id"
    )


def _partials_kernel(
    expand,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    use_wand: bool,
    stats: bool = False,
):
    """The one per-(qid, shard) scoring kernel, as a ``mapInArrow`` body.

    The partition's block rows are concatenated once and every row's
    payload is decoded in ONE varbyte pass over the binary column
    (postings.decode_blocks), along with each posting's BM25 tf weight, so
    a block a shared term gives several qids is decoded once.
    ``expand(tab, terms) -> (rows, qids, idfs)`` lists every (block row,
    qid) pair to score and its idf — the only step that differs between
    the routes (the driver and Spark interactive routes share one).
    One lexsort by (shard, qid, term_id, first_doc) then lays every
    (qid, shard) group out contiguously, in the same block order on every
    route, and ``_score_blocks`` scores each group from slices of the
    decoded postings with the same exact k-boundary cut. A partial is
    exact as long as the input holds all of a (qid, shard) group's
    blocks, which every route guarantees.

    Emits (qid, ord, score) partial rows, or with ``stats`` one
    (qid, shard, n_blocks, n_decoded) row per group."""

    def kernel(batches):
        tabs = [pa.Table.from_batches([rb]) for rb in batches if rb.num_rows]
        if not tabs:
            return
        tab = pa.concat_tables(tabs)
        terms = tab.column("term_id").to_numpy()
        shards = tab.column("shard").to_numpy()
        first = tab.column("first_doc").to_numpy()
        last = tab.column("last_doc").to_numpy()
        ns = tab.column("n").to_numpy().astype(np.int64)
        mtf = tab.column("max_tf").to_numpy().astype(np.float64)
        mdl = tab.column("min_dl").to_numpy().astype(np.float64)
        docs, tf, dl, row_start = decode_blocks(tab.column("bytes"), ns)
        tf = tf.astype(np.float64)
        w = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))
        rows, qids, idfs = expand(tab, terms)
        order = np.lexsort((first[rows], terms[rows], qids, shards[rows]))
        rows, qids, idfs = rows[order], qids[order], idfs[order]
        sh = shards[rows]
        starts = np.nonzero(
            np.r_[True, (sh[1:] != sh[:-1]) | (qids[1:] != qids[:-1])]
        )[0]
        ends = np.r_[starts[1:], len(rows)]
        out: list[tuple] = []
        for g0, g1 in zip(starts, ends):
            rq = rows[g0:g1]
            ords, scores, nb, ndec = _score_blocks(
                idfs[g0:g1],
                mtf[rq], mdl[rq], first[rq], last[rq], terms[rq], ns[rq],
                row_start[rq], docs, w,
                k=k, k1=k1, b=b, avgdl=avgdl, use_wand=use_wand,
            )
            if stats:
                out.append(([qids[g0]], [sh[g0]], [nb], [ndec]))
            elif len(ords):
                out.append((np.full(len(ords), qids[g0]), ords, scores))
        if not out:
            return
        cols = [np.concatenate(c) for c in zip(*out)]
        if stats:
            names = ["qid", "shard", "n_blocks", "n_decoded"]
            types = [np.int64, np.int32, np.int64, np.int64]
        else:
            names, types = ["qid", "ord", "score"], [np.int64, np.int64, np.float64]
        yield pa.RecordBatch.from_arrays(
            [pa.array(c.astype(t, copy=False)) for c, t in zip(cols, types)],
            names=names,
        )

    return kernel


def _expand_by_term(trip: list[tuple]):
    """The ``expand`` of the driver and Spark interactive routes for
    _partials_kernel: each block row of a query term pairs with every
    (qid, idf) of ``trip`` that has the term. The scan is filtered to those
    terms, so every row maps."""
    by_term: dict[int, list[tuple[int, float]]] = {}
    for q, t, _, idf_v in trip:
        by_term.setdefault(t, []).append((q, idf_v))

    def expand(tab, terms):
        order = np.argsort(terms, kind="stable")
        uniq, start, cnt = np.unique(
            terms[order], return_index=True, return_counts=True
        )
        rows, qids, idfs = [], [], []
        for t, s, c in zip(uniq, start, cnt):
            rt = order[s : s + c]
            for q, idf_v in by_term[int(t)]:
                rows.append(rt)
                qids.append(np.full(c, q, dtype=np.int64))
                idfs.append(np.full(c, idf_v))
        return np.concatenate(rows), np.concatenate(qids), np.concatenate(idfs)

    return expand


def _kernel_scan(postings: DataFrame, trip: list[tuple]) -> DataFrame:
    """The block rows of a batch's query terms, projected to the kernel's
    columns: a term_id IN filter, which the cached view's
    (shard, term_id)-sorted batch stats and parquet row-group stats
    prune."""
    return postings.filter(
        in_expr("term_id", sorted({t for _, t, _, _ in trip}))
    ).select(
        "term_id", "shard", "first_doc", "last_doc", "n", "max_tf", "min_dl",
        "bytes",
    )


def _driver_partials(
    handle: IndexHandle,
    trip: list[tuple],
    k: int,
    k1: float,
    b: float,
    use_wand: bool,
) -> pa.Table:
    """Driver route: the batch's block rows come to the driver in one
    JVM-only scan (``toArrow()``; no Python worker runs) and the one
    partials kernel scores every (qid, shard) group here, as a search head
    scores the postings its shards return. Holding every block of every
    group, the driver's partials are exact, and bit-identical to the Spark
    routes' (same kernel, same block order)."""
    kernel = _partials_kernel(
        _expand_by_term(trip), k, k1, b, handle.meta.avgdl, use_wand
    )
    # handle.postings IS the shard view once cached; uncached, the plain
    # parquet scan needs no shard clustering, since every group is here
    blocks = _kernel_scan(handle.postings, trip).toArrow()
    return pa.Table.from_batches(
        list(kernel(blocks.to_batches())),
        schema=pa.schema(
            [("qid", pa.int64()), ("ord", pa.int64()), ("score", pa.float64())]
        ),
    )


def _interactive_partials(
    handle: IndexHandle,
    trip: list[tuple],
    k: int,
    k1: float,
    b: float,
    use_wand: bool,
) -> DataFrame:
    """Spark interactive route: per-(qid, shard) partials with no exchange.

    The postings are scanned in the shard-clustered layout
    (IndexHandle.shard_clustered: every partition holds complete shards),
    so one mapInArrow pass over the term-pruned scan scores every
    (qid, shard) group in place. The term -> [(qid, idf)] map rides the
    task closure (a few hundred bytes: no broadcast, no join) and expands
    each block row into the qids that need it. One Spark stage per batch.
    """
    kernel = _partials_kernel(
        _expand_by_term(trip), k, k1, b, handle.meta.avgdl, use_wand
    )
    return _kernel_scan(handle.shard_clustered(), trip).mapInArrow(
        kernel, schema="qid long, ord long, score double"
    )


def _interactive_partial_rows(
    handle: IndexHandle,
    trip: list[tuple],
    k: int,
    k1: float,
    b: float,
    use_wand: bool,
) -> pa.Table:
    """Partial rows of an interactive batch over the driver route's budget
    as one Arrow table, for the coordinator merge. The batch splits into
    min(ceil(sum(df) / budget), n_qids) volume-balanced qid slices (greedy
    LPT over per-qid sum(df); the budget is _FAST_PARTIALS_MAX_POSTINGS). One slice runs inline;
    several run as independent single-stage jobs, CONCURRENTLY, so batch
    parallelism is n_slices x the shard view's partitions
    (IndexHandle.shard_clustered) with no exchange.

    Exactness: slices partition whole qids, so every (qid, shard) partial
    is computed by exactly one slice from exactly the rows one job over
    the whole batch would feed it."""
    per_qid: dict[int, list[tuple]] = {}
    for tup in trip:
        per_qid.setdefault(tup[0], []).append(tup)
    n_slices = min(
        -(-sum(t[2] for t in trip) // _FAST_PARTIALS_MAX_POSTINGS), len(per_qid)
    )
    if n_slices <= 1:
        return _interactive_partials(
            handle, trip, k, k1, b, use_wand
        ).toArrow()
    loads = sorted(
        ((sum(t[2] for t in v), q) for q, v in per_qid.items()), reverse=True
    )
    slices: list[list] = [[] for _ in range(n_slices)]
    fill = [0] * n_slices
    for load, q in loads:
        i = min(range(n_slices), key=fill.__getitem__)
        fill[i] += load
        slices[i].extend(per_qid[q])
    # build the shard view once before the pool: concurrent first calls
    # would benignly race the cached-view memo
    handle.shard_clustered()

    def run(sl: list) -> pa.Table:
        return _interactive_partials(
            handle, sl, k, k1, b, use_wand
        ).toArrow()

    with ThreadPoolExecutor(max_workers=min(n_slices, 8)) as ex:
        return pa.concat_tables(list(ex.map(run, slices)))


def _exchange_partials(
    handle: IndexHandle,
    cand: DataFrame,
    k: int,
    k1: float,
    b: float,
    use_wand: bool,
    stats: bool = False,
) -> DataFrame:
    """Exchange route: the candidate frame (block rows tagged with qid +
    idf) is hash-partitioned on (qid, shard), which co-locates each
    group's blocks and spreads the qids x shards groups over the whole
    cluster; the same kernel then scores every group in a partition,
    reading each row's (qid, idf) from its columns."""
    kernel = _partials_kernel(
        lambda tab, terms: (
            np.arange(len(terms)),
            tab.column("qid").to_numpy(),
            tab.column("idf").to_numpy(),
        ),
        k, k1, b, handle.meta.avgdl, use_wand, stats,
    )
    # explicit projection: the candidate frame still carries block_id,
    # which the kernel never reads and the exchange need not ship
    return (
        cand.select(
            "qid", "idf", "term_id", "shard", "first_doc", "last_doc", "n",
            "max_tf", "min_dl", "bytes",
        )
        .repartition("qid", "shard")
        .mapInArrow(
            kernel,
            schema="qid long, shard int, n_blocks long, n_decoded long"
            if stats
            else "qid long, ord long, score double",
        )
    )


def bm25_topk_indexed(
    spark: SparkSession,
    index: str | IndexHandle,
    queries: DataFrame,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    method: str = "wand",
    finish: str = "auto",
) -> DataFrame:
    """-> (qid, doc_id, score, rank): identical output contract (and values)
    as the exhaustive tf-frame ``bm25.bm25_topk``. Pass an ``IndexHandle``
    (optionally .cache()d) to amortize index loading across queries.

    Three routes, one scoring kernel (_partials_kernel):
      * driver — ``finish="auto"``, at most _DRIVER_FINISH_MAX_QIDS qids and
        sum(df) within _DRIVER_SCORE_MAX_POSTINGS: one JVM-only scan of the
        cached shard view to the driver, the kernel on the driver
        (_driver_partials), then the coordinator merge
        (_driver_finish_rows); no Python-UDF job;
      * Spark interactive — the same qid cap over the postings budget: qid
        slices over the shard-clustered view with no exchange
        (_interactive_partial_rows), then the same coordinator merge;
      * exchange — everything else (``finish="distributed"``, larger
        batches, offline query logs): the candidate frame hash-partitioned
        on (qid, shard), the same kernel, then the distributed docmap join
        + per-qid window. This is the plan offline million-query logs run
        on a cluster, so ``finish="distributed"`` makes it independently
        driver-gated (``bm25_topk_wand_distributed``).
    Each (qid, shard) partial keeps its whole k-boundary tie class
    (_score_blocks), so every route is exact under the (score desc,
    doc_id asc) order and the routes are bit-identical (pinned against
    ``bm25.bm25_topk`` by test_routes_match_tf_frame)."""
    if finish not in ("auto", "distributed"):
        raise ValueError(f"finish must be auto|distributed, got {finish!r}")
    if k < 1:
        # the coordinator merge would slice nonsense (scores[k-1] wraps
        # negative) while the distributed window returns empty — fail loudly
        raise ValueError(f"k must be >= 1, got {k}")
    handle = IndexHandle(spark, index) if isinstance(index, str) else index
    use_wand = method == "wand"

    trip = _interactive_trip(handle, queries)
    if trip is _BULK:
        cand = _bulk_candidate_blocks(handle, queries)
    elif not trip:
        df = _empty_topk_df(spark)
        df._spark_graft_local_topk = []
        return df
    elif finish == "auto" and len({t[0] for t in trip}) <= _DRIVER_FINISH_MAX_QIDS:
        if sum(t[2] for t in trip) <= _DRIVER_SCORE_MAX_POSTINGS:
            partials = _driver_partials(handle, trip, k, k1, b, use_wand)
        else:
            partials = _interactive_partial_rows(handle, trip, k, k1, b, use_wand)
        return _driver_finish_rows(handle, partials, k)
    else:
        cand = _cand_from_trip(handle, trip)

    partial = _exchange_partials(handle, cand, k, k1, b, use_wand)
    resolved = partial.join(handle.docmap, "ord").select("qid", "doc_id", "score")
    ranked = grouped_topk(
        resolved.withColumn("score", F.round("score", SCORE_DECIMALS)),
        keys=["qid"],
        order=[F.col("score").desc(), F.col("doc_id").asc()],
        k=k,
    )
    return ranked.select("qid", "doc_id", "score", "rank")


def wand_block_stats(
    spark: SparkSession,
    index: str | IndexHandle,
    queries: DataFrame,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """Diagnostics: per (qid, shard) blocks seen vs decoded under WAND, cut
    at ``k``, from the exchange route's kernel."""
    handle = IndexHandle(spark, index) if isinstance(index, str) else index
    trip = _interactive_trip(handle, queries)
    if not trip:
        e = pa.array([], pa.int64())
        return localrel.local_df(
            spark, qid=e, shard=pa.array([], pa.int32()), n_blocks=e, n_decoded=e
        )
    cand = (
        _bulk_candidate_blocks(handle, queries)
        if trip is _BULK
        else _cand_from_trip(handle, trip)
    )
    return _exchange_partials(handle, cand, k, k1, b, True, stats=True)
