"""Posting-list construction: (term, doc_id, tf, dl) triples -> delta+varbyte
compressed binary blocks with block-max metadata.

Sharding / skew design (the "term-frequency-aware salting" requirement):
the pack groupBy key is (term, shard) where ``shard = pmod(xxhash64(doc_id),
n_shards)`` — a *document-pure* salt. Consequences, by construction:

  * a heavy-hitter term's postings split into n_shards bounded groups, so no
    single ``applyInPandas`` group can exceed ~|docs|/n_shards postings no
    matter how hot the term is (the failure mode AQE cannot fix for grouped
    UDFs — SURVEY.md §4 item 1);
  * rare terms occupy only the shards their few docs hash into (no empty
    groups materialize);
  * because the salt is a function of the document alone, every query term's
    posting for doc d lands in the same shard, so query-time scoring can be
    a per-(qid, shard) *partial* top-k followed by a final merge — the
    classic distributed document-sharded search topology, exact by
    construction.

Block layout (Ding & Suel block-max style): fixed-size blocks of sorted
docIDs, payload = vbyte(gaps ++ tfs ++ dls); metadata per block carries
(first_doc, last_doc, n, max_tf, min_dl). The BM25 per-term upper bound is
reconstructed at query time as ub = idf * f(max_tf, min_dl): f is increasing
in tf and decreasing in dl, so this bounds every posting in the block while
keeping block packing independent of global corpus stats (avgdl) — which is
what makes segments mergeable without re-compression.

Scale: pack/merge are shuffle-on-(term,shard) + grouped Arrow UDFs; at 10^12
docs n_shards grows with the cluster and nothing else changes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geometric_aware_retrieval_v2_spark.functions.varbyte import (
    varbyte_decode,
    varbyte_encode,
)

BLOCK_SIZE_DEFAULT = 128

# pack tasks buffer their whole shuffle partition as NumPy columns (group
# completeness); 4M rows x 5 int64 cols ~ 160 MB buffered per task — the
# bound that keeps the buffer executor-safe regardless of corpus size
ROWS_PER_PACK_TASK = 4_000_000


def pack_width(n_rows: int, parallelism: int, rows_per_task: int = ROWS_PER_PACK_TASK) -> int:
    """Shuffle width for pack_postings sized from the DATA, not the session.

    ``spark.sql.shuffle.partitions`` is a per-session constant (~#cores); the
    pack kernel buffers its whole partition, so at 10^12-file scale the
    session default would put corpus/width rows — unbounded gigabytes — in
    one task's buffer. Width = max(parallelism, ceil(n_rows / rows_per_task))
    keeps every core busy on small inputs and bounds per-task memory on huge
    ones. ``n_rows`` may be an upper bound (sum(doc_len) >= posting rows).
    """
    return max(int(parallelism), -(-int(n_rows) // int(rows_per_task)), 1)

POSTINGS_SCHEMA = (
    "term_id long, shard int, block_id int, first_doc long, last_doc long, "
    "n int, max_tf int, min_dl int, bytes binary"
)

_SIGN = np.uint64(1) << np.uint64(63)


def _encode_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> bytes:
    u = doc_ids.astype(np.int64).astype(np.uint64) ^ _SIGN
    gaps = np.empty_like(u)
    gaps[0] = u[0]
    np.subtract(u[1:], u[:-1], out=gaps[1:])
    return varbyte_encode(
        np.concatenate([gaps, tfs.astype(np.uint64), dls.astype(np.uint64)])
    )


def decode_block(buf: bytes, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (doc_ids int64 asc, tfs, dls)."""
    vals = varbyte_decode(buf)
    u = np.cumsum(vals[:n], dtype=np.uint64)
    return (u ^ _SIGN).astype(np.int64), vals[n : 2 * n], vals[2 * n :]


def _payload_bytes(arr) -> np.ndarray:
    """The contiguous data bytes of every row of a ``binary`` or
    ``large_binary`` array (sliced or not), as a zero-copy uint8 view."""
    if len(arr) == 0:
        return np.empty(0, dtype=np.uint8)
    off_type = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    _, off_buf, data_buf = arr.buffers()
    offs = np.frombuffer(off_buf, dtype=off_type, count=arr.offset + len(arr) + 1)
    lo, hi = int(offs[arr.offset]), int(offs[-1])
    if hi == lo:
        return np.empty(0, dtype=np.uint8)
    return np.frombuffer(data_buf, dtype=np.uint8, count=hi - lo, offset=lo)


def decode_blocks(blocks, ns) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode many block payloads in ONE varbyte pass -> (doc_ids int64,
    tfs uint64, dls uint64, row_start int64).

    ``blocks`` is an Arrow ``binary`` / ``large_binary`` array or chunked
    array of block payloads and ``ns`` their posting counts. Block i's
    postings are ``[row_start[i], row_start[i + 1])`` of the outputs, equal
    to ``decode_block(blocks[i], ns[i])``. Every payload ends on a value
    boundary, so the rows' bytes concatenated decode to their value
    streams concatenated: one vectorized pass, then a gather splits each
    block's 3n values into its gap, tf and dl runs, and a segmented cumsum
    restarts each block's delta chain (uint64 arithmetic wraps mod 2^64,
    so subtracting the running sum at the block start is exact)."""
    chunks = blocks.chunks if isinstance(blocks, pa.ChunkedArray) else [blocks]
    ns = np.asarray(ns, dtype=np.int64)
    if sum(len(c) for c in chunks) != len(ns):
        raise ValueError(f"{len(ns)} posting counts for {len(blocks)} blocks")
    parts = [_payload_bytes(c) for c in chunks] or [np.empty(0, np.uint8)]
    vals = varbyte_decode(parts[0] if len(parts) == 1 else np.concatenate(parts))
    row_start = np.concatenate(([0], np.cumsum(ns))).astype(np.int64)
    total = int(row_start[-1])
    if len(vals) != 3 * total:
        raise ValueError(
            f"block payloads hold {len(vals)} values, expected 3 x {total}"
        )
    row = np.repeat(np.arange(len(ns)), ns)
    n_of = ns[row]
    at = 2 * row_start[:-1][row] + np.arange(total)  # 3 * start + within
    gaps = vals[at]
    cs = np.cumsum(gaps, dtype=np.uint64)
    base = np.concatenate(([np.uint64(0)], cs))[row_start[:-1]]
    u = cs - np.repeat(base, ns)
    return (u ^ _SIGN).astype(np.int64), vals[at + n_of], vals[at + 2 * n_of], row_start


def with_shard(tf_dl: DataFrame, n_shards: int) -> DataFrame:
    """Attach the document-pure salt column."""
    return tf_dl.withColumn(
        "shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_shards)).cast("int")
    )


def _ranges_to_indices(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate [s, s+len) integer ranges into one index array — the
    vectorized scatter map for per-block byte segments (no Python loop)."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    block_of = np.repeat(np.arange(len(starts)), lens)
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return np.arange(total, dtype=np.int64) - offs[block_of] + starts[block_of]


def _pack_arrays(
    term_ids: np.ndarray,
    shards: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int,
):
    """Vectorized whole-partition block packer over raw NumPy columns; the
    partition is lexsorted HERE on int64 keys — no JVM sortWithinPartitions,
    no string factorize (term strings never enter the posting pipeline; see
    pack_postings). One varbyte pass per stream for ALL blocks; per-block
    stats via ufunc.reduceat; the per-block payload column is assembled as
    ONE buffer + offsets and returned as an Arrow RecordBatch — zero
    per-block Python objects (the previous pandas kernel built a Python
    bytes object per block: at 4M-row pack tasks that loop plus the
    pandas<->Arrow round trip dominated the whole build's profile)."""
    from geometric_aware_retrieval_v2_spark.functions.varbyte import (
        varbyte_encode_with_lengths,
    )

    n = len(term_ids)
    order = np.lexsort((docs, shards, term_ids))
    term_ids = term_ids[order]
    shards = shards[order]
    docs = docs[order]
    tfs = tfs[order]
    dls = dls[order]

    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    new_group[1:] = (term_ids[1:] != term_ids[:-1]) | (shards[1:] != shards[:-1])
    gidx = np.cumsum(new_group) - 1
    group_start = np.nonzero(new_group)[0]
    within = np.arange(n) - group_start[gidx]
    new_block = new_group | (within % block_size == 0)
    bstart = np.nonzero(new_block)[0]
    bend = np.append(bstart[1:], n)

    u = docs.astype(np.uint64) ^ _SIGN
    gaps = np.empty_like(u)
    gaps[0] = u[0]
    np.subtract(u[1:], u[:-1], out=gaps[1:])
    gaps[bstart] = u[bstart]  # each block restarts its delta chain

    g_bytes, g_len = varbyte_encode_with_lengths(gaps)
    t_bytes, t_len = varbyte_encode_with_lengths(tfs)
    d_bytes, d_len = varbyte_encode_with_lengths(dls)
    g_off = np.concatenate(([0], np.cumsum(g_len)))
    t_off = np.concatenate(([0], np.cumsum(t_len)))
    d_off = np.concatenate(([0], np.cumsum(d_len)))

    block_id = within[bstart] // block_size

    # per-block payload = g-segment + t-segment + d-segment, assembled by
    # three vectorized scatters into one output buffer (each stream is
    # already in block order, so its source is the whole encoded stream)
    g_blk = (g_off[bend] - g_off[bstart]).astype(np.int64)
    t_blk = (t_off[bend] - t_off[bstart]).astype(np.int64)
    d_blk = (d_off[bend] - d_off[bstart]).astype(np.int64)
    blk_len = g_blk + t_blk + d_blk
    out_off = np.concatenate(([0], np.cumsum(blk_len)))
    total = int(out_off[-1])
    if total >= 2**31:  # Arrow binary offsets are int32; pack_width bounds
        raise ValueError(
            f"pack task payload {total} bytes exceeds 2GiB — widen the pack "
            "shuffle (pack_width) before packing"
        )
    out = np.empty(total, dtype=np.uint8)
    dest_g = out_off[:-1]
    dest_t = dest_g + g_blk
    dest_d = dest_t + t_blk
    out[_ranges_to_indices(dest_g, g_blk)] = np.frombuffer(g_bytes, np.uint8)
    out[_ranges_to_indices(dest_t, t_blk)] = np.frombuffer(t_bytes, np.uint8)
    out[_ranges_to_indices(dest_d, d_blk)] = np.frombuffer(d_bytes, np.uint8)

    offsets = out_off.astype(np.int32)
    payload = pa.Array.from_buffers(
        pa.binary(), len(bstart),
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(out.tobytes())],
        null_count=0,
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(term_ids[bstart], type=pa.int64()),
            pa.array(shards[bstart].astype(np.int32), type=pa.int32()),
            pa.array(block_id.astype(np.int32), type=pa.int32()),
            pa.array(docs[bstart], type=pa.int64()),
            pa.array(docs[bend - 1], type=pa.int64()),
            pa.array((bend - bstart).astype(np.int32), type=pa.int32()),
            pa.array(np.maximum.reduceat(tfs, bstart).astype(np.int32),
                     type=pa.int32()),
            pa.array(np.minimum.reduceat(dls, bstart).astype(np.int32),
                     type=pa.int32()),
            payload,
        ],
        names=["term_id", "shard", "block_id", "first_doc", "last_doc",
               "n", "max_tf", "min_dl", "bytes"],
    )


def pack_postings(
    tf_dl: DataFrame,
    n_shards: int,
    block_size: int = BLOCK_SIZE_DEFAULT,
    n_tasks: int | None = None,
) -> DataFrame:
    """(doc_id, term_id, tf, dl)[ + shard] -> compressed block rows.

    Postings are keyed by ``term_id = xxhash64(term)`` — an 8-byte int
    instead of the term string. Strings never enter the posting shuffle,
    the NumPy sort, or the postings parquet: rows are ~30% smaller through
    the heaviest shuffle of the build, the lexsort runs on int64 keys, and
    query-time scan pruning pushes int min/max row-group stats instead of
    string comparisons. Collision odds are ~v^2/2^65 (~1e-7 at 5M vocab),
    and the build VERIFIES this: the merge stage compares countDistinct(term)
    against the dictionary's term_id count and fails the build on any
    collision (index._check_vocab). Design note: if a corpus ever trips the
    gate, the key widens to two hash columns with the pipeline shape
    unchanged — a config change, not implemented until needed.

    Physical plan: ONE shuffle (repartition on the salted (term_id, shard)
    key) + a vectorized ``mapInArrow`` pass. Grouping via repartition
    instead of groupBy().applyInPandas avoids per-group Arrow/pandas
    overhead — with vocab-scale group counts (millions of terms) per-group
    UDF dispatch dominates otherwise.

    ``n_tasks`` bounds the per-task buffer: callers that know (an
    upper bound on) the input row count pass ``pack_width(n_rows, ...)``;
    with ``None`` the session-default shuffle width is used — fine for
    tests/small frames, NOT for production builds (the buffer then grows
    linearly with corpus size). build_index always passes it (sized from the
    partition's sum(doc_len), a free upper bound on posting rows).
    """
    if "shard" not in tf_dl.columns:
        tf_dl = with_shard(tf_dl, n_shards)

    # ONE shuffle, NO JVM sort: the kernel lexsorts in NumPy
    if n_tasks is not None:
        df = tf_dl.repartition(n_tasks, "term_id", "shard")
    else:
        df = tf_dl.repartition("term_id", "shard")

    def pack(batches):
        # buffer the partition (groups must be complete before packing) as
        # plain NumPy columns straight off the Arrow batches — no pandas
        # concat on the way in, no per-block Python bytes on the way out
        cols: dict[str, list[np.ndarray]] = {
            "term_id": [], "shard": [], "doc_id": [], "tf": [], "dl": []
        }
        for rb in batches:
            if rb.num_rows == 0:
                continue
            for name in cols:
                cols[name].append(
                    rb.column(rb.schema.get_field_index(name))
                    .to_numpy(zero_copy_only=False)
                )
        if not cols["term_id"]:
            return
        cat = {k: (np.concatenate(v) if len(v) > 1 else v[0])
               for k, v in cols.items()}
        yield _pack_arrays(
            cat["term_id"].astype(np.int64, copy=False),
            cat["shard"],
            cat["doc_id"].astype(np.int64, copy=False),
            cat["tf"].astype(np.uint64, copy=False),
            cat["dl"].astype(np.uint64, copy=False),
            block_size,
        )

    return df.mapInArrow(pack, schema=POSTINGS_SCHEMA)


def unpack_postings(postings: DataFrame) -> DataFrame:
    """Inverse of pack: block rows -> (term_id, shard, doc_id, tf, dl).

    Arrow-batched (``mapInArrow``, one ``decode_blocks`` pass per batch),
    used by segment merge and by tests for the lossless round-trip
    invariant.
    """

    def unpack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                continue
            ns = rb.column("n").to_numpy().astype(np.int64)
            d, t, l, _ = decode_blocks(rb.column("bytes"), ns)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(rb.column("term_id").to_numpy(), ns)),
                    pa.array(np.repeat(rb.column("shard").to_numpy(), ns).astype(np.int32)),
                    pa.array(d),
                    pa.array(t.astype(np.int64)),
                    pa.array(l.astype(np.int64)),
                ],
                names=["term_id", "shard", "doc_id", "tf", "dl"],
            )

    return postings.select("term_id", "shard", "n", "bytes").mapInArrow(
        unpack, schema="term_id long, shard int, doc_id long, tf long, dl long"
    )


def merge_segments(
    segments: DataFrame,
    n_shards: int,
    block_size: int = BLOCK_SIZE_DEFAULT,
    compact: bool = False,
) -> DataFrame:
    """Distributed segment merge (SURVEY.md B6): consolidate per-build-
    partition segment block rows into the final postings table.

    Two modes, mirroring production engines' logical-vs-physical merge split:

    * ``compact=False`` (default, logical merge / deferred compaction):
      build partitions hold DISJOINT document sets, so per-(term, shard)
      blocks from different segments contain disjoint docIDs — the union of
      segment block rows is already a correct postings table: the WAND
      kernel accumulates per-doc scores across blocks with no cross-block
      order requirement, block-max bounds stay per-block-tight (ordinal
      locality holds within each segment), and the dictionary's df = sum(n)
      is unchanged. Cost: a parallel columnar copy — no decode, no shuffle
      of raw postings. Overhead vs compacted: delta gaps ~log128(P) extra
      bytes and up to min(P, df) block rows per rare term.

    * ``compact=True`` (physical merge): decode -> reshuffle on
      (term, shard) -> re-pack into doc-sorted non-overlapping blocks. This
      is the right call when the segment count P is large (rare-term block
      fragmentation) — build_index switches to it automatically — or as a
      background compaction job. Block rows are compressed (~25 bytes/
      posting payload), so the scan is explicitly re-spread before decoding
      lest maxPartitionBytes collapse it to one task.
    """
    spark = segments.sparkSession
    n_tasks = max(spark.sparkContext.defaultParallelism, 8)
    if not compact:
        # hash-cluster on (term, shard) + in-partition sort so every term's
        # blocks land contiguously in one output file — parquet row-group
        # stats then prune term-IN scans as tightly as the compacted layout.
        # (JVM sort spills; no data-sized width needed on this path.)
        return segments.repartition(n_tasks, "term_id", "shard").sortWithinPartitions(
            "term_id", "shard", "first_doc"
        )
    # compact re-pack buffers per task (pack_postings): size the width from
    # the actual posting count — one cheap agg over the block-row `n` column
    # (metadata only, payload bytes not read)
    n_post = segments.agg(F.sum("n")).collect()[0][0] or 0
    width = pack_width(int(n_post), spark.sparkContext.defaultParallelism)
    spread = segments.repartition(max(n_tasks, width))
    return pack_postings(
        unpack_postings(spread), n_shards=n_shards, block_size=block_size, n_tasks=width
    )
