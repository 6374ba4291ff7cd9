"""Benchmark inputs, materialized once per checkout and engine version.

Everything lives under ``perfbench/.work`` inside the checkout. The fixed
inputs (the corpora, the search, ingest and flagship indexes, the tf frames
the reference scores, the (term, df) vocabularies the query generator
draws from, and the query pools of the timed workloads with their
reference rows) are written once into ``cache-<key>/``, where ``key``
hashes the engine source and the files that make the fixtures. A changed
engine therefore rebuilds them, and a stale cache is never read. Each run also gets its own
``run-<pid>/`` directory for Spark's local dirs, temp files and the
per-op indexes of ``ingest``; it is removed when the run ends.

The corpora are seed-independent on purpose: the workload seed drives the
queries, so every seed scores against the same index.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = HERE / ".work"
ENGINE = REPO / "geometric_aware_retrieval_v2_spark"

SEARCH_FILES = 50_000
INGEST_FILES = 4_000
CORPUS_SEED = 42
# bench.py's build parameters
BUILD_ARGS = dict(n_partitions=2, n_shards=8, block_size=128)
CODE_MODE = "code"

# sf0.1-shaped documents/embeddings tables (5,000 short docs over a
# 30-term vocabulary plus the rare `dup` marker; 2,000 unit vectors of
# dimension 64 in 10 clusters), generated here because the benchmark reads
# nothing outside its checkout
DOC_TERMS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMB_DIM = 64
DOCS_MODE = "ws"


# the timed workloads draw their queries from a fixed pool per corpus
# (queries.QueryPool), made by QueryGen with this seed; its reference rows
# are computed once, here, instead of in every run. A search run draws
# about 12 queries per shape, an ingest run 128
POOL_SEED = 20_240
POOL_PER_SHAPE = {"search": 64, "ingest": 160}
# queries per reference call while the pool is scored
POOL_CHUNK = 400


def cache_key() -> str:
    """Hash of the engine source and of the files that make the fixtures
    (this one, with every fixture parameter, and the query generator)."""
    h = hashlib.sha256()
    for p in sorted(ENGINE.rglob("*.py")) + [HERE / "fixtures.py", HERE / "queries.py"]:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def run_dir() -> Path:
    """A fresh per-run directory; those of runs that died are removed."""
    for old in WORK.glob("run-*"):
        try:
            os.kill(int(old.name[4:]), 0)
        except ProcessLookupError:
            shutil.rmtree(old, ignore_errors=True)
        except (ValueError, PermissionError):
            pass
    d = WORK / f"run-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def documents_tables() -> tuple["pd.DataFrame", "pd.DataFrame"]:
    """-> (documents, embeddings) pandas frames, a pure function of the
    fixed seed."""
    import pandas as pd

    rng = np.random.default_rng(CORPUS_SEED)
    vocab = np.asarray(DOC_TERMS, dtype=object)
    lens = rng.integers(8, 91, N_DOCUMENTS)
    texts = []
    for n in lens:
        words = list(vocab[rng.integers(0, len(vocab), n)])
        if rng.random() < 0.05:
            words[int(rng.integers(0, n))] = "dup"
        texts.append(" ".join(words))
    langs = np.asarray(["en", "en", "zh", "es", "fr", "de"])
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), N_DOCUMENTS)],
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )
    centers = rng.standard_normal((10, EMB_DIM))
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    vecs = centers[labels] + 0.6 * rng.standard_normal((N_EMBEDDINGS, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": labels.astype(np.int32),
        }
    )
    return docs, emb


def _vocab(spark, tf, index_dir: str) -> list[tuple[str, int]]:
    """(term, df) for every indexed term: term strings from the tf frame,
    df from the built index's public ``dictionary`` (joined on the same
    xxhash64 term key the index uses)."""
    from pyspark.sql import functions as F

    from geometric_aware_retrieval_v2_spark.operators.index import IndexHandle

    dictionary = IndexHandle(spark, index_dir).dictionary
    rows = (
        tf.select("term").distinct()
        .withColumn("term_id", F.xxhash64("term"))
        .join(dictionary, "term_id")
        .select("term", "df")
        .collect()
    )
    return sorted((r.term, int(r.df)) for r in rows)


def _write_vocab(path: Path, vocab: list[tuple[str, int]]) -> None:
    path.write_text("".join(f"{t}\t{df}\n" for t, df in vocab))


def read_vocab(path: Path) -> list[tuple[str, int]]:
    out = []
    for line in path.read_text().splitlines():
        t, df = line.split("\t")
        out.append((t, int(df)))
    return out


def _write_stats(root: Path, input_bytes: int) -> None:
    (root / "stats.json").write_text(json.dumps({"input_bytes": int(input_bytes)}))


def input_bytes(root: Path) -> int:
    """UTF-8 bytes of the fixture's document text."""
    return json.loads((root / "stats.json").read_text())["input_bytes"]


def _pool(spark, root: Path, per_shape: int) -> None:
    """The corpus's query pool and, for each query, the reference's top-10
    rows: ``bm25.bm25_topk`` over the corpus's tf and doc-stats frames."""
    from geometric_aware_retrieval_v2_spark.localrel import local_queries_df
    from geometric_aware_retrieval_v2_spark.operators import bm25

    from perfbench.queries import TEMPLATES, QueryGen

    gen = QueryGen(read_vocab(root / "vocab.tsv"), POOL_SEED)
    texts = [t for _, t in gen.batch(per_shape * len(TEMPLATES))]
    tf = spark.read.parquet(str(root / "tf"))
    ds = spark.read.parquet(str(root / "dstats"))
    distinct = sorted(set(texts))
    rows: dict[str, list] = {t: [] for t in distinct}
    for i in range(0, len(distinct), POOL_CHUNK):
        chunk = distinct[i : i + POOL_CHUNK]
        q = local_queries_df(spark, list(enumerate(chunk)))
        for r in bm25.bm25_topk(tf, ds, q, k=10, query_mode=CODE_MODE).collect():
            rows[chunk[r.qid]].append([r.rank, r.doc_id, r.score])
    with open(root / "pool.jsonl", "w") as f:
        for t in texts:
            f.write(json.dumps({"text": t, "rows": sorted(rows[t])}) + "\n")


def read_pool(root: Path) -> tuple[list[str], dict[str, list[tuple]]]:
    """-> (the pool's texts in pool order, text -> reference rows
    ``(0, rank, doc_id, score)``)."""
    texts, ref = [], {}
    for line in (root / "pool.jsonl").read_text().splitlines():
        e = json.loads(line)
        texts.append(e["text"])
        ref[e["text"]] = [(0, *row) for row in e["rows"]]
    return texts, ref


def _code_corpus(spark, root: Path, n_files: int, per_shape: int) -> None:
    from pyspark.sql import functions as F

    from geometric_aware_retrieval_v2_spark.functions.tokenizer import (
        doc_stats,
        tokenize_terms,
    )
    from geometric_aware_retrieval_v2_spark.operators.index import build_index
    from geometric_aware_retrieval_v2_spark.sources.corpus import (
        corpus_to_docs,
        synth_corpus_files,
    )

    root.mkdir(parents=True)
    corpus_to_docs(
        synth_corpus_files(spark, n_files, seed=CORPUS_SEED, partitions=8)
    ).select("doc_id", "content").write.parquet(str(root / "corpus"))
    corpus = spark.read.parquet(str(root / "corpus"))
    _write_stats(root, corpus.select(F.sum(F.octet_length("content"))).collect()[0][0])
    # in term order, so that a filter on the query terms skips most of the
    # frame (parquet min/max statistics)
    tokenize_terms(corpus, mode=CODE_MODE).repartitionByRange(16, "term").sortWithinPartitions(
        "term").write.parquet(str(root / "tf"))
    doc_stats(corpus, mode=CODE_MODE).write.parquet(str(root / "dstats"))
    build_index(spark, corpus, str(root / "index"),
                tokenizer_mode=CODE_MODE, **BUILD_ARGS)
    _write_vocab(root / "vocab.tsv",
                 _vocab(spark, spark.read.parquet(str(root / "tf")), str(root / "index")))
    _pool(spark, root, per_shape)


def _documents(spark, root: Path) -> None:
    from geometric_aware_retrieval_v2_spark.functions.tokenizer import tokenize_terms
    from geometric_aware_retrieval_v2_spark.operators.index import build_index

    root.mkdir(parents=True)
    docs, emb = documents_tables()
    docs.to_parquet(root / "documents.parquet", index=False)
    emb.to_parquet(root / "embeddings.parquet", index=False)
    _write_stats(root, sum(len(t.encode()) for t in docs["text"]))
    dframe = spark.read.parquet(str(root / "documents.parquet")).selectExpr(
        "doc_id", "text AS content", "lang"
    )
    build_index(spark, dframe, str(root / "index"), tokenizer_mode=DOCS_MODE, **BUILD_ARGS)
    _write_vocab(root / "vocab.tsv",
                 _vocab(spark, tokenize_terms(dframe, mode=DOCS_MODE), str(root / "index")))


NAMES = ("search", "ingest", "flagship")
_MAKERS = {
    "search": lambda spark, root: _code_corpus(
        spark, root, SEARCH_FILES, POOL_PER_SHAPE["search"]),
    "ingest": lambda spark, root: _code_corpus(
        spark, root, INGEST_FILES, POOL_PER_SHAPE["ingest"]),
    "flagship": _documents,
}


def ensure(spark, name: str) -> Path:
    """Path of the materialized fixture for workload ``name``, creating it
    (into a temp dir, renamed into place when complete) on first use."""
    cache = WORK / f"cache-{cache_key()}"
    final = cache / name
    if final.is_dir():
        return final
    if WORK.is_dir():
        for old in WORK.glob("cache-*"):
            if old != cache:
                shutil.rmtree(old, ignore_errors=True)
    tmp = cache / f".tmp-{name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.parent.mkdir(parents=True, exist_ok=True)
    t0 = time.monotonic()
    _MAKERS[name](spark, tmp)
    os.rename(tmp, final)
    print(f"fixture {name}: materialized in {time.monotonic() - t0:.1f} s",
          flush=True)
    return final
