"""The three workloads: ``search``, ``flagship`` and ``ingest``.

Each is a closed loop with one client. ``setup`` warms the JVM with
untimed queries, then opens and caches the workload's index several times,
clearing Spark's cache in between; ``op`` is one timed operation;
``batches`` times the workload's batch leg; ``verify`` checks every query
the run issued against the exact reference, untimed, after the loop.
``search`` and ``ingest`` draw their queries from their corpus's query
pool, whose reference rows were computed with the fixtures. The
engine is a black box: only public module functions are called.
BENCHMARK.json times ``search`` and ``ingest``; ``flagship`` runs inside
traced ``search`` runs (see README.md).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from geometric_aware_retrieval_v2_spark.localrel import local_queries_df
from geometric_aware_retrieval_v2_spark.operators import bm25
from geometric_aware_retrieval_v2_spark.operators.index import (
    IndexHandle,
    bm25_topk_indexed,
    build_index,
    wand_block_stats,
)
from geometric_aware_retrieval_v2_spark.operators.pipelines import (
    bm25_geodesic,
    bm25_geodesic_indexed,
)
from geometric_aware_retrieval_v2_spark.operators.rerank import (
    cosine_topk,
    geodesic_rerank,
)
from geometric_aware_retrieval_v2_spark.plans.manifest import read_manifest
from geometric_aware_retrieval_v2_spark.queryset import QUERY_SET

from perfbench import check, fixtures
from perfbench.queries import TEMPLATES, QueryGen, QueryPool
from perfbench.spans import NullTracer, OpRecord, Tracer

SETUP_REPEATS = 3
# the first batch in a run is the slowest: a median of three leaves it out
BATCH_REPEATS = 3
# bench.py's batch leg has 20 queries. Over seven seeds a 20-query batch
# took 0.66-1.00 s while the single-query median stayed at 0.78-0.84 s in
# six of them: the batch time follows which terms the seed draws, and 100
# queries average more draws
BATCH_SEARCH = 100
FLAGSHIP_TRACE_OPS = 3
BATCH_SMALL = 256  # at the interactive qid cap: the sliced route
BATCH_BULK = 1024  # past the cap: the grouped route with the distributed tail
BUILD_STAGES = ("docstats", "docmap", "segments", "merge")
INDEX_PARTS = ("postings", "dictionary", "docmap")
SPARK_FIELDS = ("stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "result_bytes",
                "shuffle_write_bytes", "spill_bytes")


@dataclass
class OpResult:
    latency: float
    queries: list[tuple[int, str]]  # (qid as issued, text)
    rows: list[tuple] = field(default_factory=list)
    error: str | None = None


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _timed(res: OpResult, t0: float, fn) -> OpResult:
    """Run ``fn`` -> rows; an engine error fails the op, not the run."""
    try:
        res.rows = fn()
    except Exception as e:
        res.error = repr(e)
    res.latency = time.monotonic() - t0
    return res


class Workload:
    fixture = ""
    op_kind = ""
    # untraced loops stop on a multiple of this many ops, so every run
    # times the same mix of query shapes
    cycle = len(TEMPLATES)
    # untimed warm-up queries: the first query in a fresh JVM takes about
    # four times as long as the next ones, which then hold steady
    warm_queries = 2
    # queries come from the fixture's query pool (reference precomputed)
    pooled = False

    def __init__(self, spark, seed: int, run_dir, tracer: NullTracer | Tracer):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.tr = tracer
        self.null = NullTracer()
        # the first run in a checkout makes every fixture, so that no later
        # run, whatever its workload, pays for one
        self.root = {n: fixtures.ensure(spark, n) for n in fixtures.NAMES}[self.fixture]
        if self.pooled:
            texts, self.pool_ref = fixtures.read_pool(self.root)
            self.gen: QueryGen | QueryPool = QueryPool(texts, seed)
        else:
            self.gen = QueryGen(fixtures.read_vocab(self.root / "vocab.tsv"), seed)
        self.results: list[OpResult] = []
        self.batch_results: list[OpResult] = []
        self.handle: IndexHandle | None = None
        self.setup_times: list[float] = []
        self.decoded: list[tuple[int, int]] = []  # (blocks seen, decoded)

    # ------------------------------------------------------------- set-up
    def setup_index(self) -> str:
        return str(self.root / "index")

    def setup(self) -> None:
        """An untimed warm-up pass (open, cache, one query) for the JVM and
        the Python workers, then SETUP_REPEATS timed passes of clearing
        Spark's cache and opening and caching the index."""
        idx = self.setup_index()
        self.handle = IndexHandle(self.spark, idx).cache()
        for _ in range(self.warm_queries):
            self.warm([(0, self.gen.next())])
        for _ in range(SETUP_REPEATS):
            self.spark.catalog.clearCache()
            t0 = time.monotonic()
            with self.tr.op("setup"), self.tr.span("index.cache"):
                self.handle = IndexHandle(self.spark, idx).cache()
            self.setup_times.append(time.monotonic() - t0)

    def warm(self, queries) -> None:
        q = local_queries_df(self.spark, queries)
        bm25_topk_indexed(self.spark, self.handle, q, k=10).collect()

    def cache_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def index_bytes_per_input_byte(self) -> float:
        idx = self.setup_index()
        return sum(_dir_bytes(f"{idx}/{d}") for d in INDEX_PARTS) / fixtures.input_bytes(self.root)

    # ---------------------------------------------------------------- ops
    def op(self, tr, text: str | None = None) -> OpResult:
        raise NotImplementedError

    def traced_pair(self, tr, traced_first: bool) -> tuple[OpResult, OpResult]:
        """Traced runs: one op untraced and the same query traced ->
        (untraced, traced)."""
        a = self.op(tr if traced_first else self.null)
        text = a.queries[0][1] if len(a.queries) == 1 else None
        b = self.op(self.null if traced_first else tr, text=text)
        self.results += [a, b]
        return (b, a) if traced_first else (a, b)

    def batches(self, tr) -> None:
        pass

    def batch_seconds(self) -> float:
        return _median(r.latency for r in self.batch_results)

    def trace_extras(self) -> None:
        """Traced runs only: untimed legs the per-layer metrics need."""

    def wand_stats(self, handle, queries, k) -> None:
        q = local_queries_df(self.spark, queries)
        s = wand_block_stats(self.spark, handle, q, k=k).agg(
            F.sum("n_blocks").alias("b"), F.sum("n_decoded").alias("d")
        ).collect()[0]
        self.decoded.append((int(s.b or 0), int(s.d or 0)))

    # ------------------------------------------------------------ checking
    def reference(self, texts: list[str]) -> dict[str, list[tuple]]:
        """text -> the reference's rows for it, with qid 0."""
        raise NotImplementedError

    def confirm(self, claims: list[tuple]) -> dict:
        """(qid, doc_id) -> reference scores, for ``check.resolve``."""
        return {}

    def verify(self) -> tuple[int, int, list[tuple[str, check.Mismatch]], int]:
        """-> (attempted, failed, [(text, mismatch)], raised). One attempted
        unit is one query answered by one op."""
        done = self.results + self.batch_results
        texts = sorted({t for r in done if r.error is None for _, t in r.queries})
        ref = self.reference(texts) if texts else {}
        attempted = failed = raised = 0
        found: list[tuple[str, check.Mismatch]] = []
        for r in done:
            attempted += len(r.queries)
            if r.error is not None:
                failed += len(r.queries)
                raised += 1
                continue
            got = check.by_qid(r.rows)
            for qid, text in r.queries:
                want = [(qid, *row[1:]) for row in ref[text]]
                m = check.diff_query(qid, got.get(qid, []), want)
                if m is not None:
                    failed += 1
                    found.append((text, m))
        claims = [(c, t) for t, m in found for c in m.claims]
        if claims:
            confirmed = self.confirm(claims)
            for t, m in found:
                check.resolve(m, {(c[0], c[1]): confirmed.get((c, t)) for c in m.claims})
        return attempted, failed, found, raised

    # ---------------------------------------------------------- per-layer
    def layer_metrics(self, tr: Tracer, lat, traced_lat, failed_frac) -> dict:
        ops = [o for o in tr.ops if o.kind == self.op_kind]
        per_op = {f: _mean(sum(getattr(j, f) for j in o.jobs) for o in ops)
                  for f in SPARK_FIELDS}
        blocks = sum(b for b, _ in self.decoded)
        m = {
            "localrel.queries_df_ms": (_median(tr.span_ms("localrel.queries_df", o) for o in ops), "ms"),
            "index.topk_call_ms": (_median(tr.span_ms("index.topk_call", o) for o in ops), "ms"),
            "index.collect_ms": (_median(tr.span_ms("index.collect", o) for o in ops), "ms"),
            "index.cache_ms": (_median(s.end * 1e3 - s.start * 1e3
                                       for s in tr.spans if s.name == "index.cache"), "ms"),
            "index.wand_decoded_frac": (
                sum(d for _, d in self.decoded) / blocks if blocks else 0.0, "frac"),
            "spark.jobs_per_op": (_mean(len(o.jobs) for o in ops), "count"),
            "spark.stages_per_op": (per_op["stages"], "count"),
            "spark.tasks_per_op": (per_op["tasks"], "count"),
            "spark.executor_run_ms_per_op": (per_op["run_ms"], "ms"),
            "spark.executor_cpu_ms_per_op": (per_op["cpu_ms"], "ms"),
            "spark.gc_ms_per_op": (per_op["gc_ms"], "ms"),
            "spark.result_bytes_per_op": (per_op["result_bytes"], "bytes"),
            "spark.shuffle_write_bytes_per_op": (per_op["shuffle_write_bytes"], "bytes"),
            "spark.driver_ms_per_op": (_median(o.driver_ms() for o in ops), "ms"),
            "failed_frac": (failed_frac, "frac"),
            "trace.overhead_ms": (1e3 * (_median(traced_lat) - _median(lat)), "ms"),
        }
        for name, unit in LAYER_ONLY:
            m.setdefault(name, (0.0, unit))
        m.update(self.own_layers(tr, ops))
        return m

    def own_layers(self, tr: Tracer, ops: list[OpRecord]) -> dict:
        return {}


# metrics only some workloads exercise; the others report 0 for them (no
# time was spent in that layer)
LAYER_ONLY = (
    [("index.candidates_ms", "ms"), ("pipelines.flagship_ms", "ms"),
     ("flagship.jobs_per_op", "count"), ("flagship.stages_per_op", "count"),
     ("flagship.tasks_per_op", "count"), ("flagship.driver_ms_per_op", "ms"),
     ("pipelines.batch20_ms", "ms"), ("rerank.share", "frac"),
     ("rerank.cosine_topk_ms", "ms"), ("rerank.geodesic_rerank_ms", "ms"),
     ("build.files_per_s", "1/s")]
    + [(f"build.{s}_ms", "ms") for s in BUILD_STAGES]
    + [("build.jobs", "count"), ("build.tasks", "count"), ("build.executor_run_ms", "ms"),
       ("build.gc_ms", "ms"), ("build.shuffle_write_bytes", "bytes"),
       ("build.spill_bytes", "bytes")]
    + [(f"build.{p}_bytes", "bytes") for p in INDEX_PARTS]
    + [(f"{b}.{x}", u) for b in ("batch100", "batch256", "bulk1024")
       for x, u in (("call_ms", "ms"), ("collect_ms", "ms"), ("jobs", "count"),
                    ("stages", "count"), ("shuffle_write_bytes", "bytes"), ("qps", "1/s"))]
)


def _batch_layers(tr: Tracer, ops: list[OpRecord], name: str, n_queries: int) -> dict:
    jobs = [tr.span_jobs(f"{name}.call", o) + tr.span_jobs(f"{name}.collect", o) for o in ops]
    call = _median(tr.span_ms(f"{name}.call", o) for o in ops)
    collect = _median(tr.span_ms(f"{name}.collect", o) for o in ops)
    return {
        f"{name}.call_ms": (call, "ms"),
        f"{name}.collect_ms": (collect, "ms"),
        f"{name}.jobs": (_mean(len(js) for js in jobs), "count"),
        f"{name}.stages": (_mean(sum(j.stages for j in js) for js in jobs), "count"),
        f"{name}.shuffle_write_bytes": (
            _mean(sum(j.shuffle_write_bytes for j in js) for js in jobs), "bytes"),
        f"{name}.qps": (n_queries / ((call + collect) / 1e3) if call + collect else 0.0, "1/s"),
    }


class _TopkReference:
    """``bm25.bm25_topk`` over the materialized ``tokenize_terms`` /
    ``doc_stats`` frames of the same corpus (code tokenizer). Every query
    comes from the pool, which was scored when the fixtures were made;
    ``confirm`` re-scores claimed doc_ids here."""

    pooled = True

    def _frames(self):
        return (self.spark.read.parquet(str(self.root / "tf")),
                self.spark.read.parquet(str(self.root / "dstats")))

    def reference(self, texts):
        return {t: self.pool_ref[t] for t in texts}

    def _query_tf(self, tf, q):
        """The tf rows of the queries' terms, which are all that bm25 reads.
        The fixture's term order lets the filter skip the rest of the frame."""
        terms = [r.term for r in bm25.query_terms(q, mode=fixtures.CODE_MODE)
                 .select("term").distinct().collect()]
        return tf.filter(F.col("term").isin(terms))

    def confirm(self, claims):
        tf, ds = self._frames()
        texts = sorted({t for _, t in claims})
        tid = {t: i for i, t in enumerate(texts)}
        docs = sorted({c[1] for c, _ in claims})
        q = local_queries_df(self.spark, list(enumerate(texts)))
        scores = bm25.bm25_scores(
            self._query_tf(tf, q), ds, q, query_mode=fixtures.CODE_MODE,
        ).filter(F.col("doc_id").isin(docs)).select(
            "qid", "doc_id", F.round("score", bm25.SCORE_DECIMALS).alias("score")
        )
        got = {(r.qid, r.doc_id): (r.score,) for r in scores.collect()}
        return {(c, t): got.get((tid[t], c[1])) for c, t in claims}


def _topk_rows(rows) -> list[tuple]:
    return [(r.qid, r.rank, r.doc_id, r.score) for r in rows]


class Search(_TopkReference, Workload):
    """Single-query WAND top-10 over the cached 50k-file index; the batch
    leg is 100 seeded queries in one call."""

    fixture = op_kind = "search"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.batch = self.gen.batch(BATCH_SEARCH, first_qid=1_000_001)
        self.flagship: Flagship | None = None

    def op(self, tr, text=None) -> OpResult:
        qid = len(self.results) + 1
        res = OpResult(0.0, [(qid, text or self.gen.next())])
        return _timed(res, time.monotonic(), lambda: self._topk(
            tr, "search", res.queries, "index.topk_call", "index.collect"))

    def _topk(self, tr, kind, queries, call_span, collect_span):
        with tr.op(kind):
            with tr.span("localrel.queries_df"):
                q = local_queries_df(self.spark, queries)
            with tr.span(call_span):
                df = bm25_topk_indexed(self.spark, self.handle, q, k=10)
            with tr.span(collect_span):
                return _topk_rows(df.collect())

    def batches(self, tr) -> None:
        for _ in range(BATCH_REPEATS):
            res = OpResult(0.0, self.batch)
            self.batch_results.append(_timed(res, time.monotonic(), lambda: self._topk(
                tr, "batch100", self.batch, "batch100.call", "batch100.collect")))

    def trace_extras(self) -> None:
        queries = sorted({q for r in self.results for q in r.queries})
        self.wand_stats(self.handle, queries, 10)
        # the flagship legs ride this traced run: flagship is not a timed
        # workload of its own (see README.md)
        self.flagship = Flagship(self.spark, self.seed, self.run_dir, self.tr)
        self.flagship.setup()
        for _ in range(FLAGSHIP_TRACE_OPS):
            self.flagship.results.append(self.flagship.op(self.tr))
        self.flagship.batches(self.tr)
        self.flagship.trace_extras()

    def verify(self):
        attempted, failed, found, raised = super().verify()
        if self.flagship is not None:
            a, f, fo, r = self.flagship.verify()
            attempted, failed, found, raised = attempted + a, failed + f, found + fo, raised + r
        return attempted, failed, found, raised

    def own_layers(self, tr, ops) -> dict:
        m = _batch_layers(tr, [o for o in tr.ops if o.kind == "batch100"],
                          "batch100", BATCH_SEARCH)
        if self.flagship is not None:
            m.update(self.flagship.own_layers(tr, ops))
        return m


def _flagship_rows(rows) -> list[tuple]:
    return [(r.qid, r.rank, r.doc_id, r.bm25, r.geo_dist) for r in rows]


class Flagship(Workload):
    """Single-query ``bm25_geodesic_indexed(k=10, search_k=100)`` over the
    documents index; the batch leg is the 20-query QUERY_SET."""

    fixture = op_kind = "flagship"
    warm_queries = 2  # runs inside traced search runs, whose JVM is warm

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.emb = self.spark.read.parquet(str(self.root / "embeddings.parquet"))
        self.docs = self.spark.read.parquet(str(self.root / "documents.parquet")).selectExpr(
            "doc_id", "text AS content", "lang")

    def warm(self, queries) -> None:
        q = local_queries_df(self.spark, queries)
        bm25_geodesic_indexed(self.spark, self.handle, self.emb, q, k=10, search_k=100).collect()

    def _flagship(self, tr, kind, queries) -> list[tuple]:
        with tr.op(kind):
            with tr.span("localrel.queries_df"):
                q = local_queries_df(self.spark, queries)
            with tr.span("pipelines.flagship"):
                return _flagship_rows(bm25_geodesic_indexed(
                    self.spark, self.handle, self.emb, q, k=10, search_k=100
                ).collect())

    def op(self, tr, text=None) -> OpResult:
        qid = len(self.results) + 1
        res = OpResult(0.0, [(qid, text or self.gen.next())])
        return _timed(res, time.monotonic(), lambda: self._flagship(tr, "flagship", res.queries))

    def batches(self, tr) -> None:
        for i in range(BATCH_REPEATS):
            # QUERY_SET qids are 1..20: shift them clear of the single ops
            qs = [(1_000_000 * (i + 1) + q, t) for q, t in QUERY_SET]
            res = OpResult(0.0, qs)
            self.batch_results.append(_timed(
                res, time.monotonic(), lambda: self._flagship(tr, "flagship_batch20", qs)))

    def trace_extras(self) -> None:
        """The candidate stage alone (bm25_topk_indexed, k=100) over the
        same single queries, and bench.py's leg-3 cosine -> geodesic chain."""
        queries = sorted({q for r in self.results for q in r.queries})
        for q in queries:
            with self.tr.op("candidates"), self.tr.span("index.candidates"):
                bm25_topk_indexed(self.spark, self.handle,
                                  local_queries_df(self.spark, [q]), k=100).collect()
        self.wand_stats(self.handle, queries, 100)
        qvecs = self.emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").cast("array<double>").alias("qvec"),
        )
        for _ in range(2):
            with self.tr.op("rerank_chain"):
                with self.tr.span("rerank.cosine_topk"):
                    hits = cosine_topk(self.emb, qvecs, k=100)
                with self.tr.span("rerank.geodesic_rerank"):
                    cands = (
                        hits.select("qid", "doc_id")
                        .join(self.emb.withColumnRenamed("vec_id", "doc_id"), "doc_id")
                        .join(qvecs, "qid")
                        .select("qid", "doc_id", "embedding", "qvec")
                    )
                    geodesic_rerank(cands, k=10, connect_k=10, knn_k=10).collect()

    def own_layers(self, tr, ops) -> dict:
        def med(kind, name):
            return _median(tr.span_ms(name, o) for o in tr.ops if o.kind == kind)

        flag = med("flagship", "pipelines.flagship")
        cand = med("candidates", "index.candidates")
        fops = [o for o in tr.ops if o.kind == "flagship"]
        return {
            "flagship.jobs_per_op": (_mean(len(o.jobs) for o in fops), "count"),
            "flagship.stages_per_op": (_mean(sum(j.stages for j in o.jobs) for o in fops), "count"),
            "flagship.tasks_per_op": (_mean(sum(j.tasks for j in o.jobs) for o in fops), "count"),
            "flagship.driver_ms_per_op": (_median(o.driver_ms() for o in fops), "ms"),
            "pipelines.flagship_ms": (flag, "ms"),
            "pipelines.batch20_ms": (med("flagship_batch20", "pipelines.flagship"), "ms"),
            "index.candidates_ms": (cand, "ms"),
            "rerank.share": (1.0 - cand / flag if flag else 0.0, "frac"),
            "rerank.cosine_topk_ms": (med("rerank_chain", "rerank.cosine_topk"), "ms"),
            "rerank.geodesic_rerank_ms": (med("rerank_chain", "rerank.geodesic_rerank"), "ms"),
        }

    def reference(self, texts):
        q = local_queries_df(self.spark, list(enumerate(texts)))
        rows = bm25_geodesic(
            self.spark, self.docs, self.emb, q, k=10, search_k=100,
            tokenizer_mode=fixtures.DOCS_MODE,
        ).collect()
        out: dict[str, list[tuple]] = {t: [] for t in texts}
        for r in rows:
            out[texts[r.qid]].append((0, r.rank, r.doc_id, r.bm25, r.geo_dist))
        return out


class Ingest(_TopkReference, Workload):
    """Per op: a fresh build from the corpus parquet, open + cache, then a
    256-query batch against it. Set-up opens and caches the fixture's
    prebuilt index of the same corpus and warms the query path, so an
    untraced run's one op is the first build in its process, as for a
    one-shot ingest job. Traced runs then run a 1024-query batch once,
    against the last op's index.

    The 1024-query batch (the bulk route) is not in the timed op: at
    12-26 s it would push an ingest run past its share of the
    benchmark's time budget (see README.md)."""

    fixture = op_kind = "ingest"
    cycle = 1  # every op issues the same batch
    warm_queries = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.corpus = self.spark.read.parquet(str(self.root / "corpus"))
        self.small = self.gen.batch(BATCH_SMALL, first_qid=1)
        self.bulk = self.gen.batch(BATCH_BULK, first_qid=1 + BATCH_SMALL)
        self.small_times: list[float] = []
        self.cache_sizes: list[float] = []
        self.manifests: list[dict[str, float]] = []
        self.layout: list[dict[str, int]] = []
        self.last: tuple[str, IndexHandle] | None = None

    def index_bytes_per_input_byte(self) -> float:
        # the full-corpus index the ops build
        return _median(sum(s.values()) for s in self.layout) / fixtures.input_bytes(self.root)

    def batch_seconds(self) -> float:
        return _median(self.small_times)

    def batches(self, tr) -> None:
        """Untraced runs repeat the op's 256-query batch on the last op's
        index, so that ``batch_s`` is a median over BATCH_REPEATS batches."""
        if tr.enabled or self.last is None:
            return
        handle = self.last[1]
        for _ in range(BATCH_REPEATS - 1):
            res = _timed(OpResult(0.0, self.small), time.monotonic(),
                         lambda: self._batch(tr, "batch256", handle, self.small))
            self.batch_results.append(res)
            self.small_times.append(res.latency)

    def cache_mb(self) -> float:
        return _median(self.cache_sizes)

    def _drop_last(self) -> None:
        # untimed: the previous op's (or the set-up's) cached handle and
        # index go before the next op, so cache_mb counts only one index
        self.spark.catalog.clearCache()
        if self.last is not None:
            shutil.rmtree(self.last[0], ignore_errors=True)
            self.last = None

    def _batch(self, tr, name, handle, batch) -> list:
        with tr.span(name):
            with tr.span("localrel.queries_df"):
                q = local_queries_df(self.spark, batch)
            with tr.span(f"{name}.call"):
                df = bm25_topk_indexed(self.spark, handle, q, k=10)
            with tr.span(f"{name}.collect"):
                return _topk_rows(df.collect())

    def op(self, tr, text=None) -> OpResult:
        self._drop_last()
        idx = str(self.run_dir / f"index-{len(self.results)}")
        res = OpResult(0.0, self.small)
        opened: list[IndexHandle] = []

        def run():
            with tr.op("ingest"):
                with tr.span("build"):
                    build_index(self.spark, self.corpus, idx,
                                tokenizer_mode=fixtures.CODE_MODE, **fixtures.BUILD_ARGS)
                with tr.span("index.cache"):
                    opened.append(IndexHandle(self.spark, idx).cache())
                t0 = time.monotonic()
                rows = self._batch(tr, "batch256", opened[0], self.small)
                self.small_times.append(time.monotonic() - t0)
            return rows

        _timed(res, time.monotonic(), run)
        if opened:
            self.last = (idx, opened[0])
        if res.error is None:
            self.cache_sizes.append(Workload.cache_mb(self))
            self.layout.append({d: _dir_bytes(f"{idx}/{d}") for d in INDEX_PARTS})
            if tr.enabled:
                self.wand_stats(opened[0], self.small, 10)
                stages: dict[str, float] = {}
                for r in read_manifest(self.spark, idx).collect():
                    stages[r.stage] = stages.get(r.stage, 0.0) + r.wall_ms
                self.manifests.append(stages)
        return res

    def traced_pair(self, tr, traced_first: bool) -> tuple[OpResult, OpResult]:
        """One traced op, the first build in the process as in untraced
        runs; then its 256-query batch untraced and traced, for the
        overhead (a second build would be warm, so the ops themselves
        cannot be paired)."""
        if not self.results:
            self.results.append(self.op(tr))
        if self.last is None:
            return self.results[0], self.results[0]
        handle = self.last[1]

        def batch(t) -> OpResult:
            def run():
                with t.op("batch256_pair"):
                    return self._batch(t, "batch256", handle, self.small)
            return _timed(OpResult(0.0, self.small), time.monotonic(), run)

        a = batch(tr if traced_first else self.null)
        b = batch(self.null if traced_first else tr)
        self.batch_results += [a, b]
        return (b, a) if traced_first else (a, b)

    def trace_extras(self) -> None:
        if self.last is None:
            return
        res = OpResult(0.0, self.bulk)

        def run():
            with self.tr.op("bulk1024"):
                return self._batch(self.tr, "bulk1024", self.last[1], self.bulk)

        self.batch_results.append(_timed(res, time.monotonic(), run))

    def own_layers(self, tr, ops) -> dict:
        build_jobs = [tr.span_jobs("build", o) for o in ops]
        build_ms = _median(tr.span_ms("build", o) for o in ops)
        m = {
            f"build.{s}_ms": (_median(x.get(s, 0.0) for x in self.manifests), "ms")
            for s in BUILD_STAGES
        }
        m.update({
            "build.files_per_s": (fixtures.INGEST_FILES / (build_ms / 1e3) if build_ms else 0.0, "1/s"),
            "build.jobs": (_mean(len(js) for js in build_jobs), "count"),
            "build.tasks": (_mean(sum(j.tasks for j in js) for js in build_jobs), "count"),
            "build.executor_run_ms": (_mean(sum(j.run_ms for j in js) for js in build_jobs), "ms"),
            "build.gc_ms": (_mean(sum(j.gc_ms for j in js) for js in build_jobs), "ms"),
            "build.shuffle_write_bytes": (
                _mean(sum(j.shuffle_write_bytes for j in js) for js in build_jobs), "bytes"),
            "build.spill_bytes": (_mean(sum(j.spill_bytes for j in js) for js in build_jobs), "bytes"),
        })
        for p in INDEX_PARTS:
            m[f"build.{p}_bytes"] = (_median(x[p] for x in self.layout), "bytes")
        m.update(_batch_layers(tr, ops, "batch256", BATCH_SMALL))
        m.update(_batch_layers(tr, [o for o in tr.ops if o.kind == "bulk1024"],
                               "bulk1024", BATCH_BULK))
        return m


# BENCHMARK.json times search and ingest; flagship stays runnable on its own
WORKLOADS = {"search": Search, "flagship": Flagship, "ingest": Ingest}
