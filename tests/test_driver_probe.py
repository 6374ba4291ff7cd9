"""Driver-side probe twins (round 6 session 2): the interactive query path
computes (term, term_id) on the driver — pure-Python tokenizer + XXH64 —
instead of a per-query Catalyst parse+fold round trip. These twins may only
ship while they are BIT-IDENTICAL to the JVM expressions they replace; the
fuzz here is the gate.
"""

from __future__ import annotations

import random
import string

import pytest
from pyspark.sql import functions as F

from geometric_aware_retrieval_v2_spark.functions.tokenizer import (
    TOKENIZER_MODES,
    _terms_col,
    py_terms,
)
from geometric_aware_retrieval_v2_spark.functions.xxh64 import xxh64_str
from geometric_aware_retrieval_v2_spark.localrel import local_queries_df

# exotic corners: Java-vs-Python \s divergence chars (\x1c-\x1f, \x85, \xa0,
# unicode spaces), camel chains, acronym runs, underscores, digits, non-ascii
_ALPHABET = (
    string.ascii_letters + string.digits + "_ \t\n\x0b\f\r"
    + "\x1c\x1d\x1e\x1f\x85\xa0  　"
    + "éΔ中ß\U0001F600"
)

_HAND_CASES = [
    "",
    " ",
    "\x1c\x1d",          # Python-\s-only whitespace: must NOT split in ws mode
    "a\x85b \xa0 c",
    "parseHTTPServer my_var2 x",
    "XMLHttpRequest getElementById __dunder__ ABCDef",
    "aB aBC aBCd A1b2C3 _x_ 9to5 42",
    "tab\tnl\nvt\x0bff\x0ccr\rsp done",
    "ütf öken ÄB",       # non-ascii letters: not in the ASCII classes
    "x" * 300,
]


# query texts a local_queries_df frame must carry to the JVM unchanged
_FRAME_TEXTS = [
    "it's beta",
    'say "alpha"',
    "back\\slash beta",
    "line\nbreak\r\nalpha",
    "ütf Δ中 \U0001F600 beta",
    "",
    None,
]


def _rand_strings(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        k = rng.randint(0, 60)
        out.append("".join(rng.choice(_ALPHABET) for _ in range(k)))
    return out


def test_xxh64_matches_spark(spark):
    # cover every tail-length class (mod 32 / mod 8 / mod 4) + long inputs
    cases = (
        ["", "a", "ab", "abc"]
        + ["q" * n for n in range(1, 40)]
        + ["z" * 1000, "é中\U0001F600" * 50]
        + _rand_strings(200, seed=7)
    )
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    jvm = [r.h for r in df.select(F.xxhash64("s").alias("h")).collect()]
    py = [xxh64_str(c) for c in cases]
    assert py == jvm


@pytest.mark.parametrize("mode", TOKENIZER_MODES)
def test_py_terms_matches_jvm(spark, mode):
    cases = _HAND_CASES + _rand_strings(150, seed=11 + len(mode))
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "qid long, text string"
    )
    jvm_rows = df.select(
        "qid", F.coalesce(_terms_col("text", mode), F.array()).alias("terms")
    ).collect()
    jvm = {r.qid: [t for t in r.terms if t != ""] for r in jvm_rows}
    for i, c in enumerate(cases):
        assert py_terms(c, mode) == jvm[i], f"mode={mode} case={c!r}"
    assert py_terms(None, mode) == []


def test_interactive_trip_python_probe_matches_catalyst(spark, tmp_path):
    """The probe's (qid, term_id) pairs from the Python twins must equal the
    Catalyst explode+hash over the same frame (the shape the pre-twin probe
    evaluated), on a real index handle including OOV filtering."""
    from geometric_aware_retrieval_v2_spark.operators import index as ix
    from geometric_aware_retrieval_v2_spark.operators.index import (
        IndexHandle,
        build_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta Gamma_delta"), (2, "beta beta parseHTTPServer")],
        "doc_id long, content string",
    )
    d = str(tmp_path / "probe_idx")
    build_index(spark, docs, d, n_partitions=2, n_shards=2, block_size=8,
                tokenizer_mode="code2")
    h = IndexHandle(spark, d)

    batch = [(7, "beta Gamma_delta parseHTTPServer nosuchterm"),
             (8, None), (9, ""), (10, "alpha alpha beta")]
    batch += [(20 + i, t) for i, t in enumerate(_FRAME_TEXTS)]
    batch += [(7, "alpha"), (20, "parseHTTPServer")]  # duplicate qids
    q = local_queries_df(spark, batch)
    trip = ix._interactive_trip(h, q)
    assert trip is not ix._BULK

    ref_pairs = sorted(
        {
            (r.qid, r.term_id)
            for r in q.select(
                "qid", F.explode(_terms_col("text", "code2")).alias("term")
            )
            .filter(F.col("term") != "")
            .select("qid", F.xxhash64("term").alias("term_id"))
            .collect()
        }
    )
    dfs = {
        r.term_id: r.df
        for r in h.dictionary.select("term_id", "df").collect()
    }
    want = [(q_, t) for q_, t in ref_pairs if dfs.get(t, 0) > 0]
    assert [(t[0], t[1]) for t in trip] == want
    assert all(t[2] == dfs[t[1]] for t in trip)


def test_local_queries_df_contract(spark):
    """local_queries_df round-trips every row exactly — quotes, backslash,
    newlines, non-ASCII, empty and null text, a null qid, duplicate qids —
    as a LocalTableScan whose collect() schedules no Spark job."""
    rows = [(i, t) for i, t in enumerate(_FRAME_TEXTS)] + [
        (None, "null qid"),
        (3, "duplicate qid"),
    ]
    q = local_queries_df(spark, rows)
    assert q.schema.simpleString() == "struct<qid:bigint,text:string>"
    assert "LocalTableScan" in q._jdf.queryExecution().executedPlan().toString()
    sc = spark.sparkContext
    sc.setJobGroup("local_queries", "local_queries")
    try:
        got = [(r.qid, r.text) for r in q.collect()]
        jobs = sc.statusTracker().getJobIdsForGroup("local_queries") or []
    finally:
        sc.setJobGroup(None, None)
    assert got == rows and jobs == []
    assert local_queries_df(spark, []).collect() == []
