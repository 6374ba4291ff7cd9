"""Tokenization: content -> (doc_id, term, tf) triples + per-doc stats.

Two implementations with identical output (tests assert agreement):

1. ``tokenize_terms`` — pure JVM expressions (``split``/``regexp_extract_all``
   -> ``explode`` -> hash aggregate). Whole-stage-codegen'd end to end; this
   is the default and the 100 TB path: no Python in the loop at all, and the
   map-side partial aggregation of (doc_id, term) counts happens before the
   shuffle.
2. ``tokenize_terms_arrow`` — ``mapInArrow`` emitting the triples directly
   from Arrow batches (the BASELINE.json "vectorized pandas/Arrow UDF
   tokenization" formulation). Token spans come from byte-mask run-length
   operations on the raw string buffer (``_byte_token_spans``) and counting
   is dictionary_encode + one int64 unique — zero per-token Python, and
   batch-local counts are final (one doc = one row), so no shuffle.

Tokenizer modes:
  * ``ws``    — whitespace terms (matches the oracle SQL ``string_split``).
  * ``code``  — identifier/number tokens ``[A-Za-z_][A-Za-z0-9_]*|[0-9]+``,
    lowercased, for the source-code corpus.
  * ``code2`` — ``code`` plus identifier splitting (SURVEY §2b B1's v2):
    camelCase boundaries (``parseHTTPServer`` -> parse http server) and
    snake_case underscores (``my_var2`` -> my var2) become token breaks
    BEFORE extraction. Pure JVM regexp_replace chain — still zero Python in
    the hot path — and bit-reproducible in the DuckDB oracle with the same
    two boundary patterns.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CODE_TOKEN_RE = r"[A-Za-z_][A-Za-z0-9_]*|[0-9]+"
# lower/digit->Upper boundary, then ACRONYMWord ("HTTPServer" -> "HTTP Server")
CAMEL_BOUNDARY_1 = r"([a-z0-9])([A-Z])"
CAMEL_BOUNDARY_2 = r"([A-Z]+)([A-Z][a-z])"

TOKENIZER_MODES = ("ws", "code", "code2")

# ---- driver-side twin of _terms_col (see py_terms) --------------------------
# Java's \s without UNICODE_CHARACTER_CLASS is exactly [ \t\n\x0B\f\r] — the
# ASCII set. Python's \s is the Unicode set (adds \x1c-\x1f, \x85, \xa0, …),
# so the twin spells the Java class out instead of using \s.
_JAVA_WS_RE = re.compile("[ \t\n\x0b\f\r]+")
_CODE_RE = re.compile(CODE_TOKEN_RE)
_CB1_RE = re.compile(CAMEL_BOUNDARY_1)
_CB2_RE = re.compile(CAMEL_BOUNDARY_2)


def py_terms(text: str | None, mode: str) -> list[str]:
    """Driver-side twin of ``_terms_col`` for the interactive query probe
    (operators/index._interactive_trip): identical token list, zero Catalyst
    work. Exactness argument, per mode:

    * ``ws`` — ``F.split(col, r"\\s+")`` is Java ``Pattern.split`` with the
      ASCII ``\\s`` class (spelled out above); empty strings are filtered the
      same way.
    * ``code``/``code2`` — every class in CODE_TOKEN_RE and the camel
      boundary patterns is pure ASCII, where Java and Python regex semantics
      coincide (leftmost, greedy, non-overlapping); extraction therefore
      yields ASCII-only tokens, on which JVM ``lower`` == ``str.lower``.

    Pinned by test_tokenizer.py's py-vs-JVM fuzz (unicode whitespace, camel
    chains, empty/None) — the twin may only ship while that agreement holds.
    """
    if text is None:
        return []
    if mode == "ws":
        return [t for t in _JAVA_WS_RE.split(text) if t != ""]
    if mode in ("code", "code2"):
        s = text
        if mode == "code2":
            s = _CB1_RE.sub(r"\1 \2", s)
            s = _CB2_RE.sub(r"\1 \2", s)
            s = s.replace("_", " ")
        return [m.lower() for m in _CODE_RE.findall(s)]
    raise ValueError(f"unknown tokenizer mode: {mode}")


def boundary_split_col(content: Column) -> Column:
    """Insert spaces at camelCase boundaries and replace underscores, so the
    plain ``code`` extraction then yields subtokens."""
    c = F.regexp_replace(content, CAMEL_BOUNDARY_1, r"$1 $2")
    c = F.regexp_replace(c, CAMEL_BOUNDARY_2, r"$1 $2")
    return F.regexp_replace(c, "_", " ")


def _terms_col(content_col: str, mode: str):
    if mode == "ws":
        return F.filter(F.split(F.col(content_col), r"\s+"), lambda x: x != "")
    if mode in ("code", "code2"):
        src = F.col(content_col)
        if mode == "code2":
            src = boundary_split_col(src)
        return F.transform(
            F.regexp_extract_all(src, F.lit(CODE_TOKEN_RE), 0),
            lambda x: F.lower(x),
        )
    raise ValueError(f"unknown tokenizer mode: {mode}")


def tokenize_terms(docs: DataFrame, content_col: str = "content", mode: str = "ws") -> DataFrame:
    """docs -> (doc_id, term, tf). JVM-only: codegen'd split/explode, then a
    hash aggregate whose partial (map-side) phase combines before the shuffle
    on doc_id+term."""
    return (
        docs.select("doc_id", F.explode(_terms_col(content_col, mode)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


# ---- byte-level vectorized tokenizer (build hot path) -----------------------
# Every character class in the three modes is pure ASCII, and no ASCII byte
# ever appears inside a multi-byte UTF-8 sequence, so classifying RAW UTF-8
# BYTES with 256-entry lookup tables is exactly equivalent to classifying
# codepoints: multi-byte characters read as "not a token char" in code modes
# (the regex treats them as separators) and "not whitespace" in ws mode (the
# Java \s class is the 6 ASCII bytes spelled out in _JAVA_WS_RE). Token
# extraction therefore reduces to run-length operations on boolean masks —
# zero per-token Python — and the packed term bytes are ONE boolean gather
# of the buffer (every token byte belongs to exactly one token).

def _lut(chars: str) -> np.ndarray:
    t = np.zeros(256, dtype=bool)
    for c in chars:
        t[ord(c)] = True
    return t


_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
_ASCII_UPPER = _ASCII_LOWER.upper()
_DIGITS = "0123456789"
_LUT_IDENT = _lut(_ASCII_LOWER + _ASCII_UPPER + _DIGITS + "_")
_LUT_DIGIT = _lut(_DIGITS)
_LUT_UPPER = _lut(_ASCII_UPPER)
_LUT_LOWDIG = _lut(_ASCII_LOWER + _DIGITS)  # CAMEL_BOUNDARY_1 left class
_LUT_AZLOW = _lut(_ASCII_LOWER)  # CAMEL_BOUNDARY_2 trailing class
_LUT_WS = _lut(" \t\n\x0b\f\r")  # Java \s (see _JAVA_WS_RE)
_LOWER_MAP = np.arange(256, dtype=np.uint8)
_LOWER_MAP[ord("A") : ord("Z") + 1] += 32


def _byte_token_spans(
    data: np.ndarray, off: np.ndarray, mode: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Token spans over a packed UTF-8 buffer -> (starts, lengths, tok_mask).

    ``data``: uint8 bytes of all documents back to back; ``off``: int64
    offsets (len n_docs+1, off[i]..off[i+1] = doc i). Emulates, by mode:
      * ws    — maximal runs of non-[ \\t\\n\\x0b\\f\\r] bytes (split + drop
        empties);
      * code  — maximal [A-Za-z0-9_] runs, except a run starting with a
        digit first yields its maximal digit prefix ([0-9]+ alternative)
        and then the remainder as one identifier token;
      * code2 — code, with '_' demoted to a separator and camel boundaries
        ([a-z0-9]->[A-Z]; last upper of an upper run before a lower)
        opening new tokens, exactly where the two sequential
        regexp_replace passes insert spaces (the replacements never
        overlap or interact, so break positions on the ORIGINAL bytes
        coincide with extraction on the replaced string).

    Runs never cross document boundaries (forced breaks at every off[i]).
    Exhaustively fuzz-pinned against the JVM expressions by
    test_tokenizer_modes.test_byte_kernel_fuzz.
    """
    n = len(data)
    empty = (np.empty(0, np.int64), np.empty(0, np.int64), np.zeros(n, bool))
    if n == 0:
        return empty
    if mode == "ws":
        tok = ~_LUT_WS[data]
    else:
        tok = _LUT_IDENT[data].copy()
        if mode == "code2":
            tok &= data != ord("_")
    if not tok.any():
        return empty
    prev = np.empty_like(tok)
    prev[0] = False
    prev[1:] = tok[:-1]
    starts_mask = tok & ~prev
    db = off[1:-1]
    db = db[(db > 0) & (db < n)]
    if len(db):
        starts_mask[db] |= tok[db]  # force run breaks at doc boundaries
    if mode == "code2":
        cam = np.zeros_like(tok)
        # boundary 1 reads data[p-1]: across a doc boundary p IS a forced
        # start already, so a cross-doc false positive is absorbed
        cam[1:] = _LUT_LOWDIG[data[:-1]] & _LUT_UPPER[data[1:]]
        if n >= 3:
            b2 = np.zeros_like(tok)
            b2[1:-1] = (
                _LUT_UPPER[data[:-2]]
                & _LUT_UPPER[data[1:-1]]
                & _LUT_AZLOW[data[2:]]
            )
            if len(db):
                # boundary 2 reads data[p+1]: at p = doc_end-1 that byte
                # belongs to the NEXT document — no break there
                b2[db - 1] = False
            cam |= b2
        starts_mask |= cam  # both classes are token chars, tok implied
    rs = np.nonzero(starts_mask)[0]
    if mode != "ws":
        # [0-9]+ alternative: a run starting with a digit first yields its
        # digit prefix, then the remainder (first non-digit) opens a token.
        # The first non-digit of such a run is always a digit->non-digit
        # transition (every byte before it is a digit), so only the sparse
        # transition positions need checking — no per-byte scan per run
        dig_first = np.nonzero(_LUT_DIGIT[data[rs]])[0]
        if len(dig_first):
            dig = _LUT_DIGIT[data]
            trans = np.zeros_like(tok)
            trans[1:] = tok[1:] & ~dig[1:] & dig[:-1]
            tp = np.nonzero(trans)[0]
            if len(tp):
                # first transition at/after each digit-start run's start...
                ti = np.searchsorted(tp, rs[dig_first], side="left")
                run_end = np.empty(len(rs) + 1, np.int64)
                run_end[:-1] = rs
                run_end[-1] = n
                ok = ti < len(tp)
                cand = np.where(ok, tp[np.minimum(ti, len(tp) - 1)], n)
                # ...and still inside that run's segment (before next start)
                split = cand[cand < run_end[dig_first + 1]]
                if len(split):
                    starts_mask[split] = True
                    rs = np.sort(np.concatenate([rs, split]))
    nxt = np.empty_like(tok)
    nxt[-1] = False
    nxt[:-1] = tok[1:] & ~starts_mask[1:]
    ends = np.nonzero(tok & ~nxt)[0]
    return rs, ends - rs + 1, tok


def tokenize_terms_arrow(
    docs: DataFrame, content_col: str = "content", mode: str = "ws"
) -> DataFrame:
    """Arrow-batched tokenizer: same (doc_id, term, tf) contract as the JVM
    ``tokenize_terms``, produced with zero per-token Python: token spans come
    from byte-mask run-length operations on the raw Arrow string buffer
    (``_byte_token_spans``), the packed term bytes are one boolean gather
    (re-sliced into an Arrow StringArray — guide §4.2), and (doc, term)
    counting is a C++ ``dictionary_encode`` plus one int64 ``np.unique``
    (no pandas string groupby). Replaces the pandas findall/groupby kernel:
    ~9x the tokenization rate on the synthetic source corpus, identical
    output (test_jvm_equals_arrow + test_byte_kernel_fuzz)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if mode not in TOKENIZER_MODES:
        raise ValueError(f"unknown tokenizer mode: {mode}")
    lower = mode in ("code", "code2")
    # sub-chunk bound on content bytes: caps the transient int64 index array
    # in the digit-prefix reduceat at ~8x this (64 MB), independent of how
    # many rows the Arrow batch holds
    chunk_bytes = 8 * 1024 * 1024

    def run(batches):
        for rb in batches:
            tab = pa.Table.from_batches([rb])
            ids = tab.column("doc_id").to_numpy()
            col = tab.column(content_col).combine_chunks()
            if col.null_count:
                col = pc.fill_null(col, "")  # JVM explode(null) emits no rows
            if pa.types.is_large_string(col.type):
                col = col.cast(pa.string())
            buffers = col.buffers()
            all_off = np.frombuffer(buffers[1], np.int32)[
                col.offset : col.offset + len(col) + 1
            ].astype(np.int64)
            all_data = np.frombuffer(buffers[2], np.uint8)
            r0 = 0
            while r0 < len(col):
                r1 = r0 + 1
                while (
                    r1 < len(col)
                    and all_off[r1 + 1] - all_off[r0] <= chunk_bytes
                ):
                    r1 += 1
                o = all_off[r0 : r1 + 1] - all_off[r0]
                data = all_data[all_off[r0] : all_off[r1]]
                starts, lengths, tokmask = _byte_token_spans(data, o, mode)
                if not len(starts):
                    r0 = r1
                    continue
                vals = data[tokmask]
                if lower:
                    vals = _LOWER_MAP[vals]
                offsets = np.empty(len(starts) + 1, np.int32)
                offsets[0] = 0
                np.cumsum(lengths, out=offsets[1:])
                terms = pa.Array.from_buffers(
                    pa.utf8(),
                    len(starts),
                    [None, pa.py_buffer(offsets.tobytes()),
                     pa.py_buffer(vals.tobytes())],
                )
                doc_idx = np.searchsorted(o, starts, side="right") - 1
                enc = terms.dictionary_encode()
                vocab = enc.dictionary
                tidx = enc.indices.to_numpy().astype(np.int64)
                key = doc_idx.astype(np.int64) * len(vocab) + tidx
                uk, counts = np.unique(key, return_counts=True)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids[r0 + (uk // len(vocab))]),
                        vocab.take(pa.array(uk % len(vocab))),
                        pa.array(counts),
                    ],
                    names=["doc_id", "term", "tf"],
                )
                r0 = r1

    # a document's content is ONE input row, so batch-local (doc_id, term)
    # counts are already final — no shuffle, no second aggregate: this is a
    # purely narrow operator
    return docs.select("doc_id", content_col).mapInArrow(
        run, schema="doc_id long, term string, tf long"
    )


def doc_stats(docs: DataFrame, content_col: str = "content", mode: str = "ws") -> DataFrame:
    """Per-doc projection: doc_len (token count) + content_sha256 (the per-row
    pipeline invariant, BASELINE.json). Pure JVM expressions."""
    return docs.select(
        "doc_id",
        F.size(_terms_col(content_col, mode)).cast("long").alias("doc_len"),
        F.sha2(F.col(content_col), 256).alias("content_sha256"),
    )
