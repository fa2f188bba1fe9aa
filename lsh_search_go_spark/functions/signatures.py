"""Fused signature computation: ONE Arrow UDF for the pipeline hot path.

Chaining separate pandas UDFs (shingles → minhash → simhash) looks modular
but Spark nests the upstream UDF into each downstream one —
``ArrowEvalPython [udf(content), udf(udf(content)), udf(udf(content))]`` —
re-running shingling once per consumer (measured 3× the work and 3× the
Arrow traffic).  The pipeline therefore computes text →
(shingles, minhash, bands, simhash) in a single fused UDF; the composable
per-step functions in shingles.py / hashing.py / simhash.py remain the
oracle-gated and unit-tested definitions this fused kernel must match
(tests/test_signatures.py::test_fused_matches_composed).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lsh_search_go_spark.config import DedupConfig
from lsh_search_go_spark.functions import hashing as H
from lsh_search_go_spark.functions.simhash import simhash_segments_np

SIG_STRUCT = T.StructType([
    T.StructField("shingles", T.ArrayType(T.LongType())),
    T.StructField("minhash", T.ArrayType(T.LongType())),
    T.StructField("bands", T.ArrayType(T.LongType())),
    T.StructField("simhash", T.ArrayType(T.LongType())),
    T.StructField("norm_text", T.StringType()),
    T.StructField("first_sh", T.LongType()),
    T.StructField("last_sh", T.LongType()),
])


# Java/RE2 \s — the separator class of the SQL backend and the DuckDB
# oracle.  Python's \s additionally matches \x1c-\x1f and Unicode spaces;
# using it here would make tokenization depend on which backend (or which
# Arrow batch, via the non-ASCII fallback routing) processed a document.
_WS_CLASS = "[ \\t\\n\\x0b\\f\\r]"
_WS_CHARS = " \t\n\x0b\f\r"


def _normalize_series(texts: pd.Series, cfg: DedupConfig) -> pd.Series:
    """Normalized, single-space-joined token stream per doc — all C-level
    pandas string kernels, no per-token Python objects."""
    s = texts.fillna("")
    if cfg.strip_comments:
        s = s.str.replace(r"#[^\n]*", " ", regex=True)
    if cfg.lowercase:
        s = s.str.lower()
    return s.str.replace(_WS_CLASS + "+", " ", regex=True).str.strip(_WS_CHARS)


def _tokenize_batch(texts: pd.Series, cfg: DedupConfig):
    """Normalization + tokenization + token hashing, byte-vectorized END TO
    END — comment masking, lowercasing, whitespace splitting and the
    normalized-text reconstruction are all numpy passes over one byte buffer
    (r1 round left normalization to pandas C regex, which was the largest
    non-tileable share of the signature stage and capped multi-core scaling).

    Semantics identical to the SQL ``tokens_expr`` + char poly31: optional
    ``#``-to-end-of-line comment removal, optional lowercase, tokens are
    maximal non-``\\s`` runs, each token's hash folds its CODEPOINTS.  The
    fast path requires ASCII (codepoint == byte); any non-ASCII character
    falls back to the object path via :func:`_normalize_series`.

    Returns (norm: pd.Series[str], counts, flat_hashes, starts) where
    flat_hashes/starts describe the per-doc token-hash segments and ``norm``
    is the single-space-joined token stream (the substring pass input).
    """
    s = texts.fillna("")
    ndocs = len(s)
    joined = "".join(s.tolist())
    try:
        buf = joined.encode("ascii")
    except UnicodeEncodeError:
        return _tokenize_batch_fallback(s, cfg)

    arr = np.frombuffer(buf, dtype=np.uint8).copy()
    n = arr.shape[0]
    doc_lens = s.str.len().to_numpy(dtype=np.int64)
    doc_ends = np.cumsum(doc_lens)
    doc_starts = doc_ends - doc_lens
    empty_out = (pd.Series([""] * ndocs, index=s.index),
                 np.zeros(ndocs, dtype=np.int64),
                 np.zeros(0, dtype=np.int64),
                 np.zeros(ndocs, dtype=np.int64))
    if n == 0:
        return empty_out
    if cfg.lowercase:
        up = (arr >= 65) & (arr <= 90)
        arr[up] += 32
    is_ws = (arr == 32) | ((arr >= 9) & (arr <= 13))   # \s = [ \t\n\x0B\f\r]
    sep = is_ws
    if cfg.strip_comments:
        # '#' kills bytes up to (not incl.) the next '\n' within the same doc:
        # a byte is dead iff the latest '#' at-or-before it is newer than both
        # the latest newline and its doc's start.
        idx = np.arange(n, dtype=np.int64)
        lh = np.maximum.accumulate(np.where(arr == 35, idx, -1))
        lnl = np.maximum.accumulate(np.where(arr == 10, idx, -1))
        doc_start_of = np.repeat(doc_starts, doc_lens)
        killed = (lh >= 0) & (lh > lnl) & (lh >= doc_start_of)
        sep = sep | killed
    # token starts: non-sep byte whose predecessor is a sep — or a doc start
    # (tokens never span the concatenation boundary between two documents)
    prev_sep = np.empty_like(sep)
    prev_sep[0] = True
    prev_sep[1:] = sep[:-1]
    tok_start = (~sep) & prev_sep
    ds_valid = doc_starts[doc_starts < n]
    tok_start[ds_valid] |= ~sep[ds_valid]
    tstarts = np.flatnonzero(tok_start)
    ntok = tstarts.shape[0]
    if ntok == 0:
        return empty_out
    # token ends: first separator after the start, clamped to the doc end
    seps = np.flatnonzero(sep)
    if seps.size:
        next_sep = np.searchsorted(seps, tstarts)
        send = np.where(next_sep < seps.size,
                        seps[np.minimum(next_sep, seps.size - 1)], n)
    else:
        send = np.full(ntok, n, dtype=np.int64)
    doc_of_tok = np.searchsorted(doc_ends, tstarts, side="right")
    tends = np.minimum(send, doc_ends[doc_of_tok])
    tlens = tends - tstarts
    counts = np.bincount(doc_of_tok, minlength=ndocs).astype(np.int64)
    starts = np.zeros(ndocs, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    # poly31 over token bytes: position loop bounded by the longest token
    # (tried length-sorted prefix slices and length-grouped dense gathers;
    # the plain boolean-mask loop measures fastest — gathers stay in the
    # source byte order, best cache locality).
    h = np.zeros(ntok, dtype=np.int64)
    a64 = arr.astype(np.int64)
    for pos in range(int(tlens.max())):
        active = tlens > pos
        h[active] = (h[active] * 31 + a64[tstarts[active] + pos]) % H.P
    # normalized text: tokens re-joined with single spaces, one ragged
    # gather — no per-token Python.  Output layout: per doc, tokens
    # separated by one space (buffer pre-filled with spaces).
    tok_cum = np.zeros(ntok, dtype=np.int64)
    np.cumsum(tlens[:-1], out=tok_cum[1:])              # flat char offset per token
    total_chars = int(tlens.sum())
    # output start of each token: chars of earlier tokens + one space per
    # earlier token, both *within the doc*
    doc_chars = np.zeros(ndocs, dtype=np.int64)
    np.add.at(doc_chars, doc_of_tok, tlens)
    out_doc_len = doc_chars + np.maximum(counts - 1, 0)
    out_doc_start = np.zeros(ndocs, dtype=np.int64)
    np.cumsum(out_doc_len[:-1], out=out_doc_start[1:])
    tok_index_in_doc = np.arange(ntok, dtype=np.int64) - starts[doc_of_tok]
    chars_before_tok = tok_cum - tok_cum[starts[doc_of_tok]]
    tok_out_start = (out_doc_start[doc_of_tok] + chars_before_tok
                     + tok_index_in_doc)                 # + one space per prior token
    within = np.arange(total_chars, dtype=np.int64) - np.repeat(tok_cum, tlens)
    src = np.repeat(tstarts, tlens) + within
    dst = np.repeat(tok_out_start, tlens) + within
    out_buf = np.full(int(out_doc_len.sum()), 32, dtype=np.uint8)
    out_buf[dst] = arr[src]
    out_str = out_buf.tobytes().decode("ascii")
    out_ends = out_doc_start + out_doc_len
    norm = pd.Series([out_str[a:b] for a, b in zip(out_doc_start, out_ends)],
                     index=s.index)
    return norm, counts, h, starts


def _tokenize_batch_fallback(s: pd.Series, cfg: DedupConfig):
    """Object-path tokenizer for non-ASCII batches (codepoint != byte):
    pandas regex normalization + per-token poly31 via the UTF-32 numpy hash."""
    norm = _normalize_series(s, cfg)
    tok_lists = norm.str.split(" ")
    empty = norm == ""
    if empty.any():
        tok_lists = tok_lists.where(
            ~empty, other=pd.Series([[]] * int(empty.sum()),
                                    index=tok_lists.index[empty]))
    counts = tok_lists.str.len().to_numpy(dtype=np.int64)
    flat = pd.Series([t for xs in tok_lists for t in xs], dtype=object)
    flat_hashes = H.poly31_np(flat)
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return norm, counts, flat_hashes, starts


def _batch_shingles(flat_hashes: np.ndarray, counts: np.ndarray,
                    starts: np.ndarray, k: int):
    """Whole-batch k-shingling: sliding-window combine over the flat token
    hashes with doc-boundary masking, then per-doc distinct+sort via ONE
    lexsort — no per-document Python loop.

    Returns (sh_flat, sh_counts, first_sh, last_sh): segment-encoded DISTINCT
    SORTED shingle hashes plus each doc's first/last positional shingle (−1
    when the doc has fewer than k tokens)."""
    ndocs = counts.shape[0]
    total = int(counts.sum())
    first_sh = np.full(ndocs, -1, dtype=np.int64)
    last_sh = np.full(ndocs, -1, dtype=np.int64)
    if total < k:
        return (np.zeros(0, dtype=np.int64), np.zeros(ndocs, dtype=np.int64),
                first_sh, last_sh)
    win = H.windowed_combine_np(flat_hashes, k)          # (total-k+1,)
    doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), counts)
    valid = doc_of[: total - k + 1] == doc_of[k - 1:]    # window within one doc
    wdoc = doc_of[: total - k + 1][valid]
    whash = win[valid]
    # first/last positional shingle per doc (window at starts[d] / end)
    has = counts >= k
    first_sh[has] = win[starts[has]]
    last_sh[has] = win[starts[has] + counts[has] - k]
    # distinct+sort per doc: one lexsort over (doc, hash), then boundary dedup
    order = np.lexsort((whash, wdoc))
    sd, sh = wdoc[order], whash[order]
    keep = np.empty(sd.shape[0], dtype=bool)
    if sd.shape[0]:
        keep[0] = True
        keep[1:] = (sd[1:] != sd[:-1]) | (sh[1:] != sh[:-1])
    sd, sh_flat = sd[keep], sh[keep]
    sh_counts = np.bincount(sd, minlength=ndocs).astype(np.int64)
    return sh_flat, sh_counts, first_sh, last_sh


def with_signatures_fused(df: DataFrame, cfg: DedupConfig,
                          content_col: str | None = None,
                          rebalance: bool = True) -> DataFrame:
    """Adds shingles/minhash/bands/simhash + the substring-pass inputs
    (norm_text, first/last shingle keys) in one Arrow pass over content.

    ``rebalance``: guard against a degenerate input layout (guide §2.5 —
    e.g. a single-file corpus read as one non-empty partition, which would
    run the whole fused kernel on one core).  The pipeline disables it
    because its ingest stage has just hash-repartitioned the source."""
    content_col = content_col or cfg.content_col
    if rebalance:
        from lsh_search_go_spark.functions import layout

        df, _ = layout.plan(df, "signatures", key_col=cfg.id_col)
    a, b = cfg.minhash_params
    an = np.asarray(a, dtype=np.int64)
    bn = np.asarray(b, dtype=np.int64)
    num_bands, rows_per_band = cfg.num_bands, cfg.rows_per_band
    k = cfg.shingle_k

    @F.pandas_udf(SIG_STRUCT)
    def udf(texts: pd.Series) -> pd.DataFrame:
        norm, counts, flat_hashes, starts = _tokenize_batch(texts, cfg)
        n = len(counts)
        sh_flat, sh_counts, first_sh, last_sh = _batch_shingles(
            flat_hashes, counts, starts, k)
        sigs = H.minhash_segments_np(sh_flat, sh_counts, an, bn)
        bands = H.banded_batch_np(sigs, num_bands, rows_per_band)
        simw = simhash_segments_np(sh_flat, sh_counts, cfg)
        bounds = np.cumsum(sh_counts)[:-1]
        sh_lists = [x.tolist() for x in np.split(sh_flat, bounds)]
        return pd.DataFrame({
            "shingles": sh_lists,
            "minhash": list(sigs.tolist()),
            "bands": list(bands.tolist()),
            "simhash": list(simw.tolist()),
            "norm_text": norm,
            "first_sh": first_sh,
            "last_sh": last_sh,
        })

    tmp = df.withColumn("__sig", udf(F.col(content_col)))
    out = tmp
    for c in ("shingles", "minhash", "bands", "simhash",
              "norm_text", "first_sh", "last_sh"):
        out = out.withColumn(c, F.col(f"__sig.{c}"))
    return out.drop("__sig")
