"""Deterministic hash primitives, computable bit-identically in three engines.

The whole pipeline is built on two polynomial hashes over the Mersenne prime
p = 2^31 - 1 and one universal hash family ((a*h + b) mod p):

* ``poly31``   — char-level rolling hash of a token:   h = (h*31 + codepoint) mod p
* ``combine``  — order-sensitive combiner of hash seqs: h = (h*1000003 + v) mod p
  (shingle hash = combine of k token hashes; band hash = combine of r MinHash rows)
* ``uhash_i``  — (a_i * h + b_i) mod p with seeded constants from
  ``DedupConfig.minhash_params`` / ``simhash_params``.

Everything stays strictly below 2^31, so intermediate products stay below
2^62 and fit signed 64-bit integers in Spark SQL (BIGINT), numpy (int64) and
DuckDB (BIGINT) with no overflow and no unsigned types.  This gives the same
buckets/signatures from the JVM codegen path, the Arrow/pandas path and the
DuckDB oracle.

Reference analog: the Go code hashes by walking plane trees
(/root/reference/lsh/hasher.go:38-57); its bucket key is ``{tree}_{hash}``
(/root/reference/lsh/helpers.go:278-280).  We keep (band_id, band_hash) as two
integer columns instead of a concatenated string — joining on two ints beats
string concat at 100 TB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from lsh_search_go_spark.config import MERSENNE31, POLY_CHAR_MULT, POLY_COMBINE_MULT

P = MERSENNE31


# ---------------------------------------------------------------------------
# Spark Column builders (JVM higher-order functions — whole-stage codegen)
# ---------------------------------------------------------------------------

def poly31_char_hash_expr(token_col: str) -> str:
    """SQL fragment: char-level poly31 hash of a single token column/lambda var."""
    return (
        f"aggregate(split({token_col}, ''), cast(0 as bigint), "
        f"(h, c) -> (h * {POLY_CHAR_MULT} + ascii(c)) % {P})"
    )


def combine_hash_expr(arr_sql: str) -> str:
    """SQL fragment: order-sensitive combine of an array<bigint>."""
    return (
        f"aggregate({arr_sql}, cast(0 as bigint), "
        f"(h, v) -> (h * {POLY_COMBINE_MULT} + v) % {P})"
    )


def banded_hashes(sig_col: str, num_bands: int, rows_per_band: int) -> Column:
    """MinHash signature array<bigint>[num_perm] → array<bigint>[num_bands]:
    band j = combine(sig[j*r : j*r+r]).  (reference bucket analog: SetHash per
    tree, /root/reference/store/kv/store.go:64-73)."""
    inner = combine_hash_expr(f"slice({sig_col}, j * {rows_per_band} + 1, {rows_per_band})")
    return F.expr(f"transform(sequence(0, {num_bands - 1}), j -> {inner})")


def params_struct_array(a: tuple[int, ...], b: tuple[int, ...]) -> str:
    """SQL literal: array<struct<a:bigint,b:bigint>> of hash-family params.

    IMPORTANT performance note: referencing ``element_at(<array literal>, i)``
    inside an inner lambda makes Catalyst re-construct the whole literal array
    per evaluation — O(num_perm) per shingle per perm, which turned a 1-second
    job into minutes.  Binding each (a_i, b_i) pair as the *lambda variable*
    of an outer ``transform`` evaluates the literal array once per row."""
    entries = ",".join(
        f"named_struct('a', cast({ai} as bigint), 'b', cast({bi} as bigint))"
        for ai, bi in zip(a, b)
    )
    return f"array({entries})"


def minhash_signature(shingles_col: str, a: tuple[int, ...], b: tuple[int, ...]) -> Column:
    """array<bigint> distinct shingle hashes → array<bigint>[num_perm] MinHash.

    sig_i = min over shingles of (a_i*h + b_i) mod p — all JVM-side; the
    params ride as an array-of-structs literal bound by the outer lambda.
    """
    return F.expr(
        f"transform({params_struct_array(a, b)}, p -> "
        f"array_min(transform({shingles_col}, h -> (p.a * h + p.b) % {P})))"
    )


# ---------------------------------------------------------------------------
# numpy backends (used inside Arrow-batched pandas UDFs; no per-row Python)
# ---------------------------------------------------------------------------

def poly31_np(strings: pd.Series) -> np.ndarray:
    """Vectorized char-level poly31 over a Series of strings (any Unicode).

    The loop is over character *positions* (bounded by max token length), not
    rows — every step is a full-width numpy op.  The buffer is decoded as
    UTF-32 so ``codes`` holds one CODEPOINT per character: offsets derived
    from ``str.len()`` (character counts) stay aligned for non-ASCII input,
    and the folded values match the Spark ``ascii()`` / DuckDB ``unicode()``
    backends, which also fold codepoints.
    """
    s = strings.fillna("")
    lens = s.str.len().to_numpy(dtype=np.int64)
    n = len(s)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    joined = "".join(s.tolist()).encode("utf-32-le", errors="surrogatepass")
    codes = np.frombuffer(joined, dtype=np.uint32).astype(np.int64)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    h = np.zeros(n, dtype=np.int64)
    max_len = int(lens.max()) if n else 0
    for pos in range(max_len):
        active = lens > pos
        h[active] = (h[active] * POLY_CHAR_MULT + codes[offsets[active] + pos]) % P
    return h


def combine_np(mat: np.ndarray) -> np.ndarray:
    """Order-sensitive combine along axis 1 of an (n, k) int64 matrix."""
    h = np.zeros(mat.shape[0], dtype=np.int64)
    for j in range(mat.shape[1]):
        h = (h * POLY_COMBINE_MULT + mat[:, j]) % P
    return h


def windowed_combine_np(hashes: np.ndarray, k: int) -> np.ndarray:
    """1-D int64 hash array → combined k-gram windows (len = n-k+1, or 0)."""
    n = hashes.shape[0]
    if n < k:
        return np.zeros(0, dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(hashes, k)
    return combine_np(np.ascontiguousarray(win))


def minhash_np(shingles: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Distinct shingle hashes (m,) × params (P,) → signature (P,).

    (P, m) broadcast then min over m — one vectorized expression."""
    # a[:, None]*sh: both < 2^31 → product < 2^62, fits int64.
    return ((a[:, None] * shingles[None, :] + b[:, None]) % P).min(axis=1)


def banded_np(sig: np.ndarray, num_bands: int, rows_per_band: int) -> np.ndarray:
    """Signature (num_perm,) → band hashes (num_bands,)."""
    return combine_np(sig.reshape(num_bands, rows_per_band))


# Tile size for the universal-hash kernels, in int64 elements (~384 KB — L2
# resident).  int64 modular arithmetic is memory-bound: untiled, concurrent
# executor tasks saturate DRAM bandwidth on this class of machine and ADD
# cores yields NO throughput (measured: 32 streaming procs < 8 procs total).
# Tiling the flat shingle array so each (multiply, add, mod, reduceat) pass
# runs over an L2-resident chunk measured 2.6× single-core AND restored
# 8→32-core scaling efficiency to ~0.9.
_TILE = 48_000


def _doc_tiles(counts: np.ndarray, tile: int = _TILE):
    """Yield (doc_lo, doc_hi, flat_lo, flat_hi) ranges where each tile's flat
    span is ≤ tile elements (a single oversized doc gets its own tile)."""
    ndocs = counts.shape[0]
    ends = np.cumsum(counts)
    starts = ends - counts
    lo = 0
    while lo < ndocs:
        hi = lo + 1
        while hi < ndocs and ends[hi - 1] - starts[lo] + counts[hi] <= tile:
            hi += 1
        yield lo, hi, int(starts[lo]), int(ends[hi - 1])
        lo = hi


def minhash_batch_np(shingle_lists, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Batch MinHash from per-doc shingle-hash lists (list-of-lists wrapper
    around :func:`minhash_segments_np`)."""
    ndocs = len(shingle_lists)
    counts = np.fromiter((len(x) for x in shingle_lists), dtype=np.int64, count=ndocs)
    if int(counts.sum()) == 0:
        return np.full((ndocs, a.shape[0]), P - 1, dtype=np.int64)
    flat = np.concatenate([np.asarray(x, dtype=np.int64)
                           for x in shingle_lists if len(x)])
    return minhash_segments_np(flat, counts, a, b)


def minhash_segments_np(flat: np.ndarray, counts: np.ndarray,
                        a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Batch MinHash over segment-encoded shingles → (ndocs, P) signatures.
    Tiled + vectorized: documents are processed in groups whose flat shingle
    span fits L2; within a tile, loop over the P permutations with in-place
    ops + one segmented ``np.minimum.reduceat`` each.

    Docs with zero shingles get an all-(P-1) sentinel row (they are filtered
    out before banding by callers; the sentinel keeps shapes rectangular).
    """
    ndocs = counts.shape[0]
    P_count = a.shape[0]
    total = int(counts.sum())
    out = np.full((ndocs, P_count), P - 1, dtype=np.int64)
    if total == 0:
        return out
    starts = np.zeros(ndocs, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    tmp = np.empty(min(total, _TILE * 2), dtype=np.int64)
    for dlo, dhi, flo, fhi in _doc_tiles(counts):
        seg = counts[dlo:dhi]
        mask = seg > 0
        if not mask.any():
            continue
        chunk = flat[flo:fhi]
        local_starts = (starts[dlo:dhi] - flo)[mask]
        t = tmp[: chunk.size] if chunk.size <= tmp.size else np.empty_like(chunk)
        sub = np.empty((int(mask.sum()), P_count), dtype=np.int64)
        for i in range(P_count):
            np.multiply(chunk, a[i], out=t)   # < 2^62, safe in int64
            t += b[i]
            t %= P
            sub[:, i] = np.minimum.reduceat(t, local_starts)
        rows = np.arange(dlo, dhi)[mask]
        out[rows] = sub
    return out


def banded_batch_np(sigs: np.ndarray, num_bands: int, rows_per_band: int) -> np.ndarray:
    """(ndocs, P) signatures → (ndocs, num_bands) band hashes, vectorized."""
    ndocs = sigs.shape[0]
    resh = sigs.reshape(ndocs, num_bands, rows_per_band)
    h = np.zeros((ndocs, num_bands), dtype=np.int64)
    for j in range(rows_per_band):
        h = (h * POLY_COMBINE_MULT + resh[:, :, j]) % P
    return h


# ---------------------------------------------------------------------------
# Spark wrappers for MinHash + bands (backend-selectable)
# ---------------------------------------------------------------------------

def with_minhash_bands(df, cfg, impl: str = "sql", shingles_col: str = "shingles"):
    """Add ``minhash`` and ``bands`` columns.

    impl="sql": JVM higher-order functions.  Bit-identical to the numpy path
    but evaluated *interpreted* (Spark HOFs don't codegen) — right for the
    DuckDB-mirrored gate queries, wrong for the 100 TB hot path.
    impl="pandas": one Arrow-batched UDF, reduceat-vectorized numpy.
    """
    import pandas as pd  # noqa: F811 (already imported at module top)
    from pyspark.sql import types as T

    a, b = cfg.minhash_params
    if impl == "sql":
        return (
            df.withColumn("minhash", minhash_signature(shingles_col, a, b))
            .withColumn("bands", banded_hashes("minhash", cfg.num_bands,
                                               cfg.rows_per_band))
        )
    if impl != "pandas":
        raise ValueError(f"unknown impl {impl!r}")

    an = np.asarray(a, dtype=np.int64)
    bn = np.asarray(b, dtype=np.int64)
    num_bands, rows_per_band = cfg.num_bands, cfg.rows_per_band
    schema = T.StructType([
        T.StructField("minhash", T.ArrayType(T.LongType())),
        T.StructField("bands", T.ArrayType(T.LongType())),
    ])

    @F.pandas_udf(schema)
    def udf(sh: pd.Series) -> pd.DataFrame:
        sigs = minhash_batch_np(sh, an, bn)
        bands = banded_batch_np(sigs, num_bands, rows_per_band)
        return pd.DataFrame({"minhash": list(sigs.tolist()),
                             "bands": list(bands.tolist())})

    tmp = df.withColumn("__mb", udf(F.col(shingles_col)))
    return (
        tmp.withColumn("minhash", F.col("__mb.minhash"))
        .withColumn("bands", F.col("__mb.bands"))
        .drop("__mb")
    )


# ---------------------------------------------------------------------------
# DuckDB SQL fragment builders (the oracle mirrors, 1:1 with the Spark exprs)
# ---------------------------------------------------------------------------

def duck_poly31(token_sql: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split_regex({token_sql}, ''), c -> unicode(c)::BIGINT)), "
        f"(h, c) -> (h * {POLY_CHAR_MULT} + c) % {P})"
    )


def duck_combine(arr_sql: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, {arr_sql}), "
        f"(h, v) -> (h * {POLY_COMBINE_MULT} + v) % {P})"
    )
