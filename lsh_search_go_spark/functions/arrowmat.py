"""Zero-copy Arrow list-column ↔ numpy matrix helpers for ``mapInArrow``
kernels.

The Arrow→pandas conversion of a ``list<double>`` column materializes one
Python object (a small ndarray) PER ROW before any kernel runs — at 10^6
vectors that object churn dominates the whole stage (measured: the 1M-row
bucket build spent 17 s in a pass whose traversal math is ~3 s).  A list
column in an Arrow record batch is one contiguous values buffer plus an
offsets array (guide §4.2), so a rectangular batch converts to an (n, d)
matrix with a single ``reshape`` over the flat buffer — no per-row work at
all.  These helpers do that conversion (and the reverse take/emit plumbing),
with an explicit fallback for ragged or null-carrying input where a flat
reshape would misalign.  :func:`collect_matrix` applies the same reshape to
driver-side collects, so the driver never boxes one vector per row either.

Every consumer feeds the IDENTICAL float64 matrix to the same numpy kernels
the previous pandas path used, so results are bit-identical — this module
changes the physique of the Python boundary, never the math.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyarrow import compute as pc


def list_to_matrix(col, dtype=np.float64) -> np.ndarray | None:
    """Arrow List/LargeList/FixedSizeList column → (n, d) ndarray via one
    flat-buffer reshape, or ``None`` when rows are ragged or nulls are
    present (callers fall back to :func:`rows_to_matrix`)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if col.null_count:
        return None
    t = col.type
    if pa.types.is_fixed_size_list(t):
        width = t.list_size
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        if n == 0:
            return np.zeros((0, 0), dtype=dtype)
        offs = np.asarray(col.offsets)
        widths = np.diff(offs)
        if not (widths == widths[0]).all():
            return None
        width = int(widths[0])
    else:
        return None
    vals = col.flatten()           # offset-aware view of the values buffer
    if vals.null_count:
        return None
    flat = np.asarray(vals)
    if flat.dtype != dtype:
        flat = flat.astype(dtype)
    if n == 0:
        return np.zeros((0, width), dtype=dtype)
    return flat.reshape(n, width)


def rows_to_matrix(col, dtype=np.float64) -> np.ndarray:
    """Row-wise fallback for ragged/null input — the exact per-row
    conversion the pandas path performed."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return np.array([np.asarray(v, dtype=dtype) for v in col.to_pylist()])


def matrix_from_column(col, dtype=np.float64) -> np.ndarray:
    """Flat-reshape fast path with automatic row-wise fallback."""
    X = list_to_matrix(col, dtype)
    return X if X is not None else rows_to_matrix(col, dtype)


def collect_matrix(df, vec_col: str, id_col: str | None = None):
    """Collect a DataFrame's vector column to the driver through ONE
    ``toArrow()`` transfer → ``(ids, X)``.  ``X`` is the (n, d) float64
    matrix from :func:`matrix_from_column`; ``ids`` is the Arrow id column
    in the same row order, or ``None`` when no ``id_col`` is given."""
    cols = [vec_col] if id_col is None else [id_col, vec_col]
    if df.columns != cols:      # a new projection costs one more schema fetch
        df = df.select(*cols)
    tbl = df.toArrow()
    ids = None if id_col is None else tbl.column(0)
    return ids, matrix_from_column(tbl.column(len(cols) - 1))


def take(col, indices: np.ndarray):
    """Type-preserving gather on an Arrow column (ids stay whatever type the
    caller's schema declares — long, string, ...)."""
    return pc.take(col, pa.array(np.asarray(indices, dtype=np.int64)))


def batch_column(batch: pa.RecordBatch, name: str):
    return batch.column(batch.schema.get_field_index(name))


def map_batches(batches, compute, threaded: bool):
    """Yield ``compute(batch)`` for every non-empty batch of an Arrow-batch
    iterator, in input order.

    ``threaded`` (the ``threads`` decision of :func:`layout.plan`) runs the
    calls on a bounded thread pool.  For a DEGENERATE input layout (guide
    §2.5 — one partition holds the corpus, the other cores idle) this
    recovers parallelism WITHOUT the payload shuffle a repartition costs,
    provided the kernel is numpy BLAS/ufunc work that releases the GIL
    (dgemm, reductions, elementwise ops).  The in-flight window is bounded
    by the worker count so per-batch intermediates (score matrices,
    gathered grams) stay memory-bounded.  Only a degenerate layout may
    enable it — with every sibling task busy the extra threads would
    oversubscribe the box."""
    batches = (b for b in batches if b.num_rows)
    if not threaded:
        yield from map(compute, batches)
        return
    import os
    from collections import deque
    from concurrent.futures import ThreadPoolExecutor

    workers = max(2, min(8, (os.cpu_count() or 2) - 1))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        pending: deque = deque()
        for batch in batches:
            pending.append(pool.submit(compute, batch))
            while len(pending) >= workers:
                yield pending.popleft().result()
        while pending:
            yield pending.popleft().result()


def id_index_lookup(q_ids: list):
    """id → dense row index mapper over a (small, broadcast) id list.

    Integer ids resolve with one vectorized searchsorted; anything else
    falls back to a Python dict (the id list is a query batch — small by
    contract).  Either way an id that is not in ``q_ids`` raises
    ``KeyError`` instead of selecting some other query's row."""
    arr = np.asarray(q_ids)
    if arr.dtype.kind in ("i", "u"):
        sorter = np.argsort(arr, kind="stable")
        sorted_ids = arr[sorter]

        def lookup(ids: np.ndarray) -> np.ndarray:
            ids = np.asarray(ids)
            pos = np.searchsorted(sorted_ids, ids)
            hit = pos < len(sorted_ids)
            hit[hit] = sorted_ids[pos[hit]] == ids[hit]
            if not hit.all():
                raise KeyError(f"ids not in the query list: "
                               f"{ids[~hit][:5].tolist()}")
            return sorter[pos]

        return lookup
    idx = {qid: i for i, qid in enumerate(q_ids)}

    def lookup_obj(ids) -> np.ndarray:
        return np.fromiter((idx[q] for q in ids), dtype=np.int64,
                           count=len(ids))

    return lookup_obj
