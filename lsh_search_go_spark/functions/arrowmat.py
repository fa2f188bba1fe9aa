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
and refuse ragged or null-carrying input, where a flat reshape would
misalign.  :func:`collect_matrix` applies the same reshape to
driver-side collects, so the driver never boxes one vector per row either.

Every consumer feeds the IDENTICAL float64 matrix to the same numpy kernels
the previous pandas path used, so results are bit-identical — this module
changes the physique of the Python boundary, never the math.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyarrow import compute as pc


def matrix_from_column(col, dtype=np.float64) -> np.ndarray:
    """Arrow List/LargeList/FixedSizeList column → (n, d) ndarray via one
    flat-buffer reshape.

    A null vector, a null element or ragged widths raise ``ValueError``
    naming the defect and the first bad row: a null element read as NaN
    would silently drop that neighbour from a top-k, and the other defects
    have no (n, d) shape at all."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    t = col.type
    if not (pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)):
        raise ValueError(f"vector column has type {t}, not a list of numbers")
    if col.null_count:
        raise ValueError(f"null vector at row {_first(col.is_null())}")
    if pa.types.is_fixed_size_list(t):
        width = t.list_size
    elif n == 0:
        return np.zeros((0, 0), dtype=dtype)
    else:
        widths = np.diff(np.asarray(col.offsets))
        bad = int((widths != widths[0]).argmax())
        if bad:
            raise ValueError(f"ragged vectors: row {bad} has {widths[bad]} "
                             f"elements, row 0 has {widths[0]}")
        width = int(widths[0])
    vals = col.flatten()           # offset-aware view of the values buffer
    if vals.null_count:
        raise ValueError(f"null element in the vector at row "
                         f"{_first(vals.is_null()) // width}")
    flat = np.asarray(vals)
    if flat.dtype != dtype:
        flat = flat.astype(dtype)
    return flat.reshape(n, width)


def _first(mask) -> int:
    """Index of the first true entry of an Arrow boolean array."""
    return int(np.asarray(mask).argmax())


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
