"""Reference-parity ANN index: a forest of biased random-hyperplane trees.

Re-realizes the reference's exact model semantics, vectorized:

* plane from a sampled point pair — ``center = (p0+p1)/2``, ``n = p1 - center``,
  ``d = <center, n>`` — a *biased* plane not through the origin
  (/root/reference/lsh/hasher.go:86-98);
* the two sampled points are sorted by ascending L2 norm and normalized iff
  the metric is angular (/root/reference/lsh/hasher.go:100-134);
* tree growth splits on the plane sign, recursing into a side only while it
  holds more than ``k_min_vecs`` points, with depth capped at 63 so the bit
  path fits 64 bits (/root/reference/lsh/hasher.go:136-161);
* a vector's per-tree hash is the root-to-leaf bit path: bit at ``depth`` set
  iff strictly on the negative side, then go left (/root/reference/lsh/hasher.go:38-57);
* queries are normalized iff angular (/root/reference/lsh/hasher.go:197-205);
* multiprobe flips the most-significant set bit of each hash
  (/root/reference/lsh/lsh.go:148-157);
* candidates verified with the exact metric, admitted iff dist <= threshold
  (inclusive, /root/reference/lsh/lsh.go:174-190), top-k by window
  (/root/reference/lsh/lsh.go:22-47, 194-198).

Deliberate departures (documented, SURVEY §7.0): fixed seed instead of
wall-clock (/root/reference/lsh/hasher.go:165 is non-reproducible); no
arrival-order-dependent ``maxCandidates`` early exit — Spark can't early-exit
a join; the deterministic skew guard is a per-bucket cap.

Spark shape: the model is fit driver-side on a corpus *sample* (tiny —
numpy), broadcast once; corpus hashing runs as one ``mapInArrow`` pass doing
one matmul-style traversal step per depth level across the whole batch, and
a query batch is collected and hashed on the driver; buckets and candidate
verification are DataFrame joins.  A small query batch runs in three Spark
jobs: the query collect, a filtered collect of its probed bucket rows
(matched, deduped and capped on the driver, :func:`driver_candidates`) and
a filtered collect of its candidate corpus rows, verified and ranked on
the driver (:func:`_driver_search`).
"""

from __future__ import annotations

import math
import operator
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyarrow import compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lsh_search_go_spark.config import TOL, AnnConfig
from lsh_search_go_spark.functions import arrowmat as AM
from lsh_search_go_spark.functions import layout

# Bump whenever fit()/hash_batch() semantics change in a way that alters the
# produced forest or hashes — cache keys for model-derived oracle relations
# include it, so stale cached buckets/probes can never gate a newer model.
# 2: r4 level-synchronous BFS fit + float32 traversal dots.
# 3: r4 whole-level vectorized plane draws (one rng.random batch per level
#    replaces per-node choice(n, 2) — same distribution, different stream).
MODEL_VERSION = 3


# ---------------------------------------------------------------------------
# Model
# ---------------------------------------------------------------------------

@dataclass
class FlatTree:
    """One hyperplane tree flattened to arrays for vectorized traversal.
    Node 0 is the root; child index -1 = absent (leaf edge)."""
    normals: np.ndarray          # (n_nodes, dims)
    offsets: np.ndarray          # (n_nodes,)
    left: np.ndarray             # (n_nodes,) int32
    right: np.ndarray            # (n_nodes,) int32
    _f32: tuple | None = None    # lazy (normals32, offsets32) traversal cache

    def f32(self) -> tuple[np.ndarray, np.ndarray]:
        """Cached float32 copies of the planes for the hot traversal path —
        derived from the float64 truth on first use, so a save/load roundtrip
        reproduces identical hashes."""
        if self._f32 is None:
            self._f32 = (np.ascontiguousarray(self.normals, dtype=np.float32),
                         self.offsets.astype(np.float32))
        return self._f32


@dataclass
class HasherModel:
    cfg: AnnConfig
    trees: list[FlatTree] = field(default_factory=list)

    def to_dict(self) -> dict:
        return {
            "cfg": vars(self.cfg).copy() if hasattr(self.cfg, "__dict__") else
                   {k: getattr(self.cfg, k) for k in (
                       "n_trees", "k_min_vecs", "dims", "is_angular", "max_depth",
                       "sample_size", "multiprobe", "seed", "batch_candidates_cap")},
            "trees": [
                {"normals": t.normals.tolist(), "offsets": t.offsets.tolist(),
                 "left": t.left.tolist(), "right": t.right.tolist()}
                for t in self.trees
            ],
        }

    @classmethod
    def from_dict(cls, d: dict) -> "HasherModel":
        cfg = AnnConfig(**d["cfg"])
        trees = [
            FlatTree(np.array(t["normals"], dtype=np.float64),
                     np.array(t["offsets"], dtype=np.float64),
                     np.array(t["left"], dtype=np.int32),
                     np.array(t["right"], dtype=np.int32))
            for t in d["trees"]
        ]
        return cls(cfg, trees)


def _normalize(x: np.ndarray) -> np.ndarray:
    """Normalize rows with the reference's tol guard: leave near-zero vectors
    untouched (/root/reference/lsh/helpers.go:13-15 usage)."""
    norms = np.linalg.norm(x, axis=-1, keepdims=True)
    safe = np.where(norms > TOL, norms, 1.0)
    return x / safe


def _plane_from_pair(p0: np.ndarray, p1: np.ndarray) -> tuple[np.ndarray, float]:
    """planeByPoints (/root/reference/lsh/hasher.go:86-98)."""
    center = 0.5 * (p0 + p1)
    n = p1 - center
    d = float(center @ n)
    return n, d


def _grow_tree(vecs64: np.ndarray, vecs32: np.ndarray, cfg: AnnConfig,
               rng: np.random.Generator,
               workspace: tuple | None = None) -> FlatTree:
    """growTree (/root/reference/lsh/hasher.go:136-161), level-synchronous.

    Semantics per node are the reference's exactly: draw two distinct random
    members, build the biased plane through their midpoint, send the strictly
    negative side left, and grow a child only while it holds more than
    ``k_min_vecs`` (and ≥2) points with depth ≤ ``max_depth``.  Two documented
    engineering departures from the r1-r3 recursive builder (forest differs
    bit-wise, distribution identical; recall re-measured in BENCH):

    * nodes are created breadth-first, so the per-tree RNG draws happen in
      level order instead of DFS order — each node still draws a uniformly
      distributed distinct random pair from its own subset (one
      ``rng.random((2, S))`` batch per level + Floyd adjustment, the same
      distribution as per-node ``choice(n, 2, replace=False)`` at a fraction
      of the per-node Python cost);
    * split dots are computed in float32 and only the row-ID permutation is
      physically partitioned: rows are gathered from the shared read-only
      ``vecs32`` in cache-sized chunks for the sign matvec, and the chunk's
      ids are scattered left-forward / right-backward into the sibling id
      buffer (the right run un-reversed in place afterwards, so subset order
      — and therefore the RNG draw stream and the resulting forest — is
      identical to a full row compaction).  Each level therefore streams the
      live rows from DRAM exactly once (the r1-r4 row-buffer compaction
      streamed them three times: split read + compress read + compress
      write) and the per-worker workspace drops from two corpus-sized f32
      buffers to two id vectors + one ~1 MB chunk buffer — which is what
      lets the tree-parallel pool scale past the previous DRAM knee.
      Planes themselves are built and stored in float64 from the original
      rows; only the left/right routing of points lying within f32 eps of a
      random plane could differ from an f64 build, moving leaf occupancy by
      ±O(1) points.
    """
    N = vecs64.shape[0]
    level_normals: list[np.ndarray] = []   # one (n_level_nodes, dims) block per level
    level_offsets: list[np.ndarray] = []
    left: list[int] = []
    right: list[int] = []
    n_nodes = 0
    min_child = max(cfg.k_min_vecs, 1)   # child grows iff side_count > this
    if N >= 2:
        if workspace is None:
            workspace = _fit_workspace(vecs32)
        ids, ids_scratch, chunk_buf = workspace
        chunk = chunk_buf.shape[0]
        ids, ids_scratch = ids[:N], ids_scratch[:N]
        ids[:] = np.arange(N, dtype=np.int64)
        # (parent_node, side 0=left/1=right, start, end) — rows [start, end)
        # of ``ids`` are this pending node's subset, in reference order
        # (regions of dropped siblings leave gaps; children nest in their
        # parent's span so the buffer never overflows)
        pending: list[tuple[int, int, int, int]] = [(-1, 0, 0, N)]
        depth = 0
        while pending and depth <= cfg.max_depth:
            # ---- whole-level vectorized plane draws (one RNG call, one
            # gather, one plane batch — per-NODE Python cost is what
            # dominates deep forests like NTrees=200/KMinVecs=200)
            S = len(pending)
            starts = np.fromiter((p[2] for p in pending), np.int64, S)
            n_subs = np.fromiter((p[3] - p[2] for p in pending), np.int64, S)
            u = rng.random((2, S))
            i = np.minimum((u[0] * n_subs).astype(np.int64), n_subs - 1)
            j = np.minimum((u[1] * (n_subs - 1)).astype(np.int64), n_subs - 2)
            j += (j >= i)                # Floyd: j uniform over the others
            P0 = vecs64[ids[starts + i]]
            P1 = vecs64[ids[starts + j]]
            swap = (np.einsum("sd,sd->s", P0, P0)
                    > np.einsum("sd,sd->s", P1, P1))   # ascending by L2 norm
            P0[swap], P1[swap] = P1[swap], P0[swap].copy()
            if cfg.is_angular:
                P0, P1 = _normalize(P0), _normalize(P1)
            centers = 0.5 * (P0 + P1)
            nvecs = P1 - centers
            ds = np.einsum("sd,sd->s", centers, nvecs)
            nvecs32 = nvecs.astype(np.float32)
            ds32 = ds.astype(np.float32)
            base = n_nodes
            level_normals.append(nvecs)
            level_offsets.append(ds)
            left.extend([-1] * S)
            right.extend([-1] * S)
            for si, (parent, side, _, _) in enumerate(pending):
                if parent >= 0:
                    (left if side == 0 else right)[parent] = base + si
            n_nodes += S
            if depth >= cfg.max_depth:
                break                    # children would exceed max_depth
            # ---- per-segment chunked split + id partition into the sibling
            # id buffer: left ids forward from the region start, right ids
            # backward from the region end (counts unknown until the last
            # chunk), then the surviving right run is un-reversed so subset
            # order matches a stable compaction exactly
            nxt: list[tuple[int, int, int, int]] = []
            for si, (parent, side, s, e) in enumerate(pending):
                seg = ids[s:e]
                nvec, d32 = nvecs32[si], ds32[si]
                lw, rw = s, e
                for cs in range(0, e - s, chunk):
                    sub = seg[cs:cs + chunk]
                    # mode='clip' skips the bounds-checked slow path the
                    # default mode='raise' takes when writing into ``out``
                    # (measured ~1.7× on the gather; ids are in range by
                    # construction)
                    rows = np.take(vecs32, sub, axis=0,
                                   out=chunk_buf[:len(sub)], mode="clip")
                    neg = (rows @ nvec - d32) < 0
                    ls = sub[neg]
                    rs = sub[~neg]
                    ids_scratch[lw:lw + len(ls)] = ls
                    lw += len(ls)
                    ids_scratch[rw - len(rs):rw] = rs[::-1]
                    rw -= len(rs)
                nl, nr = lw - s, e - rw
                if nl > min_child:
                    nxt.append((base + si, 0, s, s + nl))
                if nr > min_child:
                    ids_scratch[rw:e] = ids_scratch[rw:e][::-1]
                    nxt.append((base + si, 1, rw, e))
            ids, ids_scratch = ids_scratch, ids
            pending = nxt
            depth += 1
    if n_nodes == 0:                     # degenerate tiny sample: single node
        level_normals.append(np.zeros((1, vecs64.shape[1])))
        level_offsets.append(np.zeros(1))
        left.append(-1)
        right.append(-1)
    return FlatTree(
        np.ascontiguousarray(np.concatenate(level_normals), dtype=np.float64),
        np.concatenate(level_offsets).astype(np.float64),
        np.array(left, dtype=np.int32),
        np.array(right, dtype=np.int32),
    )


def fit(sample: np.ndarray, cfg: AnnConfig) -> HasherModel:
    """Forest build (/root/reference/lsh/hasher.go:171-188).  Deterministic:
    per-tree rng seeded ``seed + tree_id`` (the reference seeds from the wall
    clock — deliberately not replicated)."""
    vecs = np.asarray(sample, dtype=np.float64)
    if cfg.is_angular:
        vecs = _normalize(vecs)
    vecs32 = np.ascontiguousarray(vecs, dtype=np.float32)

    # trees are mutually independent (per-tree rng seeded seed+t) and the
    # hot ops (matvec, compaction copy) release the GIL — thread across
    # trees.  Width capped at 8: the build is memory-bandwidth-bound (each
    # level streams every live point once) and on the measured single-box
    # DRAM ceiling wider pools ANTI-scale (the f32 refactor halved per-tree
    # bytes, moving the knee from 4 to ~8: 60k×784×10 trees cold measured
    # 13.3/11.4/8.0/6.1/7.7 s at 1/2/4/6/8 workers) — a multi-node cluster
    # fits trees on separate buses and doesn't share this cap.  Each worker
    # owns ONE buffer workspace reused across its trees: fresh per-tree
    # allocations cost more in first-touch page faults than the build itself
    # at 60k×784.
    import os
    from concurrent.futures import ThreadPoolExecutor

    workers = max(1, min(cfg.n_trees, 8, os.cpu_count() or 1))

    def build_range(w: int) -> list[tuple[int, FlatTree]]:
        ws = _fit_workspace(vecs32)
        return [(t, _grow_tree(vecs, vecs32, cfg,
                               np.random.default_rng(cfg.seed + t), ws))
                for t in range(w, cfg.n_trees, workers)]

    if workers == 1:
        built = build_range(0)
    else:
        with ThreadPoolExecutor(max_workers=workers) as ex:
            built = [p for chunk in ex.map(build_range, range(workers))
                     for p in chunk]
    trees = [tree for _, tree in sorted(built)]
    return HasherModel(cfg, trees)


def _fit_workspace(vecs32: np.ndarray) -> tuple:
    """One reusable (ids, ids_scratch, chunk_buf) set for tree growth.
    ``chunk_buf`` bounds one gathered row chunk — the rows themselves are
    read straight from the shared ``vecs32``, never copied wholesale (r5:
    the r1-r4 corpus-sized buf/scratch pair is gone).  ~16 MB chunks
    measured fastest for the gather+gemv pass (the gather's per-row copy
    cost dominates, so amortizing the take call wins over strict
    L2-residency: 36 ms vs 49 ms per 60k×784 pass at 1 MB chunks)."""
    n, dims = vecs32.shape
    chunk = max(64, min(16384, (1 << 24) // max(4 * dims, 1)))
    return (np.empty(n, dtype=np.int64),
            np.empty(n, dtype=np.int64),
            np.empty((min(chunk, max(n, 16)), dims), dtype=np.float32))


def fit_from_df(df: DataFrame, cfg: AnnConfig, vec_col: str = "vec",
                order_col: str | None = None) -> HasherModel:
    """Sample the corpus to the driver and fit — the one small collect of the
    build path (mirrors Train's in-memory model fit, /root/reference/lsh/lsh.go:113).

    ``order_col``: when given, the fit sample is the first ``sample_size``
    rows ordered by that column — fully deterministic and reproducible
    *outside Spark* (the DuckDB/numpy oracle re-derives the identical model
    by sorting the same parquet).  Default (None) keeps Spark's seeded
    Bernoulli sample, which is deterministic per Spark version but not
    re-derivable engine-independently."""
    if order_col is not None:
        sdf = df.orderBy(order_col).limit(cfg.sample_size).select(vec_col)
    else:
        n = df.count()
        frac = min(1.0, cfg.sample_size / max(n, 1))
        if frac >= 1.0:                # full-corpus fit: sampler is a no-op
            sdf = df.select(vec_col)
        else:
            sdf = (df.sample(withReplacement=False, fraction=frac,
                             seed=cfg.seed).select(vec_col))
    return fit(collect_vec_matrix(sdf), cfg)


def collect_vec_matrix(sdf: DataFrame) -> np.ndarray:
    """Collect a single vector column to a (n, dims) float64 matrix through
    ONE Arrow transfer (:func:`arrowmat.collect_matrix`)."""
    return AM.collect_matrix(sdf, sdf.columns[0])[1]


# ---------------------------------------------------------------------------
# Vectorized hashing (traverse, /root/reference/lsh/hasher.go:38-57)
# ---------------------------------------------------------------------------

@dataclass
class TraversalTables:
    """Slim, picklable serving payload: ONLY what hash traversal needs —
    f32 planes + child indices.  The full :class:`HasherModel` carries the
    f64 truth too, which at SIFT/NYT forest sizes is 0.4-1.8 GB; every
    executor python worker unpickles the broadcast once, so shipping these
    tables instead cuts broadcast bytes and per-worker resident memory ~3×
    while producing bit-identical hashes (traversal only ever reads f32)."""
    is_angular: bool
    max_depth: int
    trees: list   # of (normals32, offsets32, left, right)


def traversal_tables(model: HasherModel) -> TraversalTables:
    return TraversalTables(
        model.cfg.is_angular, model.cfg.max_depth,
        [(*t.f32(), t.left, t.right) for t in model.trees])


def hash_batch(X: np.ndarray, model: HasherModel) -> np.ndarray:
    """(B, dims) → (B, n_trees) int64 bit-path hashes, whole batch at once.

    Traversal dots run in float32 against the cached f32 planes
    (:meth:`FlatTree.f32`) — the fit's split dots use the identical precision,
    and every caller (bucket build, driver query hashing, the numpy oracle)
    goes through this one code path, so train/serve/oracle routing is
    consistent by construction."""
    return hash_batch_tables(X, traversal_tables(model))


def hash_batch_tables(X: np.ndarray, tables: TraversalTables,
                      workers: int = 1,
                      chunk_rows: int | None = None) -> np.ndarray:
    """Traversal core over :class:`TraversalTables` (what executors receive).
    While every row of a chunk is still live the einsum reads it in place
    (no row gather); once rows start parking in leaves only the live subset
    is gathered.

    ``workers``: trees are independent, so a driver-side whole-corpus hash
    (:func:`build_buckets_driver`) can thread across them.  Threading ONLY
    pays with large ``chunk_rows``: at the default executor chunk (~167
    rows at 784 dims) the per-op numpy spans are too short to release the
    GIL usefully and an 8-thread pool measured 3× SLOWER than serial;
    chunk 8192 × 8 threads measured 1.9 s vs 4.6 s serial on 60k×784×10.
    Executor contexts keep workers=1 / default chunk — 32 concurrent tasks
    already saturate the cores and share one L3."""
    X = np.asarray(X, dtype=np.float64)
    if tables.is_angular:
        X = _normalize(X)
    X32 = np.ascontiguousarray(X, dtype=np.float32)
    B = X32.shape[0]
    out = np.zeros((B, len(tables.trees)), dtype=np.int64)
    # Row chunking keeps one chunk's (rows + gathered planes) working set in
    # per-core cache: with 32 concurrent executor workers sharing one L3, a
    # whole-batch gather per level thrashes and the stage goes DRAM-bound.
    chunk = chunk_rows or max(1, (1 << 19) // max(4 * X32.shape[1], 1))

    def one_tree(t_idx: int) -> None:
        normals32, offsets32, left, right = tables.trees[t_idx]
        h = np.zeros(B, dtype=np.int64)     # contiguous per-tree column
        for s in range(0, B, chunk):
            Xa = X32[s:s + chunk]
            A = Xa.shape[0]
            cur = np.zeros(A, dtype=np.int32)   # all start at root
            hh = h[s:s + chunk]
            act = np.arange(A)                  # rows still traversing
            depth = 0
            while act.size and depth <= tables.max_depth:
                idx = cur[act]
                G = normals32[idx]              # (A', dims) plane gather
                Xc = Xa if act.size == A else Xa[act]
                neg = np.einsum("ad,ad->a", Xc, G) - offsets32[idx] < 0
                ha = hh[act]
                ha[neg] |= np.int64(1) << np.int64(depth)
                hh[act] = ha
                nxt = np.where(neg, left[idx], right[idx])
                cur[act] = nxt
                act = act[nxt >= 0]
                depth += 1
        out[:, t_idx] = h

    if workers > 1 and len(tables.trees) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=workers) as ex:
            list(ex.map(one_tree, range(len(tables.trees))))
    else:
        for t_idx in range(len(tables.trees)):
            one_tree(t_idx)
    return out


def exploded_tree_hashes(df: DataFrame, model: HasherModel,
                         vec_col: str = "vec",
                         keep_cols: tuple[str, ...] = ("id",)) -> DataFrame:
    """(keep_cols..., vec) → exploded (keep_cols..., tree_id int, hash long).

    ONE ``mapInArrow`` pass emits the exploded rows directly (getHashes
    analog, /root/reference/lsh/hasher.go:190-219, minus its mutex-serialized
    pseudo-parallelism which we note and do not replicate).  Emitting the
    exploded relation from inside the UDF — instead of a ``posexplode`` over
    a pandas-UDF array column — is deliberate: Spark plans the latter as
    stacked ``ArrowEvalPython`` nodes that evaluate the hash UDF twice per
    row (r1 PLANS.md finding); this shape evaluates it exactly once and the
    output rows are already narrow (ids + two ints, no vectors).

    Arrow-native (r6): the vector column converts to the (B, dims) matrix by
    one flat-buffer reshape and the output batch is assembled from numpy
    arrays + type-preserving takes — the former mapInPandas pass materialized
    one ndarray object per row on the way in and re-boxed every output cell
    on the way out, which at 10^6 corpus rows cost ~5× the traversal math
    itself (guide §4.2)."""
    spark = df.sparkSession
    # broadcast the slim TRAVERSAL TABLES, not the model: numpy arrays
    # pickle as raw buffers (a to_dict() broadcast made every task re-parse
    # ~n_trees·nodes·dims Python floats, which dominated the whole stage),
    # and dropping the f64 planes cuts the payload ~3× — at NYT scale
    # (200 trees × 256d) the full model is ~1.8 GB × one copy per python
    # worker
    bc = spark.sparkContext.broadcast(traversal_tables(model))
    n_trees = len(model.trees)
    in_df, _ = layout.plan(df.select(*keep_cols, vec_col), "traversal",
                           key_col=keep_cols[0] if keep_cols else None)
    schema = T.StructType(
        [in_df.schema[c] for c in keep_cols]
        + [T.StructField("tree_id", T.IntegerType(), False),
           T.StructField("hash", T.LongType(), False)]
    )
    names = [*keep_cols, "tree_id", "hash"]

    def gen(batches):
        tables = bc.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            X = AM.matrix_from_column(AM.batch_column(batch, vec_col))
            hashes = hash_batch_tables(X, tables)  # (B, n_trees)
            rep = np.repeat(np.arange(n, dtype=np.int64), n_trees)
            arrays = [AM.take(AM.batch_column(batch, c), rep)
                      for c in keep_cols]
            arrays.append(pa.array(np.tile(np.arange(n_trees, dtype=np.int32), n)))
            arrays.append(pa.array(hashes.reshape(-1)))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return in_df.mapInArrow(gen, schema)


# ---------------------------------------------------------------------------
# Index build + search (Train/Search, /root/reference/lsh/lsh.go:107-199)
# ---------------------------------------------------------------------------

def save_model(model: HasherModel, path: str) -> None:
    """DumpHasher analog (/root/reference/lsh/hasher.go:221-251, lsh/lsh.go:201-209):
    JSON instead of gob; part of the checkpoint/resume contract."""
    import json
    import os

    tmp = path + ".tmp"
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    payload = model.to_dict()
    # provenance only — a loaded model is self-contained (hashes derive from
    # the stored planes, never a refit), so load_model needs no version gate
    payload["model_version"] = MODEL_VERSION
    payload["fingerprint"] = model_fingerprint(model)
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def load_model(path: str) -> HasherModel:
    import json

    with open(path) as f:
        return HasherModel.from_dict(json.load(f))


def build_buckets(df: DataFrame, model: HasherModel, id_col: str = "id",
                  vec_col: str = "vec") -> DataFrame:
    """(id, vec) → buckets(tree_id int, hash bigint, id) — SetHash analog
    (/root/reference/store/kv/store.go:64-73) as one exploded-hash pass."""
    return exploded_tree_hashes(df, model, vec_col, (id_col,)).select(
        id_col, "tree_id", "hash"
    )


def collect_id_vec_matrix(df: DataFrame, id_col: str = "id",
                          vec_col: str = "vec") -> tuple[np.ndarray, np.ndarray]:
    """(ids, (n, dims) float64 matrix) through ONE Arrow transfer — for
    callers that need the ids too (e.g. a driver-side bucket build reusing
    the fit's corpus).  Row order is the DataFrame's scan order, identical
    for both columns (one collect)."""
    ids, X = AM.collect_matrix(df, vec_col, id_col)
    return ids.to_numpy(zero_copy_only=False), X


def build_buckets_driver(spark, ids: np.ndarray, X: np.ndarray,
                         model: HasherModel, id_col: str = "id",
                         id_type: str = "bigint",
                         workers: int = 8) -> DataFrame:
    """Driver-side bucket build for a corpus whose matrix is ALREADY driver
    resident — the reference's own Train regime (its whole index build is
    one in-memory process, /root/reference/lsh/lsh.go:107-136).

    Bit-identical to :func:`build_buckets` (same :func:`hash_batch_tables`
    traversal), different physique: the distributed build ships the corpus
    to the python workers AND a broadcast of the traversal tables to every
    worker — at NYT scale the forest alone is ~0.6 GB × n_workers of
    unpickling — whereas a full-corpus fit (``sample_size >= corpus``)
    already paid the one Arrow collect, so hashing where the matrix lives
    costs one tree-parallel traversal plus one Arrow upload of the narrow
    (id, tree_id, hash) relation.  Use the distributed
    :func:`build_buckets` whenever the corpus does NOT fit the driver —
    that path is the 100 TB shape and stays the default everywhere else."""
    hashes = hash_batch_tables(
        np.asarray(X, dtype=np.float64), traversal_tables(model),
        workers=workers, chunk_rows=8192)
    n, n_trees = hashes.shape
    ids = np.asarray(ids)
    # built from Arrow: the JVM parses it, so no Python task runs
    return spark.createDataFrame(
        pa.table({id_col: np.repeat(ids, n_trees),
                  "tree_id": np.tile(np.arange(n_trees, dtype=np.int32), n),
                  "hash": hashes.reshape(-1)}),
        schema=f"{id_col} {id_type}, tree_id int, hash long")


# ---------------------------------------------------------------------------
# Partition-pruned bucket store (the serving read path at 100 TB)
# ---------------------------------------------------------------------------
#
# The reference's search is fast because its store is a hash map: a query
# reads ~2·n_trees buckets and never touches the rest of the corpus
# (/root/reference/store/kv/store.go:75-94).  The Spark-native equivalent of
# that O(1) bucket access is STORAGE partition pruning: the bucket relation
# is written partitioned by (tree_id, hash_pfx = pmod(hash, P)), and because
# query hashing is driver-side, the probe keys are known BEFORE the scan —
# the filter (tree_id, hash_pfx) ∈ probes reaches the file listing and a
# small query batch reads only its probed partitions instead of the whole
# bucket table.  Coverage fraction ≈ min(1, n_probes / (n_trees · P)).

def model_fingerprint(model: HasherModel) -> str:
    """Stable content hash of the SERVING truth (f32 planes + children +
    config).  Persisted into a bucket store's ``_store_meta`` and checked by
    :func:`search_from_store`: a store only answers correctly for queries
    hashed by the exact forest that built it, and a same-config refit no
    longer reproduces the forest across MODEL_VERSIONs — without this check
    a stale store would silently collapse recall to ~0 instead of erroring."""
    import hashlib

    h = hashlib.sha256(model.cfg.config_hash.encode())
    for t in model.trees:
        n32, o32 = t.f32()
        for arr in (n32, o32, t.left, t.right):
            h.update(np.ascontiguousarray(arr).tobytes())
    return h.hexdigest()[:32]


def write_bucket_store(buckets: DataFrame, path: str,
                       hash_partitions: int = 64, *,
                       model: HasherModel) -> None:
    """Materialize the bucket relation partitioned by ``(tree_id,
    hash_pfx)`` for probe-side pruning (``io.write_store``: static
    overwrite, one file per directory).  ``model`` is the forest whose
    :func:`build_buckets` produced ``buckets``.  The store's meta holds
    ``hash_partitions``, from which the reader derives the partition keys,
    so a mismatch can never silently select the wrong directories, and the
    :func:`model_fingerprint` of ``model``, with which
    :func:`search_from_store` refuses any other probe forest."""
    from lsh_search_go_spark.sources import io

    io.write_store(
        buckets.withColumn("hash_pfx",
                           F.pmod(F.col("hash"), F.lit(hash_partitions))),
        path, ["tree_id", "hash_pfx"],
        {"hash_partitions": int(hash_partitions),
         "model_fingerprint": model_fingerprint(model)})


def search_from_store(queries: DataFrame, store_path: str, corpus: DataFrame,
                      model: HasherModel, k: int, max_dist: float,
                      metric: str = "l2",
                      id_col: str = "id", vec_col: str = "vec",
                      query_id_col: str = "query_id", query_vec_col: str = "vec",
                      dist_impl: str = "sql",
                      max_candidates: int | None = None) -> DataFrame:
    """Search against a :func:`write_bucket_store` layout.  Identical results
    to :func:`search`, in as many Spark jobs; the difference is physical —
    the partition-pruning predicate derived from the driver-hashed probes
    means only the probed (tree_id, hash_pfx) directories are listed and
    scanned.  The partition modulus comes from the store's meta, read on
    the driver (``io.read_store_meta``), and the store is read with a
    schema built from ``corpus``'s id field, so neither read starts a job.
    A store whose meta is missing, has no model fingerprint, or names
    another forest than ``model`` raises ``ValueError``."""
    from lsh_search_go_spark.sources import io

    check_dist_impl(dist_impl)
    check_metric(metric)
    spark = queries.sparkSession
    meta = io.read_store_meta(spark, store_path, "model", "model_fingerprint",
                              model_fingerprint(model))
    hash_partitions = int(meta["hash_partitions"])
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).alias("__qvec"))
    collected = _collect_queries(q, model.cfg.dims)
    q_ids, Q = collected
    probe_arrays = driver_probe_arrays(Q, model, len(q_ids))
    _, trees, flat = probe_arrays
    probed = sorted({(int(t), int(h) % hash_partitions)
                     for t, h in zip(trees, flat)})
    # the schema Spark infers: data columns, then partition columns
    store = spark.read.schema(T.StructType([
        corpus.schema[id_col], T.StructField("hash", T.LongType()),
        T.StructField("tree_id", T.IntegerType()),
        T.StructField("hash_pfx", T.IntegerType())])).parquet(store_path)
    if probed:
        # EXACT pruning at any probe count: one IN over the combined key
        # tree_id * P + hash_pfx — an expression of partition columns only,
        # so it is evaluated against the directory values during file
        # listing (PartitionFilters) and selects exactly the probed
        # directories, never a cartesian superset (r2 VERDICT task 6).
        store = store.filter(sql_in(
            f"`tree_id` * {hash_partitions} + `hash_pfx`",
            [t * hash_partitions + p for t, p in probed]))
    return _search_buckets(q, collected, probe_arrays,
                           store.select(id_col, "tree_id", "hash"), corpus,
                           model, k, max_dist, metric, id_col, vec_col,
                           dist_impl, max_candidates)


def msb_flip_np(h: np.ndarray) -> np.ndarray:
    """Multiprobe neighbor hash (/root/reference/lsh/lsh.go:148-153):
    pos = floor(log2(hash)) for hash > 0 else 0; neighbor = hash ^ (1<<pos).
    The one probe rule: :func:`driver_probe_arrays` and the DuckDB oracle's
    probe expansion both use it.

    The MSB position is integer-exact (``int.bit_length``, never a float
    log2, whose rounding near exact powers of two differs between engines).
    h == 0 → pos 0 (reference semantics); h < 0 (bit 63 set, only reachable
    at max_depth 63; the reference stores uint64) → pos 63, the true MSB
    (the default max_depth of 62 keeps hashes non-negative)."""
    h = np.asarray(h, dtype=np.int64)
    pos = np.array(
        [int(x).bit_length() - 1 if x > 0 else (63 if x < 0 else 0) for x in h],
        dtype=np.int64,
    )
    return h ^ (np.int64(1) << pos)


DIST_IMPLS = ("sql", "matmul", "matmul_grouped")


def check_dist_impl(dist_impl: str) -> None:
    """Reject an unknown verify backend before any Spark job runs (the JVM
    fold is the fallback branch, so a typo would otherwise run silently)."""
    if dist_impl not in DIST_IMPLS:
        raise ValueError(f"unknown dist_impl {dist_impl!r}; expected one of "
                         f"{' | '.join(DIST_IMPLS)}")


METRICS = ("l2", "cosine")


def check_metric(metric: str) -> None:
    """Reject an unknown distance metric before any Spark job runs (each
    kernel tests for one of the two names and treats any other string as
    the other one, or fails late in an executor)."""
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; expected one of "
                         f"{' | '.join(METRICS)}")


def search(queries: DataFrame, buckets: DataFrame, corpus: DataFrame,
           model: HasherModel, k: int, max_dist: float,
           metric: str = "l2",
           id_col: str = "id", vec_col: str = "vec",
           query_id_col: str = "query_id", query_vec_col: str = "vec",
           dist_impl: str = "sql",
           max_candidates: int | None = None) -> DataFrame:
    """Batch search: collect and hash the queries on the driver →
    (multiprobe) probe expansion → bucket join → pair dedup →
    [deterministic candidate cap] → exact verify → inclusive threshold →
    top-k.

    ``dist_impl``: "sql" (JVM fold — bit-identical to the DuckDB oracle),
    "matmul" (query matrix + vectorized gather per corpus batch — the
    benchmark path; candidate rows ship only the corpus vector) or
    "matmul_grouped" (candidates grouped per corpus row, one gram matrix per
    batch — for wide vectors and big query batches).  Any other value
    raises ``ValueError`` before a Spark job runs.

    ``max_candidates``: deterministic per-query cap, ordered by
    ``(first_tree, neighbor_id)`` — keeps the candidates the reference's
    arrival-order early exit keeps (tree 0's buckets are drained first,
    /root/reference/lsh/lsh.go:145,163-166) while staying reproducible
    (residual arrival-order non-determinism documented in SURVEY §7.0 and
    not replicated).

    Physical-plan contract (the 100 TB shape, r1 VERDICT fixes):
    * the queries are collected ONCE and hashed on the driver, like the
      reference's client-side ``getHashes`` (its ``lsh/lsh.go:141``);
      the only hash UDF of the read path is the corpus side's
      (:func:`build_buckets`), and the one collect also feeds the matmul
      verifies;
    * the batch size alone picks the plan.  A batch of fewer than
      :data:`layout.QUERY_CROSSOVER` queries runs in three Spark jobs (the
      query collect, then two filtered collects, :func:`_driver_search`):
      the bucket rows whose hash a probe names (``hash IN (...)``) are
      matched, deduped and capped in numpy (:func:`driver_candidates`); the
      candidate corpus rows are verified on the driver by the matmul
      verify's own per-batch kernel, batch by batch as an executor would
      see them; the top-k is taken on the driver and returned as a local
      relation.  No relation is broadcast and nothing shuffles.  ``sql``
      scores the candidates with its JVM fold (candidates and queries
      broadcast into the corpus verify, 5 jobs) and takes the top-k on the
      driver; so do the matmul verifies when the distinct candidates ×
      dims pass :data:`layout.VERIFY_CELLS` (4 jobs);
    * a larger batch broadcasts the probe relation (n_queries × trees ×
      probes rows of three scalars) into the bucket join — the big corpus
      bucket relation is never shuffled for a query batch — and dedups and
      caps as Spark operators, moving bare (query_id, neighbor_id) ids:
      query vectors do NOT ride the candidate joins, the (small, broadcast)
      query relation is re-joined by query_id — shuffles move 8-byte ids,
      not 512-byte vectors; the candidate set is broadcast into the corpus
      verify join, so the corpus is probed hash-side rather than shuffled,
      and only the top-k shuffles.

    The query batch must match the forest: a vector whose width is not
    ``model.cfg.dims`` or that holds a NaN raises ``ValueError`` naming the
    first offending ``query_id``.  A candidate corpus vector whose width is
    not the query batch's or that holds a NaN raises ``ValueError`` naming
    its corpus id (both matmul verifies).

    Returns (query_id, rank, neighbor_id, dist).
    """
    check_dist_impl(dist_impl)
    check_metric(metric)
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).alias("__qvec"))
    # ONE driver round-trip, shared by probe hashing and the verify
    collected = _collect_queries(q, model.cfg.dims)
    probe_arrays = driver_probe_arrays(collected[1], model, len(collected[0]))
    return _search_buckets(q, collected, probe_arrays, buckets, corpus, model,
                           k, max_dist, metric, id_col, vec_col, dist_impl,
                           max_candidates)


def _search_buckets(q: DataFrame, collected: tuple[list, np.ndarray],
                    probe_arrays, buckets: DataFrame, corpus: DataFrame,
                    model: HasherModel, k: int, max_dist: float, metric: str,
                    id_col: str, vec_col: str, dist_impl: str,
                    max_candidates: int | None) -> DataFrame:
    """:func:`search` and :func:`search_from_store` once the batch is
    collected and hashed."""
    if on_driver(len(collected[0])):
        qrow, trees, flat = probe_arrays
        return _driver_search(
            q, collected, buckets.withColumnRenamed(id_col, "neighbor_id"),
            qrow, {"tree_id": trees, "hash": flat}, corpus, k, max_dist,
            metric, id_col, vec_col, dist_impl, max_candidates)
    cands = candidate_pairs(q, buckets, model, id_col=id_col,
                            max_candidates=max_candidates,
                            _collected=collected, _probe_arrays=probe_arrays)
    return verify_topk(q, cands, corpus, k, max_dist, metric,
                       id_col=id_col, vec_col=vec_col, dist_impl=dist_impl,
                       collected=collected)


def verify_topk(q: DataFrame, cands: DataFrame, corpus: DataFrame,
                k: int, max_dist: float, metric: str = "l2",
                id_col: str = "id", vec_col: str = "vec",
                dist_impl: str = "sql",
                collected: tuple[list, np.ndarray] | None = None) -> DataFrame:
    """Exact-verify + inclusive threshold + top-k over a candidate relation
    (Q5-Q6, /root/reference/lsh/lsh.go:174-198) — shared by the LSH-forest
    and IVF read paths of a batch of :data:`layout.QUERY_CROSSOVER` or
    more queries.  ``q`` is (query_id, __qvec); ``cands`` is (query_id,
    neighbor_id)."""
    from lsh_search_go_spark.operators.topk import topk_per_query

    check_dist_impl(dist_impl)
    check_metric(metric)
    scored = _score(q, cands, corpus, metric, id_col, vec_col, dist_impl,
                    collected)
    scored = scored.filter(F.col("dist") <= max_dist)    # inclusive (lsh/lsh.go:179)
    return topk_per_query(scored, k).select("query_id", "rank", "neighbor_id", "dist")


def _score(q: DataFrame, cands: DataFrame, corpus: DataFrame, metric: str,
           id_col: str, vec_col: str, dist_impl: str,
           collected: tuple[list, np.ndarray] | None) -> DataFrame:
    """The exact distances of a candidate relation as Spark operators →
    (query_id, neighbor_id, dist); the candidates — (query_id,
    neighbor_id), or for ``matmul_grouped`` possibly already grouped as
    (neighbor_id, __qids) — are broadcast into the corpus."""
    from lsh_search_go_spark.functions.vector import cosine_dist_expr, l2_dist_expr

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
    if dist_impl == "matmul_grouped":
        c, _ = layout.plan(c, "gram_verify", key_col="neighbor_id",
                           n_queries=0 if collected is None else len(collected[0]))
        # Wide-vector / big-query-batch verify: candidates are grouped per
        # corpus row BEFORE the join, so each corpus vector crosses the
        # Arrow boundary exactly ONCE (the pairwise paths ship it once per
        # candidate pair — at 784 dims × thousands of pairs per query that
        # is tens of GB of duplicated vector traffic); distances come from
        # one BLAS gram matrix per batch + a pair gather.  Same tol-guard
        # edge semantics as the other backends.
        grouped = cands if "__qids" in cands.columns else (
            cands.groupBy("neighbor_id").agg(
                F.collect_list("query_id").alias("__qids")))
        return _matmul_verify_grouped(
            q, c.join(F.broadcast(grouped), "neighbor_id"), metric,
            collected=collected)
    if dist_impl == "matmul":
        # Benchmark-scale verify: the query MATRIX is broadcast once; each
        # candidate row ships only its corpus vector and the distances come
        # from one vectorized gather per Arrow batch — halves the Arrow
        # traffic of the pairwise join (no per-pair __qvec copies) and removes
        # per-pair work.  Same edge semantics as the JVM fold (tol guards).
        # (A degenerate corpus layout runs this verify single-task, but the
        # kernel is ~0.2 s serial at 400k candidate pairs — an interleaved
        # A/B showed no measurable win from batch-threading it, so the
        # search path stays probe-free.)
        return _matmul_verify(q, c.join(F.broadcast(cands), "neighbor_id"),
                              metric, collected=collected)
    dist_expr = cosine_dist_expr if metric == "cosine" else l2_dist_expr
    return (
        c.join(F.broadcast(cands), "neighbor_id")   # corpus stays in place
        .join(F.broadcast(q), "query_id")           # vectors re-joined late
        .withColumn("dist", dist_expr("__cvec", "__qvec"))
        .select("query_id", "neighbor_id", "dist")
    )


def _collect_queries(q: DataFrame, dims: int | None = None
                     ) -> tuple[list, np.ndarray]:
    """(query_id, __qvec) relation → (ids, matrix) on the driver.

    With ``dims``, a non-empty batch whose vectors are not ``dims`` wide, or
    that holds a NaN, raises ``ValueError`` naming the first offending
    ``query_id``: a NaN would silently empty that query's top-k, and a wrong
    width would fail deep inside a kernel."""
    ids, Q = AM.collect_matrix(q, "__qvec", "query_id")
    q_ids = ids.to_pylist()
    if dims is not None and q_ids:
        if Q.shape[1] != dims:
            raise ValueError(f"query {q_ids[0]!r} has {Q.shape[1]} elements; "
                             f"the index expects {dims}")
        nan = np.isnan(Q).any(axis=1)
        if nan.any():
            raise ValueError(f"query {q_ids[int(nan.argmax())]!r} has a NaN "
                             "element")
    return q_ids, Q


def driver_probe_arrays(Q: np.ndarray, model: HasherModel,
                        n_queries: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The ONE definition of the driver-side probe set: (query_row_idx,
    tree_id, hash) arrays incl. the multiprobe MSB-flip expansion.  Both the
    probes relation (candidate_pairs) and the store partition-pruning set
    (search_from_store) derive from this — the probe scheme must never exist
    in two copies (a divergent pruning copy would silently exclude the
    directories holding new probes' buckets)."""
    hashes = hash_batch(Q, model) if n_queries else np.zeros((0, len(model.trees)),
                                                             np.int64)
    n_trees = hashes.shape[1]
    ids_rep = np.repeat(np.arange(n_queries), n_trees)
    trees = np.tile(np.arange(n_trees), n_queries)
    flat = hashes.reshape(-1)
    if model.cfg.multiprobe:
        ids_rep = np.concatenate([ids_rep, ids_rep])
        trees = np.concatenate([trees, trees])
        flat = np.concatenate([flat, msb_flip_np(flat)])
    return ids_rep, trees, flat


def on_driver(n_queries: int) -> bool:
    """True when a batch is searched on the driver (:func:`_driver_search`):
    the batch has fewer than :data:`layout.QUERY_CROSSOVER` queries."""
    return n_queries < layout.QUERY_CROSSOVER


def sql_in(expr: str, values) -> Column:
    """``expr IN (values)`` as ONE parsed SQL expression.

    ``Column.isin`` makes one Py4J call per literal (measured at 3,000
    literals: 1,165 ms, against 113 ms for the parsed expression); the
    parse is one call whatever the count.  ``expr`` is SQL text (quote a
    column name with backticks).  Integers are written as decimal
    literals, so Spark types them as it types ``isin``'s Python ints (INT
    when they fit, else BIGINT) and the predicate is the same.  A string is
    written as the cast of its UTF-8 bytes in hex, ``CAST(X'…' AS
    STRING)``, which constant folding turns back into the string: no
    character, ``'`` and ``\\`` included, needs escaping, whatever the
    parser's escape settings.  No values gives ``false``."""
    lits = [f"CAST(X'{v.encode().hex()}' AS STRING)" if isinstance(v, str)
            else str(operator.index(v)) for v in values]
    if not lits:
        return F.lit(False)
    return F.expr(f"{expr} IN ({', '.join(lits)})")


def _id_in(expr: str, ids: pa.Array) -> Column:
    """``expr IN (ids)`` with the fewest literals: integer ids that fill
    most of their range ``[lo, hi]`` become ``expr BETWEEN lo AND hi AND
    NOT expr IN (<the ids missing from the range>)``, the same rows.  A
    candidate set is often most of a dense-id corpus (the whole of it for
    the 100-query batch of a 3,000-row corpus), and Spark's analysis of an
    IN list costs about 30 μs a literal."""
    if pa.types.is_integer(ids.type) and len(ids):
        v = ids.to_numpy()
        lo, hi = int(v.min()), int(v.max())
        if hi - lo + 1 < 2 * len(v):
            gaps = np.setdiff1d(np.arange(lo, hi + 1), v)
            inside = F.expr(f"{expr} BETWEEN {lo} AND {hi}")
            return inside & ~sql_in(expr, gaps) if len(gaps) else inside
    return sql_in(expr, ids.to_pylist())


class Candidates(NamedTuple):
    """A small batch's candidate set on the driver, grouped per neighbor:
    ``ids`` holds the distinct neighbor ids in Spark's order, and the query
    rows of neighbor ``i`` are ``qrow[offsets[i]:offsets[i + 1]]``,
    ascending."""
    ids: pa.Array
    offsets: np.ndarray
    qrow: np.ndarray


def driver_candidates(lists: DataFrame, q_ids: list, qrow: np.ndarray,
                      keys: dict[str, np.ndarray],
                      max_candidates: int | None = None) -> Candidates:
    """Small-batch candidate generation: ONE filtered Arrow collect of the
    list rows the probes name, then the match, the dedup and the cap in
    numpy on the driver.

    Probe ``i`` is row ``qrow[i]`` of the query batch ``q_ids`` with the
    key values ``keys[c][i]``; query rows with equal ids count as one
    query, the row the verify kernels' id lookup picks, as in the Spark
    plan.  ``lists`` is (neighbor_id, *keys) — the bucket relation (keys
    ``tree_id``, ``hash``) or IVF's inverted lists (``centroid_id``).  The
    collect filters ``lists`` on its last key (``<key> IN (<probed
    values>)``, :func:`sql_in`), and numpy matches the rows whose every key
    a probe names, so no probe relation is broadcast.

    Ordering matches Spark's: ``np.unique`` ranks integer ids numerically
    and string ids in Python ``str`` order, which is UTF-8 byte order,
    Spark's string order.  With ``max_candidates`` (keys must include
    ``tree_id``) each query row keeps its first ``max_candidates``
    neighbors by ``(first_tree, neighbor_id)``, ``first_tree`` being the
    smallest tree that matched the pair — the window the distributed path
    of :func:`candidate_pairs` runs.

    Driver memory: the collect holds every list row whose last key a probe
    names — up to ``n_queries × n_trees × (1 + multiprobe) × bucket size``
    rows of three narrow columns for the forest, the probed lists' rows of
    two for IVF — and the match as many index pairs.  A degenerate bucket
    makes the collect fail loudly at ``spark.driver.maxResultSize`` instead
    of exhausting driver memory."""
    names = list(keys)
    tbl = (lists.filter(sql_in(f"`{names[-1]}`", np.unique(keys[names[-1]])))
           .select("neighbor_id", *names).toArrow())
    lrow, probe = _equi_join([keys[c] for c in names],
                             [tbl.column(c).to_numpy() for c in names])
    canon = AM.id_index_lookup(q_ids)(np.asarray(q_ids))
    qr = canon[np.asarray(qrow)[probe]]
    nbr = tbl.column("neighbor_id").combine_chunks()
    _, first, code = np.unique(nbr.to_numpy(zero_copy_only=False),
                               return_index=True, return_inverse=True)
    code = code[lrow]
    n_u = max(len(first), 1)
    key = qr * n_u + code              # (query row, neighbor rank) as one int
    if max_candidates is not None:
        tree = tbl.column("tree_id").to_numpy()[lrow]
        order = np.lexsort((tree, key))
        key, tree = key[order], tree[order]
        head = _run_starts(key)
        key, tree = key[head], tree[head]          # each pair's first tree
        key = key[np.lexsort((key % n_u, tree, key // n_u))]
        qs = key // n_u
        rank = np.arange(len(key)) - np.searchsorted(qs, qs)
        key = key[rank < max_candidates]
    else:
        key = np.unique(key)
    code, qr = key % n_u, key // n_u
    order = np.lexsort((qr, code))                 # by neighbor, then query
    code, qr = code[order], qr[order]
    head = _run_starts(code)
    return Candidates(AM.take(nbr, first[code[head]]),
                      np.r_[head, len(code)].astype(np.int64), qr)


def _equi_join(probe_cols: list[np.ndarray], list_cols: list[np.ndarray]
               ) -> tuple[np.ndarray, np.ndarray]:
    """Every (list row, probe) index pair whose key columns are all equal.
    Each column is ranked over both sides' values, the ranks combine into
    one int64 key, and each list row finds its probes by binary search in
    the sorted probe keys."""
    pk = np.zeros(len(probe_cols[0]), np.int64)
    lk = np.zeros(len(list_cols[0]), np.int64)
    for p, c in zip(probe_cols, list_cols):
        u, inv = np.unique(np.concatenate([p, c]), return_inverse=True)
        pk = pk * len(u) + inv[:len(p)]
        lk = lk * len(u) + inv[len(p):]
    order = np.argsort(pk, kind="stable")
    pk = pk[order]
    lo = np.searchsorted(pk, lk, "left")
    count = np.searchsorted(pk, lk, "right") - lo
    return np.repeat(np.arange(len(lk)), count), order[_spans(lo, count)]


def _spans(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """The ranges ``[starts[i], starts[i] + counts[i])``, concatenated."""
    ends = np.cumsum(counts)
    return (np.repeat(starts - ends + counts, counts)
            + np.arange(ends[-1] if len(ends) else 0))


def _run_starts(a: np.ndarray) -> np.ndarray:
    """Indexes where a run of equal values starts in a sorted array."""
    return np.flatnonzero(np.r_[True, a[1:] != a[:-1]][:len(a)])


def _driver_search(q: DataFrame, collected: tuple[list, np.ndarray],
                   lists: DataFrame, qrow: np.ndarray,
                   keys: dict[str, np.ndarray], corpus: DataFrame, k: int,
                   max_dist: float, metric: str, id_col: str, vec_col: str,
                   dist_impl: str, max_candidates: int | None = None
                   ) -> DataFrame:
    """The read path of a batch of fewer than :data:`layout.QUERY_CROSSOVER`
    queries, shared by the forest and IVF: after the caller's query
    collect, ONE filtered collect of the probed list rows
    (:func:`driver_candidates`) and ONE filtered collect of the candidate
    corpus rows (:func:`_driver_verify`); the inclusive threshold and the
    top-k run on the driver (:func:`_topk_relation`).

    ``sql`` and a candidate set whose distinct ids × dims pass
    :data:`layout.VERIFY_CELLS` are scored by the Spark verify
    (:func:`_score`) instead, collected and ranked on the driver.  Driver
    memory: the candidate corpus matrix, at most ``VERIFY_CELLS`` float64
    cells, and the scored pairs."""
    from pyspark.sql.pandas.types import to_arrow_type

    q_ids, Q = collected
    spark = q.sparkSession
    qtype = q.schema["query_id"].dataType
    ntype = corpus.schema[id_col].dataType
    q_pa = pa.array(q_ids, to_arrow_type(qtype))
    scored = pa.schema([("query_id", q_pa.type),
                        ("neighbor_id", to_arrow_type(ntype)),
                        ("dist", pa.float64())]).empty_table()
    if q_ids:
        cands = driver_candidates(lists, q_ids, qrow, keys, max_candidates)
        grouped = dist_impl == "matmul_grouped"
        fits = len(cands.ids) * Q.shape[1] <= layout.VERIFY_CELLS
        if len(cands.ids) and fits and dist_impl != "sql":
            scored = _driver_verify(cands, corpus, collected, q_pa, metric,
                                    id_col, vec_col, grouped, scored.schema)
        elif len(cands.ids):                    # else no corpus row to fetch
            cdf = _candidate_relation(spark, cands, q_pa, qtype, grouped)
            scored = (_score(q, cdf, corpus, metric, id_col, vec_col,
                             dist_impl, collected)
                      .filter(F.col("dist") <= max_dist).toArrow())
    return _topk_relation(spark, scored, k, max_dist, T.StructType([
        T.StructField("query_id", qtype),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("neighbor_id", ntype),
        T.StructField("dist", T.DoubleType())]))


def _driver_verify(cands: Candidates, corpus: DataFrame,
                   collected: tuple[list, np.ndarray], q_pa: pa.Array,
                   metric: str, id_col: str, vec_col: str, grouped: bool,
                   schema: pa.Schema) -> pa.Table:
    """The matmul verify of a small batch on the driver → (query_id,
    neighbor_id, dist) rows.  The candidate corpus rows come back in ONE
    filtered ``toArrow`` (``neighbor_id IN (<candidate ids>)``), in the
    record batches an executor's verify would receive — the corpus
    partitions in order, each cut at ``maxRecordsPerBatch`` rows — and each
    batch goes, unchanged and in order, through the per-batch kernel of
    the ``mapInArrow`` verify (:func:`_grouped_kernel`, :func:`_pair_kernel`)
    with the columns the candidate join would have added, so the distances
    are the Spark plan's bit for bit."""
    q_ids, Q = collected
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cvec"))
    tbl = c.filter(_id_in("`neighbor_id`", cands.ids)).toArrow()
    counts = np.diff(cands.offsets)
    if grouped:
        compute = _grouped_kernel(q_ids, Q, q_pa.type, metric)
    else:
        compute = _pair_kernel(q_ids, Q, metric)
    step = max(1, layout.VERIFY_CELLS // max(Q.shape[1], 1))
    out = []
    for batch in tbl.to_batches():
        if not batch.num_rows:
            continue
        nbr = AM.batch_column(batch, "neighbor_id")
        vecs = AM.batch_column(batch, "__cvec")
        code = np.asarray(pc.index_in(nbr, value_set=cands.ids))
        n_q = counts[code]
        qids = AM.take(q_pa, cands.qrow[_spans(cands.offsets[code], n_q)])
        if grouped:
            offsets = pa.array(np.r_[0, np.cumsum(n_q)].astype(np.int32))
            out.append(compute(pa.RecordBatch.from_arrays(
                [nbr, vecs, pa.ListArray.from_arrays(offsets, qids)],
                names=["neighbor_id", "__cvec", "__qids"])))
            continue
        # one row per pair, as the pairwise join emits them; the kernel is
        # row by row, so cutting the pairs into chunks changes no bit
        rows = np.repeat(np.arange(batch.num_rows), n_q)
        for s in range(0, len(rows), step):
            r = rows[s:s + step]
            out.append(compute(pa.RecordBatch.from_arrays(
                [qids[s:s + step], AM.take(nbr, r), AM.take(vecs, r)],
                names=["query_id", "neighbor_id", "__cvec"])))
    return pa.Table.from_batches(out, schema)


def _candidate_relation(spark, cands: Candidates, q_pa: pa.Array, qtype,
                        grouped: bool) -> DataFrame:
    """A driver candidate set as an Arrow-built local relation (the JVM
    parses it; no Python task): the distinct (query_id, neighbor_id) pairs,
    or with ``grouped`` one (neighbor_id, __qids) row per neighbor — the
    form the ``matmul_grouped`` verify consumes, so no ``collect_list``
    shuffle runs."""
    from pyspark.sql.pandas.types import from_arrow_type

    nf = T.StructField("neighbor_id", from_arrow_type(cands.ids.type))
    qids = AM.take(q_pa, cands.qrow)
    if not grouped:
        return spark.createDataFrame(
            pa.table({"query_id": qids,
                      "neighbor_id": AM.take(cands.ids, np.repeat(
                          np.arange(len(cands.ids)), np.diff(cands.offsets)))}),
            T.StructType([T.StructField("query_id", qtype), nf]))
    return spark.createDataFrame(
        pa.table({"neighbor_id": cands.ids,
                  "__qids": pa.ListArray.from_arrays(
                      pa.array(cands.offsets.astype(np.int32)), qids)}),
        T.StructType([nf, T.StructField("__qids", T.ArrayType(qtype))]))


def _topk_relation(spark, scored: pa.Table, k: int, max_dist: float,
                   schema: T.StructType) -> DataFrame:
    """The inclusive threshold and the top-k of (query_id, neighbor_id,
    dist) rows on the driver, as an Arrow-built local relation (query_id,
    rank, neighbor_id, dist).  The order is :func:`topk.topk_per_query`'s:
    per query by ``(dist, neighbor_id)`` — Arrow compares strings byte by
    byte, Spark's order, and -0.0 equal to 0.0 as Spark does — and ``rank``
    counts from 1."""
    scored = scored.filter(pc.less_equal(scored["dist"], max_dist))
    scored = scored.sort_by([("query_id", "ascending"), ("dist", "ascending"),
                             ("neighbor_id", "ascending")])
    qid = pc.dictionary_encode(scored["query_id"].combine_chunks(),
                               null_encoding="encode")
    codes = np.asarray(qid.indices)
    head = _run_starts(codes)
    rank = np.arange(len(codes)) - np.repeat(head, np.diff(np.r_[head, len(codes)]))
    keep = np.flatnonzero(rank < k)
    return spark.createDataFrame(pa.table({
        "query_id": scored["query_id"].take(keep),
        "rank": (rank[keep] + 1).astype(np.int32),
        "neighbor_id": scored["neighbor_id"].take(keep),
        "dist": scored["dist"].take(keep)}), schema)


def candidate_pairs(q: DataFrame, buckets: DataFrame, model: HasherModel,
                    id_col: str = "id",
                    max_candidates: int | None = None,
                    _collected: tuple[list, np.ndarray] | None = None,
                    _probe_arrays=None) -> DataFrame:
    """Candidate generation: q(query_id, __qvec) × buckets → deduped
    (query_id, neighbor_id) pairs (Q1-Q4, /root/reference/lsh/lsh.go:140-172).
    Public so benchmarks/metrics can count the pruned candidate set.

    The batch is hashed on the driver, like the reference's client-side
    ``getHashes`` (its ``lsh/lsh.go:141``).  Fewer than
    :data:`layout.QUERY_CROSSOVER` queries get their candidates from
    :func:`driver_candidates`, as a local relation; a larger batch runs the
    broadcast probe join, dedup and cap as Spark operators.  ``_collected``:
    pre-collected (ids, matrix) from :func:`_collect_queries` so a caller
    pays one driver round-trip, not two (without it the batch is collected
    here, under :func:`search`'s query-batch contract); ``_probe_arrays``:
    the batch's :func:`driver_probe_arrays`."""
    from pyspark.sql.pandas.types import to_arrow_type

    lists = buckets.withColumnRenamed(id_col, "neighbor_id")
    spark = q.sparkSession
    q_ids, Q = (_collected if _collected is not None
                else _collect_queries(q, model.cfg.dims))
    if _probe_arrays is not None:
        ids_rep, trees, flat = _probe_arrays
    else:
        ids_rep, trees, flat = driver_probe_arrays(Q, model, len(q_ids))
    if on_driver(len(q_ids)):
        qtype = q.schema["query_id"].dataType
        cands = driver_candidates(lists, q_ids, ids_rep,
                                  {"tree_id": trees, "hash": flat},
                                  max_candidates)
        return _candidate_relation(spark, cands,
                                   pa.array(q_ids, to_arrow_type(qtype)),
                                   qtype, grouped=False)
    qtype = dict(q.dtypes)["query_id"]
    # built from Arrow, not a Python list-of-tuples (per-row Py4J
    # serialization at mid-size batches, r3 ADVICE) nor pandas (a
    # PythonRDD when the session's Arrow conversion is off): the JVM
    # parses it, so no Python task runs
    probes = spark.createDataFrame(
        pa.table({"query_id": AM.take(pa.array(q_ids), ids_rep),
                  "tree_id": trees.astype(np.int32),
                  "hash": flat}),
        schema=f"query_id {qtype}, tree_id int, hash long",
    )
    matched = F.broadcast(probes).join(lists, ["tree_id", "hash"])
    if max_candidates is None:
        return (matched.select("query_id", "neighbor_id")
                .dropDuplicates(["query_id", "neighbor_id"]))  # closestSet analog (lsh/lsh.go:142)
    # Deterministic cap that MATCHES the reference's arrival-order semantics
    # in what it keeps: the reference scans trees in order and stops adding
    # once maxCandidates distinct ids are seen (lsh/lsh.go:145,163-166), so
    # survivors are biased toward ids found in the EARLIEST trees — and a
    # query's true neighbors sit in its bucket in almost every tree, so they
    # arrive first.  Ordering by bare neighbor_id (the r1-r2 scheme) is
    # neighbor-AGNOSTIC: once candidates ≫ cap (e.g. the reference's SIFT
    # config: ~36k candidates, cap 10k) it keeps a uniform id sample and
    # recall collapses to cap/candidates.  (first_tree, neighbor_id) is
    # fully deterministic, reproducible across engines, and keeps the same
    # neighbors the reference's early exit keeps.
    from pyspark.sql import Window

    agg = (matched.select("query_id", "neighbor_id", "tree_id")
           .groupBy("query_id", "neighbor_id")
           .agg(F.min("tree_id").alias("__first_tree")))
    w = Window.partitionBy("query_id").orderBy(F.asc("__first_tree"),
                                               F.asc("neighbor_id"))
    return (agg.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_candidates)
            .select("query_id", "neighbor_id"))


def _candidate_matrix(batch: pa.RecordBatch, dims: int) -> np.ndarray:
    """A verify batch's corpus vectors (``__cvec``) as a (rows, dims)
    float64 matrix — the corpus side of the vector contract, checked in
    the batch that is verified anyway, so it costs no job: a vector that is
    not ``dims`` wide (the query batch's width) or that holds a NaN raises
    ``ValueError`` naming its corpus id (``neighbor_id``)."""
    vecs = AM.batch_column(batch, "__cvec")
    ids = AM.batch_column(batch, "neighbor_id")
    if pa.types.is_fixed_size_list(vecs.type):
        widths = np.full(len(vecs), vecs.type.list_size)
    else:
        widths = np.diff(np.asarray(vecs.offsets))
    bad = widths != dims
    if vecs.null_count:
        bad &= ~np.asarray(vecs.is_null())   # matrix_from_column names those
    if bad.any():
        i = int(bad.argmax())
        raise ValueError(f"corpus vector {ids[i].as_py()!r} has {widths[i]} "
                         f"elements; the query batch has {dims}")
    C = AM.matrix_from_column(vecs)
    if np.isnan(C).any():
        i = int(np.isnan(C).any(axis=1).argmax())
        raise ValueError(f"corpus vector {ids[i].as_py()!r} has a NaN element")
    return C


def _pair_kernel(q_ids: list, Q: np.ndarray, metric: str):
    """The per-batch kernel of the ``matmul`` verify: a (query_id,
    neighbor_id, __cvec) batch of candidate pairs → (query_id, neighbor_id,
    dist), one numpy gather against the query matrix.  The ``mapInArrow``
    op and the driver path (:func:`_driver_verify`) both run it."""
    Qm = np.asarray(Q)
    lookup = AM.id_index_lookup(q_ids)
    if metric == "cosine":
        qn = np.linalg.norm(Qm, axis=1, keepdims=True)
        Qn = Qm / np.where(qn > TOL, qn, 1.0)

    def compute(batch):
        qid_col = AM.batch_column(batch, "query_id")
        C = _candidate_matrix(batch, Qm.shape[1])
        qi = lookup(np.asarray(qid_col))
        if metric == "l2":
            d = np.linalg.norm(C - Qm[qi], axis=1)
        else:
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            Cn = C / np.where(cn > TOL, cn, 1.0)
            d = 1.0 - np.einsum("ij,ij->i", Cn, Qn[qi])
            zero = (cn[:, 0] <= TOL) | (qn[qi, 0] <= TOL)
            d[zero] = 1.0                       # zero-vector guard (helpers.go:224-231)
            d[d < TOL] = 0.0                    # clamp (helpers.go:232-233)
        # id columns pass through untouched (no pandas re-boxing)
        return pa.RecordBatch.from_arrays(
            [qid_col, AM.batch_column(batch, "neighbor_id"), pa.array(d)],
            names=["query_id", "neighbor_id", "dist"])

    return compute


def _matmul_verify(q: DataFrame, joined: DataFrame, metric: str,
                   collected: tuple[list, np.ndarray] | None = None) -> DataFrame:
    """(query_id, __qvec) queries × (neighbor_id, __cvec, query_id) candidate
    rows → (query_id, neighbor_id, dist): distances via one numpy gather per
    Arrow batch against the broadcast query matrix (NNMock-with-BLAS shape,
    /root/reference/annbench/annbench.go:83-125), :func:`_pair_kernel`."""
    spark = q.sparkSession
    q_ids, Q = collected if collected is not None else _collect_queries(q)
    bc = spark.sparkContext.broadcast((q_ids, Q))
    qtype = dict(q.dtypes)["query_id"]
    ctype = dict(joined.dtypes)["neighbor_id"]
    schema = f"query_id {qtype}, neighbor_id {ctype}, dist double"

    def op(batches):
        yield from AM.map_batches(batches, _pair_kernel(*bc.value, metric),
                                  threaded=False)

    return joined.select("query_id", "neighbor_id", "__cvec").mapInArrow(op, schema)


def _grouped_kernel(q_ids: list, Q: np.ndarray, q_type: pa.DataType,
                    metric: str):
    """The per-batch kernel of the ``matmul_grouped`` verify: a
    (neighbor_id, __cvec, __qids array) batch → (query_id, neighbor_id,
    dist), one corpus-vector transfer per touched row.  The ``mapInArrow``
    op and the driver path (:func:`_driver_verify`) both run it.

    Memory-bounded (r3 ADVICE): when the pair list is sparse relative to the
    full |rows|×|queries| gram, distances come from a per-pair gathered
    einsum; otherwise the gram is computed in row blocks of at most
    :data:`layout.VERIFY_CELLS` cells — a 10k-row Arrow batch against a
    100k-query broadcast can never materialize the naive 8 GB matrix this
    backend is meant for.  Which branch runs, and so the last bits of a
    distance, depends on the batch's composition."""
    Qm = np.asarray(Q)
    lookup = AM.id_index_lookup(q_ids)
    q_pa = pa.array(q_ids, type=q_type)        # the declared id type
    qn = np.linalg.norm(Qm, axis=1)
    qsq = (Qm * Qm).sum(1)                      # fixed per task, not per batch
    if metric == "cosine":
        Qn = Qm / np.where(qn > TOL, qn, 1.0)[:, None]
    budget = layout.VERIFY_CELLS

    def compute(batch):
        C = _candidate_matrix(batch, Qm.shape[1])
        qids_col = AM.batch_column(batch, "__qids")
        counts = np.diff(np.asarray(qids_col.offsets).astype(np.int64))
        flat_q = lookup(np.asarray(qids_col.flatten()))
        rows = np.repeat(np.arange(batch.num_rows, dtype=np.int64), counts)
        nrows = batch.num_rows
        npairs, nq, dims = len(rows), Qm.shape[0], Qm.shape[1]
        if metric == "l2":
            csq = (C * C).sum(1)
            d = np.empty(npairs)
            if npairs * dims <= nrows * nq:
                # sparse pairs: gathered per-pair dots, chunked
                step = max(1, budget // max(dims, 1))
                for s in range(0, npairs, step):
                    rr, qq = rows[s:s + step], flat_q[s:s + step]
                    g = np.einsum("pd,pd->p", C[rr], Qm[qq])
                    d[s:s + step] = np.sqrt(np.maximum(
                        csq[rr] + qsq[qq] - 2.0 * g, 0.0))
            else:
                # dense pairs: gram in row blocks (rows are sorted, so
                # each block's pair span is a contiguous slice)
                step = max(1, budget // max(nq, 1))
                for s in range(0, nrows, step):
                    e = min(s + step, nrows)
                    lo, hi = np.searchsorted(rows, [s, e])
                    d2 = ((C[s:e] * C[s:e]).sum(1)[:, None] + qsq[None, :]
                          - 2.0 * (C[s:e] @ Qm.T))
                    d[lo:hi] = np.sqrt(np.maximum(
                        d2[rows[lo:hi] - s, flat_q[lo:hi]], 0.0))
        else:
            cn = np.linalg.norm(C, axis=1)
            Cn = C / np.where(cn > TOL, cn, 1.0)[:, None]
            d = np.empty(npairs)
            if npairs * dims <= nrows * nq:
                step = max(1, budget // max(dims, 1))
                for s in range(0, npairs, step):
                    rr, qq = rows[s:s + step], flat_q[s:s + step]
                    d[s:s + step] = 1.0 - np.einsum(
                        "pd,pd->p", Cn[rr], Qn[qq])
            else:
                step = max(1, budget // max(nq, 1))
                for s in range(0, nrows, step):
                    e = min(s + step, nrows)
                    lo, hi = np.searchsorted(rows, [s, e])
                    dmat = 1.0 - Cn[s:e] @ Qn.T
                    d[lo:hi] = dmat[rows[lo:hi] - s, flat_q[lo:hi]]
            zero = (cn[rows] <= TOL) | (qn[flat_q] <= TOL)
            d[zero] = 1.0                       # zero-vector guard (helpers.go:224-231)
            d[d < TOL] = 0.0                    # clamp (helpers.go:232-233)
        return pa.RecordBatch.from_arrays(
            [AM.take(q_pa, flat_q),
             AM.take(AM.batch_column(batch, "neighbor_id"), rows),
             pa.array(d)],
            names=["query_id", "neighbor_id", "dist"])

    return compute


def _matmul_verify_grouped(q: DataFrame, joined: DataFrame, metric: str,
                           collected: tuple[list, np.ndarray] | None = None
                           ) -> DataFrame:
    """(neighbor_id, __cvec, __qids array) rows → (query_id, neighbor_id,
    dist) against the broadcast query matrix, :func:`_grouped_kernel`:
    O(rows_touched × dims) Arrow traffic instead of O(candidate_pairs ×
    dims)."""
    from pyspark.sql.pandas.types import to_arrow_type

    spark = q.sparkSession
    q_ids, Q = collected if collected is not None else _collect_queries(q)
    bc = spark.sparkContext.broadcast((q_ids, Q))
    qtype = dict(q.dtypes)["query_id"]
    ctype = dict(joined.dtypes)["neighbor_id"]
    schema = f"query_id {qtype}, neighbor_id {ctype}, dist double"
    q_arrow_type = to_arrow_type(q.schema["query_id"].dataType)

    def op(batches):
        yield from AM.map_batches(
            batches, _grouped_kernel(*bc.value, q_arrow_type, metric),
            threaded=False)

    return joined.select("neighbor_id", "__cvec", "__qids").mapInArrow(op, schema)
