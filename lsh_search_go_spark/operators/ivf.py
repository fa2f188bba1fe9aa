"""IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
scale path the target spec lists alongside the LSH-bucketed variant.

Shape mirrors the LSH forest operator exactly (same Spark physique, different
candidate generator):

* ``fit_centroids`` — driver-side seeded Lloyd k-means on a corpus sample
  (spherical for cosine), deterministic and re-derivable engine-independently
  (the same trick that lets DuckDB gate the LSH read path: the model is pure
  numpy, so the oracle rebuilds it bit-for-bit);
* ``assign`` — one ``mapInPandas`` matmul pass tagging each corpus vector
  with its nearest centroid → the inverted lists relation
  ``(id, centroid_id)`` (the analog of the bucket table,
  /root/reference/store/kv/store.go:64-73);
* ``search`` — queries ranked against centroids on the driver, top-``nprobe``
  lists probed via a broadcast join, then the shared exact-verify + top-k
  (ann.verify_topk — Q5/Q6 of the reference read path,
  /root/reference/lsh/lsh.go:174-198); a small batch runs the forest's
  three-job driver path instead (``ann._driver_search``).

At 100 TB the inverted-list relation is as narrow as the LSH bucket table
(two ints per row, no duplication across trees — 10× smaller than a 10-tree
forest) and probing reads ``nprobe / n_centroids`` of the corpus when the
lists are storage-partitioned by ``centroid_id``.

Skew (hot centroids — real embedding corpora concentrate mass):

* the candidate join is ``broadcast(probes) ⋈ inverted`` — the inverted
  relation STREAMS through a map-side hash join in whatever partitioning it
  arrived with, so a hot list never concentrates into one shuffle partition
  (there is no shuffle; a SortMergeJoin here would be the skew hazard);
* top-k runs under WindowGroupLimit, which pre-filters each input partition
  to its local top-k before the per-query shuffle — a query probing a hot
  list shuffles O(k × partitions), not the whole hot list;
* what a hot centroid DOES cost is verify work: a query probing it scores
  that list's fraction of the corpus.  Sizing guidance: pick
  ``n_centroids ≈ corpus_rows / target_list_rows`` (target a list that one
  task can matmul in memory, ~100k rows) and raise ``n_centroids`` /
  re-fit on a larger sample rather than raising ``nprobe`` when one list
  exceeds ~5% of the corpus — k-means splits dense regions given enough
  centroids, and recall from nprobe>4 on a bad quantizer costs more verify
  work than a finer quantizer does.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lsh_search_go_spark.config import TOL
from lsh_search_go_spark.functions import arrowmat as AM
from lsh_search_go_spark.functions import layout

# Bump whenever fit_centroids()/assignment semantics change the produced
# quantizer — oracle cache keys include it (see ann.MODEL_VERSION).
MODEL_VERSION = 1


def _normalize_rows(X: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n > TOL, n, 1.0)


def fit_centroids(sample: np.ndarray, n_centroids: int, metric: str = "cosine",
                  n_iters: int = 10, seed: int = 42) -> np.ndarray:
    """Seeded Lloyd k-means → (n_centroids, dims) float64.  Deterministic:
    init = seeded distinct row choice; ties in assignment break to the lowest
    centroid index (np.argmax/argmin first-hit); empty clusters keep their
    previous centroid.  Spherical (unit-norm centroids) for cosine."""
    X = np.asarray(sample, dtype=np.float64)
    if metric == "cosine":
        X = _normalize_rows(X)
    rng = np.random.default_rng(seed)
    k = min(n_centroids, X.shape[0])
    C = X[rng.choice(X.shape[0], size=k, replace=False)].copy()
    for _ in range(n_iters):
        a = _assign_np(X, C, metric)
        # Centroid update via one stable argsort + per-cluster slices.  The
        # r1-r5 form (`X[a == j].mean(0)` per centroid) re-scanned the whole
        # sample k times per iteration — O(k·n·d) memory traffic, ~10 GB/iter
        # at k=1000 — where grouping touches each row once.  BIT-IDENTICAL
        # by construction: a stable sort groups equal assignments in original
        # row order, so `X[order[lo:hi]]` is the exact array `X[a == j]`
        # produced, and the identical np.mean runs over it (pinned by
        # tests/test_ivf.py::test_fit_centroids_matches_mask_loop).
        order = np.argsort(a, kind="stable")
        bounds = np.searchsorted(a[order], np.arange(k + 1))
        for j in range(k):
            lo, hi = bounds[j], bounds[j + 1]
            if hi > lo:
                C[j] = X[order[lo:hi]].mean(axis=0)
        if metric == "cosine":
            C = _normalize_rows(C)
    return C


def _assign_np(X: np.ndarray, C: np.ndarray, metric: str) -> np.ndarray:
    """Nearest-centroid index per row — ONE matmul, deterministic ties."""
    if metric == "cosine":
        return np.argmax(_normalize_rows(X) @ C.T, axis=1)
    sq = (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * X @ C.T
    return np.argmin(sq, axis=1)


def probe_centroids_np(Q: np.ndarray, C: np.ndarray, nprobe: int,
                       metric: str) -> np.ndarray:
    """(nq, nprobe) centroid ids per query, best first, deterministic order
    (score desc, centroid id asc via stable argsort of (-score, id))."""
    if metric == "cosine":
        score = _normalize_rows(Q) @ C.T
    else:
        score = -((Q * Q).sum(1)[:, None] + (C * C).sum(1)[None, :]
                  - 2.0 * Q @ C.T)
    order = np.argsort(-score, axis=1, kind="stable")
    return order[:, : min(nprobe, C.shape[0])]


def assign(df: DataFrame, centroids: np.ndarray, metric: str = "cosine",
           id_col: str = "id", vec_col: str = "vec") -> DataFrame:
    """(id, vec) → inverted lists (id, centroid_id): one broadcast of the
    centroid matrix + one matmul per Arrow batch.

    Arrow-native (r6): the vector column converts by one flat-buffer reshape
    and the id column passes through untouched — the former mapInPandas pass
    built one ndarray object per row before the matmul, which at 10^6 rows
    cost ~5× the assignment math itself (guide §4.2).  Identical float64
    matrix → identical ``_assign_np`` output."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    in_df, decision = layout.plan(df.select(id_col, vec_col), "assign")
    threaded = decision == "threads"
    schema = T.StructType([in_df.schema[id_col],
                           T.StructField("centroid_id", T.IntegerType(), False)])

    def gen(batches):
        C = np.asarray(bc.value)

        def compute(batch):
            X = AM.matrix_from_column(AM.batch_column(batch, vec_col))
            return pa.RecordBatch.from_arrays(
                [AM.batch_column(batch, id_col),
                 pa.array(_assign_np(X, C, metric).astype(np.int32))],
                names=[id_col, "centroid_id"])

        yield from AM.map_batches(batches, compute, threaded)

    out = in_df.mapInArrow(gen, schema)
    if threaded:
        # the threaded pass inherits the degenerate 1-partition layout; the
        # OUTPUT is narrow (id + int32, ~12 B/row), so spreading it costs a
        # trivial shuffle and hands downstream consumers (the persisted
        # inverted-list cache, the probe join) a parallel layout — without
        # this, every later search streamed the whole list relation through
        # one task (measured 16.8 s vs ~3 s for the 100-query search)
        out = out.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    return out


def centroid_fingerprint(centroids: np.ndarray) -> str:
    """Stable content hash of a coarse quantizer — persisted into a list
    store's ``_store_meta`` so :func:`search_from_store` can refuse probing
    with centroids other than the ones that assigned the lists (mirrors
    ``ann.model_fingerprint``; a mismatched quantizer silently routes
    queries to the wrong lists instead of erroring)."""
    import hashlib

    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    h = hashlib.sha256(str(C.shape).encode())
    h.update(C.tobytes())
    return h.hexdigest()[:32]


def write_list_store(inverted: DataFrame, path: str,
                     centroids: np.ndarray) -> None:
    """Materialize the inverted lists partitioned by ``centroid_id`` — the
    IVF serving layout (``io.write_store``, like ``ann.write_bucket_store``).
    Because centroid ranking is driver-side, a query batch's probed list ids
    are known BEFORE the scan, so :func:`search_from_store` pushes
    ``centroid_id IN (...)`` into the file listing and reads only
    ``≈ n_probed_lists / n_centroids`` of the store.  ``centroids`` are the
    ones that produced ``inverted``; their :func:`centroid_fingerprint`
    rides in the store's meta, so the read path refuses another
    quantizer."""
    from lsh_search_go_spark.sources import io

    io.write_store(inverted, path, ["centroid_id"],
                   {"centroid_fingerprint": centroid_fingerprint(centroids)})


def search_from_store(queries: DataFrame, store_path: str, corpus: DataFrame,
                      centroids: np.ndarray, k: int, max_dist: float,
                      metric: str = "cosine", nprobe: int = 4,
                      id_col: str = "id", vec_col: str = "vec",
                      query_id_col: str = "query_id", query_vec_col: str = "vec",
                      dist_impl: str = "sql") -> DataFrame:
    """Identical results to :func:`search`, in as many Spark jobs;
    physically, only the probed ``centroid_id`` directories of a
    :func:`write_list_store` layout are listed and scanned
    (PartitionFilters).  The store's meta is read on the driver
    (``io.read_store_meta``) and the store with a schema built from
    ``corpus``'s id field, so neither read starts a job.  A store whose
    meta is missing, has no centroid fingerprint, or names other centroids
    than ``centroids`` raises ``ValueError``."""
    from lsh_search_go_spark.operators.ann import sql_in
    from lsh_search_go_spark.sources import io

    spark = queries.sparkSession
    io.read_store_meta(spark, store_path, "quantizer", "centroid_fingerprint",
                       centroid_fingerprint(centroids))
    q, collected, probes_np = _probe(queries, centroids, nprobe, metric,
                                     query_id_col, query_vec_col, dist_impl)
    # the schema Spark infers: data columns, then partition columns
    inverted = spark.read.schema(T.StructType([
        corpus.schema[id_col],
        T.StructField("centroid_id", T.IntegerType())])).parquet(store_path)
    probed = np.unique(probes_np)
    if len(probed):
        inverted = inverted.filter(sql_in("`centroid_id`", probed.tolist()))
    return _search_probed(q, collected, probes_np, inverted, corpus, k,
                          max_dist, metric, id_col, vec_col, dist_impl)


def _probe(queries: DataFrame, centroids: np.ndarray, nprobe: int,
           metric: str, query_id_col: str, query_vec_col: str,
           dist_impl: str) -> tuple[DataFrame, tuple[list, np.ndarray],
                                    np.ndarray]:
    """Check the arguments, collect the query batch once and rank the
    centroids for it: ``(q, (ids, matrix), (nq, nprobe) probed ids)``."""
    from lsh_search_go_spark.operators.ann import (_collect_queries,
                                                   check_dist_impl, check_metric)

    check_dist_impl(dist_impl)
    check_metric(metric)
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).alias("__qvec"))
    collected = _collect_queries(q, np.shape(centroids)[1])
    q_ids, Q = collected
    if q_ids:
        probes_np = probe_centroids_np(Q, np.asarray(centroids, np.float64),
                                       nprobe, metric)
    else:   # empty query batch → empty result, like ann.search
        probes_np = np.zeros((0, nprobe), np.int32)
    return q, collected, probes_np


def search(queries: DataFrame, inverted: DataFrame, corpus: DataFrame,
           centroids: np.ndarray, k: int, max_dist: float,
           metric: str = "cosine", nprobe: int = 4,
           id_col: str = "id", vec_col: str = "vec",
           query_id_col: str = "query_id", query_vec_col: str = "vec",
           dist_impl: str = "sql") -> DataFrame:
    """Batch IVF search: rank centroids driver-side → the probed lists'
    rows → shared exact verify + inclusive threshold + top-k.

    Physical-plan contract: a batch of fewer than
    ``layout.QUERY_CROSSOVER`` queries runs ``ann.search``'s driver path in
    three Spark jobs — the query collect, one filtered collect of the
    probed lists' rows (``centroid_id IN (...)``), grouped per neighbor on
    the driver (``ann.driver_candidates``; the lists are disjoint, so
    nothing is deduped), and one filtered collect of the candidate corpus
    rows, verified by the matmul verify's per-batch kernel and ranked on
    the driver, with ``sql`` and the over-budget fallback of
    ``ann.search``.  A larger batch broadcasts the (query_id, centroid_id)
    probes into the lists and runs ``ann.verify_topk``.  A query vector
    whose width is not the centroids' or that holds a NaN raises
    ``ValueError`` naming the first offending ``query_id``; a candidate
    corpus vector whose width is not the query batch's or that holds a NaN
    raises ``ValueError`` naming its corpus id (both matmul verifies).

    Returns (query_id, rank, neighbor_id, dist)."""
    q, collected, probes_np = _probe(queries, centroids, nprobe, metric,
                                     query_id_col, query_vec_col, dist_impl)
    return _search_probed(q, collected, probes_np, inverted, corpus, k,
                          max_dist, metric, id_col, vec_col, dist_impl)


def _search_probed(q: DataFrame, collected: tuple[list, np.ndarray],
                   probes_np: np.ndarray, inverted: DataFrame,
                   corpus: DataFrame, k: int, max_dist: float, metric: str,
                   id_col: str, vec_col: str, dist_impl: str) -> DataFrame:
    """:func:`search` after :func:`_probe`."""
    from lsh_search_go_spark.operators.ann import (_driver_search, on_driver,
                                                   verify_topk)

    q_ids, _ = collected
    qrow = np.repeat(np.arange(len(q_ids)), probes_np.shape[1])
    centroid_id = probes_np.reshape(-1).astype(np.int32)
    lists = inverted.withColumnRenamed(id_col, "neighbor_id")
    if on_driver(len(q_ids)):
        # the lists are disjoint, so the driver only groups the candidates
        return _driver_search(q, collected, lists, qrow,
                              {"centroid_id": centroid_id}, corpus, k,
                              max_dist, metric, id_col, vec_col, dist_impl)
    # built from Arrow, mirroring ann.candidate_pairs (r4 VERDICT task 4):
    # the JVM parses it, so no Python task runs
    probes = q.sparkSession.createDataFrame(
        pa.table({"query_id": AM.take(pa.array(q_ids), qrow),
                  "centroid_id": centroid_id}),
        schema=f"query_id {dict(q.dtypes)['query_id']}, centroid_id int",
    )
    cands = (
        F.broadcast(probes).join(lists, "centroid_id")
        .select("query_id", "neighbor_id")
        # lists are disjoint (one centroid per vector) → pairs are
        # already distinct; no dedup shuffle needed, unlike the forest
    )
    return verify_topk(q, cands, corpus, k, max_dist, metric,
                       id_col=id_col, vec_col=vec_col, dist_impl=dist_impl,
                       collected=collected)
