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
  lists probed via a broadcast join (collected and grouped on the driver for
  a small batch, ``ann.driver_candidates``), then the shared exact-verify +
  top-k (ann.verify_topk — Q5/Q6 of the reference read path,
  /root/reference/lsh/lsh.go:174-198).

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
                     centroids: np.ndarray | None = None) -> None:
    """Materialize the inverted lists partitioned by ``centroid_id`` — the
    IVF serving layout (mirrors ``ann.write_bucket_store``).  Because
    centroid ranking is driver-side, a query batch's probed list ids are
    known BEFORE the scan, so :func:`search_from_store` pushes
    ``centroid_id IN (...)`` into the file listing and reads only
    ``≈ n_probed_lists / n_centroids`` of the store.

    ``partitionOverwriteMode`` is pinned ``static`` per-write (a session
    ``dynamic`` default would leave stale ``centroid_id`` dirs behind on a
    re-assignment with fewer centroids).  Pass the ``centroids`` that
    produced ``inverted`` and their fingerprint rides in ``_store_meta``,
    letting the read path refuse a mismatched quantizer."""
    spark = inverted.sparkSession
    (inverted
     .repartition("centroid_id")               # one file per list dir
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "static")
     .partitionBy("centroid_id")
     .parquet(path))
    if centroids is not None:
        (spark.createDataFrame(
            pa.table({"centroid_fingerprint": [centroid_fingerprint(centroids)]}),
            "centroid_fingerprint string")
         .coalesce(1).write.mode("overwrite")
         .json(path.rstrip("/") + "/_store_meta"))


def _list_store_meta(spark, store_path: str) -> str | None:
    """Centroid fingerprint from a list store's ``_store_meta``, or None for
    a genuinely pre-fingerprint store.  Only a MISSING meta path downgrades
    to legacy handling (r4 ADVICE: a bare ``except Exception`` here made a
    transient S3/JSON read failure indistinguishable from a legacy store and
    silently disabled the quantizer-mismatch guard) — real read errors
    propagate.  Accepting a legacy store is announced with a warning, since
    the guard it lacks is the only protection against probing with the wrong
    quantizer."""
    import warnings

    from pyspark.errors import AnalysisException

    meta_path = store_path.rstrip("/") + "/_store_meta"
    try:
        row = spark.read.json(meta_path).head()
    except AnalysisException:                 # path absent → legacy store
        warnings.warn(
            f"IVF list store at {store_path!r} has no _store_meta "
            "(written before quantizer fingerprinting): the probe centroids "
            "cannot be checked against the ones that assigned the lists — "
            "a mismatch silently routes queries to the wrong lists. "
            "Rebuild the store with write_list_store(..., centroids=...).",
            stacklevel=3)
        return None
    try:
        return row["centroid_fingerprint"]
    except Exception:                         # meta present, field absent
        return None


def search_from_store(queries: DataFrame, store_path: str, corpus: DataFrame,
                      centroids: np.ndarray, k: int, max_dist: float,
                      metric: str = "cosine", nprobe: int = 4,
                      id_col: str = "id", vec_col: str = "vec",
                      query_id_col: str = "query_id", query_vec_col: str = "vec",
                      dist_impl: str = "sql") -> DataFrame:
    """Identical results to :func:`search`; physically, only the probed
    ``centroid_id`` directories of a :func:`write_list_store` layout are
    listed and scanned (PartitionFilters).  A store written with its
    ``centroids`` recorded refuses a probe quantizer whose fingerprint
    differs (stores without meta are accepted as-is)."""
    from lsh_search_go_spark.operators.ann import (_collect_queries,
                                                   check_dist_impl, check_metric)

    check_dist_impl(dist_impl)
    check_metric(metric)
    spark = queries.sparkSession
    store_fp = _list_store_meta(spark, store_path)
    if store_fp is not None:
        caller_fp = centroid_fingerprint(centroids)
        if caller_fp != store_fp:
            raise ValueError(
                f"quantizer mismatch: list store at {store_path!r} was "
                f"assigned by centroids {store_fp} but the probe quantizer "
                f"is {caller_fp} — probing would route queries to the wrong "
                "lists; rebuild the store or load the original centroids")
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).alias("__qvec"))
    collected = _collect_queries(q, np.shape(centroids)[1])
    q_ids, Q = collected
    if q_ids:
        probes_np = probe_centroids_np(np.asarray(Q, np.float64),
                                       np.asarray(centroids, np.float64),
                                       nprobe, metric)
        probed = sorted({int(c) for row in probes_np for c in row})
    else:
        probed = []
    inverted = spark.read.parquet(store_path)
    if probed:
        inverted = inverted.filter(F.col("centroid_id").isin(probed))
    return search(queries, inverted.select(id_col, "centroid_id"), corpus,
                  centroids, k, max_dist, metric, nprobe,
                  id_col, vec_col, query_id_col, query_vec_col, dist_impl,
                  _collected=collected)


def search(queries: DataFrame, inverted: DataFrame, corpus: DataFrame,
           centroids: np.ndarray, k: int, max_dist: float,
           metric: str = "cosine", nprobe: int = 4,
           id_col: str = "id", vec_col: str = "vec",
           query_id_col: str = "query_id", query_vec_col: str = "vec",
           dist_impl: str = "sql",
           _collected: tuple[list, np.ndarray] | None = None) -> DataFrame:
    """Batch IVF search: rank centroids driver-side → broadcast the
    (query_id, centroid_id) probe relation into the inverted-list join →
    shared exact verify + inclusive threshold + top-k.

    A batch of fewer than ``layout.QUERY_CROSSOVER`` queries collects the
    matched (query row, neighbor_id) rows in one Arrow transfer and hands
    them to the verify as a local relation (``ann.driver_candidates``; the
    lists are disjoint, so it only groups them).  A query vector whose
    width is not the centroids' or that holds a NaN raises ``ValueError``
    naming the first offending ``query_id``.

    Returns (query_id, rank, neighbor_id, dist).  ``_collected``:
    pre-collected (ids, matrix) so ``search_from_store`` pays one driver
    round-trip, not two."""
    from lsh_search_go_spark.operators.ann import (_collect_queries,
                                                   check_dist_impl, check_metric,
                                                   driver_candidates, on_driver,
                                                   verify_topk)

    check_dist_impl(dist_impl)
    check_metric(metric)
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).alias("__qvec"))
    collected = (_collected if _collected is not None
                 else _collect_queries(q, np.shape(centroids)[1]))
    q_ids, Q = collected
    spark = queries.sparkSession
    qtype = dict(q.dtypes)["query_id"]
    if q_ids:
        probes_np = probe_centroids_np(Q, np.asarray(centroids, np.float64),
                                       nprobe, metric)
    else:   # empty query batch → empty result, like ann.search
        probes_np = np.zeros((0, nprobe), np.int32)
    qrow = np.repeat(np.arange(len(q_ids)), probes_np.shape[1])
    centroid_id = probes_np.reshape(-1).astype(np.int32)
    lists = inverted.withColumnRenamed(id_col, "neighbor_id")
    # built from Arrow, mirroring ann.candidate_pairs (r4 VERDICT task 4):
    # the JVM parses it, so no Python task runs
    if on_driver(len(q_ids)):
        probes = spark.createDataFrame(
            pa.table({"__qrow": qrow.astype(np.int32),
                      "centroid_id": centroid_id}),
            schema="__qrow int, centroid_id int")
        cands = driver_candidates(q, q_ids, probes, lists, ["centroid_id"],
                                  grouped=dist_impl == "matmul_grouped")
    else:
        probes = spark.createDataFrame(
            pa.table({"query_id": AM.take(pa.array(q_ids), qrow),
                      "centroid_id": centroid_id}),
            schema=f"query_id {qtype}, centroid_id int",
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
