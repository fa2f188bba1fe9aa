"""Exact nearest-neighbor oracle (brute force).

Reference analog: ``NNMock`` — one bucket holding everything, linear scan +
threshold + heap (/root/reference/annbench/annbench.go:56-125).  In Spark the
"one bucket" is a broadcast of the (small) query set against the corpus —
queries×corpus scored in one JVM stage, then window top-k.  This is both the
correctness baseline for the LSH paths and the ANN fallback when the corpus
side fits a scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_search_go_spark.functions.vector import cosine_dist_expr, l2_dist_expr


def _dist(metric: str):
    if metric == "cosine":
        return cosine_dist_expr
    if metric == "l2":
        return l2_dist_expr
    raise ValueError(f"unknown metric {metric!r}")


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int,
                     metric: str = "cosine",
                     id_col: str = "id", vec_col: str = "vec",
                     query_id_col: str = "query_id",
                     query_vec_col: str = "vec",
                     exclude_self: bool = True) -> DataFrame:
    """(query_id, rank, neighbor_id, dist) — exact top-k per query.

    The query side is broadcast (queries ≪ corpus); the corpus side streams —
    no shuffle on the big side at all.
    """
    from lsh_search_go_spark.operators.topk import topk_per_query

    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).alias("__qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cvec"))
    scored = c.crossJoin(F.broadcast(q))
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.withColumn("dist", _dist(metric)("__cvec", "__qvec"))
    return topk_per_query(scored, k).select("query_id", "rank", "neighbor_id", "dist")


def brute_force_topk_np(corpus: DataFrame, queries: DataFrame, k: int,
                        metric: str = "cosine",
                        id_col: str = "id", vec_col: str = "vec",
                        query_id_col: str = "query_id",
                        query_vec_col: str = "vec",
                        exclude_self: bool = True) -> DataFrame:
    """Exact top-k, matrix-multiply form: broadcast the (small) query MATRIX to
    every partition, score each corpus partition against all queries with one
    numpy matmul, emit per-partition top-k, then global window top-k.

    This is the distributed exact-NN shape that actually carries a benchmark:
    the per-pair JVM fold in :func:`brute_force_topk` is kept for the
    DuckDB-mirrored gate; this path is the NNMock-at-scale equivalent
    (/root/reference/annbench/annbench.go:56-125 done with BLAS, like the
    reference's gonum usage)."""
    import numpy as np
    import pyarrow as pa

    from lsh_search_go_spark.config import TOL
    from lsh_search_go_spark.functions import arrowmat as AM
    from lsh_search_go_spark.functions import layout
    from lsh_search_go_spark.operators.ann import check_metric
    from lsh_search_go_spark.operators.topk import topk_per_query

    check_metric(metric)
    spark = corpus.sparkSession
    q_ids, Q = AM.collect_matrix(queries, query_vec_col, query_id_col)
    q_ids = q_ids.combine_chunks()     # keeps the declared id type (int, ...)
    bc = spark.sparkContext.broadcast((q_ids, Q))

    schema = f"query_id {dict(queries.dtypes)[query_id_col]}, " \
             f"neighbor_id {dict(corpus.dtypes)[id_col]}, dist double"
    in_corpus, decision = layout.plan(corpus.select(id_col, vec_col), "scan",
                                      key_col=id_col, n_queries=len(q_ids))

    # Arrow-native pass (r6, guide §4.2): vector batches convert by one
    # flat-buffer reshape (no per-row ndarray boxing — at 60k×784 the decode
    # loop cost more than the BLAS scan) and the per-partition top-k emits
    # through one vectorized gather instead of a per-query Python loop.
    # Same distances, same per-batch kk rows per query, same row order.
    def op(batches):
        q_pa, Q_l = bc.value
        Qm = np.asarray(Q_l)
        nq = len(q_pa)
        if metric == "l2":
            qsq = (Qm * Qm).sum(1)[None, :]
        else:
            qn = np.linalg.norm(Qm, axis=1, keepdims=True)
            Qn = Qm / np.where(qn > TOL, qn, 1.0)

        def compute(batch):
            C = AM.matrix_from_column(AM.batch_column(batch, vec_col))
            if metric == "l2":
                # ||c-q||² = ||c||² + ||q||² - 2 c·q
                d = np.sqrt(np.maximum(
                    (C * C).sum(1)[:, None] + qsq - 2.0 * C @ Qm.T, 0.0))
            else:
                cn = np.linalg.norm(C, axis=1, keepdims=True)
                Cn = C / np.where(cn > TOL, cn, 1.0)
                d = 1.0 - Cn @ Qn.T
                zero = (cn[:, 0] <= TOL)[:, None] | (qn[:, 0] <= TOL)[None, :]
                d[zero] = 1.0
                d[d < TOL] = 0.0
            kk = min(k + 1, d.shape[0])  # +1 covers exclude_self
            top = np.argpartition(d, kk - 1, axis=0)[:kk]  # (kk, nq)
            sel = top.T.reshape(-1)                        # query-major, same
            qidx = np.repeat(np.arange(nq, dtype=np.int64), kk)  # order as the
            return pa.RecordBatch.from_arrays(                   # old loop
                [AM.take(q_pa, qidx),
                 AM.take(AM.batch_column(batch, id_col), sel),
                 pa.array(d[sel, qidx])],
                names=["query_id", "neighbor_id", "dist"])

        yield from AM.map_batches(batches, compute, decision == "threads")

    scored = in_corpus.mapInArrow(op, schema=schema)
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    return topk_per_query(scored, k).select("query_id", "rank", "neighbor_id", "dist")


def threshold_pairs(corpus: DataFrame, threshold: float, metric: str = "cosine",
                    id_col: str = "id", vec_col: str = "vec") -> DataFrame:
    """All canonical pairs (src < dst) with dist <= threshold (inclusive, as
    /root/reference/lsh/lsh.go:179).  Quadratic — small inputs / oracle only;
    the scale path is LSH + verify."""
    a = corpus.select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("__va"))
    b = corpus.select(F.col(id_col).alias("dst_id"), F.col(vec_col).alias("__vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("src_id") < F.col("dst_id"))
        .withColumn("dist", _dist(metric)("__va", "__vb"))
        .filter(F.col("dist") <= threshold)
        .select("src_id", "dst_id", "dist")
    )
