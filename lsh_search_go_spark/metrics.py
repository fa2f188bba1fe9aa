"""Evaluation metrics.

* ``pair_recall`` / ``pair_precision`` — set-based, exactly the reference's
  definition (/root/reference/annbench/annbench.go:143-162): precision =
  |pred ∩ gt| / |pred|, recall = |pred ∩ gt| / |gt|, computed distributed
  (joins + counts), over canonical (src < dst) pairs.
* ``distance_based_precision_recall`` — the ε-approximate ANN-Benchmarks
  variant (/root/reference/annbench/annbench.go:164-187): prediction at rank i
  counts iff its id is in the ground-truth set AND its distance ≤ (1+ε)·gt
  distance at the same rank.

Per-partition lineage (the rows each write task committed) is stage
bookkeeping, read from Parquet footers: see ``sources/io.committed_rows``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        F.least("src_id", "dst_id").alias("src_id"),
        F.greatest("src_id", "dst_id").alias("dst_id"),
    ).distinct()


def pair_precision_recall(pred: DataFrame, gt: DataFrame) -> tuple[float, float]:
    p, g = _canon(pred), _canon(gt)
    n_pred = p.count()
    n_gt = g.count()
    n_hit = p.join(g, ["src_id", "dst_id"]).count()
    precision = n_hit / n_pred if n_pred else 0.0  # guard as annbench.go:148-150
    recall = n_hit / n_gt if n_gt else 1.0
    return precision, recall


def distance_based_precision_recall(pred: DataFrame, gt: DataFrame,
                                    epsilon: float = 0.05) -> tuple[float, float]:
    """pred/gt: (query_id, rank, neighbor_id, dist).  Position-aligned ε rule."""
    g = gt.select("query_id", "rank",
                  F.col("neighbor_id").alias("gt_id"), F.col("dist").alias("gt_dist"))
    gt_sets = gt.groupBy("query_id").agg(F.collect_set("neighbor_id").alias("gt_set"))
    joined = (
        pred.join(g.select("query_id", "rank", "gt_dist"), ["query_id", "rank"], "left")
        .join(gt_sets, "query_id")
        .withColumn(
            "hit",
            (F.array_contains("gt_set", F.col("neighbor_id"))
             & (F.col("dist") <= (1.0 + epsilon) * F.col("gt_dist"))).cast("int"),
        )
    )
    per_q = joined.groupBy("query_id").agg(
        F.sum("hit").alias("hits"), F.count(F.lit(1)).alias("n_pred")
    ).join(gt.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_gt")), "query_id")
    row = per_q.agg(
        F.avg(F.col("hits") / F.col("n_pred")).alias("precision"),
        F.avg(F.col("hits") / F.col("n_gt")).alias("recall"),
    ).collect()[0]
    return float(row["precision"] or 0.0), float(row["recall"] or 0.0)
