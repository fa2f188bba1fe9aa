"""Effective-parallelism guard for Python-boundary passes.

A parquet file written with one giant row group (the pandas/pyarrow default
keeps up to 2^20 rows per group) is effectively UNSPLITTABLE: Spark still
plans ``size/maxPartitionBytes`` byte-range splits, but only the split
containing the row group's midpoint produces rows — every other task is
empty, and a "38-partition" scan runs on ONE core.  This is guide §2.5's
"one huge unsplittable file" input skew, and it silently serializes every
downstream narrow pass (mapInArrow kernels, Arrow collects) until the first
shuffle.  Measured on the 1M×64 bench fixture: the bucket-build kernel that
takes 1.3 s across 32 processes ran 13-16 s inside Spark because all 100
Arrow batches arrived at a single Python worker.

:func:`maybe_rebalance` detects the degenerate layout with one cheap narrow
JVM probe (per-partition row counts — no data columns touched) and
hash-repartitions to the session's parallelism when the largest partition
holds most of the rows.  Scale-safe by construction:

* inputs that already have ≥ 2× parallelism worth of partitions skip the
  probe entirely (the 100 TB case — millions of splits — never pays it);
* the probe result is memoized per analyzed-plan semantic hash, so repeated
  passes over the same relation (benchmark draws, gate sweeps) probe once;
* the repartition keys on the caller's id column — deterministic under task
  retry (guide §2.5 warns against rand-derived keys), and a unique id
  spreads evenly;
* a relation counts as degenerate only when its largest partition holds
  more than ``max_share`` (default 0.5) of the rows AND it has at least
  ``min_rows`` (default 50k) rows — below that floor the skewed task
  finishes quickly anyway;
* callers whose per-row cost depends on the query batch add their own
  batch-size gate: the shuffle moves the full payload once (measured
  ~0.01 μs/byte), so the brute-force scan and the grouped verify rebalance
  only for batches of ≥ 256 queries (a 100-query scan at ~6 μs/row vs a
  512-byte row would lose to the shuffle; the 250 μs/row 1000-query gram
  wins), and a smaller brute-force batch uses :func:`is_degenerate` to run
  batch threads instead.  The 12 μs/row hash build always rebalances.

Rebalancing never changes results — only the physical row layout.  Every
consumer is row-independent (per-row kernels) or order-insensitive
(joins/aggregations/top-k with deterministic tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (applicationId, plan semanticHash, target) → (npart, max_share) probe result
_PROBE_MEMO: dict = {}
_MEMO_CAP = 512


def _probe(df: DataFrame, target: int) -> tuple[int, float, int]:
    """(n_partitions, largest-partition row share, total rows) — one narrow
    JVM job, memoized per analyzed plan."""
    spark = df.sparkSession
    try:
        key = (spark.sparkContext.applicationId,
               df._jdf.queryExecution().analyzed().semanticHash(), target)
    except Exception:                                       # noqa: BLE001
        key = None
    if key is not None and key in _PROBE_MEMO:
        return _PROBE_MEMO[key]
    npart = df.rdd.getNumPartitions()
    if npart >= 2 * target:
        res = (npart, 0.0, -1)    # plenty of splits: treat as well-spread
    else:
        counts = [r["c"] for r in
                  df.groupBy(F.spark_partition_id().alias("p"))
                  .agg(F.count(F.lit(1)).alias("c")).collect()]
        total = sum(counts)
        res = (npart, (max(counts) / total) if total else 0.0, total)
    if key is not None:
        if len(_PROBE_MEMO) >= _MEMO_CAP:
            _PROBE_MEMO.clear()
        _PROBE_MEMO[key] = res
    return res


def is_degenerate(df: DataFrame, target: int | None = None,
                  max_share: float = 0.5, min_rows: int = 50_000) -> bool:
    """True iff the relation is big enough to matter AND its largest
    partition holds more than ``max_share`` of the rows.  Same probe/memo as
    :func:`maybe_rebalance`; callers that can parallelize INSIDE the busy
    worker (GIL-releasing BLAS batches) use this to skip the payload shuffle
    a repartition would cost."""
    if df.isStreaming:
        return False
    spark = df.sparkSession
    target = target or spark.sparkContext.defaultParallelism
    if target <= 1:
        return False
    _, share, total = _probe(df, target)
    return share > max_share and not (0 <= total < min_rows)


def maybe_rebalance(df: DataFrame, key_col: str | None = None,
                    target: int | None = None,
                    max_share: float = 0.5,
                    min_rows: int = 50_000) -> DataFrame:
    """Hash-repartition ``df`` to ``target`` partitions iff its largest
    partition holds more than ``max_share`` of the rows (degenerate layout)
    AND the relation is at least ``min_rows`` rows.  The floor matters: on a
    small relation the skewed partition finishes in well under a second
    anyway, while the added exchange fans every DOWNSTREAM stage out into
    ``target`` tiny tasks whose scheduling overhead dominates (measured: the
    5k-doc dedup pairs chain ran 1.1 s over a single-partition signatures
    cache vs 2.6-6.4 s over a rebalanced one).  Streaming inputs and
    single-core sessions pass through untouched."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = target or spark.sparkContext.defaultParallelism
    if target <= 1:
        return df
    _, share, total = _probe(df, target)
    if share <= max_share or (0 <= total < min_rows):
        return df
    if key_col is not None and key_col in df.columns:
        return df.repartition(target, F.col(key_col))
    return df.repartition(target)
