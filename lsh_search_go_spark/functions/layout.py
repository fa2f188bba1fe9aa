"""One layout policy for Python-boundary passes.

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

Every pass that crosses the Python boundary asks :func:`plan` what to do
about it, naming its kernel kind.  The answer is one of

* ``none``: leave the layout alone;
* ``rebalance``: hash-repartition the input to the session's parallelism
  (the shuffle moves the payload once, and also parallelizes the JVM-side
  Arrow conversion);
* ``threads``: keep the layout, run GIL-releasing batch kernels on a
  bounded thread pool inside the one busy worker
  (:func:`arrowmat.map_batches`).

The answer comes from :data:`POLICY`, a table of each kernel's measured
economics (OPTIMIZATION_r06.md §"Two mitigations"), and applies only when
the input is degenerate: more than :data:`MAX_SHARE` of the rows in one
partition and at least :data:`MIN_ROWS` rows.  Below that floor the skewed
task finishes quickly anyway, while an added exchange fans every
DOWNSTREAM stage out into tiny tasks whose scheduling overhead dominates
(measured: the 5k-doc dedup pairs chain ran 1.1 s over a single-partition
signatures cache vs 2.6-6.4 s over a rebalanced one).  Streaming inputs and
single-core sessions always get ``none``.

The degeneracy probe is one cheap narrow JVM job (per-partition row counts,
no data columns touched), and it is scale-safe by construction:

* :func:`plan` consults the table first, so a kind or batch size that maps
  to ``none`` runs no probe at all;
* inputs that already have ≥ 2× parallelism worth of partitions skip the
  probe job (the 100 TB case — millions of splits — never pays it);
* the result is memoized per analyzed-plan semantic hash, so repeated
  passes over the same relation (benchmark draws, gate sweeps) probe once;
* a rebalance keys on the caller's id column — deterministic under task
  retry (guide §2.5 warns against rand-derived keys), and a unique id
  spreads evenly.

Neither mitigation changes results — only the physical row layout or the
thread a batch runs on.  Every consumer is row-independent (per-row
kernels) or order-insensitive (joins/aggregations/top-k with deterministic
tie-breaks), and threaded batches are yielded in submission order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_SHARE = 0.5          # largest partition's row share above which ...
MIN_ROWS = 50_000        # ... a relation at least this big is degenerate
QUERY_CROSSOVER = 256    # query-batch size where a shuffle starts to pay
# float64 cells (64 MB) a verify may hold at once: the grouped kernel's gram
# block, and the candidate matrix a small batch verifies on the driver
VERIFY_CELLS = 1 << 23

# kernel kind → (decision below QUERY_CROSSOVER queries, decision at or
# above it), for a degenerate input.  The shuffle moves the full payload
# once (~5.6 s for 600 MB of vectors through local disk); threads are free
# but help only GIL-releasing kernels and cannot reach the JVM-side Arrow
# conversion.  Measured interleaved per kernel, OPTIMIZATION_r06.md:
POLICY = {
    # forest traversal (einsum + GIL-bound gathers): batch threads measured
    # worse than serial; ~12 μs/row serial vs ~5 μs/row to shuffle a
    # 512-byte row once, so the 1M×64 build went 13-16 s → 4.6-10 s.
    "traversal": ("rebalance", "rebalance"),
    # the fused text kernel tokenizes in Python, so threads cannot help it.
    "signatures": ("rebalance", "rebalance"),
    # IVF assignment (dgemm + argmax, GIL-releasing): 3.1-6.5 s threaded vs
    # 8-10.7 s rebalanced (the shuffle ate the win) vs 14-17 s serial.
    "assign": ("threads", "threads"),
    # brute-force scan, ~2·nq·d flops per corpus row vs 8·d shuffled bytes:
    # 1M×64×100q 2.2-2.6 s threaded vs 4-8 s serial vs 6+ s rebalanced;
    # 60k×784×1000q ~5 s rebalanced vs ~9 s threaded vs ~15 s serial.
    "scan": ("threads", "rebalance"),
    # grouped gram verify, corpus side before the join (a broadcast join
    # keeps the stream side's partitioning): the 1000-query 60k×784 verify
    # went 16.3 s → 5.1 s rebalanced; small batches are not worth a probe.
    "gram_verify": ("none", "rebalance"),
}

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


def is_degenerate(df: DataFrame) -> bool:
    """True iff the relation has at least :data:`MIN_ROWS` rows AND its
    largest partition holds more than :data:`MAX_SHARE` of them (always
    False for streaming input or a parallelism of 1)."""
    if df.isStreaming:
        return False
    target = df.sparkSession.sparkContext.defaultParallelism
    if target <= 1:
        return False
    _, share, total = _probe(df, target)
    return share > MAX_SHARE and not (0 <= total < MIN_ROWS)


def plan(df: DataFrame, kernel: str, key_col: str | None = None,
         n_queries: int = 0) -> tuple[DataFrame, str]:
    """``(df, decision)`` for a Python-boundary pass of kind ``kernel`` (a
    :data:`POLICY` key) over ``df``; ``n_queries`` is the query-batch size
    for the kinds whose economics depend on it.  ``decision`` is ``none``,
    ``rebalance`` or ``threads``; ``df`` comes back hash-repartitioned on
    ``key_col`` (when it is one of its columns) only for ``rebalance``."""
    decision = POLICY[kernel][n_queries >= QUERY_CROSSOVER]
    if decision == "none" or not is_degenerate(df):
        return df, "none"
    if decision == "rebalance":
        target = df.sparkSession.sparkContext.defaultParallelism
        df = (df.repartition(target, F.col(key_col)) if key_col in df.columns
              else df.repartition(target))
    return df, decision
