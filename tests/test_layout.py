"""Round-6 optimization internals: the layout policy and both of its
degenerate-layout mitigations, the Arrow-native matrix helpers, and the
bit-identity of the vectorized k-means update (the pieces whose PHYSIQUE
changed while their results must not)."""

import contextlib
import io
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from lsh_search_go_spark.functions import arrowmat as AM
from lsh_search_go_spark.functions import layout
from lsh_search_go_spark.functions.layout import _PROBE_MEMO


def _one_partition_df(spark, n):
    pdf = pd.DataFrame({"id": np.arange(n, dtype=np.int64),
                        "v": np.arange(n, dtype=np.float64)})
    return spark.createDataFrame(pdf).coalesce(1)


@pytest.fixture(scope="module")
def layouts(spark):
    deg = _one_partition_df(spark, 60_000)
    return {"degenerate": deg,
            "well_spread": deg.repartition(4, F.col("id")),   # share ~25%
            "small": _one_partition_df(spark, 5_000)}       # below the floor


@pytest.mark.parametrize("kernel,n_queries,want", [
    ("traversal", 0, "rebalance"),
    ("signatures", 0, "rebalance"),
    ("assign", 0, "threads"),
    ("scan", 10, "threads"),
    ("scan", 300, "rebalance"),
    ("gram_verify", 10, "none"),
    ("gram_verify", 300, "rebalance"),
])
def test_plan_decision_table(spark, layouts, kernel, n_queries, want):
    """Each kernel kind's decision on a degenerate input; every kind leaves
    a well-spread input and one below the row floor alone.  A kind that
    maps to ``none`` runs no probe job, and a repeated probe is a memo hit."""
    assert spark.sparkContext.defaultParallelism == 4
    if want == "none":
        _PROBE_MEMO.clear()
    deg = layouts["degenerate"]
    out, decision = layout.plan(deg, kernel, "id", n_queries)
    assert decision == want
    if want == "rebalance":
        assert out.rdd.getNumPartitions() == 4
        # results unchanged — same row set
        assert out.count() == 60_000
        assert (out.agg(F.sum("id")).collect()[0][0]
                == deg.agg(F.sum("id")).collect()[0][0])
    else:
        assert out is deg
    for name in ("well_spread", "small"):
        df = layouts[name]
        out, decision = layout.plan(df, kernel, "id", n_queries)
        assert out is df and decision == "none", name
    probed = len(_PROBE_MEMO)
    layout.plan(deg, kernel, "id", n_queries)          # same plan → memo hit
    assert len(_PROBE_MEMO) == probed
    if want == "none":
        assert not _PROBE_MEMO


def test_list_to_matrix_fast_path_and_fallbacks(spark):
    rect = pa.array([[1.0, 2.0], [3.0, 4.0]])
    M = AM.matrix_from_column(rect)
    assert M.dtype == np.float64 and (M == [[1, 2], [3, 4]]).all()
    # sliced column: offsets no longer start at 0 — reshape must respect it
    sliced = pa.array([[0.0, 0.0], [1.0, 2.0], [3.0, 4.0]]).slice(1, 2)
    assert (AM.matrix_from_column(sliced) == [[1, 2], [3, 4]]).all()
    # defects raise, naming the defect and the first bad row
    ragged = pa.array([[1.0, 2.0], [2.0, 3.0], [4.0]])
    with pytest.raises(ValueError, match="ragged vectors: row 2"):
        AM.matrix_from_column(ragged)
    with_null = pa.array([[1.0, 2.0], None])
    with pytest.raises(ValueError, match="null vector at row 1"):
        AM.matrix_from_column(with_null)
    all_null = pa.array([None, None], type=pa.list_(pa.float64()))
    with pytest.raises(ValueError, match="null vector at row 0"):
        AM.matrix_from_column(all_null)
    null_elem = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, None]]).slice(1, 2)
    with pytest.raises(ValueError, match="null element in the vector at row 1"):
        AM.matrix_from_column(null_elem)
    fixed = pa.array([[1.0, None]], type=pa.list_(pa.float64(), 2))
    with pytest.raises(ValueError, match="null element in the vector at row 0"):
        AM.matrix_from_column(fixed)
    # rectangular float32 input upcasts through the fallback-compatible path
    f32 = pa.array([[1.0, 2.0], [3.0, 4.0]], type=pa.list_(pa.float32()))
    assert AM.matrix_from_column(f32).dtype == np.float64
    # the driver-side collect: same reshape, ids in the same row order, and
    # the matrix equals the per-row Row collect bit for bit
    rng = np.random.default_rng(3)
    X = rng.normal(size=(50, 7))
    df = spark.createDataFrame([(i * 3, v.tolist()) for i, v in enumerate(X)],
                               "id long, vec array<double>")
    ids, M = AM.collect_matrix(df, "vec", "id")
    rows = df.collect()
    assert ids.to_pylist() == [r.id for r in rows]
    assert np.array_equal(M, np.array([np.asarray(r.vec, np.float64) for r in rows]))
    assert np.array_equal(M, X)
    none_ids, M_only = AM.collect_matrix(df, "vec")
    assert none_ids is None and np.array_equal(M_only, X)
    ids0, M0 = AM.collect_matrix(df.limit(0), "vec", "id")
    assert len(ids0) == 0 and M0.shape[0] == 0 and M0.dtype == np.float64


def test_id_index_lookup_maps_and_rejects_unknown_ids():
    lookup = AM.id_index_lookup([30, 10, 20])
    assert lookup(np.array([10, 30, 20, 10])).tolist() == [1, 0, 2, 1]
    for bad in ([15], [40], [5], [10, 99]):     # between, above, below, mixed
        with pytest.raises(KeyError):
            lookup(np.array(bad))
    with pytest.raises(KeyError):
        AM.id_index_lookup([])(np.array([1]))
    assert AM.id_index_lookup([])(np.array([], dtype=np.int64)).tolist() == []
    by_name = AM.id_index_lookup(["b", "a"])
    assert by_name(["a", "b"]).tolist() == [1, 0]
    with pytest.raises(KeyError):
        by_name(["c"])


def test_fit_centroids_matches_mask_loop():
    """The r6 argsort-grouped k-means update must be BIT-identical to the
    r1-r5 per-centroid mask loop — the IVF oracle re-derives the quantizer
    from the same function, so any numeric drift would change a declared
    query's results."""
    from lsh_search_go_spark.operators import ivf

    rng = np.random.default_rng(7)
    X = rng.normal(size=(3000, 24))
    for metric in ("cosine", "l2"):
        C = ivf.fit_centroids(X, 64, metric, n_iters=6, seed=11)
        # reference: the pre-r6 implementation, verbatim
        Xr = X.copy()
        if metric == "cosine":
            n = np.linalg.norm(Xr, axis=1, keepdims=True)
            Xr = Xr / np.where(n > 1e-6, n, 1.0)
        r = np.random.default_rng(11)
        k = min(64, Xr.shape[0])
        Cr = Xr[r.choice(Xr.shape[0], size=k, replace=False)].copy()
        for _ in range(6):
            a = ivf._assign_np(Xr, Cr, metric)
            for j in range(k):
                members = Xr[a == j]
                if members.shape[0]:
                    Cr[j] = members.mean(axis=0)
            if metric == "cosine":
                n = np.linalg.norm(Cr, axis=1, keepdims=True)
                Cr = Cr / np.where(n > 1e-6, n, 1.0)
        assert (C == Cr).all(), f"fit_centroids drifted for metric={metric}"


@pytest.fixture(scope="module")
def degenerate_vecs(spark):
    """60k×8 vectors in ONE partition: degenerate for every kernel kind."""
    rng = np.random.default_rng(3)
    X = rng.normal(size=(60_000, 8))
    pdf = pd.DataFrame({"id": np.arange(60_000, dtype=np.int64), "vec": list(X)})
    return X, spark.createDataFrame(pdf).coalesce(1)


def _plan_operators(df) -> tuple[list[str], str]:
    """(operator names of the physical plan tree, top first; the full
    ``explain("formatted")`` text)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    tree = text.split("== Physical Plan ==")[1].split("\n\n")[0]
    return re.findall(r"(\w+) \(\d+\)", tree), text


def test_exploded_tree_hashes_arrow_matches_driver_hashes(spark, degenerate_vecs):
    """The mapInArrow bucket build must emit exactly the hashes the driver's
    hash_batch computes (bit-identical traversal, id passthrough intact) —
    including through a rebalanced degenerate layout, whose hash Exchange
    feeds the MapInArrow pass."""
    from lsh_search_go_spark.config import AnnConfig
    from lsh_search_go_spark.operators import ann

    X, df = degenerate_vecs
    acfg = AnnConfig(n_trees=3, k_min_vecs=2000, dims=8, is_angular=False,
                     seed=1, sample_size=5000)
    model = ann.fit(X[:5000], acfg)
    buckets = ann.build_buckets(df, model, "id", "vec")
    ops, text = _plan_operators(buckets)
    assert "Exchange" in ops[ops.index("MapInArrow"):], ops
    assert "hashpartitioning(id#" in text
    got = buckets.toPandas().sort_values(["id", "tree_id"]).reset_index(drop=True)
    want = ann.hash_batch(X, model).reshape(-1)
    assert (got["hash"].to_numpy() == want).all()
    assert got["id"].to_numpy()[::3].tolist() == list(range(60_000))


def test_threaded_assign_matches_spread_layout(spark, degenerate_vecs):
    """IVF assignment over a degenerate input runs batch threads, then
    hash-spreads its narrow OUTPUT (Exchange above MapInArrow, none below);
    the assignments equal those of a well-spread copy."""
    from lsh_search_go_spark.operators import ivf

    X, df = degenerate_vecs
    C = ivf.fit_centroids(X[:5000], 16, "l2", seed=1)
    inv = ivf.assign(df, C, "l2")
    ops, text = _plan_operators(inv)
    arrow = ops.index("MapInArrow")
    assert "Exchange" in ops[:arrow] and "Exchange" not in ops[arrow:], ops
    assert "hashpartitioning(id#" in text
    spread = ivf.assign(df.repartition(4, F.col("id")), C, "l2")
    got = inv.toPandas().sort_values("id").reset_index(drop=True)
    want = spread.toPandas().sort_values("id").reset_index(drop=True)
    assert got["id"].tolist() == list(range(60_000))
    assert (got["centroid_id"] == want["centroid_id"]).all()


@pytest.mark.parametrize("n_queries", [10, 300])   # threads | rebalance
def test_degenerate_bruteforce_np_matches_spread_layout(spark, degenerate_vecs,
                                                        n_queries):
    """Both degenerate-layout branches of the brute-force scan — batch
    threads below 256 queries, a rebalance at or above — return exactly the
    top-k of a well-spread copy."""
    from lsh_search_go_spark.operators.bruteforce import brute_force_topk_np

    X, df = degenerate_vecs
    qpdf = pd.DataFrame({"query_id": np.arange(n_queries, dtype=np.int64),
                         "vec": list(X[:n_queries] + 0.01)})
    queries = spark.createDataFrame(qpdf)

    def topk(corpus):
        res = brute_force_topk_np(corpus, queries, 5, "l2", exclude_self=False)
        return {(r.query_id, r.rank): (r.neighbor_id, r.dist)
                for r in res.collect()}

    ops, _ = _plan_operators(
        brute_force_topk_np(df, queries, 5, "l2", exclude_self=False))
    below = ops[ops.index("MapInArrow"):]
    assert ("Exchange" in below) == (n_queries >= 256), ops
    got = topk(df)
    assert len(got) == 5 * n_queries
    assert got == topk(df.repartition(4, F.col("id")))
