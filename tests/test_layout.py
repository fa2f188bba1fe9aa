"""Round-6 optimization internals: the degenerate-layout guard, the
Arrow-native matrix helpers, and the bit-identity of the vectorized k-means
update (the pieces whose PHYSIQUE changed while their results must not)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from lsh_search_go_spark.functions import arrowmat as AM
from lsh_search_go_spark.functions.layout import _PROBE_MEMO, maybe_rebalance


def _one_partition_df(spark, n):
    pdf = pd.DataFrame({"id": np.arange(n, dtype=np.int64),
                        "v": np.arange(n, dtype=np.float64)})
    return spark.createDataFrame(pdf).coalesce(1)


def test_rebalance_fixes_degenerate_layout(spark):
    df = _one_partition_df(spark, 60_000)
    out = maybe_rebalance(df, key_col="id", target=4, min_rows=50_000)
    assert out.rdd.getNumPartitions() == 4
    # results unchanged — same row set
    assert out.count() == 60_000
    assert out.agg(F.sum("id")).collect()[0][0] == df.agg(F.sum("id")).collect()[0][0]


def test_rebalance_skips_small_relations(spark):
    df = _one_partition_df(spark, 5_000)
    out = maybe_rebalance(df, key_col="id", target=4, min_rows=50_000)
    assert out is df            # below the row floor: untouched


def test_rebalance_skips_well_spread_input(spark):
    df = _one_partition_df(spark, 60_000).repartition(4, F.col("id"))
    out = maybe_rebalance(df, key_col="id", target=4, min_rows=50_000)
    assert out is df            # largest share ~25% <= 50%


def test_rebalance_probe_is_memoized(spark):
    df = _one_partition_df(spark, 60_000)
    maybe_rebalance(df, key_col="id", target=4)
    before = len(_PROBE_MEMO)
    maybe_rebalance(df, key_col="id", target=4)   # same plan → memo hit
    assert len(_PROBE_MEMO) == before


def test_list_to_matrix_fast_path_and_fallbacks(spark):
    rect = pa.array([[1.0, 2.0], [3.0, 4.0]])
    M = AM.list_to_matrix(rect)
    assert M.dtype == np.float64 and (M == [[1, 2], [3, 4]]).all()
    # sliced column: offsets no longer start at 0 — reshape must respect it
    sliced = pa.array([[0.0, 0.0], [1.0, 2.0], [3.0, 4.0]]).slice(1, 2)
    assert (AM.list_to_matrix(sliced) == [[1, 2], [3, 4]]).all()
    ragged = pa.array([[1.0], [2.0, 3.0]])
    assert AM.list_to_matrix(ragged) is None      # fast path declines
    with_null = pa.array([[1.0, 2.0], None])
    assert AM.list_to_matrix(with_null) is None
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


def test_exploded_tree_hashes_arrow_matches_driver_hashes(spark):
    """The mapInArrow bucket build must emit exactly the hashes the driver's
    hash_batch computes (bit-identical traversal, id passthrough intact) —
    including through a rebalanced degenerate layout."""
    from lsh_search_go_spark.config import AnnConfig
    from lsh_search_go_spark.operators import ann

    rng = np.random.default_rng(3)
    X = rng.normal(size=(60_000, 8))
    pdf = pd.DataFrame({"id": np.arange(60_000, dtype=np.int64), "vec": list(X)})
    df = spark.createDataFrame(pdf).coalesce(1)    # degenerate on purpose
    acfg = AnnConfig(n_trees=3, k_min_vecs=2000, dims=8, is_angular=False,
                     seed=1, sample_size=5000)
    model = ann.fit(X[:5000], acfg)
    got = (ann.build_buckets(df, model, "id", "vec")
           .toPandas().sort_values(["id", "tree_id"]).reset_index(drop=True))
    want = ann.hash_batch(X, model).reshape(-1)
    assert (got["hash"].to_numpy() == want).all()
    assert got["id"].to_numpy()[::3].tolist() == list(range(60_000))
