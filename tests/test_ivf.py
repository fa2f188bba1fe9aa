"""IVF coarse-quantizer ANN: recall vs brute force, determinism, and
agreement of the verify backends (shared ann.verify_topk)."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_search_go_spark.functions import layout
from lsh_search_go_spark.operators import ivf
from lsh_search_go_spark.operators.bruteforce import brute_force_topk
from lsh_search_go_spark.sources import io


@pytest.fixture(scope="module")
def mixture(spark):
    rng = np.random.default_rng(42)
    centers = rng.normal(scale=10.0, size=(20, 16))
    train = np.concatenate([c + rng.normal(scale=0.5, size=(100, 16)) for c in centers])
    test = np.concatenate([c + rng.normal(scale=0.5, size=(5, 16)) for c in centers])
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(train)], "id long, vec array<double>"
    ).cache()
    queries = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(test)],
        "query_id long, vec array<double>",
    ).cache()
    return train, corpus, queries


def test_fit_deterministic_and_assignment_total(mixture, spark):
    train, corpus, _ = mixture
    c1 = ivf.fit_centroids(train, 32, "cosine", seed=7)
    c2 = ivf.fit_centroids(train, 32, "cosine", seed=7)
    np.testing.assert_array_equal(c1, c2)
    inv = ivf.assign(corpus, c1, "cosine")
    rows = inv.groupBy("centroid_id").count().collect()
    assert sum(r["count"] for r in rows) == train.shape[0]  # every vector listed once
    assert all(0 <= r.centroid_id < 32 for r in rows)


@pytest.mark.parametrize("metric,max_dist", [("cosine", 0.05), ("l2", 4.0)])
def test_ivf_recall_vs_bruteforce(mixture, spark, metric, max_dist):
    train, corpus, queries = mixture
    C = ivf.fit_centroids(train, 20, metric, seed=42)
    inv = ivf.assign(corpus, C, metric).cache()
    pred = ivf.search(queries, inv, corpus, C, k=10, max_dist=max_dist,
                      metric=metric, nprobe=3)
    gt = brute_force_topk(corpus, queries, 10, metric,
                          exclude_self=False).filter(F.col("dist") <= max_dist)
    p = {(r.query_id, r.neighbor_id) for r in pred.collect()}
    g = {(r.query_id, r.neighbor_id) for r in gt.collect()}
    assert g, "ground truth must be non-empty"
    recall = len(p & g) / len(g)
    assert recall >= 0.9, f"{metric}: recall {recall}"


def test_ivf_hot_centroid_skew(spark, monkeypatch):
    """One centroid holding ~30% of corpus mass (the real-corpus hot-list
    shape, r2 VERDICT task 4): recall must hold for queries inside AND
    outside the hot region, and the physical plan must show the skew-proof
    shape — broadcast probe join (no shuffle for a hot list to skew) and
    WindowGroupLimit bounding the per-query top-k shuffle — in the Spark
    plan of a batch of ``layout.QUERY_CROSSOVER`` or more queries; a
    smaller batch is ranked on the driver and shuffles nothing."""
    rng = np.random.default_rng(3)
    centers = rng.normal(scale=10.0, size=(16, 16))
    hot = centers[0] + rng.normal(scale=0.5, size=(2400, 16))
    cold = np.concatenate(
        [c + rng.normal(scale=0.5, size=(400, 16)) for c in centers[1:]])
    train = np.concatenate([hot, cold])
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(train)],
        "id long, vec array<double>").cache()
    # quantizer = the true centers: guarantees list 0 carries the hot mass
    C = np.asarray(centers, dtype=np.float64)
    inv = ivf.assign(corpus, C, "l2").cache()
    counts = {r.centroid_id: r["count"]
              for r in inv.groupBy("centroid_id").count().collect()}
    assert max(counts.values()) / train.shape[0] >= 0.25, \
        f"fixture not skewed: {counts}"

    # queries from the hot cluster and from cold ones
    qvecs = np.concatenate([
        centers[0] + rng.normal(scale=0.5, size=(10, 16)),
        np.concatenate([centers[1 + j] + rng.normal(scale=0.5, size=(1, 16))
                        for j in range(10)]),
    ])
    queries = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(qvecs)],
        "query_id long, vec array<double>").cache()

    pred = ivf.search(queries, inv, corpus, C, k=10, max_dist=1e9,
                      metric="l2", nprobe=3)
    gt = brute_force_topk(corpus, queries, 10, "l2", exclude_self=False)
    p = {(r.query_id, r.neighbor_id) for r in pred.collect()}
    g = {(r.query_id, r.neighbor_id) for r in gt.collect()}
    recall = len(p & g) / len(g)
    assert recall >= 0.95, f"hot-centroid recall {recall}"

    def plan():
        return (ivf.search(queries, inv, corpus, C, k=10, max_dist=1e9,
                           metric="l2", nprobe=3)
                ._jdf.queryExecution().executedPlan().toString())

    assert "Exchange" not in plan()
    monkeypatch.setattr(layout, "QUERY_CROSSOVER", 0)
    plan = plan()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "hot list would concentrate a shuffle"
    assert "WindowGroupLimit" in plan, "top-k must pre-limit per partition"


def test_ivf_list_store_pruned_search_matches(mixture, spark, tmp_path,
                                             executed_plans):
    """The centroid-partitioned list store returns identical results to the
    in-memory inverted relation, and its scan prunes to the probed
    centroid_id directories (the IVF serving layout, symmetric with the
    LSH bucket store)."""
    train, corpus, queries = mixture
    C = ivf.fit_centroids(train, 20, "cosine", seed=42)
    inv = ivf.assign(corpus, C, "cosine").cache()
    store = str(tmp_path / "list_store")
    ivf.write_list_store(inv, store, centroids=C)

    base = {(r.query_id, r.rank, r.neighbor_id)
            for r in ivf.search(queries, inv, corpus, C, 10, 0.05,
                                "cosine", nprobe=3).collect()}
    pruned = ivf.search_from_store(queries, store, corpus, C, 10, 0.05,
                                   "cosine", nprobe=3)
    got = {(r.query_id, r.rank, r.neighbor_id) for r in pruned.collect()}
    assert got == base

    import re
    one_q = queries.limit(1)
    # a one-query batch scans the store in its candidate collect, so the
    # evidence is in the plans the call executed
    plan = "\n".join(executed_plans(lambda: ivf.search_from_store(
        one_q, store, corpus, C, 10, 0.05, "cosine", nprobe=3).collect()))
    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf and "centroid_id" in pf.group(1), \
        f"centroid partition filter not pushed: {pf and pf.group(1)}"

    # a different quantizer than the one that assigned the lists → refused
    # (mirrors the LSH bucket store's model-fingerprint guard)
    import pytest as _pytest

    C2 = ivf.fit_centroids(train, 20, "cosine", seed=7)
    with _pytest.raises(ValueError, match="quantizer mismatch"):
        ivf.search_from_store(queries, store, corpus, C2, 10, 0.05,
                              "cosine", nprobe=3)

    # a store the quantizer guard cannot check is refused: one with no
    # meta, and one whose meta has no fingerprint
    shutil.rmtree(os.path.join(store, "_store_meta"))
    with _pytest.raises(ValueError, match="no meta at"):
        ivf.search_from_store(queries, store, corpus, C, 10, 0.05,
                              "cosine", nprobe=3)
    io.write_meta(spark, os.path.join(store, "_store_meta"), {"other": 1})
    with _pytest.raises(ValueError, match="no centroid_fingerprint"):
        ivf.search_from_store(queries, store, corpus, C, 10, 0.05,
                              "cosine", nprobe=3)


def test_ivf_dist_impls_agree(mixture, spark):
    train, corpus, queries = mixture
    C = ivf.fit_centroids(train, 16, "cosine", seed=1)
    inv = ivf.assign(corpus, C, "cosine").cache()
    res = {}
    for impl in ("sql", "matmul"):
        res[impl] = {(r.query_id, r.rank, r.neighbor_id)
                     for r in ivf.search(queries, inv, corpus, C, 5, 2.0,
                                         "cosine", nprobe=2,
                                         dist_impl=impl).collect()}
    assert res["sql"] == res["matmul"]
    with pytest.raises(ValueError, match="unknown dist_impl 'pandas'"):
        ivf.search(queries, inv, corpus, C, 5, 2.0, "cosine", nprobe=2,
                   dist_impl="pandas")
