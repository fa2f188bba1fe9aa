"""Parity of the numpy/Arrow ANN paths vs the JVM-fold definitions."""

import os
import re
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_search_go_spark.config import AnnConfig
from lsh_search_go_spark.operators import ann
from lsh_search_go_spark.operators.bruteforce import (brute_force_topk,
                                                      brute_force_topk_np)
from lsh_search_go_spark.sources import io


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(scale=8.0, size=(10, 12))
    train = np.concatenate([c + rng.normal(scale=0.4, size=(60, 12)) for c in centers])
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(train)], "id long, vec array<double>"
    ).cache()
    queries = corpus.filter(F.col("id") % 60 == 0).select(
        F.col("id").alias("query_id"), "vec").cache()
    return corpus, queries


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_bruteforce_np_matches_sql(spark, vecs, metric):
    corpus, queries = vecs
    sql_res = {(r.query_id, r.rank): (r.neighbor_id, r.dist)
               for r in brute_force_topk(corpus, queries, 5, metric).collect()}
    np_res = {(r.query_id, r.rank): (r.neighbor_id, r.dist)
              for r in brute_force_topk_np(corpus, queries, 5, metric).collect()}
    assert set(sql_res) == set(np_res)
    for key in sql_res:
        assert sql_res[key][0] == np_res[key][0], key
        assert abs(sql_res[key][1] - np_res[key][1]) < 1e-9
    # 32-bit query ids keep their declared type through the kernel
    int_q = queries.select(F.col("query_id").cast("int"), "vec")
    int_res = {(r.query_id, r.rank): (r.neighbor_id, r.dist)
               for r in brute_force_topk_np(corpus, int_q, 5, metric).collect()}
    assert int_res == np_res
    with pytest.raises(ValueError, match=re.escape("l2 | cosine")):
        brute_force_topk_np(corpus, queries, 5, "angular")


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_ann_search_dist_impls_agree(spark, vecs, metric):
    """All three verify backends (JVM fold / broadcast query-matrix gather /
    grouped gram-matrix) return the same neighbors at the same ranks; an
    unknown backend or metric is refused before any Spark job runs."""
    corpus, queries = vecs
    cfg = AnnConfig(n_trees=8, k_min_vecs=30, dims=12, seed=42, sample_size=1000,
                    is_angular=(metric == "cosine"))
    model = ann.fit(np.array([r.vec for r in corpus.collect()]), cfg)
    buckets = ann.build_buckets(corpus, model).cache()
    res = {}
    for impl in ("sql", "matmul", "matmul_grouped"):
        res[impl] = {(r.query_id, r.rank, r.neighbor_id)
                     for r in ann.search(queries, buckets, corpus, model, 5, 1e9,
                                         metric, dist_impl=impl).collect()}
    assert res["sql"] == res["matmul"] == res["matmul_grouped"]
    with pytest.raises(ValueError, match=re.escape("sql | matmul | matmul_grouped")):
        ann.search(queries, buckets, corpus, model, 5, 1e9, metric,
                   dist_impl="matmul_groupd")
    with pytest.raises(ValueError, match=re.escape("l2 | cosine")):
        ann.search(queries, buckets, corpus, model, 5, 1e9, "angular")


def test_cap_keeps_true_neighbors_when_binding(spark):
    """When candidates ≫ max_candidates, the deterministic cap must keep
    what the reference's arrival-order early exit keeps: true neighbors
    (present in the FIRST trees' buckets), not a uniform id sample.
    Guards the r3 finding that bare-neighbor_id ordering collapses recall
    to ~cap/candidates at the reference's SIFT config."""
    rng = np.random.default_rng(9)
    # prototype-structured corpus: true NN are locally clustered
    protos = rng.normal(scale=10.0, size=(300, 16))
    train = np.repeat(protos, 10, 0) + rng.normal(scale=0.3, size=(3000, 16))
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(train)],
        "id long, vec array<double>").cache()
    cfg = AnnConfig(n_trees=10, k_min_vecs=150, dims=16, seed=42,
                    sample_size=3000)
    model = ann.fit(train, cfg)
    buckets = ann.build_buckets(corpus, model).cache()
    queries = spark.createDataFrame(
        [(int(i), (protos[i] + rng.normal(scale=0.3, size=16)).tolist())
         for i in range(40)], "query_id long, vec array<double>")

    # cap far below the candidate count (leaves ~150-300 × 10 trees × 2)
    q_df = queries.select("query_id", F.col("vec").alias("__qvec"))
    uncapped = ann.candidate_pairs(q_df, buckets, model).groupBy(
        "query_id").count().agg(F.avg("count")).collect()[0][0]
    cap = 100
    assert uncapped > 3 * cap, f"fixture too easy: avg {uncapped} candidates"

    res = ann.search(queries, buckets, corpus, model, k=10, max_dist=1e9,
                     metric="l2", max_candidates=cap)
    got = {}
    for r in res.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    # each query's true top-10 = its prototype's 10 members
    hits = sum(len(got.get(q, set()) & set(range(q * 10, q * 10 + 10)))
               for q in range(40))
    recall = hits / (40 * 10)
    assert recall >= 0.9, f"cap dropped true neighbors: recall {recall}"


def test_ann_search_pandas_dist_and_cap(spark, vecs):
    corpus, queries = vecs
    cfg = AnnConfig(n_trees=8, k_min_vecs=30, dims=12, seed=42, sample_size=1000)
    model = ann.fit(np.array([r.vec for r in corpus.collect()]), cfg)
    buckets = ann.build_buckets(corpus, model).cache()
    # deterministic cap: fewer candidates admitted, still deterministic
    c1 = ann.search(queries, buckets, corpus, model, 5, 1e9, "l2",
                    max_candidates=3).collect()
    c2 = ann.search(queries, buckets, corpus, model, 5, 1e9, "l2",
                    max_candidates=3).collect()
    assert sorted(map(tuple, c1)) == sorted(map(tuple, c2))
    per_q = {}
    for r in c1:
        per_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert all(len(v) <= 3 for v in per_q.values())


def test_bucket_store_pruned_search_matches(spark, vecs, tmp_path,
                                           executed_plans):
    """The partition-pruned store read path returns exactly the same results
    as the in-memory bucket relation, and its scan carries PartitionFilters
    (the Spark-native analog of the reference's O(1) bucket lookup)."""
    corpus, queries = vecs
    cfg = AnnConfig(n_trees=6, k_min_vecs=30, dims=12, seed=42, sample_size=1000)
    model = ann.fit(np.array([r.vec for r in corpus.collect()]), cfg)
    buckets = ann.build_buckets(corpus, model)
    store = str(tmp_path / "bucket_store")
    ann.write_bucket_store(buckets, store, hash_partitions=16, model=model)

    base = {(r.query_id, r.rank, r.neighbor_id)
            for r in ann.search(queries, buckets, corpus, model, 5, 1e9,
                                "l2").collect()}
    one_q = queries.limit(1)
    pruned_all = ann.search_from_store(queries, store, corpus, model, 5, 1e9,
                                       "l2")
    got = {(r.query_id, r.rank, r.neighbor_id) for r in pruned_all.collect()}
    assert got == base

    # plan evidence: the store scan must prune on the partition columns (a
    # one-query batch scans the store in its candidate collect, so the
    # evidence is in the plans the call executed)
    plan = "\n".join(executed_plans(lambda: ann.search_from_store(
        one_q, store, corpus, model, 5, 1e9, "l2").collect()))
    assert "PartitionFilters" in plan
    import re
    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf and ("tree_id" in pf.group(1) or "hash_pfx" in pf.group(1)), \
        f"partition filter not pushed: {pf and pf.group(1)}"


def test_bucket_store_big_probe_batch_exact_pruning(spark, vecs, tmp_path):
    """>256 distinct probed partitions: the combined-key isin
    (tree_id * P + hash_pfx) must stay an EXACT partition filter — not the
    old cartesian per-column superset — and return identical results
    (r2 VERDICT task 6)."""
    corpus, _ = vecs
    cfg = AnnConfig(n_trees=12, k_min_vecs=30, dims=12, seed=42, sample_size=1000)
    model = ann.fit(np.array([r.vec for r in corpus.collect()]), cfg)
    buckets = ann.build_buckets(corpus, model)
    store = str(tmp_path / "big_store")
    P = 128
    ann.write_bucket_store(buckets, store, hash_partitions=P, model=model)

    # every corpus point as a query → thousands of probe keys
    queries = corpus.select(F.col("id").alias("query_id"), "vec")
    q_ids, Q = ann._collect_queries(
        queries.select("query_id", F.col("vec").alias("__qvec")))
    _, trees, flat = ann.driver_probe_arrays(Q, model, len(q_ids))
    probed = {(int(t), int(h) % P) for t, h in zip(trees, flat)}
    assert len(probed) > 256, f"fixture too small: {len(probed)} probed partitions"

    base = {(r.query_id, r.rank, r.neighbor_id)
            for r in ann.search(queries, buckets, corpus, model, 3, 1e9,
                                "l2").collect()}
    got_df = ann.search_from_store(queries, store, corpus, model, 3, 1e9, "l2")
    got = {(r.query_id, r.rank, r.neighbor_id) for r in got_df.collect()}
    assert got == base

    import re
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf and "tree_id" in pf.group(1) and "hash_pfx" in pf.group(1), \
        f"combined partition key not pushed: {pf and pf.group(1)}"


def test_bucket_store_relayout_under_dynamic_overwrite(spark, vecs, tmp_path):
    """r3 ADVICE regression: with the session's partitionOverwriteMode set to
    ``dynamic``, re-laying a store out to a SMALLER modulus must not leave
    stale hash_pfx directories behind (a dynamic overwrite only clears the
    touched directories; pfx dirs that only existed under the old modulus
    would survive and feed stale rows whose combined key still satisfies the
    new pruning isin).  write_bucket_store pins static overwrite per-write."""
    corpus, queries = vecs
    cfg = AnnConfig(n_trees=6, k_min_vecs=30, dims=12, seed=42, sample_size=1000)
    model = ann.fit(np.array([r.vec for r in corpus.collect()]), cfg)
    buckets = ann.build_buckets(corpus, model)
    store = str(tmp_path / "relayout_store")
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        ann.write_bucket_store(buckets, store, hash_partitions=16, model=model)
        # re-layout to a smaller modulus under the hostile session default
        ann.write_bucket_store(buckets, store, hash_partitions=4, model=model)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    # no stale directory from the 16-way layout survives
    pfx = set()
    for tree_dir in os.listdir(store):
        if tree_dir.startswith("tree_id="):
            for p in os.listdir(os.path.join(store, tree_dir)):
                if p.startswith("hash_pfx="):
                    pfx.add(int(p.split("=", 1)[1]))
    assert pfx and pfx <= {0, 1, 2, 3}, f"stale hash_pfx dirs: {sorted(pfx)}"
    assert io.read_meta(spark, store + "/_store_meta")["hash_partitions"] == 4

    base = {(r.query_id, r.rank, r.neighbor_id)
            for r in ann.search(queries, buckets, corpus, model, 5, 1e9,
                                "l2").collect()}
    got = {(r.query_id, r.rank, r.neighbor_id)
           for r in ann.search_from_store(queries, store, corpus, model, 5,
                                          1e9, "l2").collect()}
    assert got == base


def test_bucket_store_refuses_mismatched_model(spark, vecs, tmp_path):
    """A store only answers correctly for the forest that built it, and a
    same-config refit does NOT reproduce the forest across MODEL_VERSIONs —
    probing with a different forest must raise loudly, not silently return
    near-empty results (r4 review finding)."""
    corpus, queries = vecs
    cfg = AnnConfig(n_trees=6, k_min_vecs=30, dims=12, seed=42, sample_size=1000)
    X = np.array([r.vec for r in corpus.collect()])
    model = ann.fit(X, cfg)
    store = str(tmp_path / "fp_store")
    ann.write_bucket_store(ann.build_buckets(corpus, model), store,
                           hash_partitions=8, model=model)

    # save/load roundtrip preserves the fingerprint → accepted
    mpath = str(tmp_path / "model.json")
    ann.save_model(model, mpath)
    loaded = ann.load_model(mpath)
    assert ann.model_fingerprint(loaded) == ann.model_fingerprint(model)
    assert ann.search_from_store(queries, store, corpus, loaded, 5, 1e9,
                                 "l2").count() > 0

    # a different forest (different seed, same everything else) → refused
    other = ann.fit(X, AnnConfig(n_trees=6, k_min_vecs=30, dims=12, seed=43,
                                 sample_size=1000))
    with pytest.raises(ValueError, match="model mismatch"):
        ann.search_from_store(queries, store, corpus, other, 5, 1e9, "l2")

    # a store the guard cannot check is refused: one with no meta, and one
    # whose meta has no fingerprint (traversal precision changed at
    # MODEL_VERSION 2, so its hashes may have drifted)
    shutil.rmtree(os.path.join(store, "_store_meta"))
    with pytest.raises(ValueError, match="no meta at"):
        ann.search_from_store(queries, store, corpus, model, 5, 1e9, "l2")
    io.write_meta(spark, os.path.join(store, "_store_meta"),
                  {"hash_partitions": 8})
    with pytest.raises(ValueError, match="no model_fingerprint"):
        ann.search_from_store(queries, store, corpus, model, 5, 1e9, "l2")


def test_build_buckets_driver_matches_distributed(spark, vecs):
    """The driver-side bucket build (full-corpus-fit fast path: corpus matrix
    already collected for the fit, forest never broadcast) must be
    bit-identical to the distributed mapInPandas build — both go through
    hash_batch_tables, so this pins the wiring (id repeat/tile layout, Arrow
    upload schema) and the tree-parallel traversal (workers>1)."""
    corpus, _ = vecs
    cfg = AnnConfig(n_trees=5, k_min_vecs=40, dims=12, seed=3, sample_size=600)
    ids, X = ann.collect_id_vec_matrix(corpus, "id", "vec")
    assert X.shape == (600, 12) and len(ids) == 600
    model = ann.fit(X, cfg)
    dist = {(r.id, r.tree_id, r.hash)
            for r in ann.build_buckets(corpus, model).collect()}
    drv = {(r.id, r.tree_id, r.hash)
           for r in ann.build_buckets_driver(spark, ids, X, model,
                                             workers=4).collect()}
    assert drv == dist
    # and the collected matrix reproduces fit_from_df's full-corpus model
    m2 = ann.fit_from_df(corpus, cfg, "vec")
    assert all(np.array_equal(a.normals, b.normals)
               and np.array_equal(a.left, b.left)
               for a, b in zip(model.trees, m2.trees))
