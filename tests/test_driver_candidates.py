"""Small-batch candidates on the driver (``ann.driver_candidates``) against
the Spark candidate plan of a batch of ``layout.QUERY_CROSSOVER`` or more
queries, and the query-batch contract of ``ann.search``,
``ann.candidate_pairs`` and ``ivf.search``."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_search_go_spark.config import AnnConfig
from lsh_search_go_spark.functions import layout
from lsh_search_go_spark.operators import ann, ivf


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _spark_plan(monkeypatch, build):
    """``build()`` with every batch on the Spark candidate plan (broadcast
    probe join, Spark dedup and cap) — the plan a batch of
    ``QUERY_CROSSOVER`` or more queries takes — and its sorted rows."""
    with monkeypatch.context() as m:
        m.setattr(layout, "QUERY_CROSSOVER", 0)
        df = build()
    # the bucket join is in the plan, not a driver-built local relation
    # (the analyzed plan: an empty batch optimizes to an empty relation)
    assert "tree_id" in df._jdf.queryExecution().analyzed().toString()
    return _rows(df)


def _ids(kind):
    """Corpus/query id maker: long ids, or strings whose Python order
    differs from their numeric order and that carry a multi-byte character
    (UTF-8 byte order is what Spark sorts strings by)."""
    if kind == "long":
        return lambda i: int(i)
    return lambda i: f"{'é' if i % 3 else 'z'}{i % 7}-{i}"


@pytest.fixture(scope="module")
def mixture():
    rng = np.random.default_rng(11)
    protos = rng.normal(scale=6.0, size=(30, 8))
    train = np.repeat(protos, 12, 0) + rng.normal(scale=0.4, size=(360, 8))
    test = protos[:24] + rng.normal(scale=0.4, size=(24, 8))
    return train, test


@pytest.fixture(scope="module")
def frames(spark, mixture):
    train, test = mixture
    out = {}
    for kind in ("long", "string"):
        mk = _ids(kind)
        out[kind] = (
            spark.createDataFrame([(mk(i), v.tolist()) for i, v in enumerate(train)],
                                  f"id {kind}, vec array<double>").cache(),
            spark.createDataFrame([(mk(1000 + i), v.tolist())
                                   for i, v in enumerate(test)],
                                  f"query_id {kind}, vec array<double>").cache())
    return out


@pytest.mark.parametrize("kind", ["long", "string"])
@pytest.mark.parametrize("metric", ["l2", "cosine"])
@pytest.mark.parametrize("multiprobe", [True, False])
def test_driver_candidates_match_distributed_plan(spark, mixture, frames, kind,
                                                  metric, multiprobe,
                                                  monkeypatch):
    """The driver dedup and the driver cap keep exactly the pairs the Spark
    dedup and the ``(first_tree, neighbor_id)`` window keep — with a cap
    that binds and ties on ``first_tree`` broken by id — and the top-k of
    both plans is equal, distances bit for bit (both plans broadcast the
    candidates into the corpus verify)."""
    train, _ = mixture
    corpus, queries = frames[kind]
    cfg = AnnConfig(n_trees=6, k_min_vecs=40, dims=8, seed=3,
                    multiprobe=multiprobe, is_angular=metric == "cosine")
    model = ann.fit(train, cfg)
    buckets = ann.build_buckets(corpus, model).cache()
    q = queries.select("query_id", F.col("vec").alias("__qvec"))
    for cap in (None, 9):
        drv = ann.candidate_pairs(q, buckets, model, max_candidates=cap)
        # the driver result is a local relation: no bucket join left in it
        assert "tree_id" not in drv._jdf.queryExecution().executedPlan().toString()
        got = _rows(drv)
        want = _spark_plan(monkeypatch, lambda: ann.candidate_pairs(
            q, buckets, model, max_candidates=cap))
        assert got == want, (cap, len(got), len(want))
        per_q = {}
        for qid, _ in got:
            per_q[qid] = per_q.get(qid, 0) + 1
        if cap is not None:       # the cap binds for every query
            assert set(per_q.values()) == {cap}, per_q
        for impl in ("sql", "matmul_grouped"):
            kw = dict(k=12, max_dist=1e9, metric=metric, dist_impl=impl,
                      max_candidates=cap)
            search = lambda: ann.search(queries, buckets, corpus, model, **kw)
            assert _rows(search()) == _spark_plan(monkeypatch, search), impl


def test_driver_candidates_empty_batch_and_one_bucket_per_tree(spark,
                                                              monkeypatch):
    """An empty batch gives an empty result on both plans; a corpus of
    identical vectors (every row in one bucket per tree) gives every query
    the whole corpus, capped by id."""
    corpus = spark.createDataFrame([(i, [1.0, 2.0, 3.0]) for i in range(50)],
                                   "id long, vec array<double>").cache()
    model = ann.fit(np.tile([1.0, 2.0, 3.0], (50, 1)),
                    AnnConfig(n_trees=3, k_min_vecs=5, dims=3, seed=1))
    buckets = ann.build_buckets(corpus, model).cache()
    assert buckets.select("tree_id", "hash").distinct().count() == 3
    queries = spark.createDataFrame([(100 + i, [1.0, 2.0, 3.0 + i])
                                     for i in range(4)],
                                    "query_id long, vec array<double>")
    for qs in (queries, queries.filter(F.col("query_id") < 0)):
        for impl in ann.DIST_IMPLS:
            kw = dict(k=5, max_dist=1e9, metric="l2", dist_impl=impl,
                      max_candidates=7)
            search = lambda: ann.search(qs, buckets, corpus, model, **kw)
            got = _rows(search())
            assert got == _spark_plan(monkeypatch, search), impl
            if qs is queries:
                # all distances tie per query: the lowest ids win
                assert {r[2] for r in got} == set(range(5)), impl
            else:
                assert got == []


def test_ivf_small_and_large_batch_paths_agree(spark, mixture):
    """A batch of ``QUERY_CROSSOVER`` or more queries keeps the distributed
    candidate join; the same queries in small batches take the driver path
    and return the same top-k."""
    train, _ = mixture
    rng = np.random.default_rng(5)
    n = layout.QUERY_CROSSOVER + 4
    qv = train[rng.integers(0, len(train), n)] + rng.normal(scale=0.2,
                                                             size=(n, 8))
    corpus = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(train)],
                                   "id long, vec array<double>").cache()
    queries = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(qv)],
                                    "query_id long, vec array<double>").cache()
    C = ivf.fit_centroids(train, 12, "l2", seed=3)
    inv = ivf.assign(corpus, C, "l2").cache()
    half = n // 2
    for impl in ("sql", "matmul_grouped"):
        kw = dict(k=5, max_dist=1e9, metric="l2", nprobe=3, dist_impl=impl)
        large = ivf.search(queries, inv, corpus, C, **kw)
        small = [ivf.search(queries.filter((F.col("query_id") >= lo)
                                           & (F.col("query_id") < lo + half)),
                            inv, corpus, C, **kw) for lo in (0, half)]
        # only the large batch still joins the inverted lists in its plan
        assert "centroid_id" in large._jdf.queryExecution().executedPlan().toString()
        assert "centroid_id" not in small[0]._jdf.queryExecution().executedPlan().toString()
        assert _rows(large) == sorted(_rows(small[0]) + _rows(small[1])), impl


def test_small_batch_search_jobs(spark, mixture, frames, executed_plans,
                                 count_jobs):
    """A warm 10-query ``ann.search`` (grouped verify, capped) runs 6 Spark
    jobs: the query collect, the probe broadcast and the matched-row collect,
    the candidate broadcast, the verify and the top-k.  The distributed
    dedup / cap / grouping plan ran 8 for the same call.  The matched-row
    collect is one broadcast hash join of the probes into the buckets, with
    no Exchange."""
    train, _ = mixture
    corpus, queries = frames["long"]
    model = ann.fit(train, AnnConfig(n_trees=6, k_min_vecs=40, dims=8, seed=3))
    buckets = ann.build_buckets(corpus, model).cache()
    buckets.count()
    batch = queries.filter(F.col("query_id") < 1010)

    def call():
        return ann.search(batch, buckets, corpus, model, k=5, max_dist=1e9,
                          metric="l2", dist_impl="matmul_grouped",
                          max_candidates=20).collect()

    call()
    plans = []
    assert count_jobs(lambda: plans.extend(executed_plans(call))) == 6
    matched = [p for p in plans if "__qrow" in p]
    assert len(matched) == 1 and "BroadcastHashJoin" in matched[0]
    assert "Exchange hashpartitioning" not in matched[0]


@pytest.mark.parametrize("index", ["ann", "ivf"])
@pytest.mark.parametrize("impl", ["matmul_grouped", "sql"])
def test_store_search_jobs(spark, mixture, frames, tmp_path, count_jobs,
                           index, impl):
    """A warm 10-query ``search_from_store`` starts as many Spark jobs as
    ``search`` over the relation the store holds — 6, and 7 with the
    ``sql`` verify: the store's meta is read on the driver and the store
    with a known schema, so neither read starts a job."""
    train, _ = mixture
    corpus, queries = frames["long"]
    batch = queries.filter(F.col("query_id") < 1010)
    store = str(tmp_path / "store")
    kw = dict(k=5, max_dist=1e9, metric="l2", dist_impl=impl)
    if index == "ann":
        model = ann.fit(train, AnnConfig(n_trees=6, k_min_vecs=40, dims=8,
                                         seed=3))
        buckets = ann.build_buckets(corpus, model).cache()
        ann.write_bucket_store(buckets, store, hash_partitions=8, model=model)
        calls = (lambda: ann.search(batch, buckets, corpus, model, **kw),
                 lambda: ann.search_from_store(batch, store, corpus, model,
                                               **kw))
    else:
        C = ivf.fit_centroids(train, 12, "l2", seed=3)
        inv = ivf.assign(corpus, C, "l2").cache()
        ivf.write_list_store(inv, store, C)
        calls = (lambda: ivf.search(batch, inv, corpus, C, nprobe=3, **kw),
                 lambda: ivf.search_from_store(batch, store, corpus, C,
                                               nprobe=3, **kw))
    rows, counts = [], []
    for call in calls:
        rows.append(_rows(call()))        # warms the call up
        counts.append(count_jobs(lambda: call().collect()))
    assert rows[0] == rows[1]
    assert counts == [7 if impl == "sql" else 6] * 2


# --- the query-batch contract ---------------------------------------------

@pytest.fixture(scope="module")
def small_index(spark, mixture):
    train, _ = mixture
    corpus = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(train)],
                                   "id long, vec array<double>").cache()
    model = ann.fit(train, AnnConfig(n_trees=4, k_min_vecs=40, dims=8, seed=3))
    buckets = ann.build_buckets(corpus, model).cache()
    C = ivf.fit_centroids(train, 8, "l2", seed=3)
    inv = ivf.assign(corpus, C, "l2").cache()
    return corpus, model, buckets, C, inv


def _query_frame(spark, vecs):
    return spark.createDataFrame([(7 + i, v) for i, v in enumerate(vecs)],
                                 "query_id long, vec array<double>")


@pytest.mark.parametrize("op", ["sql", "matmul", "matmul_grouped", "ivf",
                                "candidate_pairs"])
def test_query_batch_contract(spark, small_index, op):
    """A wrong width or a NaN element raises ``ValueError`` naming the first
    offending query_id; an empty batch returns an empty result."""
    corpus, model, buckets, C, inv = small_index

    def run(qs):
        if op == "ivf":
            return ivf.search(qs, inv, corpus, C, 5, 1e9, "l2", nprobe=2)
        if op == "candidate_pairs":      # the public call collects the batch
            q = qs.select("query_id", F.col("vec").alias("__qvec"))
            return ann.candidate_pairs(q, buckets, model, max_candidates=5)
        return ann.search(qs, buckets, corpus, model, 5, 1e9, "l2",
                          dist_impl=op)

    good = [0.5] * 8
    with pytest.raises(ValueError,
                       match=re.escape("query 7 has 5 elements; the index "
                                       "expects 8")):
        run(_query_frame(spark, [[0.5] * 5, [0.5] * 5]))
    with pytest.raises(ValueError, match=re.escape("query 9 has a NaN element")):
        run(_query_frame(spark, [good, good, good[:3] + [float("nan")] + good[4:]]))
    assert run(_query_frame(spark, [good]).filter(F.col("query_id") < 0)).collect() == []
