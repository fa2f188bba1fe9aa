"""Small-batch candidates on the driver (``ann.driver_candidates``) against
the Spark candidate plan of a batch of ``layout.QUERY_CROSSOVER`` or more
queries, and the query-batch contract of ``ann.search``,
``ann.candidate_pairs`` and ``ivf.search``."""

import re

import numpy as np
import pyarrow as pa
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
        for impl in ann.DIST_IMPLS:
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
    """A warm 10-query ``ann.search`` (capped) runs at most 3 Spark jobs
    with a matmul verify — the query collect, the bucket collect and the
    candidate corpus collect — and broadcasts nothing; ``sql`` runs at most
    5 (its JVM fold broadcasts the candidates and the queries).  The
    bucket collect filters the buckets; no probe relation is joined."""
    train, _ = mixture
    corpus, queries = frames["long"]
    model = ann.fit(train, AnnConfig(n_trees=6, k_min_vecs=40, dims=8, seed=3))
    buckets = ann.build_buckets(corpus, model).cache()
    buckets.count()
    batch = queries.filter(F.col("query_id") < 1010)
    for impl in ann.DIST_IMPLS:
        def call():
            return ann.search(batch, buckets, corpus, model, k=5,
                              max_dist=1e9, metric="l2", dist_impl=impl,
                              max_candidates=20).collect()

        call()
        plans = []
        jobs = count_jobs(lambda: plans.extend(executed_plans(call)))
        assert jobs <= (5 if impl == "sql" else 3), (impl, jobs)
        assert not any("__qrow" in p for p in plans), impl
        if impl != "sql":
            assert not any("BroadcastExchange" in p for p in plans), plans


@pytest.mark.parametrize("index", ["ann", "ivf"])
@pytest.mark.parametrize("impl", ["matmul_grouped", "sql"])
def test_store_search_jobs(spark, mixture, frames, tmp_path, count_jobs,
                           index, impl):
    """A warm 10-query ``search_from_store`` starts as many Spark jobs as
    ``search`` over the relation the store holds — 3, and at most 5 with
    the ``sql`` verify: the store's meta is read on the driver and the
    store with a known schema, so neither read starts a job."""
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
    assert counts[0] == counts[1], counts
    if impl == "sql":
        assert counts[0] <= 5, counts
    else:
        assert counts[0] == 3, counts


def test_budget_fallback_matches_spark_plan(spark, mixture, frames,
                                            count_jobs, monkeypatch):
    """With no driver verify budget, the matmul verifies of a small batch
    score the driver's candidates in Spark (4 jobs: the query and bucket
    collects, the candidate broadcast and the scored collect) and rank them
    on the driver; the top-k still equals the Spark plan's, distances bit
    for bit."""
    train, _ = mixture
    for kind in ("long", "string"):
        corpus, queries = frames[kind]
        model = ann.fit(train, AnnConfig(n_trees=6, k_min_vecs=40, dims=8,
                                         seed=3))
        buckets = ann.build_buckets(corpus, model).cache()
        for impl in ("matmul", "matmul_grouped"):
            kw = dict(k=12, max_dist=1e9, metric="l2", dist_impl=impl,
                      max_candidates=9)
            search = lambda: ann.search(queries, buckets, corpus, model, **kw)
            with monkeypatch.context() as m:
                m.setattr(layout, "VERIFY_CELLS", 0)
                got = _rows(search())
                assert count_jobs(lambda: search().collect()) == 4, impl
            assert got and got == _spark_plan(monkeypatch, search), (kind, impl)


def test_no_bucket_matched(spark, mixture, frames, executed_plans,
                           count_jobs, monkeypatch):
    """A batch whose probes match no bucket returns an empty result from
    the query and bucket collects alone: no corpus row is fetched."""
    train, _ = mixture
    corpus, queries = frames["long"]
    model = ann.fit(train, AnnConfig(n_trees=6, k_min_vecs=40, dims=8, seed=3))
    buckets = ann.build_buckets(corpus, model).filter(F.col("tree_id") < 0)
    batch = queries.filter(F.col("query_id") < 1010)
    for impl in ann.DIST_IMPLS:
        search = lambda: ann.search(batch, buckets, corpus, model, k=5,
                                    max_dist=1e9, dist_impl=impl)
        assert _rows(search()) == [] == _spark_plan(monkeypatch, search)
        plans = []
        assert count_jobs(lambda: plans.extend(
            executed_plans(lambda: search().collect()))) == 2, impl
        assert not any("__cvec" in p for p in plans), impl


def test_duplicated_corpus_id(spark, mixture, monkeypatch):
    """A corpus id held by two rows with different vectors: both rows are
    verified and ranked, on the driver as in the Spark plan."""
    train, test = mixture
    rows = [(i, v.tolist()) for i, v in enumerate(train)]
    rows.append((5, (train[5] + 0.05).tolist()))
    corpus = spark.createDataFrame(rows, "id long, vec array<double>").cache()
    queries = spark.createDataFrame(
        [(1000 + i, v.tolist()) for i, v in enumerate(test[:8])]
        + [(2000, (train[5] + 0.01).tolist())],
        "query_id long, vec array<double>")
    model = ann.fit(train, AnnConfig(n_trees=6, k_min_vecs=40, dims=8, seed=3))
    buckets = ann.build_buckets(corpus, model).cache()
    for impl in ann.DIST_IMPLS:
        search = lambda: ann.search(queries, buckets, corpus, model, k=6,
                                    max_dist=1e9, dist_impl=impl,
                                    max_candidates=30)
        got = _rows(search())
        assert got == _spark_plan(monkeypatch, search), impl
        assert sum(r[:3:2] == (2000, 5) for r in got) == 2, impl


@pytest.mark.parametrize("kind", ["long", "string"])
def test_ivf_small_batch_matches_spark_plan(spark, mixture, frames, kind,
                                            monkeypatch):
    """A small IVF batch on the driver returns the Spark plan's top-k for
    every verify backend, distances bit for bit."""
    train, _ = mixture
    corpus, queries = frames[kind]
    C = ivf.fit_centroids(train, 12, "l2", seed=3)
    inv = ivf.assign(corpus, C, "l2").cache()
    for metric in ("l2", "cosine"):
        for impl in ann.DIST_IMPLS:
            search = lambda: ivf.search(queries, inv, corpus, C, k=7,
                                        max_dist=1e9, metric=metric,
                                        nprobe=3, dist_impl=impl)
            with monkeypatch.context() as m:
                m.setattr(layout, "QUERY_CROSSOVER", 0)
                want = _rows(search())
            got = _rows(search())
            assert got and got == want, (metric, impl)


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


@pytest.mark.parametrize("impl", ["matmul", "matmul_grouped"])
@pytest.mark.parametrize("path", ["driver", "spark"])
def test_corpus_vector_contract(spark, mixture, small_index, impl, path,
                                monkeypatch):
    """A candidate corpus vector with the wrong width or a NaN element
    raises an error naming its corpus id, in the driver verify and in the
    executors' ``mapInArrow`` verify alike."""
    train, _ = mixture
    corpus, model, buckets, _, _ = small_index
    queries = _query_frame(spark, [train[3].tolist(), train[40].tolist()])
    if path == "spark":
        monkeypatch.setattr(layout, "QUERY_CROSSOVER", 0)
    for bad, msg in (([0.5] * 5, "corpus vector 3 has 5 elements; the query "
                                 "batch has 8"),
                     (train[3].tolist()[:7] + [float("nan")],
                      "corpus vector 3 has a NaN element")):
        bad_corpus = spark.createDataFrame(
            [(i, bad if i == 3 else v.tolist()) for i, v in enumerate(train)],
            "id long, vec array<double>")
        with pytest.raises(ValueError if path == "driver" else Exception,
                           match=re.escape(msg)):
            ann.search(queries, buckets, bad_corpus, model, 5, 1e9, "l2",
                       dist_impl=impl).collect()
    # the valid corpus still answers, and row 3 is a candidate of query 7
    got = ann.search(queries, buckets, corpus, model, 5, 1e9, "l2",
                     dist_impl=impl).collect()
    assert (7, 3) in {(r.query_id, r.neighbor_id) for r in got}


def test_sql_in(spark):
    """``sql_in`` quotes any string, selects what ``isin`` selects, and
    gives ``isin``'s optimized plan for integers."""
    vals = ["plain", "it's", "back\\slash", "\\'", "é-ü-漢字-🙂",
            "x' OR '1'='1", "", "tab\tnew\nline"]
    df = spark.createDataFrame([(v,) for v in vals + ["other", "it", "x"]],
                               "s string")
    assert sorted(r.s for r in df.filter(ann.sql_in("`s`", vals)).collect()) \
        == sorted(vals)
    big = [-2 ** 63, 2 ** 63 - 1, 7, -3]
    longs = spark.createDataFrame([(v,) for v in big + [0, 8]], "x long")
    assert sorted(r.x for r in longs.filter(ann.sql_in("`x`", big)).collect()) \
        == sorted(big)
    assert longs.filter(ann.sql_in("`x`", [])).collect() == []
    xs = spark.range(-3, 20).withColumnRenamed("id", "x")
    for want in ([3, 4, 5, 7, 9, 10], [0, 1, 2, 3], [-2, 17], [5]):
        pred = ann._id_in("`x`", pa.array(want, pa.int64()))
        assert sorted(r.x for r in xs.filter(pred).collect()) == want
    ints = spark.createDataFrame([(t, p) for t in range(3) for p in range(8)],
                                 "tree_id int, hash_pfx int")
    keys = [0, 5, 9, 17, 23] + list(range(10, 16))

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    combined = F.col("tree_id") * F.lit(8) + F.col("hash_pfx")
    assert plan(ints.filter(ann.sql_in("`tree_id` * 8 + `hash_pfx`", keys))) \
        == plan(ints.filter(combined.isin(keys)))
