"""The per-task fixed cost of Python workers: the stat-guarded zip directory
cache, and driver-held relations that need no Python worker at all."""

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pyarrow as pa

from lsh_search_go_spark import pyworker
from lsh_search_go_spark import synth
from lsh_search_go_spark.config import AnnConfig
from lsh_search_go_spark.operators import ann, ivf
from lsh_search_go_spark.operators.cc import connected_components


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pyworker, "_seen", {})
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read_directory(archive))
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zg_first").X == 1
    assert archive in reads                         # the import read it
    reads.clear()

    pyworker.guard_zip_invalidation()
    pyworker.guard_zip_invalidation()               # idempotent
    for _ in range(3):
        importlib.invalidate_caches()
    # unchanged: never re-read, not even by the first call after the install
    # (the directory read by the import above is adopted)
    assert reads == []

    _write_zip(archive, {"zg_first": "X = 1\n", "zg_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive]                       # rewritten: re-read
    assert importlib.import_module("zg_second").Y == 2
    for name in ("zg_first", "zg_second"):
        del sys.modules[name]
    del sys.path_importer_cache[archive]


def test_guard_runs_in_workers_and_driver_relations_skip_them(spark):
    def report(batches):
        import sys
        import zipimport

        import lsh_search_go_spark.pyworker as pw

        guarded = zipimport.zipimporter.invalidate_caches is pw._stat_guarded
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"guarded": [guarded] * b.num_rows,
                 "worker": ["pyspark.worker" in sys.modules] * b.num_rows})

    rows = (spark.range(8).repartition(2)
            .mapInArrow(report, "guarded boolean, worker boolean").collect())
    assert rows and all(r.guarded and r.worker for r in rows)
    assert "pyspark.worker" not in sys.modules
    assert zipimport.zipimporter.invalidate_caches is not pyworker._stat_guarded

    edges = spark.range(4).selectExpr("id as src_id", "id + 1 as dst_id")
    labels = connected_components(edges)
    assert {r.cluster_id for r in labels.collect()} == {0}
    assert not _python_rdd(labels)
    assert not _python_rdd(connected_components(edges.limit(0)))
    assert not _python_rdd(synth.to_spark_df(spark, synth.generate(20, 3)))


def test_search_relations_skip_python_workers_with_arrow_off(spark, monkeypatch):
    """The driver bucket build and the small batches' candidate and result
    relations are built from Arrow tables: with the
    session's Arrow conversion off none of them plans a PythonRDD, and the
    top-k equals the Arrow-on one."""
    rng = np.random.default_rng(11)
    X = rng.normal(size=(120, 6))
    ids = np.arange(120, dtype=np.int64)
    corpus = spark.createDataFrame(pa.table({"id": ids, "vec": X.tolist()}),
                                   "id long, vec array<double>")
    queries = spark.createDataFrame(
        pa.table({"query_id": [f"q{i}" for i in range(4)], "vec": X[:4].tolist()}),
        "query_id string, vec array<double>")
    model = ann.fit(X, AnnConfig(n_trees=3, k_min_vecs=10, dims=6, seed=5,
                                 sample_size=120, is_angular=False))
    centroids = ivf.fit_centroids(X, 6, "l2", seed=7)
    inverted = ivf.assign(corpus, centroids, "l2").cache()

    made = []
    create = spark.createDataFrame
    monkeypatch.setattr(spark, "createDataFrame",
                        lambda *a, **k: made.append(create(*a, **k)) or made[-1])

    def topk():
        buckets = ann.build_buckets_driver(spark, ids, X, model, workers=1)
        return [sorted(tuple(r) for r in df.collect()) for df in (
            ann.search(queries, buckets, corpus, model, k=5, max_dist=1e9,
                       metric="l2", dist_impl="matmul_grouped"),
            ivf.search(queries, inverted, corpus, centroids, k=5, max_dist=1e9,
                       metric="l2", nprobe=2),
            ivf.search(queries.limit(0), inverted, corpus, centroids, k=5,
                       max_dist=1e9, metric="l2"))]

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        on = topk()
        made.clear()
        spark.conf.set(key, "false")
        off = topk()
    finally:
        spark.conf.set(key, before)
    inverted.unpersist()
    assert on == off and all(on[:2]) and on[2] == []
    # bucket build, the three small batches' local result relations and the
    # sql verify's candidate relation (no probe frame: small batches filter)
    assert len(made) == 5
    assert not any(_python_rdd(df) for df in made)
