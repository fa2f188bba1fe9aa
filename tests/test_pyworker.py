"""The per-task fixed cost of Python workers: the stat-guarded zip directory
cache, and driver-held relations that need no Python worker at all."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa

from lsh_search_go_spark import pyworker
from lsh_search_go_spark import synth
from lsh_search_go_spark.operators.cc import connected_components


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


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

    pyworker.guard_zip_invalidation()
    pyworker.guard_zip_invalidation()               # idempotent
    importlib.invalidate_caches()                   # first call reads once
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []                              # unchanged: never re-read

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

    def python_rdd(df):
        return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()

    edges = spark.range(4).selectExpr("id as src_id", "id + 1 as dst_id")
    labels = connected_components(edges)
    assert {r.cluster_id for r in labels.collect()} == {0}
    assert not python_rdd(labels)
    assert not python_rdd(connected_components(edges.limit(0)))
    assert not python_rdd(synth.to_spark_df(spark, synth.generate(20, 3)))
