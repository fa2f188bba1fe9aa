"""Simulates the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet, compare row
count, column names and order-insensitive values.

Run at sf0.001 by default for speed; set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01
to mirror the driver exactly.
"""

import math
import os

import duckdb
import pandas as pd
import pytest

import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the ann_lsh_topk oracle materializes model-derived parquet for a specific
# sf_dir; point it at the same tables this test reads (driver default: sf0.01)
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

import __spark_entry__ as entry_mod

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: rows {len(spark_pdf)} vs {len(duck_pdf)}"
    )
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        if a[c].dtype.kind == "f":
            assert all(
                (math.isnan(x) and math.isnan(y)) or x == y for x, y in zip(av, bv)
            ), f"{name}.{c}: float values differ"
        else:
            assert av == bv, f"{name}.{c}: values differ (first few: {av[:3]} vs {bv[:3]})"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.columns


def test_every_query_has_oracle_or_is_declared(spark):
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 15


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_gate(name, spark, sf_dir, duck):
    q = entry_mod.queries()[name]
    spark_pdf = q(spark, sf_dir).toPandas()
    duck_pdf = duck.sql(entry_mod.oracle_sql()[name]).df()
    compare(spark_pdf, duck_pdf, name)


def test_entry_module_is_relocatable(tmp_path):
    """A copy of the entry module imports the package copied next to it,
    even when another checkout of the package is importable too."""
    import shutil
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    copy = tmp_path / "copy"
    copy.mkdir()
    shutil.copy(os.path.join(root, "__spark_entry__.py"), copy)
    shutil.copytree(os.path.join(root, "lsh_search_go_spark"),
                    copy / "lsh_search_go_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code = (
        "import importlib.util, sys\n"
        "spec = importlib.util.spec_from_file_location('__spark_entry__', sys.argv[1])\n"
        "mod = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(mod)\n"
        "print(mod.gated.__file__)\n"
    )
    # the original checkout stays on the path, as in a side-by-side A/B run
    env = dict(os.environ, PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c", code, str(copy / "__spark_entry__.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, check=True)
    gated_file = os.path.realpath(out.stdout.strip().splitlines()[-1])
    assert gated_file.startswith(os.path.realpath(copy) + os.sep), gated_file
