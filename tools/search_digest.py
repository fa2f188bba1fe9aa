#!/usr/bin/env python
"""Output and plan digests of the ANN / IVF read paths of one checkout.

Run: ``python tools/search_digest.py <checkout> [plans_dir] > digest.txt``,
once per checkout, then ``diff`` the two files.  A refactor that is meant
to keep every output bit-identical must give an empty diff.  With
``plans_dir``, the normalized plans of each case are written there too, one
file per case, so a differing plan digest can be read.

The checkout goes first on ``sys.path`` and on ``PYTHONPATH`` before the
Spark session starts, so the Python workers import the same code as the
driver.  On a seeded 1200×16 Gaussian mixture the script runs 48 cases:
``ann.search`` and ``ann.search_from_store`` (with the cap on and off),
``ivf.search`` and ``ivf.search_from_store``, each at 10 and 300 queries
(both sides of ``layout.QUERY_CROSSOVER``) and with each of the three
verify backends; then ``ann.search`` and ``ivf.search`` at 10 queries with
the cosine metric (an angular forest and spherical centroids) and with
string ids, with each backend.  It prints one line per case: the row count, a sha256
prefix of the sorted output rows (distances included, by ``repr``), and one
of the physical plans of every SQL execution the case ran
(``plan_audit.executed_plans``), normalized by :func:`normalize`.  A last
line gives the forest's ``model_fingerprint``.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import sys
import tempfile

IMPLS = ("sql", "matmul", "matmul_grouped")
SIZES = (10, 300)
CAP = 40


def sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def normalize(plan: str, tmp: str) -> str:
    """Drop what differs between runs of one checkout: ids and the temp
    directory."""
    plan = plan.replace(tmp, "<tmp>")
    plan = re.sub(r"#\d+L?", "#N", plan)
    return re.sub(r"plan_id=\d+", "plan_id=N", plan)


def main(argv: list[str]) -> None:
    checkout = os.path.abspath(argv[0] if argv else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    plans_dir = argv[1] if len(argv) > 1 else None
    from plan_audit import executed_plans      # this script's directory

    sys.path.insert(0, checkout)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

    import numpy as np
    import pyarrow as pa
    from pyspark.sql import SparkSession, functions as F

    import lsh_search_go_spark
    from lsh_search_go_spark.config import AnnConfig
    from lsh_search_go_spark.operators import ann, ivf

    if not lsh_search_go_spark.__file__.startswith(checkout):
        sys.exit(f"imported {lsh_search_go_spark.__file__}, not {checkout}")
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "2g").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    rng = np.random.default_rng(20261019)
    centers = rng.normal(scale=6.0, size=(24, 16))
    train = (np.repeat(centers, 50, 0)
             + rng.normal(scale=0.5, size=(1200, 16)))
    qv = (train[rng.integers(0, len(train), max(SIZES))]
          + rng.normal(scale=0.3, size=(max(SIZES), 16)))

    def frame(id_name, X, first_id=0, strings=False):
        ids = np.arange(first_id, first_id + len(X))
        if strings:     # Python order differs from numeric; multi-byte
            ids = [f"{'é' if i % 3 else 'z'}{i % 7}-{i}" for i in ids]
        return spark.createDataFrame(
            pa.table({id_name: ids,
                      "vec": pa.array(X.tolist(), pa.list_(pa.float64()))}),
            f"{id_name} {'string' if strings else 'long'}, vec array<double>")

    corpus = frame("id", train).cache()
    queries = frame("query_id", qv, 10_000).cache()
    model = ann.fit(train, AnnConfig(n_trees=8, k_min_vecs=40, dims=16,
                                     seed=3))
    buckets = ann.build_buckets(corpus, model).cache()
    C = ivf.fit_centroids(train, 16, "l2", seed=3)
    inv = ivf.assign(corpus, C, "l2").cache()
    cos_model = ann.fit(train, AnnConfig(n_trees=8, k_min_vecs=40, dims=16,
                                         seed=3, is_angular=True))
    cos_buckets = ann.build_buckets(corpus, cos_model).cache()
    cos_C = ivf.fit_centroids(train, 16, "cosine", seed=3)
    cos_inv = ivf.assign(corpus, cos_C, "cosine").cache()
    s_corpus = frame("id", train, strings=True).cache()
    s_queries = frame("query_id", qv[:min(SIZES)], 10_000, strings=True).cache()
    s_buckets = ann.build_buckets(s_corpus, model).cache()
    s_inv = ivf.assign(s_corpus, C, "l2").cache()
    tmp = tempfile.mkdtemp(prefix="search_digest_")
    store_path = os.path.join(tmp, "store")
    ann.write_bucket_store(buckets, store_path, hash_partitions=8,
                           model=model)
    list_path = os.path.join(tmp, "list_store")
    ivf.write_list_store(inv, list_path, centroids=C)
    # materialize every cache first: a cache that fills during a case
    # changes the size estimates, and so the plan, of that case
    for df in (corpus, queries, buckets, inv, cos_buckets, cos_inv, s_corpus,
               s_queries, s_buckets, s_inv):
        df.count()

    cases = []
    for n in SIZES:
        qs = queries.filter(F.col("query_id") < 10_000 + n)
        for impl in IMPLS:
            kw = dict(k=5, max_dist=1e9, metric="l2", dist_impl=impl)
            for cap in (None, CAP):
                cases.append((f"ann.search n={n} {impl} cap={cap}",
                              lambda qs=qs, kw=kw, cap=cap: ann.search(
                                  qs, buckets, corpus, model,
                                  max_candidates=cap, **kw)))
                cases.append((f"ann.search_from_store n={n} {impl} cap={cap}",
                              lambda qs=qs, kw=kw, cap=cap:
                              ann.search_from_store(
                                  qs, store_path, corpus, model,
                                  max_candidates=cap, **kw)))
            cases.append((f"ivf.search n={n} {impl}",
                          lambda qs=qs, kw=kw: ivf.search(
                              qs, inv, corpus, C, nprobe=3, **kw)))
            cases.append((f"ivf.search_from_store n={n} {impl}",
                          lambda qs=qs, kw=kw: ivf.search_from_store(
                              qs, list_path, corpus, C, nprobe=3, **kw)))

    small = queries.filter(F.col("query_id") < 10_000 + min(SIZES))
    for impl in IMPLS:
        kw = dict(k=5, max_dist=1e9, dist_impl=impl)
        cases += [
            (f"ann.search n={min(SIZES)} {impl} cosine",
             lambda kw=kw: ann.search(small, cos_buckets, corpus, cos_model,
                                      metric="cosine", max_candidates=CAP,
                                      **kw)),
            (f"ivf.search n={min(SIZES)} {impl} cosine",
             lambda kw=kw: ivf.search(small, cos_inv, corpus, cos_C,
                                      metric="cosine", nprobe=3, **kw)),
            (f"ann.search n={min(SIZES)} {impl} string ids",
             lambda kw=kw: ann.search(s_queries, s_buckets, s_corpus, model,
                                      metric="l2", max_candidates=CAP, **kw)),
            (f"ivf.search n={min(SIZES)} {impl} string ids",
             lambda kw=kw: ivf.search(s_queries, s_inv, s_corpus, C,
                                      metric="l2", nprobe=3, **kw))]

    try:
        for name, make in cases:
            out = []
            plans = [normalize(p, tmp) for p in executed_plans(
                spark, lambda: out.extend(make().collect()))]
            rows = sorted(tuple(repr(v) for v in r) for r in out)
            if plans_dir:
                os.makedirs(plans_dir, exist_ok=True)
                with open(os.path.join(plans_dir, name.replace(" ", "_")),
                          "w") as f:
                    f.write("\n\n".join(plans))
            print(f"{name}: rows={len(rows)} out={sha(repr(rows))} "
                  f"plan={sha(chr(0).join(plans))}", flush=True)
        print(f"model_fingerprint: {ann.model_fingerprint(model)}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
