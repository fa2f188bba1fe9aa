#!/usr/bin/env python
"""Round-6 optimization harness: per-leg phase breakdowns + plan captures.

``bench.py`` is the frozen driver contract; this file exists so the
optimization round can (a) time each expensive leg in isolation with a
phase-by-phase breakdown (noop-sink style: counts/persists on the exact
sub-relations, guide §1.4), and (b) dump ``.explain("formatted")`` for the
relations a change touches into ``plans/r06/`` (guide §7.2).

Usage:
    python bench_extra.py --leg headline      # sf0.1 dedup legs, phase split
    python bench_extra.py --leg ann           # 1M ANN build/search phases
    python bench_extra.py --leg ivf           # IVF build/search phases
    python bench_extra.py --leg fmnist        # FMNIST train/search phases
    python bench_extra.py --plans before      # plans/r06/<name>_before.txt
    python bench_extra.py --plans after
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (frozen harness: reused for session + fixtures)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "plans", "r06")


class Phases:
    def __init__(self):
        self.t: dict[str, float] = {}

    def timed(self, name: str, fn):
        spark_desc(name)
        t0 = time.time()
        out = fn()
        self.t[name] = round(time.time() - t0, 3)
        return out


_SPARK = None


def spark_desc(name):
    if _SPARK is not None:
        _SPARK.sparkContext.setJobDescription(name)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def leg_headline(spark) -> dict:
    from pyspark.sql import functions as F

    from lsh_search_go_spark.config import DedupConfig
    from lsh_search_go_spark.functions.signatures import with_signatures_fused
    from lsh_search_go_spark.operators.bands import candidate_pairs, explode_bands
    from lsh_search_go_spark.operators.cc import assign_clusters
    from lsh_search_go_spark.operators.exact import exact_dup_groups
    from lsh_search_go_spark.operators.verify import jaccard_verify

    cfg = DedupConfig()
    ph = Phases()
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", F.col("text").alias("content")).cache())
    n = docs.count()
    ph.t["n_docs"] = n

    ph.timed("exact_dedup", lambda: exact_dup_groups(docs, "doc_id", "content").count())
    ph.timed("exact_dedup_2", lambda: exact_dup_groups(docs, "doc_id", "content").count())

    sigs = with_signatures_fused(docs, cfg).persist()
    ph.timed("signatures", lambda: sigs.count())

    buckets = explode_bands(sigs.filter(F.size("shingles") > 0), "doc_id", "bands")
    ph.timed("explode_bands", lambda: noop(buckets))
    cands = candidate_pairs(buckets, "doc_id", cfg.max_bucket_size)
    ph.timed("candidate_pairs", lambda: cands.count())
    pairs = jaccard_verify(cands, sigs, cfg.jaccard_threshold, "doc_id",
                           "shingles").persist()
    ph.timed("verify_pairs", lambda: pairs.count())

    # second full draw of the pairs leg (what timed_best sees as draw 2)
    def full_pairs():
        b2 = explode_bands(sigs.filter(F.size("shingles") > 0), "doc_id", "bands")
        c2 = candidate_pairs(b2, "doc_id", cfg.max_bucket_size)
        return jaccard_verify(c2, sigs, cfg.jaccard_threshold, "doc_id",
                              "shingles").count()
    ph.timed("lsh_pairs_full_redraw", full_pairs)

    # clusters with a phase split
    from lsh_search_go_spark.operators import cc as CC
    edges = pairs.select("src_id", "dst_id")
    thr = CC._driver_row_budget(edges, 64 << 20)
    ph.timed("cc_probe_count", lambda: edges.limit(thr + 1).count())
    ph.timed("cc_driver_collect", lambda: len(edges.collect()))
    labels = ph.timed("cc_labels", lambda: CC.connected_components(edges))
    ph.timed("cc_label_join_count",
             lambda: assign_clusters(docs, pairs.select("src_id", "dst_id"),
                                     "doc_id").count())
    ph.timed("dup_clusters_all",
             lambda: assign_clusters(docs, pairs.select("src_id", "dst_id"),
                                     "doc_id").count())
    pairs.unpersist()
    sigs.unpersist()
    docs.unpersist()
    return ph.t


def leg_ann(spark) -> dict:
    from pyspark.sql import functions as F

    from lsh_search_go_spark.config import AnnConfig
    from lsh_search_go_spark.operators import ann
    from lsh_search_go_spark.operators.bruteforce import brute_force_topk_np

    ph = Phases()
    ann_n = int(os.environ.get("SPARK_GRAFT_ANN_N", "1000000"))
    fixture = os.path.join(bench._scratch_dir(), f"ann_fixture_{ann_n}_64.parquet")
    if not os.path.exists(fixture):
        bench._make_ann_fixture(ann_n, 64, fixture)
    emb = spark.read.parquet(fixture).cache()
    n_emb = emb.count()
    queries = emb.filter(F.col("id") < 100).select(
        F.col("id").alias("query_id"), "vec").cache()
    queries.count()
    emb.select("id").mapInPandas(lambda it: it, "id long").count()  # pool warm

    sample_size = 20000
    k_min = max(4, int(300 * sample_size / max(n_emb, 1)))
    acfg = AnnConfig(n_trees=10, k_min_vecs=k_min, dims=64,
                     is_angular=True, seed=42, sample_size=sample_size)

    # fit_from_df phase split
    ph.timed("fit_count", lambda: emb.count())
    frac = min(1.0, acfg.sample_size / n_emb)
    sdf = emb.sample(withReplacement=False, fraction=frac, seed=acfg.seed).select("vec")
    S = ph.timed("fit_sample_collect", lambda: ann.collect_vec_matrix(sdf))
    model = ph.timed("fit_driver", lambda: ann.fit(S, acfg))

    buckets = ann.build_buckets(emb, model, "id", "vec").persist()
    ph.timed("build_buckets_count", lambda: buckets.count())
    b2 = ann.build_buckets(emb, model, "id", "vec")
    ph.timed("build_buckets_noop_redraw", lambda: noop(b2))

    def lsh_search():
        return ann.search(queries, buckets, emb, model, k=10, max_dist=2.0,
                          metric="cosine", dist_impl="matmul",
                          max_candidates=10_000)

    ph.timed("lsh_search_warm", lambda: lsh_search().count())
    ph.timed("lsh_search_d1", lambda: lsh_search().count())
    ph.timed("lsh_search_d2", lambda: lsh_search().count())
    # candidate pairs alone (no verify)
    q_df = queries.select("query_id", F.col("vec").alias("__qvec"))
    ph.timed("lsh_cands_only",
             lambda: ann.candidate_pairs(q_df, buckets, model,
                                         max_candidates=10_000).count())

    def bf():
        return brute_force_topk_np(emb, queries, 10, "cosine", exclude_self=False)

    ph.timed("bf_warm", lambda: bf().count())
    ph.timed("bf_d1", lambda: bf().count())
    ph.timed("bf_d2", lambda: bf().count())
    buckets.unpersist()
    emb.unpersist()
    queries.unpersist()
    return ph.t


def leg_ivf(spark) -> dict:
    from pyspark.sql import functions as F

    from lsh_search_go_spark.operators import ann, ivf

    ph = Phases()
    ann_n = int(os.environ.get("SPARK_GRAFT_ANN_N", "1000000"))
    fixture = os.path.join(bench._scratch_dir(), f"ann_fixture_{ann_n}_64.parquet")
    if not os.path.exists(fixture):
        bench._make_ann_fixture(ann_n, 64, fixture)
    emb = spark.read.parquet(fixture).cache()
    emb.count()
    queries = emb.filter(F.col("id") < 100).select(
        F.col("id").alias("query_id"), "vec").cache()
    queries.count()
    emb.select("id").mapInPandas(lambda it: it, "id long").count()

    X = ph.timed("ivf_sample_collect",
                 lambda: ann.collect_vec_matrix(emb.orderBy("id").limit(20000)
                                                .select("vec")))
    C = ph.timed("ivf_fit_centroids", lambda: ivf.fit_centroids(X, 1000, "cosine"))
    inv = ivf.assign(emb, C, "cosine").persist()
    ph.timed("ivf_assign_count", lambda: inv.count())
    ph.timed("ivf_assign_noop_redraw", lambda: noop(ivf.assign(emb, C, "cosine")))

    def srch():
        return ivf.search(queries, inv, emb, C, k=10, max_dist=2.0,
                          metric="cosine", nprobe=8, dist_impl="matmul")

    ph.timed("ivf_search_warm", lambda: srch().count())
    ph.timed("ivf_search_d1", lambda: srch().count())
    ph.timed("ivf_search_d2", lambda: srch().count())
    inv.unpersist()
    emb.unpersist()
    queries.unpersist()
    return ph.t


def leg_fmnist(spark) -> dict:
    from pyspark.sql import functions as F

    from lsh_search_go_spark.config import AnnConfig
    from lsh_search_go_spark.operators import ann

    ph = Phases()
    out_dir = os.path.join(bench._scratch_dir(), "fmnist_shaped_60k_784_v2")
    marker = os.path.join(out_dir, "_DONE")
    if not os.path.exists(marker):
        bench._make_fmnist_shaped(out_dir)
        with open(marker, "w") as f:
            f.write("ok")
    train = (spark.read.parquet(f"{out_dir}/train.parquet")
             .withColumnRenamed("vec_id", "id").cache())
    n_train = train.count()
    queries = (spark.read.parquet(f"{out_dir}/test.parquet")
               .select(F.col("vec_id").alias("query_id"), "vec").cache())
    queries.count()
    train.select("id").mapInPandas(lambda it: it, "id long").count()

    acfg = AnnConfig(n_trees=10, k_min_vecs=200, dims=784,
                     is_angular=False, seed=42, sample_size=n_train)
    id_type = dict(train.dtypes)["id"]
    for d in (1, 2):
        pair = ph.timed(f"fm_collect_d{d}",
                        lambda: ann.collect_id_vec_matrix(train, "id", "vec"))
        ids, X = pair
        model = ph.timed(f"fm_fit_d{d}", lambda: ann.fit(X, acfg))
        bk = ph.timed(
            f"fm_bucket_df_d{d}",
            lambda: ann.build_buckets_driver(spark, ids, X, model, "id", id_type))
        bk = bk.persist()
        ph.timed(f"fm_bucket_count_d{d}", lambda: bk.count())
        if d == 1:
            bk.unpersist()
    buckets = bk

    def lsh():
        return ann.search(queries, buckets, train, model, k=10,
                          max_dist=2200.0, metric="l2",
                          dist_impl="matmul_grouped", max_candidates=5000)

    ph.timed("fm_search_warm", lambda: lsh().count())
    ph.timed("fm_search_d1", lambda: lsh().count())
    ph.timed("fm_search_d2", lambda: lsh().count())
    # phase split of one search
    q = queries.select("query_id", F.col("vec").alias("__qvec"))
    collected = ann._collect_queries(q)
    cands = ann.candidate_pairs(q, buckets, model, max_candidates=5000,
                                _collected=collected)
    ph.timed("fm_cands_only", lambda: cands.count())
    ph.timed("fm_verify_only",
             lambda: ann.verify_topk(q, cands, train, 10, 2200.0, "l2",
                                     dist_impl="matmul_grouped",
                                     collected=collected).count())

    from lsh_search_go_spark.operators.bruteforce import brute_force_topk_np

    def bf():
        return brute_force_topk_np(train, queries, 10, "l2", exclude_self=False)

    ph.timed("fm_exact_warm", lambda: bf().count())
    ph.timed("fm_exact_d1", lambda: bf().count())
    ph.timed("fm_exact_d2", lambda: bf().count())
    buckets.unpersist()
    train.unpersist()
    queries.unpersist()
    return ph.t


# ---------------------------------------------------------------------------
# Plan captures (plans/r06/<name>_{before,after}.txt)
# ---------------------------------------------------------------------------

def capture_plans(spark, suffix: str) -> None:
    from pyspark.sql import functions as F

    from lsh_search_go_spark import gated

    os.makedirs(PLANS_DIR, exist_ok=True)
    sf01 = "/root/testdata/sf0.01"

    def dump(name, df):
        p = os.path.join(PLANS_DIR, f"{name}_{suffix}.txt")
        with open(p, "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
        print(f"wrote {p}")

    qm = gated.query_map()
    for name in ("exact_dedup_groups", "minhash_dup_pairs", "dup_clusters",
                 "ann_lsh_topk", "ivf_topk", "substring_containment"):
        dump(name, qm[name](spark, sf01))

    # bench-leg shapes (1M fixture too slow to build for a plan: use a small
    # replica with the same physical operators)
    from lsh_search_go_spark.config import AnnConfig
    from lsh_search_go_spark.operators import ann, ivf
    from lsh_search_go_spark.operators.bruteforce import brute_force_topk_np

    fixture = os.path.join(bench._scratch_dir(), "ann_fixture_plan_20000_64.parquet")
    if not os.path.exists(fixture):
        bench._make_ann_fixture(20000, 64, fixture)
    emb = spark.read.parquet(fixture)
    acfg = AnnConfig(n_trees=10, k_min_vecs=30, dims=64, is_angular=True,
                     seed=42, sample_size=5000)
    model = ann.fit_from_df(emb, acfg, "vec")
    buckets = ann.build_buckets(emb, model, "id", "vec")
    dump("bench_ann_build_buckets", buckets)
    queries = emb.filter(F.col("id") < 100).select(
        F.col("id").alias("query_id"), "vec")
    dump("bench_ann_lsh_search_matmul",
         ann.search(queries, buckets, emb, model, k=10, max_dist=2.0,
                    metric="cosine", dist_impl="matmul", max_candidates=10_000))
    dump("bench_ann_search_matmul_grouped",
         ann.search(queries, buckets, emb, model, k=10, max_dist=2.0,
                    metric="cosine", dist_impl="matmul_grouped",
                    max_candidates=10_000))
    dump("bench_bruteforce_np",
         brute_force_topk_np(emb, queries, 10, "cosine", exclude_self=False))
    X = ann.collect_vec_matrix(emb.orderBy("id").limit(5000).select("vec"))
    C = ivf.fit_centroids(X, 100, "cosine")
    inv = ivf.assign(emb, C, "cosine")
    dump("bench_ivf_assign", inv)
    dump("bench_ivf_search",
         ivf.search(queries, inv, emb, C, k=10, max_dist=2.0,
                    metric="cosine", nprobe=8, dist_impl="matmul"))


def main():
    global _SPARK
    ap = argparse.ArgumentParser()
    ap.add_argument("--leg", choices=["headline", "ann", "ivf", "fmnist"])
    ap.add_argument("--plans", choices=["before", "after"])
    ap.add_argument("--cpus", type=int, default=CPUS)
    args = ap.parse_args()
    spark = bench.make_session(args.cpus)
    _SPARK = spark
    spark.sparkContext.setLogLevel("ERROR")
    if args.plans:
        capture_plans(spark, args.plans)
    if args.leg:
        fn = {"headline": leg_headline, "ann": leg_ann, "ivf": leg_ivf,
              "fmnist": leg_fmnist}[args.leg]
        t0 = time.time()
        res = fn(spark)
        res["leg_total"] = round(time.time() - t0, 3)
        print(json.dumps({args.leg: res}))
    spark.stop()


if __name__ == "__main__":
    main()
