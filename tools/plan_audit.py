#!/usr/bin/env python
"""Physical-plan audit: prints condensed `.explain` evidence for the plan
properties the engine depends on (run: `python tools/plan_audit.py > PLANS.md`).

Checks, per operator:
- parquet scans carry PushedFilters + pruned ReadSchema (no full-row reads);
- the fused signature stage is ONE ArrowEvalPython node (no nested
  udf(udf(content)) re-evaluation);
- the candidate self-join and verify joins pick broadcast where one side is
  small, and stay inside WholeStageCodegen elsewhere;
- the ANN search probe join broadcasts the query side;
- a small ANN/IVF batch (fewer than ``layout.QUERY_CROSSOVER`` queries) is
  searched on the driver and returns a local relation (one LocalTableScan);
  a batch of 256 or more keeps the distributed dedup / cap plan.
"""

from __future__ import annotations

import os
import re
import sys
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def condensed(df, max_lines: int = 40) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    keep = []
    for ln in plan.split("\n"):
        s = ln.strip()
        if not s:
            continue
        if re.search(r"Scan parquet|PushedFilters|ReadSchema|ArrowEvalPython|"
                     r"MapInPandas|MapInArrow|LocalTableScan|"
                     r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                     r"Exchange|HashAggregate|"
                     r"ObjectHashAggregate|WholeStageCodegen|Generate|Window|"
                     r"InMemory", ln):
            keep.append(ln.rstrip()[:160])
    return "\n".join(keep[:max_lines])


def executed_plans(spark, action) -> list[str]:
    """Run ``action`` and return the final physical plans of the SQL
    executions it started, read from the session's SQL status store — so the
    plans of queries a call runs internally (a small batch's candidate
    collect) show too.

    The status store can still hold an adaptive plan's non-final version
    after the listener bus is drained: it writes a plan update at most once
    per ``spark.ui.liveUpdate.period`` and the last, forced write of an
    ended execution runs asynchronously.  So this polls until no root plan
    is non-final (nested adaptive plans are indented), and raises
    ``TimeoutError`` after 60 s."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def recent():
        n = store.executionsCount()
        seq = store.executionsList(max(n - 50, 0), 50)     # a Scala Seq
        return [seq.apply(i) for i in range(seq.size())]

    bus.waitUntilEmpty()
    seen = max((e.executionId() for e in recent()), default=-1)
    action()
    bus.waitUntilEmpty()
    deadline = time.monotonic() + 60
    while True:
        plans = {e.executionId(): e.physicalPlanDescription()
                 for e in recent() if e.executionId() > seen}
        pending = [i for i, p in plans.items()
                   if re.search(r"^\+- == Current Plan ==", p, re.M)]
        if not pending:
            return list(plans.values())
        if time.monotonic() > deadline:
            raise TimeoutError(f"SQL executions {pending} still hold a "
                               "non-final adaptive plan after 60 s")
        time.sleep(0.05)


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from lsh_search_go_spark import synth
    from lsh_search_go_spark.config import AnnConfig, DedupConfig
    from lsh_search_go_spark.functions.signatures import with_signatures_fused
    from lsh_search_go_spark.operators import ann
    from lsh_search_go_spark.operators.bands import candidate_pairs, explode_bands
    from lsh_search_go_spark.operators.bruteforce import brute_force_topk
    from lsh_search_go_spark.operators.verify import jaccard_verify

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    cfg = DedupConfig(strip_comments=True)

    import tempfile
    wd = tempfile.mkdtemp(prefix="plan_audit_")
    corpus = os.path.join(wd, "corpus.parquet")
    synth.to_parquet(synth.generate(n_files=2000, seed=42), corpus)
    src = spark.read.parquet(corpus)

    print("# PLANS — physical-plan audit (auto-generated by tools/plan_audit.py)\n")

    sigs = with_signatures_fused(src, cfg).select(
        "doc_id", F.xxhash64("doc_id").alias("doc_key"),
        "shingles", "bands", "norm_text")
    sigs.write.mode("overwrite").parquet(os.path.join(wd, "sigs"))
    sig_read = spark.read.parquet(os.path.join(wd, "sigs"))

    print("## signatures (fused Arrow UDF — must be ONE ArrowEvalPython node)\n")
    print("```")
    print(condensed(sigs))
    print("```\n")

    buckets = explode_bands(sig_read.filter(F.size("shingles") > 0)
                            .select("doc_key", "bands"), "doc_key", "bands")
    cands = candidate_pairs(buckets, "doc_key", cfg.max_bucket_size)
    print("## candidate pairs (bucket self-join; scans pruned to doc_key+bands)\n")
    print("```")
    print(condensed(cands))
    print("```\n")

    verified = jaccard_verify(cands, sig_read, cfg.jaccard_threshold,
                              "doc_key", "shingles")
    print("## verify (pairs join signatures; shingle columns pruned at scan)\n")
    print("```")
    print(condensed(verified))
    print("```\n")

    from lsh_search_go_spark.operators.cc import assign_clusters

    edges = spark.createDataFrame([("a", "b"), ("c", "d")],
                                  "src_id string, dst_id string")
    docs = sig_read.select(F.col("doc_id"))
    cl_driver = assign_clusters(docs, edges, docs_unique=True)
    cl_dist = assign_clusters(docs, edges, driver_threshold=0,
                              docs_unique=True)
    print("## clusters label join (driver-path labels broadcast — corpus "
          "side shuffles nothing; distributed path shuffle-hash — no "
          "corpus-side sort; no distinct on unique ids)\n")
    print("```")
    print(condensed(cl_driver))
    print("--- distributed labels ---")
    print(condensed(cl_dist))
    print("```\n")

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(500)],
        "id long, vec array<double>")
    queries = emb.filter(F.col("id") < 10).select(F.col("id").alias("query_id"), "vec")
    bf = brute_force_topk(emb, queries, 5, "cosine")
    print("## ANN brute force (query side must be BroadcastExchange)\n")
    print("```")
    print(condensed(bf))
    print("```\n")

    acfg = AnnConfig(n_trees=4, k_min_vecs=20, dims=8, is_angular=True,
                     seed=42, sample_size=1000)
    import numpy as np
    model = ann.fit(np.array([r.vec for r in emb.collect()]), acfg)
    b = ann.build_buckets(emb, model, "id", "vec")
    s = ann.search(queries, b, emb, model, k=5, max_dist=2.0, metric="cosine",
                   dist_impl="matmul_grouped", max_candidates=50)
    print("## ANN LSH search, 10 queries (bucket and candidate corpus rows "
          "collected by filtered scans, verified and ranked on the driver: "
          "the result is a local relation)\n")
    print("```")
    print(condensed(s))
    print("```\n")
    big_q = emb.filter(F.col("id") < 300).select(F.col("id").alias("query_id"),
                                                  "vec")
    s = ann.search(big_q, b, emb, model, k=5, max_dist=2.0, metric="cosine",
                   dist_impl="matmul_grouped", max_candidates=50)
    print("## ANN LSH search, 300 queries (at or above layout.QUERY_CROSSOVER: "
          "broadcast probes → bucket join → dedup + cap window → grouped "
          "verify → window top-k)\n")
    print("```")
    print(condensed(s, max_lines=60))
    print("```\n")

    from lsh_search_go_spark.operators import ivf

    C = ivf.fit_centroids(np.array([r.vec for r in emb.collect()]), 16, "cosine")
    inv = ivf.assign(emb, C, "cosine")
    si = ivf.search(queries, inv, emb, C, k=5, max_dist=2.0, metric="cosine",
                    nprobe=3)
    print("## IVF search, 10 queries (list rows collected by a filtered scan "
          "and grouped on the driver; the sql verify scores them in Spark, the "
          "top-k is taken on the driver: the result is a local relation)\n")
    print("```")
    print(condensed(si))
    print("```\n")

    store = os.path.join(wd, "bucket_store")
    ann.write_bucket_store(b, store, hash_partitions=16, model=model)
    plan = "\n".join(executed_plans(spark, lambda: ann.search_from_store(
        queries, store, emb, model, k=5, max_dist=2.0,
        metric="cosine").collect()))
    pf = re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
    print("## bucket-store search, 10 queries (the candidate collect's "
          "combined-key PartitionFilters must prune the (tree_id, hash_pfx) "
          "directories exactly)\n")
    print("```")
    print("\n".join(p[:400] for p in pf) or "NO PARTITION FILTERS — REGRESSION")
    print("```")
    spark.stop()


if __name__ == "__main__":
    main()
