"""End-to-end pipeline tests on the planted synthetic code corpus.

Mirrors the reference's tiny-corpus e2e layer (known answer by construction,
/root/reference/lsh/lsh_test.go:228-295) plus the target spec's acceptance
gates: dup-pair recall >= 0.99 vs the exact-Jaccard oracle, cluster assignment
equality, per-row content_sha invariant, resume == cold run.
"""

import hashlib
import json
import os
import random
from types import SimpleNamespace

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from lsh_search_go_spark import synth
from lsh_search_go_spark.config import DedupConfig
from lsh_search_go_spark.functions.shingles import with_shingles
from lsh_search_go_spark.pipeline import DedupPipeline

CFG = DedupConfig(strip_comments=True)


@pytest.fixture(scope="module")
def corpus():
    return synth.generate(n_files=200, seed=42)


@pytest.fixture(scope="module")
def source(spark, corpus):
    return synth.to_spark_df(spark, corpus).cache()


def oracle_pairs(spark, source, cfg):
    """Brute-force exact-Jaccard pairs >= threshold (crossJoin; test scale
    only) — the NNMock analog (/root/reference/annbench/annbench.go:56-125)."""
    sh = with_shingles(source, cfg, "sql").select("doc_id", "shingles")
    a = sh.select(F.col("doc_id").alias("src_id"), F.col("shingles").alias("sa"))
    b = sh.select(F.col("doc_id").alias("dst_id"), F.col("shingles").alias("sb"))
    return (
        a.crossJoin(b)
        .filter(F.col("src_id") < F.col("dst_id"))
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn("uni", F.size("sa") + F.size("sb") - F.col("inter"))
        .filter((F.col("uni") > 0)
                & (F.col("inter") >= F.lit(cfg.jaccard_threshold) * F.col("uni")))
        .select("src_id", "dst_id")
    )


def union_find_clusters(pairs: list[tuple[str, str]], all_ids: list[str]) -> dict[str, str]:
    parent = {i: i for i in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min id of component
    return {i: find(i) for i in all_ids}


@pytest.fixture(scope="module")
def run(spark, source, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("pipeline"))
    pipe = DedupPipeline(spark, CFG, workdir, impl="pandas")
    result = pipe.run(source)
    return pipe, result


@pytest.fixture(scope="module")
def grouped_run(spark, source, run, tmp_path_factory):
    """A warm run (after ``run``) into a fresh workdir under one job group,
    with the session's job ids and cache entries before and after."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cache = spark._jsparkSession.sharedState().cacheManager()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    cached = cache.numCachedEntries()
    sc.setJobGroup("dedup-pipeline", "grouped warm run")
    try:
        DedupPipeline(spark, CFG, str(tmp_path_factory.mktemp("grouped")),
                      impl="pandas").run(source)
    finally:
        sc._jsc.clearJobGroup()
    return SimpleNamespace(
        jobs=len(tracker.getJobIdsForGroup("dedup-pipeline")),
        new_ungrouped=set(tracker.getJobIdsForGroup(None)) - ungrouped,
        cached_before=cached, cached_after=cache.numCachedEntries())


def test_branch_jobs_carry_the_callers_job_group(grouped_run):
    """The pairs/clusters and substring branches run in pool threads that
    inherit the caller's job group, and the job count of a warm run is
    pinned: stage bookkeeping (row counts, lineage, the re-read's schema)
    comes from the committed files' footers and starts no job."""
    assert grouped_run.new_ungrouped == set()
    assert grouped_run.jobs == 29


def test_run_releases_its_cached_helpers(grouped_run):
    """The persisted helpers (bucket sizes, the substring pass's normalized
    texts and hot blocking keys) are unpersisted once their stage is
    written: a run leaves no entry in the session's cache manager."""
    assert grouped_run.cached_after == grouped_run.cached_before


def test_corpus_without_near_duplicates(spark, tmp_path):
    """Every document distinct: the pairs stage commits 0 rows (manifest and
    lineage), every cluster is a singleton, and nothing raises."""
    rng = random.Random(7)
    ids = [f"d{i:02d}" for i in range(12)]
    src = spark.createDataFrame(pa.table({
        "doc_id": ids,
        "content": [" ".join(f"w{rng.randrange(10**9)}" for _ in range(40))
                    for _ in ids],
    }))
    res = DedupPipeline(spark, CFG, str(tmp_path), impl="pandas").run(src)
    with open(os.path.join(res.workdir, "manifest.json")) as f:
        rows = {st["name"]: st["rows"] for st in json.load(f)["stages"]}
    assert rows == {"signatures": 12, "pairs": 0, "substring": 0, "clusters": 12}
    for stage, n in rows.items():
        lineage = spark.read.parquet(os.path.join(res.workdir, "lineage", stage))
        assert sum(r.rows for r in lineage.collect()) == n
    clusters = {tuple(r) for r in spark.read.parquet(res.tables["clusters"]).collect()}
    assert clusters == {(i, i) for i in ids}


def test_content_sha_invariant(spark, run, corpus):
    _, result = run
    got = {
        r.doc_id: r.content_sha
        for r in spark.read.parquet(result.tables["signatures"])
        .select("doc_id", "content_sha").collect()
    }
    assert len(got) == len(corpus.rows)
    for row in corpus.rows:
        did = synth.doc_id_of(row["repo"], row["path"], row["commit"])
        assert got[did] == hashlib.sha256(row["content"].encode()).hexdigest()


def test_dup_pair_recall_and_precision(spark, source, run):
    _, result = run
    pred = spark.read.parquet(result.tables["pairs"]).select("src_id", "dst_id")
    gt = oracle_pairs(spark, source, CFG)
    from lsh_search_go_spark.metrics import pair_precision_recall

    precision, recall = pair_precision_recall(pred, gt)
    n_gt = gt.count()
    assert n_gt >= 30, "corpus must plant enough true pairs to be meaningful"
    assert recall >= 0.99, f"recall {recall} < 0.99 over {n_gt} true pairs"
    # verification is exact ⇒ no false positives at all
    assert precision == 1.0


def test_cluster_assignments_match_oracle(spark, source, run):
    _, result = run
    got = {
        r.doc_id: r.cluster_id
        for r in spark.read.parquet(result.tables["clusters"]).collect()
    }
    gt_pairs = [(r.src_id, r.dst_id) for r in oracle_pairs(spark, source, CFG).collect()]
    all_ids = [r.doc_id for r in source.select("doc_id").collect()]
    exp = union_find_clusters(gt_pairs, all_ids)
    assert got == exp


def test_planted_structure_found(spark, run, corpus):
    """Planted same-kind pairs that the oracle admits must be clustered
    together; near-misses must stay apart."""
    _, result = run
    got = {
        r.doc_id: r.cluster_id
        for r in spark.read.parquet(result.tables["clusters"]).collect()
    }
    big = corpus.planted_clusters["big"]
    assert len({got[d] for d in big}) == 1, "big ws/comment cluster must unify"
    for name, ids in corpus.planted_clusters.items():
        if name.startswith("exact"):
            assert len({got[d] for d in ids}) == 1, f"{name} must unify"
        if name.startswith("near_miss") and len(ids) >= 2:
            # near-miss variants are BELOW threshold vs their base
            assert got[ids[0]] != got[ids[1]], f"{name} must not unify"


def test_substring_pass_finds_planted_containment(spark, run, corpus):
    _, result = run
    rows = spark.read.parquet(result.tables["substring"]).collect()
    found = {(r.inner_id, r.outer_id) for r in rows}
    planted = [
        (ids[0], m)
        for name, ids in corpus.planted_clusters.items()
        if name.startswith("substring")
        for m in ids[1:]
    ]
    assert planted, "corpus must plant substring cases"
    for base, container in planted:
        assert (base, container) in found, "planted containment missed"
    # no self pairs, inner strictly shorter is enforced upstream
    assert all(i != o for i, o in found)


def test_resume_skips_completed_stages_and_matches(spark, source, run):
    pipe, first = run
    second = pipe.run(source)
    assert all(s.resumed for s in second.stages), "all stages should resume"
    a = {(r.doc_id, r.cluster_id)
         for r in spark.read.parquet(first.tables["clusters"]).collect()}
    b = {(r.doc_id, r.cluster_id)
         for r in spark.read.parquet(second.tables["clusters"]).collect()}
    assert a == b


def test_fully_resumed_run_infers_no_schema(spark, source, run):
    """A resumed stage is read back with the schema Spark wrote into its
    footers: a fully resumed run starts only the surrogate-key guard's
    jobs, where schema inference used to add one job per resumed stage
    (7 jobs on this corpus, 4 of them inference)."""
    pipe, _ = run
    sc = spark.sparkContext
    sc.setJobGroup("resumed-run", "fully resumed run")
    try:
        result = pipe.run(source)
    finally:
        sc._jsc.clearJobGroup()
    assert all(s.resumed for s in result.stages)
    assert len(sc.statusTracker().getJobIdsForGroup("resumed-run")) == 3


def test_resume_after_partial_failure(spark, source, run, tmp_path_factory):
    """Kill-mid-run contract (FIXTURES §5): complete the signatures stage,
    simulate death before pairs/clusters, re-run — later stages rebuild,
    signatures resumes, and the final clusters equal an uninterrupted run,
    down to the rebuilt stage's lineage rows and manifest row count."""
    import shutil

    def bookkeeping(root):
        lineage = {tuple(r) for r in spark.read.parquet(
            os.path.join(root, "lineage", "clusters")).collect()}
        with open(os.path.join(root, "manifest.json")) as f:
            rows = {s["name"]: s["rows"] for s in json.load(f)["stages"]}
        return lineage, rows["clusters"]

    def clusters(result):
        return {(r.doc_id, r.cluster_id)
                for r in spark.read.parquet(result.tables["clusters"]).collect()}

    _, baseline = run
    workdir = str(tmp_path_factory.mktemp("killrun"))
    pipe = DedupPipeline(spark, CFG, workdir, impl="pandas")
    pipe.run(source)
    first_lineage, first_rows = bookkeeping(pipe.root)
    assert first_rows == sum(r[2] for r in first_lineage) > 0
    # simulate a crash after the signatures stage: later outputs vanish
    for stage in ("pairs", "clusters", "substring"):
        shutil.rmtree(os.path.join(pipe.root, stage))
    second = pipe.run(source)
    by_name = {s.name: s for s in second.stages}
    assert by_name["signatures"].resumed, "completed stage must be skipped"
    assert not by_name["pairs"].resumed and not by_name["clusters"].resumed
    assert clusters(baseline) == clusters(second)
    assert bookkeeping(pipe.root) == (first_lineage, first_rows)
    # a half-written stage (no _SUCCESS) must also rebuild
    clusters_dir = os.path.join(pipe.root, "clusters")
    os.remove(os.path.join(clusters_dir, "_SUCCESS"))
    third = pipe.run(source)
    assert not {s.name: s for s in third.stages}["clusters"].resumed
    assert clusters(third) == clusters(baseline)
    assert bookkeeping(pipe.root) == (first_lineage, first_rows)


def test_input_order_independence(spark, source, run, tmp_path_factory):
    """Shuffling the input row order must not change any artifact: signature
    generation, band bucketing, pair emission and clustering are all
    order-free set semantics (the 10^12-file target reads from however the
    source is laid out — results can't depend on scan order)."""
    _, baseline = run
    shuffled = (source.withColumn("__r", F.sha2(F.concat_ws("§", "repo",
                                                            "path"), 256))
                .orderBy(F.desc("__r")).drop("__r")
                .repartition(7))  # different partitioning too, not just order
    workdir = str(tmp_path_factory.mktemp("ordershuf"))
    pipe = DedupPipeline(spark, CFG, workdir, impl="pandas")
    second = pipe.run(shuffled)
    for table in ("pairs", "clusters"):
        a = {tuple(r) for r in
             spark.read.parquet(baseline.tables[table]).collect()}
        b = {tuple(r) for r in
             spark.read.parquet(second.tables[table]).collect()}
        assert a == b, f"{table} differ under input reorder"


def test_simhash_pairs_strategy_end_to_end(spark, source, tmp_path_factory):
    """pairs_strategy='simhash': banded bit-slice candidates + exact Hamming
    verify must equal the brute-force Hamming oracle exactly (pigeonhole:
    simhash_bands > hamming_threshold ⇒ candidate recall 1.0)."""
    from lsh_search_go_spark.functions.simhash import hamming_expr, with_simhash

    # 128-bit signature: 16 bands of 8 bits — the minimum band domain the
    # config validator admits for the banded strategy (4-bit bands overflow
    # every bucket at scale)
    cfg = DedupConfig(strip_comments=True, pairs_strategy="simhash",
                      simhash_bits=128)
    workdir = str(tmp_path_factory.mktemp("simhash_pipe"))
    pipe = DedupPipeline(spark, cfg, workdir, impl="pandas")
    res = pipe.run(source, with_substring=False)
    got = {(r.src_id, r.dst_id)
           for r in spark.read.parquet(res.tables["pairs"]).collect()}
    # persist between shingling and simhash: projection collapse would inline
    # the shingle HOF into all 64 bit expressions (see gated._shingled)
    shingled = with_shingles(source, cfg, "sql").select(
        "doc_id", "shingles").persist()
    sh = with_simhash(shingled, cfg, "sql").filter(F.size("shingles") > 0)
    a = sh.select(F.col("doc_id").alias("src_id"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("doc_id").alias("dst_id"), F.col("simhash").alias("hb"))
    exp = {
        (r.src_id, r.dst_id)
        for r in a.crossJoin(b)
        .filter(F.col("src_id") < F.col("dst_id"))
        .withColumn("hamming", hamming_expr("ha", "hb"))
        .filter(F.col("hamming") <= cfg.hamming_threshold)
        .collect()
    }
    assert got == exp and exp, "banded simhash pairs must equal brute Hamming"


def test_backends_agree_end_to_end(spark, source, tmp_path_factory):
    """The pandas/Arrow path and the JVM-SQL path produce identical pairs."""
    wa = str(tmp_path_factory.mktemp("sqlimpl"))
    pipe = DedupPipeline(spark, CFG, wa, impl="sql")
    res = pipe.run(source, with_substring=False)
    sql_pairs = {(r.src_id, r.dst_id)
                 for r in spark.read.parquet(res.tables["pairs"]).collect()}
    # compare against the pandas-impl run from the `run` fixture via oracle:
    # both must equal the oracle pair set exactly (verification is exact).
    gt = {(r.src_id, r.dst_id) for r in oracle_pairs(spark, source, CFG).collect()}
    assert sql_pairs == gt


def test_duplicate_source_ids_rejected(spark, tmp_path):
    """The surrogate-key guard also enforces one row per document id (r5
    ADVICE): a repeated id would silently duplicate cluster rows now that
    the clusters stage trusts docs_unique=True."""
    import pandas as pd
    import pytest as _pytest

    from lsh_search_go_spark.config import DedupConfig
    from lsh_search_go_spark.pipeline import DedupPipeline

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 2, 3],
        "content": ["aa bb cc dd", "ee ff gg hh", "ee ff gg hh", "ii jj kk ll"],
    })
    src = spark.createDataFrame(pdf)
    pipe = DedupPipeline(spark, DedupConfig(), str(tmp_path), impl="pandas",
                         target_partitions=4)
    with _pytest.raises(RuntimeError, match="duplicate source ids"):
        pipe.run(src, with_substring=False)


def test_gate_cache_evicts_other_sf_dirs(spark):
    """Gate caches unpersist superseded sf_dir entries (r5 VERDICT item 4):
    a multi-sf sweep must not accumulate pinned executor storage."""
    from lsh_search_go_spark import gated

    a = gated._shingled(spark, "/root/testdata/sf0.001")
    a.count()
    app = spark.sparkContext.applicationId
    assert (app, "/root/testdata/sf0.001", "sql") in gated._SHINGLED_CACHE
    b = gated._shingled(spark, "/root/testdata/sf0.01")
    b.count()
    assert (app, "/root/testdata/sf0.001", "sql") not in gated._SHINGLED_CACHE
    assert not a.storageLevel.useMemory        # unpersisted
    assert b.storageLevel.useMemory
