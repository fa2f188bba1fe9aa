"""The end-to-end dedup pipeline: ingest → signatures → buckets → pairs →
clusters, each stage checkpointed and resumable.

Reference lifecycle analog (/root/reference/lsh/lsh.go:107-199):
``Train`` = signatures+buckets stages (hash every doc, store signatures and
bucket memberships); ``Search`` = pairs stage (bucket join → dedup → exact
verify → threshold); clustering is the north_star extension.  The reference's
goroutine fan-out (batch per goroutine, lsh/lsh.go:116-134) is Spark
partitioning; its in-memory KV store becomes Parquet/Iceberg stage tables.

Resume contract: every stage writes to ``workdir/<config_hash>/<stage>`` with
an atomic ``_SUCCESS`` marker; a re-run skips completed stages (idempotent —
same config hash ⇒ same bytes).  A manifest.json records rows/timings per
stage, and a ``lineage`` table records the rows each write task committed.
Both are read from the committed files' Parquet footers, so a stage's
bookkeeping runs no Spark job.

Scale design notes (100 TB / 10^12 files):
- ingest hash-partitions by doc_id, so documents spread evenly over the
  signatures tasks;
- signatures is one scan + one narrow write (no shuffle);
- buckets is the posexplode of each signature's bands, a view derived in the
  pairs stage;
- pairs self-join shuffles on (band_id, band_hash) with AQE skew splitting +
  the max_bucket_size guard (dropped buckets are *logged*, never silent);
- CC rounds localCheckpoint to keep lineage flat.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field, replace

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsh_search_go_spark.config import DedupConfig
from lsh_search_go_spark.functions import hashing as H
from lsh_search_go_spark.functions.shingles import with_shingles
from lsh_search_go_spark.functions.simhash import with_simhash
from lsh_search_go_spark.operators.bands import (candidate_pairs, explode_bands,
                                                 oversized_buckets)
from lsh_search_go_spark.operators.cc import assign_clusters
from lsh_search_go_spark.operators.substring import substring_pairs
from lsh_search_go_spark.operators.verify import jaccard_verify
from lsh_search_go_spark.sources.io import (StageResult, committed_rows,
                                            committed_schema, read_table,
                                            stage_complete,
                                            write_lineage, write_manifest,
                                            write_table)


@dataclass
class PipelineResult:
    workdir: str
    stages: list[StageResult] = field(default_factory=list)
    tables: dict[str, str] = field(default_factory=dict)

    @property
    def total_seconds(self) -> float:
        return sum(s.seconds for s in self.stages)


class DedupPipeline:
    """Orchestrates the batch dedup run.  ``impl`` picks the signature
    backend: "pandas" (Arrow-vectorized UDFs — the spec path) or "sql"
    (JVM higher-order functions — bit-identical, used by the oracle gate)."""

    STAGES = ("ingest", "signatures", "pairs", "substring", "clusters")

    def __init__(self, spark: SparkSession, cfg: DedupConfig, workdir: str,
                 impl: str = "pandas", target_partitions: int | None = None):
        self.spark = spark
        self.cfg = cfg
        self.impl = impl
        self.root = os.path.join(workdir, cfg.config_hash)
        self.target_partitions = target_partitions or max(
            spark.sparkContext.defaultParallelism, 4
        )

    # ------------------------------------------------------------------
    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _run_stage(self, name: str, result: PipelineResult, build):
        """Resume stage ``name`` if it committed; otherwise write
        ``build(held)`` and read it back.  ``build`` appends the frames it
        persisted to ``held``; they are released once the stage is written.
        Row counts and lineage come from the committed files' footers."""
        path = self._path(name)
        t0 = time.time()
        resumed = stage_complete(path)
        if resumed:
            out = read_table(self.spark, path, schema=committed_schema(path))
        else:
            held: list[DataFrame] = []
            df = build(held)
            try:
                write_table(df, path)
            finally:
                for h in held:
                    h.unpersist()
            out = read_table(self.spark, path, schema=df.schema)
        parts = committed_rows(self.spark, path)
        if not resumed:
            write_lineage(os.path.join(self.root, "lineage", name), name, parts)
        result.stages.append(StageResult(name, path, sum(n for _, n in parts),
                                         time.time() - t0, resumed=resumed))
        result.tables[name] = path
        return out

    # ------------------------------------------------------------------
    def _prepare_source(self, source: DataFrame) -> DataFrame:
        """id + invariant sha, hash-partitioned by id (no write)."""
        cfg = self.cfg
        df = source
        if cfg.id_col not in df.columns:
            df = df.withColumn(
                cfg.id_col,
                F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256),
            )
        df = df.withColumn("content_sha", F.sha2(F.col(cfg.content_col), 256))
        df = df.withColumn("content_bytes", F.length(cfg.content_col))
        # hash the unique id itself: a derived ``% n`` salt column, hashed
        # again by the repartition, leaves some partitions empty
        return df.repartition(self.target_partitions, cfg.id_col)

    def run(self, source: DataFrame,
            with_substring: bool = True) -> PipelineResult:
        """The ``sql`` impl writes the prepared input as its own ``ingest``
        stage (its signature exprs would otherwise recompute sha per column
        reference); the fused ``pandas`` path derives it inside the
        signatures pass, since at bench scale each extra
        write+read+bookkeeping cycle is pure serial overhead (~10s/stage that
        no amount of cores removes)."""
        cfg = self.cfg
        result = PipelineResult(workdir=self.root)

        if self.impl == "sql":
            ingest = self._run_stage("ingest", result,
                                     lambda held: self._prepare_source(source))
        else:
            ingest = self._prepare_source(source)

        # ---- signatures: shingles + minhash + bands + simhash (+ the
        # substring-pass inputs).  pandas impl runs ONE fused Arrow UDF
        # (separate chained UDFs get nested by Spark and re-run shingling per
        # consumer — see functions/signatures.py).
        def build_signatures(held):
            if self.impl == "pandas":
                from lsh_search_go_spark.functions.signatures import (
                    with_signatures_fused,
                )
                # rebalance=False: _prepare_source just hash-partitioned
                # the rows, so the layout probe would be a wasted job
                df = with_signatures_fused(ingest, cfg, rebalance=False)
                extra = ["norm_text", "first_sh", "last_sh"]
            else:
                df = with_shingles(ingest, cfg, self.impl)
                df = H.with_minhash_bands(df, cfg, self.impl)
                df = with_simhash(df, cfg, self.impl)
                extra = []
            # doc_key: 64-bit surrogate id — every downstream shuffle
            # (buckets, candidate pairs, verify) moves 8-byte longs instead of
            # 64-char sha strings (8× narrower keys; measured 2× faster pair
            # generation).  String ids are mapped back at stage outputs.  At
            # true 10^12-file scale, swap to a 128-bit surrogate (two longs) —
            # 64-bit birthday collisions stop being negligible past ~10^9.
            return df.withColumn("doc_key", F.xxhash64(cfg.id_col)).select(
                cfg.id_col, "doc_key", "content_sha", "content_bytes",
                "shingles", "minhash", "bands", "simhash", *extra)

        signatures = self._run_stage("signatures", result, build_signatures)

        if cfg.verify_surrogate_keys:
            # r1 ADVICE: promote the 64-bit-collision comment to an enforced
            # guard — a silent xxhash64 collision would merge two distinct
            # documents' pairs/clusters through the idmap join.  One exact
            # countDistinct pass per run; disable via config at the scale
            # where the 128-bit surrogate replaces this.  It also checks
            # source-id uniqueness: downstream stages assume one row per id
            # (clusters runs with docs_unique=True), and a repeated
            # (repo,path,commit) row would otherwise silently duplicate
            # (doc_id, cluster_id) outputs.  doc_key is a function of the
            # id, so n_keys <= n_ids <= n_rows (countDistinct skips null
            # ids, hence the non-null count): when the keys and non-null ids
            # both equal the footer row count, both contracts hold, and the
            # distinct ids are counted only to name a failure.
            n_rows = {s.name: s.rows for s in result.stages}["signatures"]
            r = signatures.agg(F.count(cfg.id_col).alias("n_nonnull"),
                               F.countDistinct("doc_key").alias("n_keys")).first()
            if (r["n_nonnull"], r["n_keys"]) != (n_rows, n_rows):
                n_ids = signatures.agg(F.countDistinct(cfg.id_col)).first()[0]
                if n_rows != n_ids:
                    raise RuntimeError(
                        f"duplicate source ids: {n_rows} rows carry only "
                        f"{n_ids} distinct {cfg.id_col!r} values — the "
                        "pipeline contract is one row per document id; dedup "
                        "the source (or fix the id derivation) before running"
                    )
                raise RuntimeError(
                    f"doc_key surrogate collision: {n_ids} distinct ids → "
                    f"{r['n_keys']} distinct keys; switch to a 128-bit "
                    "surrogate (two-long key) for this corpus size"
                )

        idmap = signatures.select("doc_key", cfg.id_col)

        def map_back(pairs_keyed: DataFrame, left: str, right: str,
                     extra_cols: list[str]) -> DataFrame:
            """(left_key, right_key, ...) → string ids, re-canonicalized so
            src_id < dst_id in ID space (key order ≠ id order)."""
            out = (
                pairs_keyed
                .join(idmap.select(F.col("doc_key").alias(left),
                                   F.col(cfg.id_col).alias("__lid")), left)
                .join(idmap.select(F.col("doc_key").alias(right),
                                   F.col(cfg.id_col).alias("__rid")), right)
            )
            return out.select(
                F.least("__lid", "__rid").alias("src_id"),
                F.greatest("__lid", "__rid").alias("dst_id"),
                *extra_cols,
            )

        # ---- buckets: (band_id, band_hash, doc_key), a view derived here
        buckets = explode_bands(
            signatures.filter(F.size("shingles") > 0), "doc_key", "bands")

        # ---- pairs: candidates → exact verify (inclusive threshold).
        # Strategy "minhash": band buckets → exact-Jaccard verify;
        # strategy "simhash": bit-slice bands (recall 1.0 vs brute Hamming by
        # pigeonhole when simhash_bands > hamming_threshold) → Hamming verify —
        # the forest-as-candidate-generator shape of the reference
        # (/root/reference/lsh/lsh.go:154-172).
        def build_pairs(held):
            if cfg.pairs_strategy == "simhash":
                from lsh_search_go_spark.functions.simhash import (
                    simhash_band_hashes,
                )
                from lsh_search_go_spark.operators.verify import hamming_verify

                signed = signatures.filter(F.size("shingles") > 0)
                banded = signed.withColumn(
                    "__sbands",
                    simhash_band_hashes("simhash", cfg, cfg.simhash_bands))
                sbuckets = explode_bands(banded, "doc_key", "__sbands")
                # same one-aggregation skew-log+cap shape as the minhash branch
                sizes = sbuckets.groupBy("band_id", "band_hash").agg(
                    F.count(F.lit(1)).alias("bucket_size")).persist()
                held.append(sizes)
                write_table(
                    sizes.filter(F.col("bucket_size") > cfg.max_bucket_size),
                    os.path.join(self.root, "dropped_buckets"))
                cands = candidate_pairs(sbuckets, "doc_key",
                                        cfg.max_bucket_size, sizes=sizes)
                verified = hamming_verify(cands, signatures,
                                          cfg.hamming_threshold, "doc_key")
                return map_back(verified, "src_id", "dst_id", ["hamming"])
            # ONE bucket-size aggregation serves both the skew log and the
            # cap filter (persisted; a second full groupBy pass was ~8% of
            # the r2 pipeline's serial fraction)
            sizes = buckets.groupBy("band_id", "band_hash").agg(
                F.count(F.lit(1)).alias("bucket_size")).persist()
            held.append(sizes)
            write_table(sizes.filter(F.col("bucket_size") > cfg.max_bucket_size),
                        os.path.join(self.root, "dropped_buckets"))
            cands = candidate_pairs(buckets, "doc_key", cfg.max_bucket_size,
                                    sizes=sizes)
            verified = jaccard_verify(cands, signatures, cfg.jaccard_threshold,
                                      "doc_key", "shingles")
            return map_back(verified, "src_id", "dst_id",
                            ["inter", "uni", "jaccard"])

        # ---- substring containment (suffix-array slot)
        def build_substring(held):
            # hot-blocking-key skew log (license-header-style prefixes) is
            # written by substring_pairs itself from its one aggregation pass
            dropped_sink = os.path.join(self.root, "dropped_blocks")
            if {"norm_text", "first_sh", "last_sh"} <= set(signatures.columns):
                # fused path: everything needed is in signatures; run the
                # joins in key space, map ids at the end (containment is
                # directional — no canonical reordering)
                kcfg = replace(cfg, id_col="doc_key")
                keyed = substring_pairs(signatures, kcfg,
                                        dropped_sink=dropped_sink,
                                        persisted=held)
                return (
                    keyed
                    .join(idmap.select(F.col("doc_key").alias("inner_id"),
                                       F.col(cfg.id_col).alias("__iid")), "inner_id")
                    .join(idmap.select(F.col("doc_key").alias("outer_id"),
                                       F.col(cfg.id_col).alias("__oid")), "outer_id")
                    .select(F.col("__iid").alias("inner_id"),
                            F.col("__oid").alias("outer_id"))
                )
            return substring_pairs(
                ingest.join(signatures.select(cfg.id_col, "shingles"), cfg.id_col),
                cfg, dropped_sink=dropped_sink, persisted=held,
            )

        # pairs→clusters and substring are INDEPENDENT branches of the DAG
        # below signatures: submit them as concurrent Spark jobs (threads) so
        # latency-bound phases of one branch fill idle cores with the other —
        # on a real cluster the scheduler does this across fair-scheduler
        # pools; in local mode it reclaims wall-clock the same way.
        from concurrent.futures import ThreadPoolExecutor

        def branch_pairs_clusters():
            pairs = self._run_stage("pairs", result, build_pairs)
            # clusters: CC over verified dup edges (signatures carries every
            # doc_id, so singletons never need the raw source again)
            self._run_stage("clusters", result,
                            lambda held: assign_clusters(signatures, pairs,
                                                         cfg.id_col,
                                                         docs_unique=True))

        def branch_substring():
            self._run_stage("substring", result, build_substring)

        # the branches' jobs carry the caller's job group, scheduler pool and
        # session tags (pyspark copies them into each pinned JVM thread; with
        # thread pinning off it copies nothing and returns the session)
        inherit = inheritable_thread_target(self.spark)
        if not callable(inherit):
            inherit = lambda f: f  # noqa: E731
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(inherit(branch_pairs_clusters))]
            if with_substring:
                futs.append(pool.submit(inherit(branch_substring)))
            for f in futs:
                f.result()
        # the two branches append in completion order: report in DAG order
        result.stages.sort(key=lambda st: self.STAGES.index(st.name))

        write_manifest(self.root, cfg.config_hash, result.stages,
                       extra={"impl": self.impl})
        return result
