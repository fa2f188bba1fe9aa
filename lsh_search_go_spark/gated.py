"""Driver-gate query catalog: paired (Spark DataFrame builder, DuckDB oracle
SQL) per operator from SURVEY.md §2.

Each entry exercises a library operator on the driver's testdata tables
(``documents`` for text dedup, ``embeddings`` for vector ops) and states the
equivalent ANSI SQL for DuckDB.  Column names, value types and even float
fold orders are mirrored so the driver's order-insensitive value-hash matches
bit-for-bit.

The documents table is adapted as (doc_id ← doc_id, content ← text); the
pipeline itself is configured by column name, so the code-corpus shape from
BASELINE.json (repo/path/commit/lang/content) and this shape run through the
same operators.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsh_search_go_spark.config import DedupConfig
from lsh_search_go_spark.functions import hashing as H
from lsh_search_go_spark.functions import shingles as SHG
from lsh_search_go_spark.functions import simhash as SIM
from lsh_search_go_spark.functions import stats as ST
from lsh_search_go_spark.functions import textstats as TS
from lsh_search_go_spark.functions import vector as V
from lsh_search_go_spark.operators import bands as B
from lsh_search_go_spark.operators import bruteforce as BF
from lsh_search_go_spark.operators import exact as EX
from lsh_search_go_spark.operators import substring as SUB
from lsh_search_go_spark.operators import verify as VF
from lsh_search_go_spark.operators.cc import assign_clusters

CFG = DedupConfig(id_col="doc_id", content_col="content")
ANN_K = 10
ANN_N_QUERIES = 20
# testdata embeddings are near-uniform random directions: pairwise cosine
# distance concentrates near 1.0; 0.5 admits only the tightest pairs.
EMB_NEARDUP_T = 0.5


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.col("text").alias("content"))
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_SHINGLED_CACHE: dict = {}


def _evict_other_sf(cache: dict, key: tuple) -> None:
    """Unpersist + drop this session's entries for OTHER sf_dirs when a new
    one arrives (r5 VERDICT: the caches persisted forever, so a long-lived
    session sweeping many sf_dirs accumulated pinned executor storage).  The
    driver's one-sf gate run never evicts; a multi-sf sweep keeps exactly
    one sf_dir's relations pinned."""
    app, sf_dir, _impl = key
    for k in [k for k in cache
              if k[0] == app and k[1] != sf_dir]:
        try:
            cache[k].unpersist()
        except Exception:                                   # noqa: BLE001
            pass
        del cache[k]


def _shingled(spark: SparkSession, sf_dir: str, impl: str = "sql") -> DataFrame:
    """Shingled docs, persisted AND memoized per (session, sf_dir, impl):
    Catalyst's projection collapse would otherwise inline the shingle
    expression into every downstream reference (e.g. 128× per row under the
    MinHash transform), and the driver gate runs ~17 queries over the same
    relation — one persisted copy serves them all (r1 VERDICT #9)."""
    key = (spark.sparkContext.applicationId, sf_dir, impl)
    if key not in _SHINGLED_CACHE:
        _evict_other_sf(_SHINGLED_CACHE, key)
        _SHINGLED_CACHE[key] = SHG.with_shingles(
            _docs(spark, sf_dir), CFG, impl).persist()
    return _SHINGLED_CACHE[key]


# --------------------------------------------------------------------------
# Spark query builders
# --------------------------------------------------------------------------

def q_exact_dedup_groups(spark, sf_dir):
    return EX.exact_dup_groups(_docs(spark, sf_dir), "doc_id", "content")


def q_exact_dup_pairs(spark, sf_dir):
    """Canonical-representative star pairs of byte-identical docs (the edge
    set CC consumes; avoids the full within-group self-join).

    The sf fixtures contain no byte-identical pair, which made this gate
    vacuously green (0 = 0 rows, r3 VERDICT).  The gate therefore runs over
    the fixture UNION a deterministic re-keyed copy of every 97th document
    (ids offset by 10^9) — planted duplicates both engines derive
    identically, so the pair set is non-empty and value-checked."""
    return EX.exact_dup_pairs(_plant_exact_dups(_docs(spark, sf_dir)),
                              "doc_id", "content")


def _plant_exact_dups(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture helper: union a deterministic re-keyed copy of a subset of
    rows, so exact-dup relations are non-vacuous on fixtures with no
    byte-identical pair.  Engine-portable by construction (the DuckDB oracle
    mirrors each branch with plain SQL):

    * integral ids — every 97th id, re-keyed by +10^9 (the r4 gate scheme,
      unchanged, so the existing oracle CTE stays valid);
    * string ids — rows whose sha256(id) hex starts with '0' (≈1/16 of
      rows), re-keyed with a ``::dup`` suffix (sha2/sha256 agree across
      engines; Spark's ``hash()`` would not).

    Other id types raise: the fixture contract requires a re-key expression
    both engines compute identically, which must be added per type."""
    dt = dict(docs.dtypes)[id_col]
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return docs.unionByName(
            docs.filter(F.col(id_col) % 97 == 0)
            .withColumn(id_col, F.col(id_col) + F.lit(1_000_000_000))
        )
    if dt == "string":
        return docs.unionByName(
            docs.filter(F.substring(F.sha2(F.col(id_col), 256), 1, 1) == "0")
            .withColumn(id_col, F.concat(F.col(id_col), F.lit("::dup")))
        )
    raise TypeError(
        f"_plant_exact_dups: no engine-portable re-key scheme for id column "
        f"{id_col!r} of type {dt!r} (supported: integral, string)")


def q_doc_profile(spark, sf_dir):
    return TS.doc_profile(_docs(spark, sf_dir), CFG)


def q_lang_id(spark, sf_dir):
    """Keyword-profile language ID over the documents table (JVM-only
    expressions — the no-per-row-Python training-data-pipeline operator)."""
    from lsh_search_go_spark.functions.langid import lang_id

    return lang_id(_docs(spark, sf_dir), CFG).select("doc_id", "lang_pred")


def q_embedding_range(spark, sf_dir):
    """A4 (GetFloat64Range, annbench.go:127-141): global min/max over all
    vector components — exact (min/max are order-independent)."""
    return ST.vector_range(_emb(spark, sf_dir), "embedding")


def q_embedding_dim_stats(spark, sf_dir):
    """A1 (GetMeanStdSampled, helpers.go:44-80): per-dimension mean + the
    reference's MAD-labeled-as-std quirk + true stddev.  Float aggregation
    order differs between engines, so values are rounded to 6 dp for the
    hash compare (differences are O(1e-15))."""
    out = ST.dim_stats(_emb(spark, sf_dir), "embedding")
    return out.select(
        "dim",
        F.round("mean", 6).alias("mean_r"),
        F.round("mad", 6).alias("mad_r"),
        F.round("stddev", 6).alias("stddev_r"),
    )


def q_token_frequencies(spark, sf_dir):
    return TS.token_frequencies(_docs(spark, sf_dir), CFG)


def q_shingle_profile(spark, sf_dir):
    sh = _shingled(spark, sf_dir)
    return sh.select(
        "doc_id",
        F.size("shingles").alias("n_shingles"),
        F.expr(H.combine_hash_expr("shingles")).alias("shingle_checksum"),
    )


_SIGS_CACHE: dict = {}


def _minhash_sigs(spark, sf_dir, impl):
    key = (spark.sparkContext.applicationId, sf_dir, impl)
    if key not in _SIGS_CACHE:
        _evict_other_sf(_SIGS_CACHE, key)
        a, b = CFG.minhash_params
        _SIGS_CACHE[key] = (
            _shingled(spark, sf_dir, impl)
            .filter(F.size("shingles") > 0)
            .withColumn("minhash", H.minhash_signature("shingles", a, b))
            .persist()
        )
    return _SIGS_CACHE[key]


def q_minhash_signatures(spark, sf_dir):
    return (
        _minhash_sigs(spark, sf_dir, "sql")
        .select("doc_id", F.posexplode("minhash").alias("perm_id", "minhash"))
    )


def q_minhash_signatures_pandas(spark, sf_dir):
    """Same output as q_minhash_signatures but shingling runs through the
    Arrow/pandas backend — the oracle SQL is shared, so the gate certifies the
    vectorized-UDF path too."""
    return (
        _minhash_sigs(spark, sf_dir, "pandas")
        .select("doc_id", F.posexplode("minhash").alias("perm_id", "minhash"))
    )


def q_lsh_bands(spark, sf_dir):
    sigs = _minhash_sigs(spark, sf_dir, "sql").withColumn(
        "bands", H.banded_hashes("minhash", CFG.num_bands, CFG.rows_per_band)
    )
    return B.explode_bands(sigs, "doc_id", "bands")


def q_lsh_candidate_pairs(spark, sf_dir):
    return B.candidate_pairs(q_lsh_bands(spark, sf_dir), "doc_id")


def q_minhash_dup_pairs(spark, sf_dir):
    cands = q_lsh_candidate_pairs(spark, sf_dir)
    sh = _shingled(spark, sf_dir)
    out = VF.jaccard_verify(cands, sh, CFG.jaccard_threshold, "doc_id", "shingles")
    return out.select("src_id", "dst_id", "inter", "uni",
                      F.round("jaccard", 6).alias("jaccard_r"))


def q_jaccard_dup_pairs_exact(spark, sf_dir):
    """Brute-force oracle-semantics pairs (NNMock analog) as its own query."""
    sh = _shingled(spark, sf_dir).filter(F.size("shingles") > 0).persist()
    a = sh.select(F.col("doc_id").alias("src_id"), F.col("shingles").alias("__sa"))
    b = sh.select(F.col("doc_id").alias("dst_id"), F.col("shingles").alias("__sb"))
    return (
        a.crossJoin(b)
        .filter(F.col("src_id") < F.col("dst_id"))
        .withColumn("inter", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn("uni", F.size("__sa") + F.size("__sb") - F.col("inter"))
        .filter((F.col("uni") > 0)
                & (F.col("inter") >= F.lit(CFG.jaccard_threshold) * F.col("uni")))
        .select("src_id", "dst_id", "inter", "uni",
                F.round(F.col("inter").cast("double") / F.col("uni"), 6).alias("jaccard_r"))
    )


def q_dup_clusters(spark, sf_dir):
    pairs = q_minhash_dup_pairs(spark, sf_dir).select("src_id", "dst_id")
    return assign_clusters(_docs(spark, sf_dir), pairs, "doc_id")


def q_simhash_signatures(spark, sf_dir):
    sh = _shingled(spark, sf_dir)
    return (
        SIM.with_simhash(sh, CFG, "sql")
        .select("doc_id", F.posexplode("simhash").alias("word_id", "word"))
    )


def q_simhash_dup_pairs(spark, sf_dir):
    """Brute-force Hamming pairs <= threshold (exact verify semantics; the
    banded-candidate variant is pipeline-internal and pytest-gated)."""
    sh = SIM.with_simhash(_shingled(spark, sf_dir), CFG, "sql").filter(
        F.size("shingles") > 0
    ).persist()
    a = sh.select(F.col("doc_id").alias("src_id"), F.col("simhash").alias("__ha"))
    b = sh.select(F.col("doc_id").alias("dst_id"), F.col("simhash").alias("__hb"))
    return (
        a.crossJoin(b)
        .filter(F.col("src_id") < F.col("dst_id"))
        .withColumn("hamming", SIM.hamming_expr("__ha", "__hb"))
        .filter(F.col("hamming") <= CFG.hamming_threshold)
        .select("src_id", "dst_id", "hamming")
    )


def q_simhash_banded_dup_pairs(spark, sf_dir):
    """The pipeline's simhash pairs strategy: bit-slice band buckets generate
    candidates (recall 1.0 vs brute Hamming by pigeonhole — simhash_bands >
    hamming_threshold), then exact Hamming verify.  The forest-as-candidate-
    generator shape of the reference (/root/reference/lsh/lsh.go:154-172)."""
    from lsh_search_go_spark.operators.verify import hamming_verify

    sh = SIM.with_simhash(_shingled(spark, sf_dir), CFG, "sql").filter(
        F.size("shingles") > 0
    )
    cands = SIM.simhash_candidate_pairs(sh, CFG, CFG.simhash_bands, "doc_id")
    return hamming_verify(cands, sh, CFG.hamming_threshold, "doc_id")


def q_event_window_stats(spark, sf_dir):
    """Tumbling-window event stats over the events table — the BATCH form of
    the watermarked streaming aggregation (streaming/windows.py); same
    logical plan, so gating it certifies the streaming op's arithmetic."""
    from lsh_search_go_spark.streaming.windows import windowed_event_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_stats(ev, "10 minutes", watermark=None)
    # epoch micros, not raw timestamps: the value compare must not depend on
    # either engine's session timezone rendering
    # NTZ-safe epoch: micros since the naive epoch literal (unix_micros needs
    # TIMESTAMP_LTZ and would re-introduce session-timezone dependence)
    us = "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', {})"
    return out.select(
        F.expr(us.format("window_start")).alias("window_start_us"),
        F.expr(us.format("window_end")).alias("window_end_us"),
        "event_type", "n_events",
        F.round("total_value", 6).alias("total_value_r"))


def q_substring_containment(spark, sf_dir):
    # max_block_size=0: the DuckDB oracle is UNCAPPED exact containment, so
    # the gated query must not apply the skew cap (the capped path is covered
    # by tests/test_extras.py::test_substring_block_cap_license_header)
    sh = _shingled(spark, sf_dir)
    return SUB.substring_pairs(sh, CFG, max_block_size=0)


def q_ann_topk_bruteforce(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")
    )
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    out = BF.brute_force_topk(corpus, queries, ANN_K, "cosine")
    return out.select("query_id", "rank", "neighbor_id",
                      F.round("dist", 9).alias("dist_r"))


def _ann_cfg(n: int):
    """Shared ANN config derivation: the Spark gate query AND the numpy/DuckDB
    oracle must build the identical seeded forest for the same corpus size."""
    from lsh_search_go_spark.config import AnnConfig

    return AnnConfig(n_trees=10, k_min_vecs=max(25, n // 50), dims=64,
                     is_angular=True, seed=42, sample_size=20000)


ANN_MAX_DIST = 2.0


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN (the reference's Train+Search path,
    /root/reference/lsh/lsh.go:107-199) on embeddings.

    Fully oracle-gated: the forest fit is deterministic and engine-independent
    (first ``sample_size`` vectors ordered by id — ``fit_from_df(order_col=)``),
    so ``ann_oracle_tables`` re-derives the identical model in pure
    numpy/pyarrow and the post-hash stages (probe expansion → bucket join →
    exact cosine verify → top-k, /root/reference/lsh/lsh.go:148-198) are plain
    relational algebra DuckDB mirrors bit-for-bit."""
    from lsh_search_go_spark.operators import ann

    emb = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("vec"),
    ).persist()
    n = emb.count()
    acfg = _ann_cfg(n)
    model = ann.fit_from_df(emb, acfg, "vec", order_col="id")
    buckets = ann.build_buckets(emb, model, "id", "vec")
    queries = emb.filter(F.col("id") < ANN_N_QUERIES).select(
        F.col("id").alias("query_id"), "vec"
    )
    out = ann.search(queries, buckets, emb, model, k=ANN_K,
                     max_dist=ANN_MAX_DIST, metric="cosine")
    return out.select("query_id", "rank", "neighbor_id",
                      F.round("dist", 9).alias("dist_r"))


IVF_NPROBE = 4
IVF_FIT_CAP = 20000   # fit-sample cap shared by the Spark gate and the oracle


def _ivf_params(n: int) -> tuple[int, int, int]:
    """(n_centroids, n_iters, seed) shared by the Spark gate query and the
    numpy oracle — both must fit the identical coarse quantizer."""
    return max(4, n // 50), 10, 42


def q_ivf_topk(spark, sf_dir):
    """IVF coarse-quantizer ANN (the target spec's 'IVF variant' of the
    similarity-search scale path).  Fully oracle-gated by the same trick as
    ann_lsh_topk: the k-means model is deterministic pure numpy, so
    ``ivf_oracle_tables`` re-derives the inverted lists + probes and DuckDB
    mirrors the join → exact cosine verify → top-k."""
    from lsh_search_go_spark.functions import arrowmat as AM
    from lsh_search_go_spark.operators import ivf

    emb = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("vec"),
    ).persist()
    n = emb.count()
    n_cent, n_iters, seed = _ivf_params(n)
    _, X = AM.collect_matrix(emb.orderBy("id").limit(IVF_FIT_CAP), "vec")
    C = ivf.fit_centroids(X, n_cent, "cosine", n_iters, seed)
    inverted = ivf.assign(emb, C, "cosine", "id", "vec")
    queries = emb.filter(F.col("id") < ANN_N_QUERIES).select(
        F.col("id").alias("query_id"), "vec")
    out = ivf.search(queries, inverted, emb, C, k=ANN_K,
                     max_dist=ANN_MAX_DIST, metric="cosine",
                     nprobe=IVF_NPROBE)
    return out.select("query_id", "rank", "neighbor_id",
                      F.round("dist", 9).alias("dist_r"))


def ivf_oracle_tables(sf_dir: str) -> str:
    """Materialize the IVF oracle relations — inverted(vec_id, centroid_id)
    and probes(query_id, centroid_id) — with pure pyarrow + numpy (the
    identical seeded k-means the Spark gate fits).  Returns the directory."""
    import hashlib
    import os
    import tempfile

    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from lsh_search_go_spark.operators import ivf

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet",
                        columns=["vec_id", "embedding"])
    pdf = tbl.to_pandas().sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy(np.int64)
    X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    n_cent, n_iters, seed = _ivf_params(len(pdf))
    st = os.stat(f"{sf_dir}/embeddings.parquet")
    key = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}|ivf|{n_cent}|{n_iters}|{seed}|"
        f"{IVF_NPROBE}|{IVF_FIT_CAP}|{ANN_N_QUERIES}|"
        f"{st.st_size}|{st.st_mtime_ns}|"
        f"ivf_v{ivf.MODEL_VERSION}".encode()   # bump on fit-semantics change
    ).hexdigest()[:16]
    out_dir = os.path.join(tempfile.gettempdir(), f"lsh_ivf_oracle_{key}")
    ipath = os.path.join(out_dir, "inverted.parquet")
    ppath = os.path.join(out_dir, "probes.parquet")
    if os.path.exists(ipath) and os.path.exists(ppath):
        return out_dir
    C = ivf.fit_centroids(X[:IVF_FIT_CAP], n_cent, "cosine", n_iters, seed)
    inv = pd.DataFrame({"vec_id": ids,
                        "centroid_id": ivf._assign_np(X, C, "cosine")
                        .astype(np.int64)})
    qmask = ids < ANN_N_QUERIES
    pr = ivf.probe_centroids_np(X[qmask], C, IVF_NPROBE, "cosine")
    probes = pd.DataFrame({
        "query_id": np.repeat(ids[qmask], pr.shape[1]),
        "centroid_id": pr.reshape(-1).astype(np.int64),
    })
    os.makedirs(out_dir, exist_ok=True)
    for df, path in ((inv, ipath), (probes, ppath)):
        tmp = path + ".tmp"
        df.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return out_dir


def ann_oracle_tables(sf_dir: str) -> str:
    """Materialize the ANN oracle's model-derived relations as parquet —
    buckets(vec_id, tree_id, hash) for the whole corpus and
    probes(query_id, tree_id, hash) with the MSB-flip multiprobe expansion —
    using ONLY pyarrow + numpy (no Spark).  Returns the directory.

    This is what lets DuckDB gate the reference's flagship read path: the
    seeded forest is re-derived here exactly — the same sorted fit sample
    through the SAME ``ann.fit``/``ann.hash_batch`` code (f64 plane truth,
    f32 split/traversal dots as of MODEL_VERSION 2) — and everything after
    hashing is SQL."""
    import hashlib
    import os
    import tempfile

    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from lsh_search_go_spark.operators import ann

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet",
                        columns=["vec_id", "embedding"])
    pdf = tbl.to_pandas().sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy(np.int64)
    X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    acfg = _ann_cfg(len(pdf))
    st = os.stat(f"{sf_dir}/embeddings.parquet")
    key = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}|{acfg.config_hash}|"
        f"{st.st_size}|{st.st_mtime_ns}|"              # regenerated fixture data
        f"model_v{ann.MODEL_VERSION}".encode()         # or a changed fit/hash
    ).hexdigest()[:16]                                 # must not gate stale
    out_dir = os.path.join(tempfile.gettempdir(), f"lsh_ann_oracle_{key}")
    bpath = os.path.join(out_dir, "buckets.parquet")
    ppath = os.path.join(out_dir, "probes.parquet")
    if os.path.exists(bpath) and os.path.exists(ppath):
        return out_dir
    model = ann.fit(X[: acfg.sample_size], acfg)
    hashes = ann.hash_batch(X, model)                     # (n, n_trees)
    n, n_trees = hashes.shape
    buckets = pd.DataFrame({
        "vec_id": np.repeat(ids, n_trees),
        "tree_id": np.tile(np.arange(n_trees, dtype=np.int64), n),
        "hash": hashes.reshape(-1),
    })
    qmask = ids < ANN_N_QUERIES
    qids = np.repeat(ids[qmask], n_trees)
    qtree = np.tile(np.arange(n_trees, dtype=np.int64), int(qmask.sum()))
    qhash = hashes[qmask].reshape(-1)
    parts = [pd.DataFrame({"query_id": qids, "tree_id": qtree, "hash": qhash})]
    if acfg.multiprobe:
        parts.append(pd.DataFrame({"query_id": qids, "tree_id": qtree,
                                   "hash": ann.msb_flip_np(qhash)}))
    probes = pd.concat(parts, ignore_index=True)
    os.makedirs(out_dir, exist_ok=True)
    for df, path in ((buckets, bpath), (probes, ppath)):
        tmp = path + ".tmp"
        df.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return out_dir


def q_embedding_neardup_pairs(spark, sf_dir):
    emb = _emb(spark, sf_dir).select(F.col("vec_id").alias("id"),
                                     F.col("embedding").alias("vec"))
    out = BF.threshold_pairs(emb, EMB_NEARDUP_T, "cosine")
    return out.select("src_id", "dst_id", F.round("dist", 9).alias("dist_r"))


# --------------------------------------------------------------------------
# DuckDB oracle SQL
# --------------------------------------------------------------------------

def _duck_docs_cte() -> str:
    return "select doc_id, text as content from documents"


def _duck_shingled_cte() -> str:
    return (
        f"select doc_id, {SHG.duck_shingle_hashes('content', CFG)} as shingles "
        f"from ({_duck_docs_cte()})"
    )


def _duck_minhash_cte() -> str:
    a, b = CFG.minhash_params
    a_lit = "[" + ",".join(map(str, a)) + "]"
    b_lit = "[" + ",".join(map(str, b)) + "]"
    return f"""
with sh as ({_duck_shingled_cte()}),
perms as (
  select unnest(range({CFG.num_perm})) as perm_id,
         unnest({a_lit}) as a, unnest({b_lit}) as b
)
select sh.doc_id, perms.perm_id,
       list_min(list_transform(sh.shingles, h -> (perms.a * h + perms.b) % {H.P})) as minhash
from sh, perms
where len(sh.shingles) > 0
"""


def _duck_bands_cte() -> str:
    r = CFG.rows_per_band
    return f"""
with mh as ({_duck_minhash_cte()}),
sig as (
  select doc_id, list(minhash order by perm_id) as sig from mh group by doc_id
)
select doc_id, band_id,
       {H.duck_combine(f'list_slice(sig, band_id * {r} + 1, band_id * {r} + {r})')} as band_hash
from sig, (select unnest(range({CFG.num_bands})) as band_id)
"""


def _duck_candidate_pairs_cte() -> str:
    return f"""
with bands as ({_duck_bands_cte()})
select distinct a.doc_id as src_id, b.doc_id as dst_id
from bands a join bands b
  on a.band_id = b.band_id and a.band_hash = b.band_hash and a.doc_id < b.doc_id
"""


def _duck_verified_pairs_sql() -> str:
    t = CFG.jaccard_threshold
    return f"""
with cands as ({_duck_candidate_pairs_cte()}),
sh as ({_duck_shingled_cte()})
select c.src_id, c.dst_id,
       len(list_intersect(sa.shingles, sb.shingles)) as inter,
       len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)) as uni,
       round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
             (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))), 6) as jaccard_r
from cands c
join sh sa on sa.doc_id = c.src_id
join sh sb on sb.doc_id = c.dst_id
where len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)) > 0
  and len(list_intersect(sa.shingles, sb.shingles))
      >= {t} * (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
"""


def oracle_sql_map(sf_dir: str | None = None) -> dict[str, str]:
    """DuckDB oracle SQL per gate.  ``sf_dir`` matters only for the ANN/IVF
    gates, whose oracle parquet (model-derived buckets/probes/lists) is
    materialized against a concrete corpus: it MUST be the same directory
    the Spark side of the comparison queries, or the gate compares models
    fit on different corpora and fails (loudly).  Defaults to
    $SPARK_GRAFT_ORACLE_SF_DIR, then the driver's sf0.01 — the driver runs
    both sides at sf0.01, so the defaults line up there; any other harness
    should pass its sf_dir explicitly instead of relying on the env var
    (r2 ADVICE)."""
    if sf_dir is None:
        import os as _os
        sf_dir = _os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                                 "/root/testdata/sf0.01")
    t = CFG.jaccard_threshold
    prof = TS.duck_doc_profile_exprs("content", CFG)
    sql: dict[str, str] = {}

    sql["exact_dedup_groups"] = f"""
select sha256(content) as content_sha, count(*) as n_dups, min(doc_id) as canonical_id
from ({_duck_docs_cte()}) group by 1
"""

    # mirror of _plant_exact_dups: the fixture has no byte-identical pair,
    # so gate over fixture ∪ re-keyed copy of every 97th doc (r3 VERDICT)
    sql["exact_dup_pairs"] = f"""
with planted as (
  select doc_id, content from ({_duck_docs_cte()})
  union all
  select doc_id + 1000000000 as doc_id, content
  from ({_duck_docs_cte()}) where doc_id % 97 = 0
),
sha as (select doc_id, sha256(content) as content_sha from planted),
reps as (select content_sha, min(doc_id) as src from sha group by 1)
select r.src as src_id, s.doc_id as dst_id
from sha s join reps r using (content_sha)
where s.doc_id != r.src
"""

    from lsh_search_go_spark.functions.langid import duck_lang_id

    sql["lang_id_pred"] = f"""
select doc_id, {duck_lang_id('content', CFG)} as lang_pred
from ({_duck_docs_cte()})
"""

    sql["embedding_range"] = """
select min(list_min(embedding))::DOUBLE as vmin,
       max(list_max(embedding))::DOUBLE as vmax
from embeddings
"""

    sql["embedding_dim_stats"] = """
with e as (
  select unnest(range(len(embedding))) as dim,
         unnest(embedding)::DOUBLE as x
  from embeddings
),
m as (select dim, avg(x) as mean, stddev_pop(x) as stddev from e group by dim)
select e.dim, round(m.mean, 6) as mean_r,
       round(avg(abs(e.x - m.mean)), 6) as mad_r,
       round(m.stddev, 6) as stddev_r
from e join m using (dim)
group by e.dim, m.mean, m.stddev
"""

    sql["doc_profile"] = f"""
select doc_id, {prof['n_tokens']} as n_tokens,
       {prof['n_distinct_tokens']} as n_distinct_tokens,
       {prof['n_stopwords']} as n_stopwords,
       {prof['n_token_chars']} as n_token_chars,
       {prof['fingerprint']} as fingerprint
from ({_duck_docs_cte()})
"""

    toks = SHG.duck_tokens("content", CFG.lowercase, CFG.strip_comments)
    sql["token_frequencies"] = f"""
select token, count(distinct doc_id) as n_docs, count(*) as n_occurrences
from (select doc_id, unnest({toks}) as token from ({_duck_docs_cte()}))
group by token
"""

    sql["shingle_profile"] = f"""
select doc_id, len(shingles) as n_shingles,
       {H.duck_combine('shingles')} as shingle_checksum
from ({_duck_shingled_cte()})
"""

    sql["minhash_signatures"] = _duck_minhash_cte()
    sql["minhash_signatures_pandas"] = _duck_minhash_cte()
    sql["lsh_bands"] = _duck_bands_cte()
    sql["lsh_candidate_pairs"] = _duck_candidate_pairs_cte()
    sql["minhash_dup_pairs"] = _duck_verified_pairs_sql()

    sql["jaccard_dup_pairs_exact"] = f"""
with sh as ({_duck_shingled_cte()})
select a.doc_id as src_id, b.doc_id as dst_id,
       len(list_intersect(a.shingles, b.shingles)) as inter,
       len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) as uni,
       round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
             (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6) as jaccard_r
from sh a join sh b on a.doc_id < b.doc_id
where len(a.shingles) > 0 and len(b.shingles) > 0
  and len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) > 0
  and len(list_intersect(a.shingles, b.shingles))
      >= {t} * (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
"""

    sql["dup_clusters"] = f"""
with pairs as ({_duck_verified_pairs_sql()}),
sym as (
  select src_id as a, dst_id as b from pairs
  union
  select dst_id as a, src_id as b from pairs
),
rec as (
  with recursive reach(a, b) as (
    select a, b from sym
    union
    select r.a, s.b from reach r join sym s on r.b = s.a where s.b != r.a
  )
  select * from reach
)
select d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) as cluster_id
from ({_duck_docs_cte()}) d left join rec r on r.a = d.doc_id
group by d.doc_id
"""

    simhash_list = SIM.duck_simhash_words("sh.shingles", CFG)
    sql["simhash_signatures"] = f"""
with sh as ({_duck_shingled_cte()}),
sigs as (select doc_id, {simhash_list} as words from sh)
select doc_id, unnest(range({CFG.simhash_bits // 32})) as word_id,
       unnest(words) as word
from sigs
"""

    nwords = CFG.simhash_bits // 32
    sql["simhash_dup_pairs"] = f"""
with sh as ({_duck_shingled_cte()}),
sigs as (select doc_id, {simhash_list} as words from sh where len(sh.shingles) > 0)
select a.doc_id as src_id, b.doc_id as dst_id,
       {SIM.duck_hamming('a.words', 'b.words', nwords)} as hamming
from sigs a join sigs b on a.doc_id < b.doc_id
where {SIM.duck_hamming('a.words', 'b.words', nwords)} <= {CFG.hamming_threshold}
"""

    band_val = SIM.duck_band_expr("sigs.words", CFG, CFG.simhash_bands, "bj")
    sql["simhash_banded_dup_pairs"] = f"""
with sh as ({_duck_shingled_cte()}),
sigs as (select doc_id, {simhash_list} as words from sh where len(sh.shingles) > 0),
bands as (
  select sigs.doc_id, bj as band_id, {band_val} as band_hash
  from sigs, (select unnest(range({CFG.simhash_bands})) as bj)
),
cands as (
  select distinct a.doc_id as src_id, b.doc_id as dst_id
  from bands a join bands b
    on a.band_id = b.band_id and a.band_hash = b.band_hash and a.doc_id < b.doc_id
)
select c.src_id, c.dst_id, {SIM.duck_hamming('sa.words', 'sb.words', nwords)} as hamming
from cands c
join sigs sa on sa.doc_id = c.src_id
join sigs sb on sb.doc_id = c.dst_id
where {SIM.duck_hamming('sa.words', 'sb.words', nwords)} <= {CFG.hamming_threshold}
"""

    sql["event_window_stats"] = """
select epoch_us(time_bucket(interval '10 minutes', ts)) as window_start_us,
       epoch_us(time_bucket(interval '10 minutes', ts) + interval '10 minutes') as window_end_us,
       event_type,
       count(*) as n_events,
       round(sum(value), 6) as total_value_r
from events
group by 1, 2, 3
"""

    norm = f"array_to_string({toks}, ' ')"
    sql["substring_containment"] = f"""
with n as (select doc_id, {norm} as nt from ({_duck_docs_cte()}))
select a.doc_id as inner_id, b.doc_id as outer_id
from n a join n b on a.doc_id != b.doc_id
where length(a.nt) < length(b.nt) and position(a.nt in b.nt) > 0
  and len({SHG.duck_tokens('a.nt', False)}) >= {CFG.shingle_k}
"""

    cos = V.duck_cosine_dist("q.embedding", "c.embedding")
    sql["ann_topk_bruteforce"] = f"""
with scored as (
  select q.vec_id as query_id, c.vec_id as neighbor_id, {cos} as dist
  from embeddings q join embeddings c on c.vec_id != q.vec_id
  where q.vec_id < {ANN_N_QUERIES}
),
ranked as (
  select query_id, neighbor_id, dist,
         row_number() over (partition by query_id order by dist asc, neighbor_id asc) as rank
  from scored
)
select query_id, rank, neighbor_id, round(dist, 9) as dist_r
from ranked where rank <= {ANN_K}
"""

    # ann_lsh_topk: the model-derived relations (corpus bucket hashes, query
    # probe hashes incl. multiprobe) are materialized by pure numpy/pyarrow —
    # the identical seeded forest the Spark query fits — and the post-hash
    # read path (bucket join → exact cosine verify → top-k,
    # /root/reference/lsh/lsh.go:148-198) is mirrored in SQL.
    ann_dir = ann_oracle_tables(sf_dir)
    cosq = V.duck_cosine_dist("n.embedding", "q.embedding")
    sql["ann_lsh_topk"] = f"""
with b as (select * from read_parquet('{ann_dir}/buckets.parquet')),
p as (select * from read_parquet('{ann_dir}/probes.parquet')),
cands as (
  select distinct p.query_id, b.vec_id as neighbor_id
  from p join b on p.tree_id = b.tree_id and p.hash = b.hash
),
scored as (
  select c.query_id, c.neighbor_id, {cosq} as dist
  from cands c
  join embeddings q on q.vec_id = c.query_id
  join embeddings n on n.vec_id = c.neighbor_id
),
ranked as (
  select query_id, neighbor_id, dist,
         row_number() over (partition by query_id order by dist asc, neighbor_id asc) as rank
  from scored where dist <= {ANN_MAX_DIST}
)
select query_id, rank, neighbor_id, round(dist, 9) as dist_r
from ranked where rank <= {ANN_K}
"""

    ivf_dir = ivf_oracle_tables(sf_dir)
    sql["ivf_topk"] = f"""
with inv as (select * from read_parquet('{ivf_dir}/inverted.parquet')),
p as (select * from read_parquet('{ivf_dir}/probes.parquet')),
cands as (
  select p.query_id, inv.vec_id as neighbor_id
  from p join inv on p.centroid_id = inv.centroid_id
),
scored as (
  select c.query_id, c.neighbor_id, {cosq} as dist
  from cands c
  join embeddings q on q.vec_id = c.query_id
  join embeddings n on n.vec_id = c.neighbor_id
),
ranked as (
  select query_id, neighbor_id, dist,
         row_number() over (partition by query_id order by dist asc, neighbor_id asc) as rank
  from scored where dist <= {ANN_MAX_DIST}
)
select query_id, rank, neighbor_id, round(dist, 9) as dist_r
from ranked where rank <= {ANN_K}
"""

    cos2 = V.duck_cosine_dist("a.embedding", "b.embedding")
    sql["embedding_neardup_pairs"] = f"""
select a.vec_id as src_id, b.vec_id as dst_id, round({cos2}, 9) as dist_r
from embeddings a join embeddings b on a.vec_id < b.vec_id
where {cos2} <= {EMB_NEARDUP_T}
"""

    return sql


def _longify(fn: Callable[[SparkSession, str], DataFrame]):
    """Cast narrow int columns to bigint so Spark and DuckDB (whose len()/
    row_number()/range() are all BIGINT) agree on output dtypes — the driver
    value-hashes typed values."""
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = fn(spark, sf_dir)
        for name, dtype in df.dtypes:
            if dtype in ("int", "smallint", "tinyint"):
                df = df.withColumn(name, F.col(name).cast("long"))
        return df
    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dedup_groups": _longify(q_exact_dedup_groups),
        "exact_dup_pairs": _longify(q_exact_dup_pairs),
        "lang_id_pred": _longify(q_lang_id),
        "embedding_range": _longify(q_embedding_range),
        "embedding_dim_stats": _longify(q_embedding_dim_stats),
        "doc_profile": _longify(q_doc_profile),
        "token_frequencies": _longify(q_token_frequencies),
        "shingle_profile": _longify(q_shingle_profile),
        "minhash_signatures": _longify(q_minhash_signatures),
        "minhash_signatures_pandas": _longify(q_minhash_signatures_pandas),
        "lsh_bands": _longify(q_lsh_bands),
        "lsh_candidate_pairs": _longify(q_lsh_candidate_pairs),
        "minhash_dup_pairs": _longify(q_minhash_dup_pairs),
        "jaccard_dup_pairs_exact": _longify(q_jaccard_dup_pairs_exact),
        "dup_clusters": _longify(q_dup_clusters),
        "simhash_signatures": _longify(q_simhash_signatures),
        "simhash_dup_pairs": _longify(q_simhash_dup_pairs),
        "simhash_banded_dup_pairs": _longify(q_simhash_banded_dup_pairs),
        "substring_containment": _longify(q_substring_containment),
        "event_window_stats": _longify(q_event_window_stats),
        "ann_topk_bruteforce": _longify(q_ann_topk_bruteforce),
        "ann_lsh_topk": _longify(q_ann_lsh_topk),
        "ivf_topk": _longify(q_ivf_topk),
        "embedding_neardup_pairs": _longify(q_embedding_neardup_pairs),
    }
