"""Exact-substring containment pass (the suffix-array slot, north_star N5).

Semantics: emit (inner_id, outer_id) when the *normalized* text of ``inner``
occurs verbatim inside the normalized text of ``outer`` and is strictly
shorter (equal texts are the exact-dedup operator's job).

Scale path (non-quadratic): any contiguous containment must contain the inner
document's FIRST k-shingle, so candidates are generated by joining each doc's
first shingle hash against the exploded shingle sets of all docs — an
equi-join on a single hash, same shape as the LSH bucket join — then verified
with a JVM ``instr`` on the normalized strings.  Inner docs shorter than
``shingle_k`` tokens are out of contract (they carry no shingle; near-empty
files are exact-dedup / filter territory, not substring dedup).

This replaces a distributed suffix array: at 100 TB a global suffix array is
impractical, but first-shingle blocking + verify has the same output contract
and each stage is a plain shuffle join.  (A per-group in-memory suffix array
would only accelerate the verify *within* candidate groups; ``instr`` on the
pair level is simpler and vectorizes in the JVM.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lsh_search_go_spark.config import DedupConfig
from lsh_search_go_spark.functions.shingles import tokens_expr
from lsh_search_go_spark.functions import hashing as H


def normalized_text_expr(content_col: str, cfg: DedupConfig):
    """Canonical whitespace-collapsed (and optionally lowercased) text —
    token stream re-joined with single spaces, so formatting differences
    never break containment."""
    return F.expr(f"array_join({tokens_expr(content_col, cfg.lowercase, cfg.strip_comments)}, ' ')")


def oversized_blocks(exploded: DataFrame, max_block_size: int) -> DataFrame:
    """Blocking keys (shingle hashes) whose exploded-side frequency exceeds
    the cap — for logging/metrics (mirror of bands.oversized_buckets)."""
    return (
        exploded.groupBy("__sh")
        .agg(F.count(F.lit(1)).alias("block_size"))
        .filter(F.col("block_size") > max_block_size)
    )


def substring_pairs(df: DataFrame, cfg: DedupConfig,
                    shingles_col: str = "shingles",
                    max_block_size: int | None = None,
                    dropped_sink: str | None = None,
                    persisted: list[DataFrame] | None = None) -> DataFrame:
    """Returns (inner_id, outer_id) containment pairs.

    df must carry (id_col, shingles) plus EITHER the fused-signature columns
    (norm_text, first_sh, last_sh — preferred: computed once in the Arrow
    pass, see functions/signatures.py) OR content_col, from which the same
    values are derived with SQL expressions (the oracle-gated path).

    ``max_block_size``: skew guard (defaults to ``cfg.max_bucket_size``).  A
    ubiquitous first-k-token prefix — a license header, a shebang — makes one
    blocking key quadratic; keys whose exploded-side frequency exceeds the
    cap are dropped (deterministically; fetch them for logging via
    :func:`oversized_blocks`), exactly like the LSH band cap
    (operators/bands.py).

    ``persisted``: a list that receives the helper frames this pass
    persists, for the caller to unpersist once the result is written."""
    idc = cfg.id_col
    held = [] if persisted is None else persisted
    fused = {"norm_text", "first_sh", "last_sh"} <= set(df.columns)
    if fused:
        norm = df.select(
            F.col(idc),
            F.col("norm_text").alias("__norm"),
            F.col(shingles_col),
            F.when(F.col("first_sh") >= 0, F.col("first_sh")).alias("__pre_first"),
            F.when(F.col("last_sh") >= 0, F.col("last_sh")).alias("__pre_last"),
        ).withColumn("__len", F.length("__norm")).persist()
    else:
        norm = df.select(
            F.col(idc),
            normalized_text_expr(cfg.content_col, cfg).alias("__norm"),
            F.col(shingles_col),
        ).withColumn("__len", F.length("__norm")).persist()  # both join sides
    held.append(norm)

    # inner side: docs with >= k tokens carry a first-shingle key.
    # __norm is already canonical single-space-joined tokens, so a plain
    # split(' ') (whole-stage codegen) replaces the tokenizer HOF; and ONLY
    # the first k tokens are hashed — hashing the whole token stream here
    # costs minutes of interpreted HOF time corpus-wide.
    toks = "split(__norm, ' ')"
    first_k = f"slice({toks}, 1, {cfg.shingle_k})"
    first_sh = F.expr(
        f"case when __norm != '' and size({toks}) >= {cfg.shingle_k} then "
        + H.combine_hash_expr(
            f"transform({first_k}, t -> {H.poly31_char_hash_expr('t')})"
        )
        + " else null end"
    )
    last_k = f"slice({toks}, -{cfg.shingle_k}, {cfg.shingle_k})"
    last_sh = F.expr(
        f"case when __norm != '' and size({toks}) >= {cfg.shingle_k} then "
        + H.combine_hash_expr(
            f"transform({last_k}, t -> {H.poly31_char_hash_expr('t')})"
        )
        + " else null end"
    )
    if fused:
        inner = (
            norm.filter(F.col("__pre_first").isNotNull())
            .select(F.col(idc).alias("inner_id"),
                    F.col("__len").alias("__inner_len"),
                    F.col("__pre_first").alias("__first_sh"),
                    F.col("__pre_last").alias("__last_sh"))
        )
    else:
        inner = (
            norm.withColumn("__first_sh", first_sh).withColumn("__last_sh", last_sh)
            .filter(F.col("__first_sh").isNotNull())
            .select(F.col(idc).alias("inner_id"),
                    F.col("__len").alias("__inner_len"), "__first_sh", "__last_sh")
        )

    # IDs only through the explode+join — carrying the full text through a
    # per-shingle explode would push corpus_size × shingles_per_doc copies of
    # the document through the shuffle.
    exploded = norm.select(F.col(idc).alias("outer_id"),
                           F.col("__len").alias("__outer_len"),
                           F.explode(shingles_col).alias("__sh"))
    cap = max_block_size if max_block_size is not None else cfg.max_bucket_size
    if cap:
        hot = oversized_blocks(exploded, cap).persist()
        held.append(hot)
        if dropped_sink is not None:
            # the dropped-key log rides the SAME aggregation (persisted tiny
            # relation) — no second full explode+groupBy pass just to log
            from lsh_search_go_spark.sources.io import write_table

            write_table(hot.withColumnRenamed("__sh", "shingle_hash"),
                        dropped_sink)
        exploded = exploded.join(F.broadcast(hot.select("__sh")), "__sh", "left_anti")

    # blocking on BOTH endpoints: containment implies the inner doc's first
    # AND last shingles are in the outer set — the second key cuts candidate
    # volume by orders of magnitude before any text moves.
    cands_first = (
        inner.join(exploded.withColumnRenamed("__sh", "__first_sh"), "__first_sh")
        .filter((F.col("inner_id") != F.col("outer_id"))
                & (F.col("__inner_len") < F.col("__outer_len")))
        .select("inner_id", "outer_id", "__last_sh")
        .dropDuplicates(["inner_id", "outer_id"])
    )
    cands = cands_first.join(
        exploded.select("outer_id", F.col("__sh").alias("__last_sh")),
        ["outer_id", "__last_sh"],
        "left_semi",
    ).select("inner_id", "outer_id")

    texts = norm.select(F.col(idc), "__norm")
    return (
        cands.join(texts.select(F.col(idc).alias("inner_id"),
                                F.col("__norm").alias("__inner_norm")), "inner_id")
        .join(texts.select(F.col(idc).alias("outer_id"),
                           F.col("__norm").alias("__outer_norm")), "outer_id")
        .filter(F.instr(F.col("__outer_norm"), F.col("__inner_norm")) > 0)
        .select("inner_id", "outer_id")
    )
