"""lsh_search_go_spark — a PySpark-native near-duplicate detection & clustering engine.

A from-scratch re-realization of the capabilities of gasparian/lsh-search-go
(reference at /root/reference, Go) as an idiomatic Spark pipeline:

- MinHash + banded LSH over shingled text/code  (reference: lsh/hasher.go bucketing)
- SimHash bit signatures + Hamming verification (reference: lsh/hasher.go:38-57 sign bits)
- Random-hyperplane (biased-plane) ANN forest   (reference: lsh/hasher.go:86-188)
- Exact-distance candidate verification          (reference: lsh/lsh.go:174-190)
- Top-k per query via window functions           (reference: lsh/lsh.go:22-47 min-heap)
- Connected components over dup-pair edges       (new; north_star requirement)
- Exact-substring containment pass               (new; suffix-array slot, north_star)
- Checkpointable, resumable batch pipeline       (reference: gob dump/load, lsh/hasher.go:221-251)

Design notes
------------
All core hash functions (token hash, MinHash family, SimHash sign family) are
defined over BIGINT arithmetic mod 2^31-1 so that the *same* values are
computable three ways, bit-for-bit:

1. Spark JVM higher-order functions (``transform``/``aggregate``/``filter``) —
   whole-stage-codegen'd, zero Python in the hot path;
2. numpy-vectorized pandas UDFs (Arrow batches, no per-row Python) — the
   ``impl="pandas"`` backend demanded by the target spec;
3. ANSI SQL runnable by DuckDB — the correctness oracle.

This is what makes the driver's Spark-vs-DuckDB value-hash gate meaningful for
hash-based operators, not just for plain aggregations.
"""

__version__ = "0.1.0"

from lsh_search_go_spark.config import DedupConfig, AnnConfig  # noqa: F401

import sys as _sys

if "pyspark.worker" in _sys.modules:        # inside a PySpark Python worker
    from lsh_search_go_spark.pyworker import guard_zip_invalidation

    guard_zip_invalidation()
