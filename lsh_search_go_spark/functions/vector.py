"""Vector distance functions (JVM-side column expressions).

Mirrors the reference's metrics with identical edge semantics
(/root/reference/lsh/helpers.go:132-145 L2, 218-234 angular):

* cosine distance = 1 - cos(a, b); returns exactly 1.0 when either norm is
  <= tol (zero-vector guard), and clamps results < tol to 0.0;
* L2 = sqrt(sum (a_i - b_i)^2);
* tol = 1e-6 (/root/reference/lsh/helpers.go:13-15).

All sums are written as left-to-right sequential ``aggregate`` folds so the
DuckDB oracle (same fold order) produces bit-identical doubles — floating
addition is order-sensitive, identical order ⇒ identical bits.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from lsh_search_go_spark.config import TOL


def _dot(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
            f"cast(0.0 as double), (s, v) -> s + v)")


def _sqnorm(a: str) -> str:
    return _dot(a, a)


def cosine_dist_expr(a: str, b: str) -> Column:
    """1 - cosine similarity, with the reference's zero-norm and clamp guards."""
    expr = (
        f"case when sqrt({_sqnorm(a)}) <= {TOL} or sqrt({_sqnorm(b)}) <= {TOL} then cast(1.0 as double) "
        f"else (case when 1.0 - {_dot(a, b)} / (sqrt({_sqnorm(a)}) * sqrt({_sqnorm(b)})) < {TOL} "
        f"then cast(0.0 as double) "
        f"else 1.0 - {_dot(a, b)} / (sqrt({_sqnorm(a)}) * sqrt({_sqnorm(b)})) end) end"
    )
    return F.expr(expr)


def l2_dist_expr(a: str, b: str) -> Column:
    expr = (f"sqrt(aggregate(zip_with({a}, {b}, "
            f"(x, y) -> (cast(x as double) - cast(y as double)) * (cast(x as double) - cast(y as double))), "
            f"cast(0.0 as double), (s, v) -> s + v))")
    return F.expr(expr)


def angular_to_cosine_dist(a: Column | str) -> Column:
    """a²/2 (/root/reference/lsh/helpers.go:240-242)."""
    c = F.col(a) if isinstance(a, str) else a
    return (c * c) / 2.0


def cosine_dist_to_angular(c: Column | str) -> Column:
    """sqrt(2c) (/root/reference/lsh/helpers.go:244-246)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sqrt(col * 2.0)


# --- DuckDB mirrors (same fold order → same bits) --------------------------

def duck_dot(a: str, b: str) -> str:
    return (f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(range(len({a})), i -> {a}[i+1]::DOUBLE * {b}[i+1]::DOUBLE)), "
            f"(s, v) -> s + v)")


def duck_cosine_dist(a: str, b: str) -> str:
    sqa, sqb = duck_dot(a, a), duck_dot(b, b)
    return (
        f"case when sqrt({sqa}) <= {TOL} or sqrt({sqb}) <= {TOL} then 1.0 "
        f"else (case when 1.0 - {duck_dot(a, b)} / (sqrt({sqa}) * sqrt({sqb})) < {TOL} then 0.0 "
        f"else 1.0 - {duck_dot(a, b)} / (sqrt({sqa}) * sqrt({sqb})) end) end"
    )
