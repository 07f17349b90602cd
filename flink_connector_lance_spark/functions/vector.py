"""Vector distance column expressions — JVM-side, no Python UDFs.

Re-expresses the reference's KNN distance surface
(ref LanceVectorSearch.java:274-285, config/LanceOptions.java:323-346:
metrics L2 / Cosine / Dot) as Catalyst expressions over
``array<float>`` columns. Everything here stays inside whole-stage
codegen: ``zip_with`` + ``aggregate`` fold in DOUBLE precision.

Distance conventions (smaller = closer, matching Lance):
- l2:      sqrt(sum((a_i - b_i)^2))
- cosine:  1 - dot(a,b) / (||a|| * ||b||)
- dot:     -dot(a,b)   (negated so smaller = more similar)

Similarity score = 1 / (1 + distance), 1.0 at distance 0
(ref LanceVectorSearch.java:420-426).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column

METRICS = ("l2", "cosine", "dot")


def validate_query_vector(q: Sequence[float]) -> list[float]:
    """Reject empty / NaN / Inf query vectors (ref LanceVectorSearch.java:258-269)."""
    if q is None or len(q) == 0:
        raise ValueError("query vector must be non-empty")
    out = [float(v) for v in q]
    for v in out:
        if math.isnan(v) or math.isinf(v):
            raise ValueError(f"query vector contains NaN/Inf: {v}")
    return out


def vec_literal(q: Sequence[float]) -> Column:
    """Literal array<double> in ONE py4j round trip: building it as
    F.array(*[F.lit(v) ...]) costs a gateway call per element (~50 ms of
    driver time per 64-dim vector, multiplied by every plane/query literal
    in a plan). from_json of the repr list is a single node that
    ConstantFolding collapses to the identical ArrayData literal before
    codegen (same pattern as the PQ ADC LUT; json repr round-trips doubles
    exactly). Non-finite components raise instead of letting PERMISSIVE
    from_json fold the literal to NULL."""
    import json as _json

    vals = [float(v) for v in q]
    for i, v in enumerate(vals):
        if not math.isfinite(v):
            raise ValueError(f"vector literal component {i} is not finite: {v}")
    return F.expr("from_json('{js}', 'array<double>')".format(
        js=_json.dumps(vals)))


def _as_double(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot_product_hof(col, q: Sequence[float] | Column) -> Column:
    """zip_with/aggregate dot — compact expression tree, interpreted
    (CodegenFallback). Use when MANY dots appear in one projection (e.g.
    one per LSH plane): the unrolled chain form would multiply past
    janino's 64 KB method limit and knock the whole stage out of codegen,
    which is strictly worse than one small interpreted expression."""
    qc = vec_literal(q) if not isinstance(q, Column) else q
    prods = F.zip_with(_as_double(col), qc, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _dbl_sql(name: str) -> str:
    return f"CAST(`{name}` AS ARRAY<DOUBLE>)"


def dot_product(col, q: Sequence[float] | Column) -> Column:
    """Dot against a query. When the query is a literal Python sequence
    (the KNN hot path — dimension known at plan time), the product-sum is
    an unrolled element_at chain: zip_with/aggregate are CodegenFallback
    (interpreted per element), the chain JITs in whole-stage codegen.
    Summation stays left-to-right, so both forms are bit-identical
    (0.0 + x == x exactly in IEEE754 for the aggregate's seed). Only for
    a FEW distances per projection — see dot_product_hof for the
    many-dots case.

    The chain is assembled as ONE SQL string parsed by a single F.expr
    call: building it node-by-node costs a py4j round-trip per term
    (~1 s of driver time per 64-dim distance), the parse costs one."""
    if not isinstance(q, Column):
        if isinstance(col, str):
            c = _dbl_sql(col)
            sql = " + ".join(
                f"element_at({c}, {i + 1}) * {float(v)!r}" for i, v in enumerate(q)
            )
            return F.expr(sql)
        c = _as_double(col)
        out: Column = F.element_at(c, 1) * float(q[0])
        for i in range(1, len(q)):
            out = out + F.element_at(c, i + 1) * float(q[i])
        return out
    return dot_product_hof(col, q)


def norm(col, dim: int | None = None) -> Column:
    """Vector L2 norm. With ``dim`` known, unrolled for codegen (bit-
    identical to the aggregate form — same op order), built as one
    F.expr parse (see dot_product)."""
    if dim is not None and isinstance(col, str):
        c = _dbl_sql(col)
        sql = " + ".join(f"element_at({c}, {i}) * element_at({c}, {i})" for i in range(1, dim + 1))
        return F.sqrt(F.expr(sql))
    c = _as_double(col)
    if dim is not None:
        acc: Column = F.element_at(c, 1) * F.element_at(c, 1)
        for i in range(2, dim + 1):
            acc = acc + F.element_at(c, i) * F.element_at(c, i)
        return F.sqrt(acc)
    sq = F.aggregate(
        F.zip_with(c, c, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.sqrt(sq)


def l2_distance(col, q: Sequence[float] | Column) -> Column:
    if not isinstance(q, Column):
        # unrolled codegen chain in one F.expr parse (see dot_product)
        if isinstance(col, str):
            c = _dbl_sql(col)
            sql = " + ".join(
                f"(element_at({c}, {i + 1}) - {float(v)!r}) * (element_at({c}, {i + 1}) - {float(v)!r})"
                for i, v in enumerate(q)
            )
            return F.sqrt(F.expr(sql))
        c = _as_double(col)

        def term(i: int) -> Column:
            d = F.element_at(c, i + 1) - float(q[i])
            return d * d

        acc = term(0)
        for i in range(1, len(q)):
            acc = acc + term(i)
        return F.sqrt(acc)
    diff2 = F.zip_with(_as_double(col), q, lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v))


def _literal_norm(q: Sequence[float]) -> Column:
    # the query norm is a pure constant; Python computes the identical
    # IEEE754 left-to-right sum-of-squares Catalyst would constant-fold,
    # so folding it driver-side is bit-identical and saves the tree
    acc = 0.0
    for v in q:
        acc += float(v) * float(v)
    return F.lit(math.sqrt(acc))


def cosine_distance(col, q: Sequence[float] | Column) -> Column:
    if not isinstance(q, Column):
        return F.lit(1.0) - dot_product(col, q) / (norm(col, dim=len(q)) * _literal_norm(q))
    return F.lit(1.0) - dot_product(col, q) / (norm(col) * norm(q))


def dot_distance(col, q: Sequence[float] | Column) -> Column:
    return -dot_product(col, q)


def distance(col, q: Sequence[float] | Column, metric: str = "l2") -> Column:
    m = metric.lower()
    if m == "l2":
        return l2_distance(col, q)
    if m == "cosine":
        return cosine_distance(col, q)
    if m == "dot":
        return dot_distance(col, q)
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def similarity(distance_col: Column) -> Column:
    """1/(1+d) similarity score (ref LanceVectorSearch.java:420-426)."""
    return F.lit(1.0) / (F.lit(1.0) + distance_col)
