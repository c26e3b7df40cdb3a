"""Vector (embedding) expressions — exact-integer cosine math.

The embeddings table carries ``array<float>`` columns. Dot products
over floats are order-dependent (parallel sums reassociate), so two
engines — or two runs — can disagree in the last ulps, which breaks
both the driver's value-hash oracle and top-k boundary decisions.

We therefore quantize once: each float32 element is scaled by 1000
and rounded to an int64. From then on every dot product and squared
norm is exact integer arithmetic (|x| ≤ ~10 ⇒ products ≤ 1e8, sums
over 64 dims ≤ ~1e10 < 2^53 — exactly representable in doubles too),
so the cosine ``dot / sqrt(na*nb)`` is a bit-identical double in any
engine. Quantization error (~5e-4 relative) is far below any
similarity threshold we use and identical on both sides of the
comparison, so results are *deterministic*, not merely close.

All expressions are Spark higher-order functions (zip_with /
aggregate / transform) — JVM-side, no Python in the hot loop.
DuckDB twins are provided for the oracle SQL.
"""

from __future__ import annotations

QUANT_SCALE = 1000


# Every expression is a Spark SQL string for selectExpr/F.expr: it
# parses JVM-side in ONE py4j round-trip, where the Column-API
# construction of the same tree costs one or more round-trips per F.*
# call and per lambda (the ANN builders measured 2,700-3,000, ≈2 s of
# driver wall, per warm invocation). Type traps the strings avoid
# deliberately: SQL float literals are DECIMAL, so doubles are always
# written CAST(x AS DOUBLE); integer literals stay bare (INT, matching
# F.lit(int)).


def quantize_sql(v: str) -> str:
    """``array<float>`` → ``array<bigint>`` via round(x * 1000)."""
    return (
        f"transform({v}, x -> CAST(round(CAST(x AS DOUBLE) * "
        f"{QUANT_SCALE}) AS BIGINT))"
    )


def dot_sql(a: str, b: str) -> str:
    """Exact int64 dot product of two quantized vectors."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def sq_norm_sql(a: str) -> str:
    """Exact int64 squared norm of a quantized vector."""
    return dot_sql(a, a)


def cosine_sql(dot_ab: str, sq_a: str, sq_b: str) -> str:
    """Deterministic double cosine from exact integer parts."""
    return (
        f"CAST({dot_ab} AS DOUBLE) / "
        f"sqrt(CAST({sq_a} AS DOUBLE) * CAST({sq_b} AS DOUBLE))"
    )


# ---------------------------------------------------------------- oracle SQL

ORACLE_QUANTIZE = (
    "list_transform({v}, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT))"
)


def oracle_quantize(v: str) -> str:
    return ORACLE_QUANTIZE.format(v=v)


def oracle_cosine(dot_ab: str, sq_a: str, sq_b: str) -> str:
    return f"({dot_ab})::DOUBLE / sqrt(({sq_a})::DOUBLE * ({sq_b})::DOUBLE)"
