"""Cross-engine deterministic vector math over ``array<float>`` columns.

Floating-point summation is order-dependent, so the dot products and
norms used by the similarity operators fold LEFT over the array in both
engines: Spark ``aggregate`` is a sequential left fold, and DuckDB
``list_reduce`` folds left too — same element order, same IEEE ops,
bit-identical doubles, so even comparisons/orderings derived from the
values agree across engines.

Each Spark form is SQL text over SQL operand expressions, wrapped in
``F.expr`` (or ``selectExpr``) at the call site: one string per tree
instead of a py4j round-trip per lambda ``zip_with``/``aggregate``
op. The ``oracle_*`` functions are the hand-written DuckDB twins.

Everything here is a built-in higher-order function (whole-stage
codegen'd, JVM-side) — no UDF in the vector hot path.
"""

from __future__ import annotations


def dot(a: str, b: str) -> str:
    """Σ a_i·b_i as a left-fold over doubles."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def norm(a: str) -> str:
    """Euclidean norm, same fold order as :func:`dot`."""
    return f"sqrt({dot(a, a)})"


def cosine(a: str, b: str, norm_a: str, norm_b: str) -> str:
    """Cosine similarity with precomputed norms (norms are computed
    once per row, not once per pair)."""
    return f"({dot(a, b)} / ({norm_a} * {norm_b}))"


def oracle_dot(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot` — left fold via ``list_reduce``."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),"
        f" (acc, v) -> acc + v)"
    )


def oracle_norm(a: str) -> str:
    return f"sqrt({oracle_dot(a, a)})"
