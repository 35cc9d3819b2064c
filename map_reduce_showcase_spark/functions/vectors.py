"""Vector expressions over ``array<float>`` embeddings, as Spark SQL
text.

All built on ``zip_with``/``aggregate`` higher-order functions —
JVM-side, no Python, but interpreted: Spark has no code generation
for higher-order functions, so an operator that holds one runs
outside whole-stage codegen. Elements are cast to DOUBLE before
any arithmetic and accumulated with a sequential left fold so results
are bit-reproducible (and replayable by the DuckDB oracle, which also
folds sequentially).

Every helper takes SQL text (a column name, a struct field such as
``c.cv``, or an ``array(...)`` literal) and returns SQL text, so a
whole fold is ONE parsed expression inside ``selectExpr`` /
``F.expr``: building the same tree with Column-API lambdas costs
~20 ms of py4j round trips PER lambda.
"""

from __future__ import annotations


def _doubles(v: str) -> str:
    return f"CAST({v} AS ARRAY<DOUBLE>)"


def dot(a: str, b: str) -> str:
    """Sequential-fold dot product in double precision."""
    return (
        f"aggregate(zip_with({_doubles(a)}, {_doubles(b)}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def l2_norm(a: str) -> str:
    return f"SQRT(aggregate({_doubles(a)}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + (x * x)))"


def cosine_from_norms(a: str, b: str, norm_a: str, norm_b: str) -> str:
    """dot(a,b) / (norm_a·norm_b), deterministic double arithmetic,
    with the norms precomputed.

    Scoring joins evaluate cosine once per PAIR; the norm of each
    vector is pair-invariant, so folding it per pair triples the
    higher-order-function work (dot + 2 norms ≈ 3×dim element ops
    per pair instead of 1×dim). Callers compute ``l2_norm`` once per
    row before the join and pass the columns here. The norms are the
    same sequential folds either way, so the result is bit-equal to
    dividing by norms computed in place."""
    return f"({dot(a, b)} / ({norm_a} * {norm_b}))"
