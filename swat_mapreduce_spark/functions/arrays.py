"""Array/vector functions — JVM-side higher-order expressions.

Softmax / argmax reproduce the reference's in-Python tensor math
(``python/predict_batch_threaded_local.py:111-117``) as pure Catalyst
expressions; the vector ops (dot/cosine) back the similarity-search
operators. All stay inside whole-stage codegen — no Python boundary.
``argmax`` and ``top1_prob`` take a column name and return Spark SQL
text, so the classify stage parses each of its columns in one gateway
call (CLAUDE.md gotcha 18).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions.text import sql_ident


def explode_nonnull(
    df: DataFrame, arr: Column | str, alias: str, *keep: Column | str
) -> DataFrame:
    """``df.select(*keep, explode(arr).alias(alias))`` minus the
    optimizer's inferred-filter blowup (CLAUDE.md gotcha 13, r13).

    A plain (non-outer) ``explode`` makes InferFiltersFromGenerate add
    ``size(arr) > 0`` above the Generate's child; PushDownPredicates
    then pushes it through the collapsed projections INTO the scan,
    substituting the FULL array-building pipeline (tokenize + shingle +
    distinct), which is evaluated once per row in the pre-fan_out scan
    task — serial on single-row-group inputs (measured 3.7 s where the
    pipeline itself costs 0.35 s, shapley masks sf0.1) — and then again
    in the post-exchange projection. ``explode_outer`` infers nothing;
    the post-Generate ``isNotNull`` filter (an empty/null array emits
    exactly one null row) restores plain-explode row semantics EXACTLY
    — for arrays whose ELEMENTS are never null, which every tokenizer/
    shingler/bigram helper here guarantees. Do NOT use on arrays that
    can contain null elements (plain explode keeps those)."""
    out = df.select(*keep, F.explode_outer(arr).alias(alias))
    return out.filter(F.col(alias).isNotNull())


def asum(arr: Column) -> Column:
    """Sum of an array<double> via F.aggregate (left fold, matches
    DuckDB list ordering)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def softmax(arr: Column) -> Column:
    """Element-wise softmax over array<double>
    (mirror of ``F.softmax(dim=1)``, predict_batch_threaded_local.py:113).

    The sum is passed INTO the lambda as an argument
    (``array_repeat`` + ``zip_with``), never captured from outside:
    a lambda that reads an outer ``asum`` re-sums the row once per
    element, O(n²) (CLAUDE.md gotcha 17)."""
    e = F.transform(arr, lambda x: F.exp(x))
    return F.zip_with(
        e, F.array_repeat(asum(e), F.size(arr)), lambda x, t: x / t
    )


def argmax(arr: str) -> str:
    """Spark SQL text: 0-based index of the first maximal element of
    array column ``arr`` (a column name) — matches ``torch.max(probs,
    1)`` first-index tie-breaking (predict_batch_threaded_local.py:
    115-117). Parse with ``F.expr``, alone or inside a larger string
    (CLAUDE.md gotcha 18)."""
    a = sql_ident(arr)
    return f"cast(array_position({a}, array_max({a})) - 1 as int)"


def top1_prob(arr: str) -> str:
    """Spark SQL text: max(softmax(arr)) of array column ``arr`` (a
    column name), computed without materializing the full softmax:
    exp(max) / sum(exp), the sum a left fold as in :func:`asum`."""
    a = sql_ident(arr)
    return (
        f"exp(array_max({a})) / "
        f"aggregate(transform({a}, x -> exp(x)), 0.0D, (acc, x) -> acc + x)"
    )


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> via zip_with + aggregate."""
    return asum(F.zip_with(a, b, lambda x, y: x * y))


def l2_norm(a: Column) -> Column:
    return F.sqrt(asum(F.transform(a, lambda x: x * x)))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine with PRE-COMPUTED norms — bit-identical to
    :func:`cosine` (same doubles, same multiplication order:
    dot/(na·nb)) when ``na``/``nb`` are :func:`l2_norm` of ``a``/``b``.
    Hoist the norms into per-row projections before a pair join so
    sqrt(Σx²) is evaluated once per VECTOR instead of once per PAIR
    (guide §1.2 per-task work; the r12 map_retrieval_eval recipe)."""
    return dot(a, b) / (na * nb)


def py_l2_norm(vec: list[float]) -> float:
    """Driver-side l2_norm of a literal query vector — IEEE-identical
    to :func:`l2_norm` (same left-fold accumulation order over the
    same doubles, correctly-rounded sqrt), so a broadcast literal
    query's norm can be computed ONCE in Python instead of per corpus
    row in the scan projection."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + x * x
    return math.sqrt(acc)


def as_double_array(col: Column) -> Column:
    """Cast array<float> → array<double> so Spark math matches the
    DuckDB oracle's double math (embeddings parquet stores float32)."""
    return F.transform(col, lambda x: x.cast("double"))
