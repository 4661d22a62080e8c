"""Vector math over ``array<float|double>`` columns as pure Spark SQL
higher-order functions — JVM-side, codegen-friendly, no Python UDFs.

Covers the reference's numpy/sklearn/faiss array math:
- cosine similarity   (reference: duplication_service.py:81, sklearn)
- L2 distance         (reference: batch-cluster-service.py:81, FAISS IndexFlatL2)
- L2 normalize        (reference: batch-cluster-service.py:215-218)
- element-wise mean   (reference: batch-cluster-service.py:128-130, np.mean axis=0)

Every helper takes column NAMES and hands the JVM ONE expression: it
composes Spark SQL text and returns a single ``F.expr``. Building the
same tree node by node through the Column API costs one Python↔JVM
round trip per node and member lookup (about 450 for a cosine, 3 for
its ``F.expr``), which a micro-batch pays at every call site. The
folds are sequential left folds over doubles from a DOUBLE zero (``0D``:
a bare ``0.0`` would read as DECIMAL), so the values are bit-identical
to ``queries.sqlkit``'s DuckDB forms.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from newsify_spark.functions.scalars import sql_name


def _dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (acc, x) -> acc + x)"
    )


def _l2_norm(a: str) -> str:
    return f"sqrt({_dot(a, a)})"


def _cosine_with_norms(a: str, b: str, na: str, nb: str) -> str:
    return f"CASE WHEN {na} > 0 AND {nb} > 0 THEN {_dot(a, b)} / ({na} * {nb}) ELSE 0D END"


def _l2_sq(a: str, b: str) -> str:
    d = "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    return f"aggregate(zip_with({a}, {b}, (x, y) -> {d} * {d}), 0D, (acc, x) -> acc + x)"


def dot(a: str, b: str) -> Column:
    """Dot product of two equal-length array columns (double)."""
    return F.expr(_dot(sql_name(a), sql_name(b)))


def l2_norm(a: str) -> Column:
    return F.expr(_l2_norm(sql_name(a)))


def cosine(a: str, b: str) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm (the
    reference would emit NaN via sklearn — we make the degenerate case
    explicit)."""
    a, b = sql_name(a), sql_name(b)
    return F.expr(_cosine_with_norms(a, b, _l2_norm(a), _l2_norm(b)))


def cosine_with_norms(a: str, b: str, na: str, nb: str) -> Column:
    """``cosine(a, b)`` with the two L2 norms PRECOMPUTED as columns.

    Bit-identical to :func:`cosine` when ``na``/``nb`` are the
    :func:`l2_norm` of ``a``/``b`` (same operations in the same order —
    only where they are evaluated moves). Use inside join loops: the
    plain form folds three O(d) aggregates per PAIR (dot, norm a,
    norm b); computing each side's norm once per ROW before the join
    leaves one fold per pair — the guide's §1.2 "per-task work" lever,
    worth ~3x on broadcast cross joins scoring |Q| x |items| pairs."""
    return F.expr(_cosine_with_norms(*map(sql_name, (a, b, na, nb))))


def l2_sq(a: str, b: str) -> Column:
    """Squared Euclidean distance — the ADC/assignment metric (sqrt is
    rank-preserving and skipped). Sequential left fold, bit-identical
    to sqlkit.l2_sq_sql."""
    return F.expr(_l2_sq(sql_name(a), sql_name(b)))


def l2_dist(a: str, b: str) -> Column:
    """Euclidean distance (FAISS IndexFlatL2 metric)."""
    return F.expr(f"sqrt({_l2_sq(sql_name(a), sql_name(b))})")


def l2_normalize(a: str) -> Column:
    """Scale to unit L2 norm; zero vectors pass through unchanged.

    The norm is let-bound (``scalars.let``'s one-element transform):
    referenced from inside the transform lambda it would re-run the O(d)
    norm fold per ELEMENT — O(d^2) per vector."""
    a = sql_name(a)
    return F.expr(
        f"element_at(transform(array({_l2_norm(a)}), _l2n -> CASE WHEN _l2n > 0 "
        f"THEN transform({a}, x -> CAST(x AS DOUBLE) / _l2n) "
        f"ELSE transform({a}, x -> CAST(x AS DOUBLE)) END), 1)"
    )
