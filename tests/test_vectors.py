"""``functions.vectors`` against numpy: every helper returns exactly the
doubles of a sequential left fold over the float64-cast elements (the
same fold ``queries.sqlkit`` writes for DuckDB), for float and double
arrays and a zero vector."""

from __future__ import annotations

import math

import numpy as np
import pytest


def _dot(a, b) -> float:
    acc = np.float64(0.0)
    for x, y in zip(a, b):
        acc = acc + np.float64(x) * np.float64(y)
    return float(acc)


def _l2_sq(a, b) -> float:
    acc = np.float64(0.0)
    for x, y in zip(a, b):
        d = np.float64(x) - np.float64(y)
        acc = acc + d * d
    return float(acc)


def _cosine(a, b, na, nb) -> float:
    return _dot(a, b) / (na * nb) if na > 0 and nb > 0 else 0.0


@pytest.mark.parametrize("elem", ["float", "double"])
def test_vector_helpers_match_numpy_left_fold(spark, elem):
    from newsify_spark.functions.vectors import (
        cosine, cosine_with_norms, dot, l2_dist, l2_norm, l2_normalize, l2_sq,
    )

    rng = np.random.default_rng(7)
    dtype = np.float32 if elem == "float" else np.float64
    rows = [
        (i, *(rng.standard_normal(24).astype(dtype).tolist() for _ in range(2)))
        for i in range(6)
    ]
    rows.append((6, [0.0] * 24, rng.standard_normal(24).astype(dtype).tolist()))
    # column names that only read as one column when quoted
    df = spark.createDataFrame(rows, f"id int, `a b` array<{elem}>, `b.v` array<{elem}>")
    df = df.withColumn("na", l2_norm("a b")).withColumn("nb", l2_norm("b.v"))
    got = df.select(
        "id",
        dot("a b", "b.v").alias("dot"),
        "na",
        cosine("a b", "b.v").alias("cos"),
        cosine_with_norms("a b", "b.v", "na", "nb").alias("cosn"),
        l2_sq("a b", "b.v").alias("sq"),
        l2_dist("a b", "b.v").alias("dist"),
        l2_normalize("a b").alias("unit"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        _, a, b = rows[r.id]
        na, nb = math.sqrt(_dot(a, a)), math.sqrt(_dot(b, b))
        assert r.dot == _dot(a, b)
        assert r.na == na
        assert r.cos == r.cosn == _cosine(a, b, na, nb)
        assert r.sq == _l2_sq(a, b)
        assert r.dist == math.sqrt(_l2_sq(a, b))
        want = [float(np.float64(x) / na) if na > 0 else float(x) for x in a]
        assert r.unit == want
    assert got[6].na == 0.0 and got[6].cos == 0.0 and got[6].unit == [0.0] * 24
