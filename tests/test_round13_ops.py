"""Round-13 (optimization round 2) focused tests.

Differential pins for the optimizations and correctness fixes of this
round — every fast path must equal its reference path bit-for-bit.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# --- ivf_assign degenerate-centroid guards (round-13 ADVICE fixes) -----------


def _assign_key(r):
    d = r["centroid_dist"]
    return (
        r["vec_id"],
        r["centroid_id"],
        None if d is None else (math.isnan(d), d if not math.isnan(d) else 0.0),
    )


def _has_python_kernel(df) -> bool:
    """True if the executed plan runs a Python Arrow kernel (the numpy fast
    path's mapInArrow, or a pandas/Arrow UDF)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "ArrowEvalPython" in plan or "MapInArrow" in plan


def test_ivf_assign_null_element_centroid_falls_back(spark):
    """A null ELEMENT inside a centroid vector must route the whole
    assignment through the expression path: np.array would silently read
    None as NaN, picking a different centroid than sq_l2_expr's SQL-null
    distance (the ADVICE counterexample: [None, 0.0] centroid)."""
    import era_parser_spark.operators.similarity as S

    df = spark.createDataFrame(
        [(1, [4.0, 0.0]), (2, [0.0, 0.0]), (3, [8.0, 8.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [None, 0.0]), (1, [4.0, 0.0])],
        "centroid_id long, cvec array<double>",
    )
    fast = sorted(
        map(_assign_key, S.ivf_assign(df, "embedding", "vec_id", cents).collect())
    )
    expr = sorted(
        map(
            _assign_key,
            S._ivf_assign_expr(df, "embedding", "vec_id", cents).collect(),
        )
    )
    assert fast == expr
    # the expression semantics: the null-element centroid yields a NULL
    # distance, and array_min's struct order puts NULL dist FIRST — every
    # row must therefore land on centroid 0 with a NULL distance
    assert all(k[1] == 0 and k[2] is None for k in fast)
    # fast == expr above holds trivially once the guard routes the whole
    # table to _ivf_assign_expr; pin that the guard actually fired
    assert not _has_python_kernel(S.ivf_assign(df, "embedding", "vec_id", cents))
    assert _has_python_kernel(
        S.ivf_assign(
            df, "embedding", "vec_id",
            spark.createDataFrame([(0, [1.0, 0.0])], "centroid_id long, cvec array<double>"),
        )
    )


def test_ivf_assign_nan_element_centroid_falls_back(spark):
    """A NaN element in a centroid makes every row's distance NaN; the
    degenerate-table guard routes it to the expression path instead of
    the per-row Python fold, with the same assignments."""
    import era_parser_spark.operators.similarity as S

    df = spark.createDataFrame(
        [(1, [4.0, 0.0]), (2, [0.0, 0.0]), (3, [8.0, 8.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [float("nan"), 0.0]), (1, [4.0, 0.0])],
        "centroid_id long, cvec array<double>",
    )
    got = S.ivf_assign(df, "embedding", "vec_id", cents)
    assert not _has_python_kernel(got)
    fast = sorted(map(_assign_key, got.collect()))
    expr = sorted(
        map(
            _assign_key,
            S._ivf_assign_expr(df, "embedding", "vec_id", cents).collect(),
        )
    )
    assert fast == expr
    # NaN sorts greatest: every row lands on the finite centroid 1
    assert all(k[1] == 1 and not k[2][0] for k in fast)


def test_ivf_assign_null_centroid_id_falls_back(spark):
    """A NULL centroid_id used to crash ivf_assign at plan-build time
    (TypeError sorting int vs None); it must fall back to the expression
    path like every other malformed centroid table."""
    import era_parser_spark.operators.similarity as S

    df = spark.createDataFrame(
        [(1, [4.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(None, [0.0, 0.0]), (7, [4.0, 0.0])],
        "centroid_id long, cvec array<double>",
    )
    fast = sorted(
        map(_assign_key, S.ivf_assign(df, "embedding", "vec_id", cents).collect())
    )
    expr = sorted(
        map(
            _assign_key,
            S._ivf_assign_expr(df, "embedding", "vec_id", cents).collect(),
        )
    )
    assert fast == expr
