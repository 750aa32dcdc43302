"""Bit-exactness of the SQL-string literal-array builder vs F.lit.

The builder emits one parsed SQL string instead of per-element
``F.lit(float(x))`` construction (one py4j round-trip each); these tests pin
the property that relies on: repr() round-trips every binary64, and Spark's
``...D`` literal parse returns exactly that double.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.expr_sql import (
    dlit_sql,
    double_array_col,
    double_array_sql,
    float_array_col,
)


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


_EDGE = [
    0.0,
    -0.0,
    1.0,
    -1.0,
    1.5,
    -2.75,
    1e-300,
    -1e300,
    3.141592653589793,
    2.2250738585072014e-308,  # smallest normal
    1.7976931348623157e308,  # largest finite
    5e-324,  # smallest subnormal
    0.1,
    1 / 3,
    123456789.123456789,
]


def test_dlit_rejects_non_finite():
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError):
            dlit_sql(bad)


def test_double_array_matches_flit(spark):
    rng = np.random.RandomState(7)
    vals = _EDGE + [
        float(x)
        for x in np.concatenate(
            [rng.randn(40), rng.randn(20) * 1e150, rng.randn(20) * 1e-150]
        )
    ]
    row = (
        spark.range(1)
        .select(
            double_array_col(vals).alias("sql_arr"),
            F.array(*[F.lit(float(v)) for v in vals]).alias("lit_arr"),
        )
        .first()
    )
    assert len(row["sql_arr"]) == len(vals)
    for s, l, v in zip(row["sql_arr"], row["lit_arr"], vals):
        assert _bits(s) == _bits(l) == _bits(v), (s, l, v)


def test_float_array_matches_flit_cast(spark):
    vals = [0.0, -1.5, 3.141592653589793, 1e30, -1e-30, 0.1]
    row = (
        spark.range(1)
        .select(
            float_array_col(vals).alias("sql_arr"),
            F.array(*[F.lit(float(v)).cast("float") for v in vals]).alias("lit_arr"),
        )
        .first()
    )
    for s, l in zip(row["sql_arr"], row["lit_arr"]):
        assert struct.pack("<f", s) == struct.pack("<f", l)


def test_sql_text_is_parseable_standalone(spark):
    # the text form is embedded inside larger F.expr strings by callers
    txt = double_array_sql([1.0, -2.5e-7, 3e8])
    got = spark.sql(f"SELECT {txt} AS a").first()["a"]
    assert got == [1.0, -2.5e-7, 3e8]
    assert all(not math.isnan(x) for x in got)
