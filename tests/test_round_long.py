"""`round_long(x)` is `CAST(round(x) AS BIGINT)` bit for bit.

Differential test: both spellings are evaluated on the same Spark frame and
compared row by row (NULL-safe), over the value classes where a
shortest-decimal HALF_UP round and a binary half-away-from-zero round could
part ways: dense 1-dp and 2-dp grids scaled to cents, 3-dp values (whose
cents land on x.5 in decimal but not always in binary), exact dyadic ties,
the ±1-ulp neighbours of every cents tie, large magnitudes up to and past
2^52, and signed zero. NULL, NaN and ±Inf are checked separately.
"""

from __future__ import annotations

import math
import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Column
from pyspark.sql import functions as F

from onebrc_spark.functions import round_long


def _spark_round(x: str) -> Column:
    return F.round(F.expr(x)).cast("long")


def _mismatches(df, exprs=("v", "v * 100")):
    """Rows where the two spellings differ, over each expression."""
    out = []
    for x in exprs:
        bad = (
            df.select(
                F.col("v"),
                _spark_round(x).alias("want"),
                round_long(x).alias("got"),
            )
            .where(~F.col("want").eqNullSafe(F.col("got")))
            .limit(5)
            .collect()
        )
        out += [(x, r["v"], r["want"], r["got"]) for r in bad]
    return out


def _frame(spark, values):
    return spark.createDataFrame([(float(v),) for v in values], "v double")


def test_decimal_grids_scaled_to_cents(spark):
    """Every 1-dp value in [-99.9, 99.9], every 2-dp value in
    [-999.99, 999.99] and every 3-dp value in [-99.999, 99.999], built in
    Spark (k / 10^d is the correctly rounded double of the decimal)."""
    grids = (
        spark.range(-999, 1000).select((F.col("id") / 10).alias("v"))
        .unionAll(spark.range(-99999, 100000).select((F.col("id") / 100).alias("v")))
        .unionAll(spark.range(-99999, 100000).select((F.col("id") / 1000).alias("v")))
    )
    assert grids.count() == 1999 + 2 * 199999
    assert _mismatches(grids) == []


def test_ties_and_their_neighbours(spark):
    """Exact dyadic ties k/8, and (k + 0.5)/100 with its ±1-ulp
    neighbours for |k| <= 5000 — the values whose cents sit on, or one ulp
    either side of, a .5 tie."""
    values = [k / 8 for k in range(-4000, 4001)]
    for k in range(-5000, 5001):
        t = (k + 0.5) / 100
        values += [t, math.nextafter(t, math.inf), math.nextafter(t, -math.inf)]
    assert _mismatches(_frame(spark, values)) == []


def test_large_magnitudes_and_signed_zero(spark):
    """Random magnitudes up to 9e13 (cents up to 9e15, around 2^52 where
    ties stop existing), the 2^52 and 2^53 cents edges, and ±0.0."""
    rng = random.Random(20261017)
    values = [rng.uniform(-9e13, 9e13) for _ in range(5000)]
    values += [10.0 ** rng.uniform(-3, 13.95) * rng.choice((-1, 1)) for _ in range(5000)]
    for e in (2.0**52, -(2.0**52), 2.0**53):
        values += [e / 100, math.nextafter(e / 100, math.inf), math.nextafter(e / 100, -math.inf)]
    values += [0.0, -0.0, 0.49999999999999994, -0.49999999999999994, 2.0**51 + 0.5]
    assert _mismatches(_frame(spark, values)) == []
    # -0.0 quantizes to plain 0 on both sides
    assert _frame(spark, [-0.0]).select(round_long("v")).first()[0] == 0


def test_null_stays_null(spark):
    df = spark.createDataFrame([(None,), (1.5,)], "v double")
    rows = df.select(round_long("v").alias("r")).collect()
    assert [r["r"] for r in rows] == [None, 2]


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_non_finite_raises_like_round(spark, bad):
    """NaN and ±Inf reach the same ANSI CAST_OVERFLOW as `round(x)`."""
    df = _frame(spark, [bad])
    conditions = []
    for f in (_spark_round, round_long):
        with pytest.raises(Exception) as ei:
            df.select(f("v * 100")).collect()
        conditions.append(ei.value.getCondition())
    assert conditions == ["CAST_OVERFLOW", "CAST_OVERFLOW"]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    xs=st.lists(
        st.floats(min_value=-9.2e18, max_value=9.2e18, allow_nan=False),
        min_size=1,
        max_size=200,
    )
)
def test_matches_round_on_any_finite_double(spark, xs):
    """Any finite double that fits a long after rounding."""
    assert _mismatches(_frame(spark, xs), exprs=("v",)) == []
