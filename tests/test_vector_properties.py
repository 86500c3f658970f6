"""Property tests for the vector expression layer.

``dot_fixed`` (expanded codegen form) must be BIT-IDENTICAL to the
HOF ``dot`` fold for any input — oracle parity of every cosine in the
similarity suite rests on the two accumulating in the same order.
Hypothesis drives one Spark round-trip per example batch, so examples
are grouped into a single DataFrame per property run.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from autosinapi_spark.functions.vectors import dot, dot_fixed, norm

_DIM = 16

finite = st.floats(
    min_value=-1e6,
    max_value=1e6,
    allow_nan=False,
    allow_infinity=False,
    width=64,
)
vec = st.lists(finite, min_size=_DIM, max_size=_DIM)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(vec, vec), min_size=1, max_size=8))
def test_dot_fixed_bit_identical_to_hof_dot(spark, pairs):
    df = spark.createDataFrame(
        [(a, b) for a, b in pairs], "a array<double>, b array<double>"
    )
    rows = df.select(
        dot(F.col("a"), F.col("b")).alias("hof"),
        dot_fixed(F.col("a"), F.col("b"), _DIM).alias("fixed"),
    ).collect()
    for r in rows:
        # bitwise equality, not approx: same fold order is the claim
        assert math.isnan(r.hof) and math.isnan(r.fixed) or (
            r.hof == r.fixed
            and math.copysign(1.0, r.hof) == math.copysign(1.0, r.fixed)
        )


@settings(max_examples=8, deadline=None)
@given(st.lists(vec, min_size=1, max_size=8))
def test_norm_is_nonnegative_and_zero_only_for_zero(spark, vecs):
    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    rows = df.select(
        "v", norm(F.col("v")).alias("n")
    ).collect()
    for r in rows:
        assert r.n >= 0.0
        if all(x == 0.0 for x in r.v):
            assert r.n == 0.0
        if r.n == 0.0:
            assert all(x == 0.0 for x in r.v)


def test_normalize_ts_columns_idempotent_across_encodings(spark):
    """normalize_ts_columns(normalize_ts_columns(df)) == one pass, for
    every fixture encoding seen so far (nanos-long, ntz, timestamp)."""
    from autosinapi_spark.catalog import load, normalize_ts_columns
    from tests.conftest import SF_SMOKE

    ev = load(spark, SF_SMOKE, "events").limit(100)
    variants = {
        "timestamp": ev,
        "ntz": ev.withColumn("ts", F.col("ts").cast("timestamp_ntz")),
        "nanos": ev.withColumn("ts", F.unix_micros("ts") * F.lit(1000)),
    }
    want = {r["event_id"]: r["ts"] for r in ev.collect()}
    for name, raw in variants.items():
        once = normalize_ts_columns(raw, ["ts"])
        twice = normalize_ts_columns(once, ["ts"])
        assert dict(once.dtypes)["ts"] == "timestamp", name
        got = {r["event_id"]: r["ts"] for r in twice.collect()}
        assert got == want, name


@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(vec, vec), min_size=1, max_size=8))
def test_sq_dist_fixed_bit_identical_to_hof_fold(spark, pairs):
    """sq_dist_fixed (expanded form, the PQ assignment hot loop) must
    accumulate in the identical order as the zip_with+aggregate HOF
    fold — the oracle parity of every PQ distance rests on it."""
    from autosinapi_spark.functions.vectors import sq_dist_fixed

    def hof_sq_dist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    df = spark.createDataFrame(
        [(a, b) for a, b in pairs], "a array<double>, b array<double>"
    )
    rows = df.select(
        hof_sq_dist(F.col("a"), F.col("b")).alias("hof"),
        sq_dist_fixed(F.col("a"), F.col("b"), _DIM).alias("fixed"),
    ).collect()
    for r in rows:
        assert math.isnan(r.hof) and math.isnan(r.fixed) or (
            r.hof == r.fixed
            and math.copysign(1.0, r.hof) == math.copysign(1.0, r.fixed)
        )


# Construction-time guards of the SQL-string generators: misuse raises
# ValueError at the call, not an opaque parse error at execution.


def test_sql_dot_rejects_empty_dim():
    from autosinapi_spark.functions.vectors import sql_dot

    with pytest.raises(ValueError, match="dimension"):
        sql_dot("a", "b", 0)


def test_sql_sqdist_rejects_empty_dim():
    from autosinapi_spark.functions.vectors import sql_sqdist

    with pytest.raises(ValueError, match="dimension"):
        sql_sqdist("a", "b", 0)


def test_sql_hyperplane_bucket_rejects_no_planes():
    from autosinapi_spark.functions.vectors import sql_hyperplane_bucket

    with pytest.raises(ValueError, match="non-empty"):
        sql_hyperplane_bucket("v", [])


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_sql_plane_dot_rejects_non_finite_weight(bad):
    from autosinapi_spark.functions.vectors import sql_plane_dot

    with pytest.raises(ValueError, match="finite"):
        sql_plane_dot("v", [1.0, bad, -1.0])
