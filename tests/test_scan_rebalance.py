"""Focused tests for catalog._rebalance_scan (r14 optimization).

The bench fixtures are single-file/single-row-group parquet, so scans
cannot split and all scan-side compute runs on one task; ``load``
rebalances the fact/corpus tables across the session's cores. These
tests pin the three contract points: (1) the rebalance actually widens
the scan, (2) it never blocks predicate pushdown / column pruning at
the scan, (3) it is a no-op for dimension tables and under the env
kill-switch (the deployment posture, where row groups >= cores).
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from autosinapi_spark.catalog import (
    _SCAN_REBALANCE_KEYS,
    _row_group_count,
    load,
)
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_fact_scan_widens_to_session_parallelism(spark):
    target = spark.sparkContext.defaultParallelism
    df = load(spark, SF_SMOKE, "lineitem")
    assert df.rdd.getNumPartitions() == target


def test_rebalance_keeps_pushdown_and_pruning(spark):
    df = (
        load(spark, SF_SMOKE, "lineitem")
        .where(F.col("l_partkey") <= 200)
        .select("l_partkey", "l_extendedprice")
    )
    plan = _plan(df)
    assert "LessThanOrEqual(l_partkey,200)" in plan  # PushedFilters
    # ReadSchema pruned to the used columns only
    assert "l_comment" not in plan
    assert "hashpartitioning(l_orderkey" in plan


def test_dimension_tables_are_not_rebalanced(spark, monkeypatch):
    for name in ("part", "nation", "region", "supplier", "customer"):
        assert name not in _SCAN_REBALANCE_KEYS
        plan = _plan(load(spark, SF_SMOKE, name))
        assert "Exchange" not in plan, name


def test_env_kill_switch_disables_rebalance(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCAN_REBALANCE", "0")
    plan = _plan(load(spark, SF_SMOKE, "lineitem"))
    assert "Exchange" not in plan


def test_rebalance_noop_when_row_groups_cover_cores(spark, monkeypatch):
    """Deployment posture: many row groups -> the scan already feeds
    every core and the rebalance must vanish from the plan."""
    import autosinapi_spark.catalog as cat

    monkeypatch.setitem(
        cat._RG_CACHE,
        (SF_SMOKE, "lineitem", cat._table_stamp(SF_SMOKE, "lineitem")),
        spark.sparkContext.defaultParallelism,
    )
    plan = _plan(load(spark, SF_SMOKE, "lineitem"))
    assert "Exchange" not in plan


def test_row_group_count_reads_footer(spark):
    assert _row_group_count(SF_SMOKE, "lineitem") >= 1
    # cached: second call must hit the dict, not re-read (key carries
    # the (mtime, size) stamp so a rewritten fixture invalidates)
    import autosinapi_spark.catalog as cat

    assert (
        SF_SMOKE,
        "lineitem",
        cat._table_stamp(SF_SMOKE, "lineitem"),
    ) in cat._RG_CACHE


def test_schema_cache_sees_table_rewritten_at_same_path(spark, tmp_path):
    """``load`` reuses its first inferred schema only while the table's
    (mtime, size) stamp holds: a directory table rewritten in place
    with one more column is re-inferred on the next load."""
    import autosinapi_spark.catalog as cat

    sf = str(tmp_path)
    path = cat.table_path(sf, "region")
    spark.createDataFrame(
        [(0, "AFRICA")], "r_regionkey int, r_name string"
    ).write.parquet(path)
    assert load(spark, sf, "region").columns == ["r_regionkey", "r_name"]
    assert any(k[:2] == (sf, "region") for k in cat._SCHEMA_CACHE)
    assert load(spark, sf, "region").columns == ["r_regionkey", "r_name"]

    spark.createDataFrame(
        [(0, "AFRICA", "lost continent")],
        "r_regionkey int, r_name string, r_comment string",
    ).write.mode("overwrite").parquet(path)
    df = load(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert df.collect()[0]["r_comment"] == "lost continent"


def test_rebalanced_scan_results_unchanged(spark, monkeypatch):
    with_reb = load(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    monkeypatch.setenv("SPARK_GRAFT_SCAN_REBALANCE", "0")
    without = load(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    assert with_reb.exceptAll(without).count() == 0
    assert without.exceptAll(with_reb).count() == 0
