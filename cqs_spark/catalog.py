"""Table loaders for the driver-generated testdata and engine tables.

Testdata tables (TESTDATA.md): TPC-H-ish star schema + events stream
table + documents/embeddings corpus tables, one parquet per table at
``/root/testdata/sf{0.001,0.01,0.1}``.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor
# (region: 5 rows, nation: 25 rows — fixed-size in TPC-H-style data).
BROADCASTABLE = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# DataFrame memo keyed on the SparkSession OBJECT (weakly), then
# (dir, table): spark.read.parquet() re-runs driver-side file listing
# + footer schema inference on EVERY call, a fixed per-call cost every
# one of the ~190 declared queries pays once per table per invocation
# (and at cluster scale, a re-listing of a large table's file
# manifest).  The testdata parquet dirs are immutable for the life of
# a session, and a DataFrame is an immutable logical plan — memoizing
# the PLAN is pure reuse of what each call would reconstruct anyway
# (results are still computed from parquet on every action; nothing is
# persisted or precomputed).  Keying on the session object (not just
# applicationId) matters because DataFrames are bound to their
# SparkSession: sessions sharing one SparkContext (newSession()) must
# not receive another session's DataFrame — temp views and session
# confs would land in the wrong catalog.  The WeakKeyDictionary drops
# a session's memo when the session itself is collected.
_PLAN_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table.

    ``events.ts`` is Parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects outright; we read it as raw int64 nanos
    (``nanosAsLong``) and integer-truncate to microseconds — exactly
    what DuckDB does when it surfaces the column as TIMESTAMP, so both
    engines see identical values.  Integer ``div`` (not double
    division) is load-bearing: epoch-nanos ≈ 1.7e18 exceeds double's
    53-bit exact-integer range.
    """
    # The events conf must be (re-)applied per session even on a memo
    # hit: a sibling session (newSession()) shares the context but not
    # the SQL conf, and executing the memoized events plan without
    # nanosAsLong would fail at scan time.
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    per_session = _PLAN_MEMO.get(spark)
    if per_session is None:
        per_session = {}
        _PLAN_MEMO[spark] = per_session
    key = (os.path.abspath(sf_dir), name)
    memo = per_session.get(key)
    if memo is not None:
        return memo
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) infers as
            # TIMESTAMP_NTZ under Spark's NTZ inference; epoch functions
            # (unix_micros, cast-to-long) reject NTZ.  Reinterpret the
            # naive value as UTC — session-timezone-independent, and the
            # exact value DuckDB's epoch_us sees for the same column.
            df = df.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
    else:
        df = spark.read.parquet(path)
    if len(per_session) >= 64:  # bound: ~dirs x 10 tables per session
        per_session.clear()
    per_session[key] = df
    return df
