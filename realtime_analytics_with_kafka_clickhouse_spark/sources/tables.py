"""Batch table loaders for the driver's parquet testdata (TESTDATA.md).

At 100 TB these would be partitioned table roots; ``spark.read.parquet``
keeps predicate pushdown + column pruning (verify via ``PushedFilters`` /
``ReadSchema`` in the formatted plan — see ``plans.inspect``).
"""

from __future__ import annotations

import re
import weakref

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA_TABLES

# Session memo: the store of session-bound derived values (the other
# store, ``operators._memo``, holds process-level ones; see its docstring
# for the rule).  Here live the fully-normalized scan DataFrame per
# ``memo_key`` (a bench/oracle session calls ``load_table`` thousands of
# times over the same few immutable files, and every bare
# ``spark.read.parquet`` re-infers the schema: driver-side footer read +
# file listing, 75-97 ms), the ``prepared`` query plans (the dashboard
# panels), cached file scans (``sources.files`` DLQ readers) and catalog
# table names (``storage.bucketing``).  A rewritten fixture at the same path
# changes the fingerprint and misses; an unfingerprintable path degrades to
# a plain build.
#
# Entries hang off the SparkSession itself via a WeakKeyDictionary: a
# value built under one session (its conf, its cache, its catalog) never
# leaks into another, including a new session after ``spark.stop()`` in
# the same process (CPython can reuse ``id(spark)``, so an id is no key),
# and a dead session's values are dropped with it instead of pinning
# JVM-side plan handles.
_SESSION_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)

# Physical nodes that keep their first result across executions of one
# plan: exchanges (``Exchange``, ``BroadcastExchange``, ``ReusedExchange``)
# and subqueries (``Subquery``, ``SubqueryBroadcast``, ``ReusedSubquery``).
# Matched anywhere in the plan string: a name or literal that happens to
# match only costs the held path.
_REPLAY_UNSAFE = re.compile(r"Exchange|Subquery")


def _session_dfs(spark: SparkSession) -> dict:
    dfs = _SESSION_MEMO.get(spark)
    if dfs is None:
        # Must hold for ANY caller-provided session (the driver builds its
        # own): events.ts is parquet TIMESTAMP(NANOS), unreadable by Spark 4
        # without this runtime conf.  Set once per session — the conf is
        # never unset by the engine, and a memoized frame's scan fails at
        # read time exactly like a fresh one would if a caller
        # force-disabled it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        dfs = _SESSION_MEMO[spark] = {}
    return dfs


def memo_key(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    """The key of anything derived from table ``name`` under ``sf_dir``:
    the absolute directory, the table's (max mtime, bytes) fingerprint and
    the session time zone.  Analysis bakes the zone into the plan (the
    NTZ→timestamp cast below, ``date_trunc``, ``to_date``), so a plan
    memoized under one zone is wrong under another.  Raises if the table
    cannot be fingerprinted."""
    from ..operators._memo import absolute, table_fingerprint

    return (
        absolute(sf_dir),
        name,
        table_fingerprint(sf_dir, name),
        spark.conf.get("spark.sql.session.timeZone"),
    )


def _memoized(spark: SparkSession, key_of, build):
    dfs = _session_dfs(spark)
    try:
        key = key_of()
    except Exception:
        return build()
    df = dfs.get(key)
    if df is None:
        df = build()
        if len(dfs) > 256:  # bound: a few fixtures x tables x panels
            dfs.clear()
        dfs[key] = df
    return df


def build_once(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...], kind: str, build
):
    """``build()``'s process-level value (a scratch-table path, a replay
    source) in ``operators._memo``'s one slot for ``kind``, keyed on the
    ``memo_key`` of each of ``tables``: built once per table state and
    session time zone, timed into ``BUILD_SEC``.  A table that cannot be
    fingerprinted builds on every call."""
    from ..operators._memo import memo_build

    return memo_build(
        kind,
        lambda: tuple(part for t in tables for part in memo_key(spark, sf_dir, t)),
        build,
    )


def _load_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts has drifted across driver fixture generations:
    #   * TIMESTAMP(NANOS) → (with nanosAsLong=true) a long of epoch-nanos;
    #   * timestamp[us] with no tz → Spark 4 reads TIMESTAMP_NTZ, which
    #     unix_micros / withWatermark / window() reject.
    # Normalize both to session-local TimestampType in this one choke point
    # so every downstream date_trunc/to_date/watermark call site is stable.
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.to_timestamp(F.col("ts")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of ``sf_dir`` (memoized per session and ``memo_key``).

    The memo hands out the same scan DataFrame every time: a bare scan has
    no shuffle, and every transformation of it derives a new Dataset."""
    return _memoized(
        spark,
        lambda: memo_key(spark, sf_dir, name),
        lambda: _load_uncached(spark, sf_dir, name),
    )


def prepared(
    spark: SparkSession, sf_dir: str, table: str, kind: str, build
) -> DataFrame:
    """The plan ``build()`` makes from ``table``, planned once.

    The first call per (``kind``, ``memo_key``) builds the DataFrame, plans
    it and decides from its ``executedPlan`` whether the plan is held:

    * Held (no exchange of any kind, shuffle or broadcast, and no
      subquery): every call returns the memoized Dataset itself.  Each
      ``collect()`` is still a new job that scans the input again, but it
      reuses the optimised, planned, AQE-finalised and code-generated plan
      (Structured Streaming's plan once, run per trigger).
    * Otherwise every call wraps the analysed plan in a fresh Dataset, which
      is optimised, planned and executed anew.  Re-collecting one Dataset
      would re-use its executed plan: Spark skips the finished shuffle-map
      stages and serves the first call's shuffle output, a broadcast keeps
      its first relation and a subquery its first result.

    A held plan keeps the optimizer and planner confs of its first call:
    the key holds only the table's fingerprint and the session time zone."""

    def prepare() -> tuple[DataFrame, bool]:
        df = build()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return df, _REPLAY_UNSAFE.search(plan) is None

    df, held = _memoized(
        spark, lambda: (kind,) + memo_key(spark, sf_dir, table), prepare
    )
    if held:
        return df
    # ofRows over the analysed plan: the analyser returns it untouched
    # (0.3 ms a call against 7 ms for ``df.select("*")``, warm, local[2] on
    # a 4-core host).  The class by name: walking spark._jvm's packages
    # costs 6 py4j calls.
    dataset = JavaClass("org.apache.spark.sql.classic.Dataset", spark._jvm._gateway_client)
    fresh = dataset.ofRows(spark._jsparkSession, df._jdf.queryExecution().analyzed())
    return DataFrame(fresh, spark)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each testdata table as a temp view for ``spark.sql`` queries."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
