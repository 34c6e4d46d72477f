"""Raw-table storage layout + retention (SURVEY.md §1.2, §7-M4).

ClickHouse DDL -> Spark physical layout:

- ``PARTITION BY toYYYYMM(order_timestamp)``
  (/root/reference/clickhouse/init/01_init.sql:28) -> parquet
  ``partitionBy(order_month)`` — partition pruning for month predicates.
- ``ORDER BY (order_timestamp, order_id)`` (:29) -> ``schemas.ORDER_KEY``, a
  ``sortWithinPartitions`` before every write of order rows (these writers
  and the wire path's raw epochs) — parquet row-group min/max stats then
  give the same data-skipping as ClickHouse's sparse PK index, and the
  clustered columns compress better under the engine's ZSTD codec
  (``session.get_spark``).
- ``TTL order_timestamp + INTERVAL 365 DAY`` (:30) -> ``expire_ttl``:
  whole-month partition drops (cheap, metadata-only at scale) + an exact
  boundary-month rewrite.

At 100 TB: monthly partitions keep file counts sane; within a month the
sort gives ~sequential scans for time-range queries, and writers should
additionally split by a bucket column if a single month exceeds a few TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs
from ..operators._memo import scratch_dir
from ..operators.normalize import with_partition_month
from ..schemas import ORDER_KEY


def write_orders_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write orders as month-partitioned, time-sorted parquet."""
    (
        with_partition_month(df)
        .repartition("order_month")
        .sortWithinPartitions(*ORDER_KEY)
        .write.mode(mode)
        .partitionBy("order_month")
        .parquet(path)
    )


def read_orders_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def compact_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a directory's parquet into
    ~``target_file_bytes`` files (epoch-per-directory streaming ingest and
    frequent MERGE swaps both accumulate small files; at 100 TB unmanaged
    small files dominate scan overhead and NameNode/listing pressure).

    Returns the output file count.  Sorting before write restores row-group
    min/max locality (the ClickHouse ORDER BY analog) that interleaved
    epoch appends destroy.  Swap goes through the Hadoop FS API.

    Operates on LEAF directories (a single partition / epoch dir) — for a
    partitioned table, run per partition so the directory layout survives.

    Uses the same ``.swap-*`` protocol as ``merge_rollup``: a crash between
    delete and rename is repaired by ``fs.recover_latest_swap`` on the next
    maintenance pass (round-2 advice: one swap convention for everything).
    """
    fs.recover_latest_swap(spark, path)
    df = spark.read.parquet(path)
    n_files = max(1, round(fs.dir_size(spark, path) / target_file_bytes))
    out = df.coalesce(n_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    tmp = fs.swap_tmp_path(path)
    out.write.mode("overwrite").parquet(tmp)
    fs.swap_in(spark, path, tmp)
    return n_files


def _repair_swaps(spark: SparkSession, path: str) -> None:
    """Crash-repair pre-pass shared by the partition-level maintenance ops:
    promote orphaned ``.swap-*`` siblings whose target is missing (crash
    between delete and rename), and clear stale ones whose target EXISTS
    (crash between rename and cleanup — ``recover_latest_swap`` is a no-op
    there, but partition discovery would pick the stale sibling up and
    break month inference)."""
    for name in fs.list_dir(spark, path):
        if fs.SWAP_SUFFIX in name:
            base = f"{path}/{name.split(fs.SWAP_SUFFIX)[0]}"
            if not fs.recover_latest_swap(spark, base):
                fs.cleanup_swaps(spark, base)


def delete_rows(spark: SparkSession, path: str, predicate: str) -> list[str]:
    """Targeted row deletion — the ``ALTER TABLE ... DELETE WHERE``
    mutation of the reference's ClickHouse tables
    (/root/reference/clickhouse/init/01_init.sql), and the GDPR /
    opt-out removal pass an LLM training corpus needs.

    Mutation model mirrors ClickHouse's: find the partitions that contain
    matching rows (predicate pushed to the parquet scan — row-group stats
    skip untouched months), rewrite ONLY those partitions without the
    matching rows, drop a partition outright when nothing survives.  At
    100 TB a keyed delete rewrites a handful of month directories, never
    the table.

    ``predicate`` is a SQL boolean over DATA columns (the partition
    column is directory-encoded and not visible to the per-partition
    rewrite).  Rows where the predicate is NULL survive, matching SQL
    DELETE semantics.  Rewrites go through the shared ``.swap-*`` crash
    protocol.  Returns the touched partitions.
    """
    _repair_swaps(spark, path)
    pred = F.expr(predicate)
    affected = [
        r["order_month"]
        for r in spark.read.parquet(path)
        .filter(pred)
        .select("order_month")
        .distinct()
        .collect()
    ]
    keep = ~F.coalesce(pred, F.lit(False))  # NULL predicate -> row survives
    touched: list[str] = []
    for month in sorted(affected):
        part_dir = f"{path}/order_month={month}"
        surviving = spark.read.parquet(part_dir).filter(keep)
        if surviving.count() == 0:
            fs.delete(spark, part_dir)
            touched.append(f"dropped:order_month={month}")
            continue
        tmp = fs.swap_tmp_path(part_dir)
        surviving.sortWithinPartitions(*ORDER_KEY).write.mode("overwrite").parquet(tmp)
        fs.swap_in(spark, part_dir, tmp)
        touched.append(f"rewrote:order_month={month}")
    return touched


def update_rows(
    spark: SparkSession,
    path: str,
    predicate: str,
    assignments: dict[str, str],
    partition_col: str = "order_month",
    sort_cols: tuple[str, ...] = ORDER_KEY,
) -> list[str]:
    """Targeted in-place update — the ``ALTER TABLE ... UPDATE col = expr
    WHERE pred`` mutation of ClickHouse MergeTree tables (the sibling of
    ``delete_rows``; reference tables declared in
    /root/reference/clickhouse/init/01_init.sql).

    ``partition_col`` / ``sort_cols`` parameterize the table layout the
    way ``compact_dir`` does (defaults match the orders layout).

    Same mutation model: find partitions containing matching rows
    (predicate pushed to the scan), rewrite ONLY those partitions with
    the assignment applied to matching rows — non-matching rows in a
    touched partition are rewritten byte-identical, untouched partitions
    are never read again.  At 100 TB a keyed update rewrites a handful
    of month directories, never the table.  Rewrites go through the
    shared ``.swap-*`` crash protocol.  Returns the touched partitions.
    """
    _repair_swaps(spark, path)
    pred = F.expr(predicate)
    affected = [
        r[partition_col]
        for r in spark.read.parquet(path)
        .filter(pred)
        .select(partition_col)
        .distinct()
        .collect()
    ]
    touched: list[str] = []
    for month in sorted(affected):
        part_dir = f"{path}/{partition_col}={month}"
        cur = spark.read.parquet(part_dir)
        updated = cur.select(
            *[
                F.when(pred, F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in cur.columns
            ]
        )
        tmp = fs.swap_tmp_path(part_dir)
        (
            updated.sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        fs.swap_in(spark, part_dir, tmp)
        touched.append(f"rewrote:{partition_col}={month}")
    return touched


def _raw_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``orders`` under the reference's raw-table column names."""
    from ..sources.tables import load_table

    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderdate").alias("order_timestamp"),
        F.col("o_totalprice").alias("total_amount"),
    )


def order_update_mutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ... UPDATE, end-to-end and driver-verified: reshape
    ``orders`` into the month-partitioned layout, apply a keyed UPDATE
    (the min-custkey customer's amounts get a flat +10.00 adjustment —
    exact in the 2dp money domain), and return the per-month audit
    aggregate.  The oracle computes the same aggregate with the
    adjustment as a CASE expression over raw ``orders`` — proving the
    mutation changed exactly the subject's rows and nothing else, and
    that untouched partitions still carry their original bytes.

    Scale shape: the rewrite touches only partitions holding the
    subject's rows (bounded by orders-per-customer); the audit is one
    month-keyed aggregate.  The mutated table builds once per orders
    ``memo_key``."""
    from ..functions.scalars import dsum
    from ..sources.tables import build_once

    def build() -> str:
        orders = _raw_orders(spark, sf_dir)
        victim = orders.agg(F.min("customer_id")).collect()[0][0]
        table = scratch_dir("mutation", "orders")
        write_orders_table(orders, table)
        update_rows(
            spark,
            table,
            f"customer_id = {victim}",
            {"total_amount": "total_amount + 10.0"},
        )
        return table

    mutated = read_orders_table(
        spark, build_once(spark, sf_dir, ("orders",), "mutation_table", build)
    )
    return mutated.groupBy(
        F.col("order_month").cast("long").alias("order_month")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        dsum("total_amount").alias("total_amount_sum"),
    )


def expire_ttl(spark: SparkSession, path: str, cutoff_ts: str) -> list[str]:
    """Apply the 365-day-style TTL: drop expired month partitions, rewrite
    the boundary month exactly.  Returns the dropped/rewritten partitions.

    ``cutoff_ts``: ISO timestamp; rows with order_timestamp < cutoff are
    expired (matches DELETE WHERE semantics of the ClickHouse TTL).

    All directory operations go through the Hadoop FileSystem API
    (storage.fs) so the job behaves identically on HDFS/S3A/local.
    """
    cutoff = spark.sql(f"SELECT CAST('{cutoff_ts}' AS TIMESTAMP) c").collect()[0]["c"]
    cutoff_month = cutoff.year * 100 + cutoff.month
    touched: list[str] = []
    # Crash-repair pre-pass: a crash during a previous boundary rewrite can
    # leave the only copy of a partition in an orphaned ``.swap-*`` sibling
    # (same protocol as merge_rollup / compact_dir) — promote those first so
    # the sweep below sees every partition.
    _repair_swaps(spark, path)
    for name in fs.list_dir(spark, path):
        if not name.startswith("order_month=") or fs.SWAP_SUFFIX in name:
            continue
        month = int(name.split("=", 1)[1])
        part_dir = f"{path}/{name}"
        if month < cutoff_month:
            fs.delete(spark, part_dir)  # whole partition expired: metadata-cheap drop
            touched.append(f"dropped:{name}")
        elif month == cutoff_month:
            # Boundary month: exact rewrite of the surviving suffix.
            surviving = (
                spark.read.parquet(part_dir)
                .filter(F.col("order_timestamp") >= F.lit(cutoff_ts).cast("timestamp"))
                .sortWithinPartitions(*ORDER_KEY)
            )
            tmp = fs.swap_tmp_path(part_dir)
            surviving.write.mode("overwrite").parquet(tmp)
            fs.swap_in(spark, part_dir, tmp)
            touched.append(f"rewrote:{name}")
    return touched


def gdpr_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GDPR / right-to-be-forgotten pass, end-to-end and
    driver-verified: reshape ``orders`` into the reference's
    month-partitioned layout, erase ONE customer (the minimum custkey
    with orders — deterministic) via ``delete_rows``, and return the
    per-month audit aggregate of what survived.  The oracle is the same
    aggregate over ``orders WHERE o_custkey <> victim`` — proving the
    mutation removed exactly the subject's rows and nothing else.

    Scale shape: the delete rewrites only the partitions holding the
    subject's rows — bounded by orders-per-customer, NOT table size (the
    predicate pushes to the parquet scan to find them); the audit is one
    month-keyed aggregate.  The partitioned copy and the targeted delete
    build once per orders ``memo_key``; repeat calls audit the
    already-mutated table."""
    from ..sources.tables import build_once
    from ..functions.scalars import dsum

    def build() -> str:
        orders = _raw_orders(spark, sf_dir)
        victim = orders.agg(F.min("customer_id")).collect()[0][0]
        table = scratch_dir("gdpr", "orders")
        write_orders_table(orders, table)
        delete_rows(spark, table, f"customer_id = {victim}")
        return table

    surviving = read_orders_table(
        spark, build_once(spark, sf_dir, ("orders",), "gdpr_table", build)
    )
    return surviving.groupBy(
        F.col("order_month").cast("long").alias("order_month")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        dsum("total_amount").alias("total_revenue"),
    )


def expire_ttl_group_by(
    spark: SparkSession,
    path: str,
    cutoff_ts: str,
    keys: list[str],
    sum_cols: list[str],
) -> list[str]:
    """ClickHouse ``TTL ... GROUP BY`` (rollup TTL): rows past the cutoff
    are REPLACED by their per-key aggregate instead of deleted — the
    detail shrinks to one row per key per partition while the measures
    (``sum_cols``) are conserved exactly.  This is the retention policy
    between "keep everything" and "drop everything": a year-old month
    collapses from millions of rows to |keys| rows that still roll up
    correctly in every downstream aggregate.

    Schema is preserved (the table stays queryable by the same jobs):
    group keys keep their values, ``sum_cols`` fold with decimal-exact
    sums, and every other column takes the per-group MINIMUM — a
    deterministic stand-in for ClickHouse's ``any()`` so the rewrite is
    reproducible and testable.  Fully-expired months rewrite wholesale;
    the boundary month aggregates only its expired prefix and keeps the
    surviving suffix row-for-row.  Same ``.swap-*`` crash protocol as
    every other layout mutation.  Returns the touched partitions."""
    from ..functions.scalars import dsum

    cutoff = spark.sql(f"SELECT CAST('{cutoff_ts}' AS TIMESTAMP) c").collect()[0]["c"]
    cutoff_month = cutoff.year * 100 + cutoff.month
    _repair_swaps(spark, path)

    def collapse(df):
        cols = df.columns
        aggs = []
        for c in cols:
            if c in keys:
                continue
            if c in sum_cols:
                aggs.append(dsum(c).alias(c))
            else:
                aggs.append(F.min(c).alias(c))
        return df.groupBy(*keys).agg(*aggs).select(*cols)

    touched: list[str] = []
    for name in fs.list_dir(spark, path):
        if not name.startswith("order_month=") or fs.SWAP_SUFFIX in name:
            continue
        month = int(name.split("=", 1)[1])
        part_dir = f"{path}/{name}"
        if month > cutoff_month:
            continue
        part = spark.read.parquet(part_dir)
        expired = F.col("order_timestamp") < F.lit(cutoff_ts).cast("timestamp")
        if month < cutoff_month:
            out = collapse(part)
            touched.append(f"collapsed:{name}")
        else:
            old = part.filter(expired)
            if old.isEmpty():
                continue
            out = collapse(old).unionByName(part.filter(~expired))
            touched.append(f"boundary:{name}")
        tmp = fs.swap_tmp_path(part_dir)
        out.write.mode("overwrite").parquet(tmp)
        fs.swap_in(spark, part_dir, tmp)
    return touched


def dynamic_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-partition-overwrite BACKFILL (NEW r6): the idempotent
    correction pattern — a corrected batch covering some months is
    written with ``spark.sql.sources.partitionOverwriteMode=dynamic``,
    so ``mode("overwrite")`` replaces ONLY the month partitions present
    in the batch and never touches the rest (static mode would truncate
    the whole table; per-partition delete+append would lose atomicity
    per partition).  This is how a production pipeline re-runs one bad
    day/month at 100 TB: write cost is O(corrected partitions), the
    other partitions' files are never listed.

    Proof: the two earliest months are 'corrected' to doubled totals;
    the driver row must equal the oracle's piecewise recompute, and the
    pytest pins that untouched month dirs keep their files/mtime.  The
    backfilled table builds once per orders ``memo_key``."""
    from ..functions.scalars import dsum
    from ..sources.tables import build_once

    def build() -> str:
        orders = _raw_orders(spark, sf_dir)
        table = scratch_dir("backfill", "orders")
        write_orders_table(orders, table)
        months = [
            r["order_month"]
            for r in with_partition_month(orders)
            .select("order_month")
            .distinct()
            .orderBy("order_month")
            .limit(2)
            .collect()
        ]
        corrected = (
            with_partition_month(orders)
            .filter(F.col("order_month").isin(months))
            .drop("order_month")
            .withColumn("total_amount", F.col("total_amount") * 2)
        )
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        old_mode = spark.conf.get(mode_key, None)
        spark.conf.set(mode_key, "dynamic")
        try:
            write_orders_table(corrected, table, mode="overwrite")
        finally:
            if old_mode is None:
                spark.conf.unset(mode_key)
            else:
                spark.conf.set(mode_key, old_mode)
        return table

    table = build_once(spark, sf_dir, ("orders",), "backfill_table", build)
    return (
        read_orders_table(spark, table)
        .groupBy(F.col("order_month").cast("long").alias("order_month"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            dsum("total_amount").alias("total_revenue"),
        )
    )


def move_partitions_to_volume(
    spark: SparkSession, path: str, cold_path: str, cutoff_ts: str
) -> list[str]:
    """ClickHouse ``TTL order_timestamp + INTERVAL ... TO VOLUME 'cold'``:
    partitions whose ENTIRE range is past the cutoff RELOCATE to the cold
    volume root — a metadata-only rename per partition, no row is read,
    rewritten, or dropped (the retention policy between "keep hot" and
    ``expire_ttl``'s delete: data ages onto cheap storage but stays
    queryable).  The boundary month — some rows on each side — stays hot
    whole, matching ClickHouse's part-granular moves (a part relocates
    only when every row in it satisfies the move TTL).  Returns the moved
    partitions."""
    cutoff = spark.sql(f"SELECT CAST('{cutoff_ts}' AS TIMESTAMP) c").collect()[0]["c"]
    cutoff_month = cutoff.year * 100 + cutoff.month
    _repair_swaps(spark, path)
    fs.mkdirs(spark, cold_path)
    touched: list[str] = []
    for name in fs.list_dir(spark, path):
        if not name.startswith("order_month=") or fs.SWAP_SUFFIX in name:
            continue
        month = int(name.split("=", 1)[1])
        if month < cutoff_month:
            if not fs.rename(spark, f"{path}/{name}", f"{cold_path}/{name}"):
                raise RuntimeError(f"tier move failed for {name}")
            touched.append(f"moved:{name}")
    return touched


# Month-start cutoff so the boundary is exact: every pre-1999 month is
# fully expired (moves whole), 199901+ fully hot.  Orders span
# 1995-01..2001-08 at every SF, so both volumes are non-empty everywhere.
TIER_CUTOFF_TS = "1999-01-01 00:00:00"


def ttl_move_tiering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage tiering end-to-end, driver-verified: reshape ``orders``
    into the reference's month-partitioned layout
    (clickhouse/init/01_init.sql:27-30 declares the PARTITION BY + TTL
    pair this models), age everything before TIER_CUTOFF_TS onto the
    cold volume via ``move_partitions_to_volume``, and return the
    per-volume per-month audit aggregate read back FROM BOTH VOLUMES.
    The oracle computes the same aggregate over raw orders with the tier
    derived as a CASE on the month — proving the move conserved every
    row and placed each month on exactly one volume (an overlap or loss
    would break the count/revenue equality).

    Scale shape: the move is one rename per expired partition (metadata-
    only, no data IO — the point of volume tiering at 100 TB); the audit
    is one month-keyed aggregate over a two-volume union scan.  The
    hot/cold pair builds and tiers once per orders ``memo_key``; repeat
    calls audit the already-tiered volumes."""
    from ..functions.scalars import dsum
    from ..sources.tables import build_once

    def build() -> tuple[str, str]:
        orders = _raw_orders(spark, sf_dir)
        root = scratch_dir("tiering", "t")
        hot, cold = f"{root}/hot", f"{root}/cold"
        write_orders_table(orders, hot)
        moved = move_partitions_to_volume(spark, hot, cold, TIER_CUTOFF_TS)
        if not moved:
            raise RuntimeError("tiering must relocate the expired months")
        return hot, cold

    hot, cold = build_once(spark, sf_dir, ("orders",), "tier_tables", build)
    both = spark.read.parquet(hot).select(
        F.lit("hot").alias("tier"), "order_month", "total_amount"
    ).unionByName(
        spark.read.parquet(cold).select(
            F.lit("cold").alias("tier"), "order_month", "total_amount"
        )
    )
    return both.groupBy("tier", "order_month").agg(
        F.count("*").cast("long").alias("n_orders"),
        dsum("total_amount").alias("revenue"),
    ).withColumn("order_month", F.col("order_month").cast("long"))
