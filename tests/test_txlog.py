"""Transaction-log table format (storage.txlog): snapshot atomicity,
replay idempotency, commit-race handling, vacuum — the Delta-style contract
the parquet-swap path approximates (SURVEY.md §2.7 delivery guarantees)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import load_table
from realtime_analytics_with_kafka_clickhouse_spark.storage import fs, txlog
from realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline import (
    hourly_rollup_aggregate,
)

from tests.conftest import SF_DIR


def test_txlog_incremental_equals_batch(spark, tmp_path):
    """4 out-of-time-order micro-batches MERGEd transactionally == the
    one-shot aggregation (same invariant as the swap path)."""
    events = load_table(spark, SF_DIR, "events")
    table = str(tmp_path / "rollup_tx")
    for i in range(4):
        chunk = events.filter(F.pmod("event_id", F.lit(4)) == i)
        assert txlog.merge_rollup_tx(spark, table, hourly_rollup_aggregate(chunk), batch_id=i)
    got = txlog.read_table(spark, table)
    want = hourly_rollup_aggregate(events)
    assert got.exceptAll(want).count() + want.exceptAll(got).count() == 0
    assert txlog.latest_version(spark, table) == 4


def test_txlog_replay_skips_merged_batch(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events").limit(1000)
    table = str(tmp_path / "rollup_tx")
    assert txlog.merge_rollup_tx(spark, table, hourly_rollup_aggregate(events), batch_id=0)
    v1 = txlog.latest_version(spark, table)
    rows1 = sorted(map(tuple, txlog.read_table(spark, table).collect()))
    # Replay the SAME epoch: skipped, no new version, no double-count.
    assert not txlog.merge_rollup_tx(spark, table, hourly_rollup_aggregate(events), batch_id=0)
    assert txlog.latest_version(spark, table) == v1
    assert sorted(map(tuple, txlog.read_table(spark, table).collect())) == rows1


def test_txlog_uncommitted_data_invisible(spark, tmp_path):
    """A data directory with no commit naming it (crash between data write
    and commit) never reaches readers, and a later merge is unaffected."""
    events = load_table(spark, SF_DIR, "events").limit(1000)
    table = str(tmp_path / "rollup_tx")
    txlog.merge_rollup_tx(spark, table, hourly_rollup_aggregate(events), batch_id=0)
    before = sorted(map(tuple, txlog.read_table(spark, table).collect()))
    # Simulate the crash: orphan data dir, no commit file.
    orphan = txlog.write_data_dir(hourly_rollup_aggregate(events), table)
    assert sorted(map(tuple, txlog.read_table(spark, table).collect())) == before
    # A default vacuum leaves a fresh orphan alone (retention window —
    # it could be an in-flight writer's uncommitted output)...
    assert orphan not in txlog.vacuum(spark, table)
    assert fs.exists(spark, f"{table}/{orphan}")
    # ...but once stale it is collected.
    deleted = txlog.vacuum(spark, table, retention_ms=0)
    assert orphan in deleted
    assert not fs.exists(spark, f"{table}/{orphan}")
    assert sorted(map(tuple, txlog.read_table(spark, table).collect())) == before


def test_txlog_commit_race_loser_retries(spark, tmp_path):
    """If the target version is taken between snapshot and commit, the
    merge retries against the new state instead of clobbering it."""
    events = load_table(spark, SF_DIR, "events").limit(2000)
    b0 = events.filter(F.pmod("event_id", F.lit(2)) == 0)
    b1 = events.filter(F.pmod("event_id", F.lit(2)) == 1)
    table = str(tmp_path / "rollup_tx")
    txlog.merge_rollup_tx(spark, table, hourly_rollup_aggregate(b0), batch_id=0)
    # A competing writer steals version 2.
    stolen = txlog.write_data_dir(hourly_rollup_aggregate(b0), table)
    assert txlog.try_commit(spark, table, 2, [stolen], 1)
    # Our merge (batch 2) must retry onto version 3 and still fold correctly.
    assert txlog.merge_rollup_tx(spark, table, hourly_rollup_aggregate(b1), batch_id=2)
    assert txlog.latest_version(spark, table) == 3
    got = txlog.read_table(spark, table)
    want = hourly_rollup_aggregate(events)
    assert got.exceptAll(want).count() + want.exceptAll(got).count() == 0


def test_txlog_vacuum_keeps_current_snapshot(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events")
    table = str(tmp_path / "rollup_tx")
    for i in range(4):
        chunk = events.filter(F.pmod("event_id", F.lit(4)) == i)
        txlog.merge_rollup_tx(spark, table, hourly_rollup_aggregate(chunk), batch_id=i)
    before = sorted(map(tuple, txlog.read_table(spark, table).collect()))
    deleted = txlog.vacuum(spark, table, keep_versions=1)
    assert len(deleted) == 3 + 3  # 3 old data dirs + 3 old commit files
    assert sorted(map(tuple, txlog.read_table(spark, table).collect())) == before
    data_dirs = fs.list_dir(spark, f"{table}/{txlog.DATA_DIR}")
    assert len(data_dirs) == 1


def test_hourly_trend_from_rollup_equals_raw_aggregation(spark):
    """Accelerator routing: the trend served from the stored MERGE-maintained
    rollup equals the raw-events A8 aggregation."""
    from realtime_analytics_with_kafka_clickhouse_spark.operators.rollups import hourly_trend
    from realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline import (
        hourly_trend_from_rollup,
    )

    got = hourly_trend_from_rollup(spark, SF_DIR)
    want = hourly_trend(spark, SF_DIR)
    assert got.exceptAll(want).count() + want.exceptAll(got).count() == 0


def test_hourly_trend_from_rollup_rebuilds_after_table_rewrite(spark, tmp_path):
    """The stored-rollup memo is keyed on the events table's fingerprint:
    after ``events.parquet`` is rewritten at the same path, the panel
    serves the new table's trend, not the old rollup's."""
    import pyarrow.parquet as pq

    from realtime_analytics_with_kafka_clickhouse_spark.operators.rollups import hourly_trend
    from realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline import (
        hourly_trend_from_rollup,
    )

    table = pq.read_table(f"{SF_DIR}/events.parquet")
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for rows in (table.slice(0, 600), table.slice(400)):
        pq.write_table(rows, f"{sf}/events.parquet")
        got = hourly_trend_from_rollup(spark, sf).collect()
        want = hourly_trend(spark, sf).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        assert sum(r.order_count for r in got) == sum(r.order_count for r in want) > 0


def test_append_tx_zone_map_prunes(spark, tmp_path):
    """Append 4 hour-ranged batches with zone maps; a pruned read touches
    only the matching directory's files and equals filter-after-full-read."""
    events = load_table(spark, SF_DIR, "events").withColumn(
        "hour_bucket", F.hour("ts").cast("long")
    )
    table = str(tmp_path / "events_tx")
    for i, (lo, hi) in enumerate([(0, 5), (6, 11), (12, 17), (18, 23)]):
        chunk = events.filter(F.col("hour_bucket").between(lo, hi))
        assert txlog.append_tx(
            spark, table, chunk, batch_id=i, stats_cols=["hour_bucket"]
        )
    commit = txlog.read_commit(spark, table, txlog.latest_version(spark, table))
    assert len(commit["dirs"]) == 4
    assert all(d in commit["stats"] for d in commit["dirs"])

    pruned = txlog.read_table(spark, table, prune={"hour_bucket": (6, 11)})
    full = txlog.read_table(spark, table)
    # data skipping: only 1 of 4 directories' files reach the scan
    pruned_dirs = {f.rsplit("/", 2)[-2] for f in pruned.inputFiles()}
    full_dirs = {f.rsplit("/", 2)[-2] for f in full.inputFiles()}
    assert len(pruned_dirs) == 1 and len(full_dirs) == 4
    # pruning never changes results (callers still apply the real filter)
    got = pruned.filter(F.col("hour_bucket").between(6, 11))
    want = full.filter(F.col("hour_bucket").between(6, 11))
    assert got.exceptAll(want).count() + want.exceptAll(got).count() == 0


def test_append_tx_replay_and_missing_stats_conservative(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events").limit(500)
    table = str(tmp_path / "events_tx")
    assert txlog.append_tx(spark, table, events, batch_id=0)  # no stats_cols
    assert not txlog.append_tx(spark, table, events, batch_id=0)  # replay skips
    assert txlog.latest_version(spark, table) == 1
    # no zone map recorded -> pruned read keeps the dir (conservative)
    df = txlog.read_table(spark, table, prune={"value": (-1.0, -0.5)})
    assert df.count() == 500


def test_append_tx_all_pruned_keeps_schema(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events").limit(100).withColumn(
        "hour_bucket", F.hour("ts").cast("long")
    )
    table = str(tmp_path / "events_tx")
    assert txlog.append_tx(spark, table, events, batch_id=0, stats_cols=["hour_bucket"])
    df = txlog.read_table(spark, table, prune={"hour_bucket": (99, 100)})
    assert df.count() == 0
    assert df.columns == txlog.read_table(spark, table).columns


def test_streaming_append_tx_with_zone_maps(spark, tmp_path):
    """Structured Streaming -> foreachBatch append_tx: every micro-batch
    becomes one add-file commit with a zone map; the final snapshot equals
    the batch input, replays are no-ops, and a time-range read prunes."""
    events = load_table(spark, SF_DIR, "events").withColumn(
        "hour_bucket", F.hour("ts").cast("long")
    )
    src = str(tmp_path / "incoming")
    for i in range(3):
        events.filter(F.pmod("event_id", F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    table = str(tmp_path / "events_tx")

    def sink(batch_df, batch_id):
        txlog.append_tx(
            spark,
            table,
            batch_df,
            batch_id=batch_id,
            stats_cols=["hour_bucket"],
        )

    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = txlog.read_table(spark, table)
    assert got.count() == events.count()
    commit = txlog.read_commit(spark, table, txlog.latest_version(spark, table))
    assert len(commit["dirs"]) == 3
    assert all("hour_bucket" in commit["stats"][d] for d in commit["dirs"])
    # pruning still returns complete results for the pruned range
    pruned = txlog.read_table(spark, table, prune={"hour_bucket": (0, 3)}).filter(
        F.col("hour_bucket").between(0, 3)
    )
    want = events.filter(F.col("hour_bucket").between(0, 3))
    assert pruned.exceptAll(want).count() + want.exceptAll(pruned).count() == 0


def test_streaming_append_with_auto_compact_bounds_parts(spark, tmp_path):
    """The background-merge analog: a streaming sink that appends then
    calls auto_compact keeps the live data-dir count bounded (ClickHouse's
    "too many parts" pressure valve) while the snapshot stays equal to the
    batch input at every point."""
    events = load_table(spark, SF_DIR, "events").limit(4000).withColumn(
        "hour_bucket", F.hour("ts").cast("long")
    )
    src = str(tmp_path / "incoming")
    n_batches = 6
    for i in range(n_batches):
        events.filter(F.pmod("event_id", F.lit(n_batches)) == i).coalesce(
            1
        ).write.mode("append").parquet(src)
    table = str(tmp_path / "events_tx")

    def sink(batch_df, batch_id):
        txlog.append_tx(
            spark, table, batch_df, batch_id=batch_id, stats_cols=["hour_bucket"]
        )
        txlog.auto_compact(
            spark, table, stats_cols=["hour_bucket"], max_live_dirs=2
        )

    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    _, commit = txlog.snapshot(spark, table)
    # every batch over the threshold compacted inline: never more than
    # max_live_dirs + 1 (the append that just landed) directories live
    assert len(commit["dirs"]) <= 3, commit["dirs"]
    got = txlog.read_table(spark, table)
    assert got.count() == events.count()
    assert got.exceptAll(events).count() == 0 and events.exceptAll(got).count() == 0
    # zone maps survive the rewrite: a range read still prunes
    pruned = txlog.read_table(spark, table, prune={"hour_bucket": (3, 3)})
    assert pruned.filter(F.col("hour_bucket") == 3).count() == events.filter(
        F.hour("ts") == 3
    ).count()


def test_read_table_at_versions(spark, tmp_path):
    """Time travel: each pinned version reproduces exactly the state that
    was current at that commit; missing versions return None."""
    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog

    table = str(tmp_path / "tt")
    for i in range(3):
        df = spark.createDataFrame([(i, i * 10)], "k int, v int")
        txlog.append_tx(spark, table, df, batch_id=i)
    assert txlog.read_table_at(spark, table, 0) is None
    assert txlog.read_table_at(spark, table, 99) is None
    for v in (1, 2, 3):
        got = sorted(
            (r["k"], r["v"]) for r in txlog.read_table_at(spark, table, v).collect()
        )
        assert got == [(i, i * 10) for i in range(v)]
    # vacuum bounds retention: v1's commit (and its now-unreferenced dirs)
    # disappear, the latest survives
    txlog.vacuum(spark, table, keep_versions=1)
    assert txlog.read_table_at(spark, table, 1) is None
    assert txlog.read_table_at(spark, table, 3) is not None


def test_append_tx_bloom_prunes_point_lookup(spark, tmp_path):
    """Append 4 user-ranged batches with user_id blooms; an equality probe
    reads fewer directories and equals filter-after-full-read."""
    import hashlib

    events = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    lo, hi = events.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    span = int(hi) - int(lo) + 1
    bounds = [int(lo) + span * i // 4 for i in range(4)] + [int(hi) + 1]
    table = str(tmp_path / "events_bloom")
    for i in range(4):
        chunk = events.filter(
            (F.col("user_id") >= bounds[i]) & (F.col("user_id") < bounds[i + 1])
        )
        assert txlog.append_tx(spark, table, chunk, batch_id=i, bloom_cols=["user_id"])
    commit = txlog.read_commit(spark, table, txlog.latest_version(spark, table))
    assert all(d in commit["blooms"] for d in commit["dirs"])

    probe = int(lo)
    hashed = int(hashlib.md5(str(probe).encode()).hexdigest()[:15], 16)
    pruned = txlog.read_table(spark, table, prune_eq={"user_id": hashed})
    full = txlog.read_table(spark, table)
    pruned_dirs = {f.rsplit("/", 2)[-2] for f in pruned.inputFiles()}
    full_dirs = {f.rsplit("/", 2)[-2] for f in full.inputFiles()}
    assert len(full_dirs) == 4 and len(pruned_dirs) < 4
    got = pruned.filter(F.col("user_id") == probe)
    want = full.filter(F.col("user_id") == probe)
    assert got.exceptAll(want).count() + want.exceptAll(got).count() == 0
    # a value present in no directory may still keep FP dirs, never loses rows
    ghost = int(hashlib.md5(b"no-such-user").hexdigest()[:15], 16)
    ghosted = txlog.read_table(spark, table, prune_eq={"user_id": ghost})
    assert ghosted.filter(F.col("user_id") == -1).count() == 0


def test_read_table_merge_schema_null_fills_old_dirs(spark, tmp_path):
    """Directories appended before a column existed surface it as NULL
    under merge_schema; without merge_schema the first-dir schema wins."""
    events = load_table(spark, SF_DIR, "events").limit(2000)
    agg = hourly_rollup_aggregate(events)
    table = str(tmp_path / "evolving")
    assert txlog.append_tx(spark, table, agg.drop("total_quantity"), batch_id=0)
    assert txlog.append_tx(spark, table, agg, batch_id=1)
    merged = txlog.read_table(spark, table, merge_schema=True)
    assert "total_quantity" in merged.columns
    n = agg.count()
    assert merged.count() == 2 * n
    assert merged.filter(F.col("total_quantity").isNull()).count() == n


def test_changes_between_partitions_history_exactly(spark, tmp_path):
    """CDF slices are a partition of history: the concatenation of
    per-version changes equals the version-4 snapshot, and each slice is
    disjoint from the others (append-only lineage)."""
    events = load_table(spark, SF_DIR, "events").limit(4000)
    table = str(tmp_path / "cdf")
    for i in range(4):
        chunk = events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
        assert txlog.append_tx(spark, table, chunk, batch_id=i)
    snap = txlog.read_table_at(spark, table, 4)
    # version 0 is "no commits", so history = the v1 snapshot plus the
    # changes from v1 to the head:
    first = txlog.read_table_at(spark, table, 1)
    rest = txlog.read_changes_between(spark, table, 1, 4)
    union = first.unionByName(rest)
    assert union.count() == snap.count()
    assert union.exceptAll(snap).count() + snap.exceptAll(union).count() == 0
    # middle slice is exactly epoch 2 (commit 2 -> 3 added epoch-2 rows)
    mid = txlog.read_changes_between(spark, table, 2, 3)
    want = events.filter(F.pmod(F.col("event_id"), F.lit(4)) == 2)
    assert mid.exceptAll(want).count() + want.exceptAll(mid).count() == 0


def test_compact_tx_ranged_preserves_pruning(spark, tmp_path):
    """Plain OPTIMIZE collapses to one dir and kills data skipping; the
    range-split OPTIMIZE rewrites into quantile buckets whose zone maps
    stay tight — a time-range read still prunes AFTER compaction, and the
    table holds the same rows."""
    events = load_table(spark, SF_DIR, "events").withColumn(
        "hour_bucket", F.hour("ts").cast("long")
    ).select("event_id", "hour_bucket", "value")
    table = str(tmp_path / "ranged")
    # 4 appends that all OVERLAP in time (zone maps useless pre-compaction)
    for i in range(4):
        chunk = events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
        assert txlog.append_tx(spark, table, chunk, batch_id=i, stats_cols=["hour_bucket"])
    before = txlog.read_table(spark, table)
    pre_pruned = txlog.read_table(spark, table, prune={"hour_bucket": (1, 2)})
    assert len({f.rsplit("/", 2)[-2] for f in pre_pruned.inputFiles()}) == 4

    assert txlog.compact_tx_ranged(spark, table, "hour_bucket", n_buckets=4)
    after = txlog.read_table(spark, table)
    assert after.exceptAll(before).count() + before.exceptAll(after).count() == 0
    post_pruned = txlog.read_table(spark, table, prune={"hour_bucket": (1, 2)})
    n_dirs = len({f.rsplit("/", 2)[-2] for f in post_pruned.inputFiles()})
    assert n_dirs < 4, "range-split compaction must restore pruning"
