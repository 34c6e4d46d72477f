"""Incremental rollup maintenance — the materialized-view analog
(SURVEY.md §2.7/§3.2, §7-M5).

The reference's MVs fire per insert block and add partial-aggregate rows to
a SummingMergeTree, tolerating unboundedly late events
(/root/reference/clickhouse/init/01_init.sql:63-87).  The Spark analog:

    readStream -> normalize -> foreachBatch:
        (a) append raw micro-batch to the raw table
        (b) aggregate JUST the micro-batch and MERGE into the rollup table

State lives in the rollup *table*, not engine memory — a watermarked
stateful aggregation would drop late events (semantic divergence) and hold
unbounded state at 100 TB; table-side merge keeps memory bounded and
lateness unbounded, exactly like the MV.

``merge_rollup`` implements SummingMergeTree merge semantics: union the
batch partials with current partials and re-sum per key.  On Delta/Iceberg
this is a keyed MERGE; on plain parquet we re-aggregate the (tiny,
key-bounded) rollup table and atomically swap directories.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import dsum, to_start_of_hour
from ..sources.tables import load_table
from ..storage import fs

ROLLUP_KEYS = ["hour", "category"]

# Marker file recorded inside the rollup directory after each merged batch:
# makes foreachBatch replay (post-crash re-delivery of the same epoch)
# idempotent — an already-merged batch id is skipped instead of re-summed.
MERGE_MARKER = "_LAST_MERGED_BATCH"


def hourly_rollup_aggregate(batch: DataFrame) -> DataFrame:
    """The A1 rollup aggregation over one micro-batch of events
    (hour x category -> count/revenue/quantity over completed orders),
    identical semantics to operators.rollups.hourly_category_rollup."""
    from ..operators.rollups import category_key, completed, quantity_key

    return (
        batch.filter(completed())
        .groupBy(
            to_start_of_hour("ts").alias("hour"),
            category_key().alias("category"),
        )
        .agg(
            F.count("*").alias("order_count"),
            dsum("value").alias("total_revenue"),
            F.sum(quantity_key()).alias("total_quantity"),
        )
    )


def last_merged_batch(spark: SparkSession, rollup_dir: str) -> int | None:
    """Highest batch id already folded into the rollup (None if fresh)."""
    text = fs.read_text(spark, f"{rollup_dir}/{MERGE_MARKER}")
    return int(text) if text else None


def _rollup_fold(
    spark: SparkSession,
    rollup_dir: str,
    batch_partials: DataFrame,
    keys: list[str],
    sums: list[tuple[str, str]],
) -> DataFrame:
    """The stored rollup (if any) re-summed with the batch partials.

    The stored rollup is read with its known schema (the key types plus
    bigint/double sums), so no footer-merge job runs to infer it.  Both
    inputs are bounded by the number of keys, not by the batch's rows, so
    the fold runs in one task: ``coalesce(1)`` puts the union in a single
    partition, which already satisfies the re-aggregation's distribution —
    no exchange, and the fold and its write share one stage.  The batch's
    own partial aggregation (below the union) stays parallel."""
    sum_types = {"long": T.LongType(), "money": T.DoubleType()}
    unioned = batch_partials
    if fs.exists(spark, rollup_dir):
        key_types = {f.name: f.dataType for f in batch_partials.schema.fields}
        stored_schema = T.StructType(
            [T.StructField(k, key_types[k]) for k in keys]
            + [T.StructField(c, sum_types[kind]) for c, kind in sums]
        )
        current = spark.read.schema(stored_schema).parquet(rollup_dir)
        unioned = current.unionByName(batch_partials)
    return unioned.coalesce(1).groupBy(*keys).agg(
        *[(dsum(c) if kind == "money" else F.sum(c)).alias(c) for c, kind in sums]
    )


def merge_rollup(
    spark: SparkSession,
    rollup_dir: str,
    batch_partials: DataFrame,
    batch_id: int | None = None,
    keys: list[str] | None = None,
    sums: list[tuple[str, str]] | None = None,
) -> bool:
    """MERGE batch partials into the stored rollup (SummingMergeTree fold):
    equal-key rows re-sum; new keys append.  Directory swap through the
    Hadoop FileSystem API (HDFS/S3A/local alike), with the merged batch id
    recorded INSIDE the new directory — data and dedup state swap together,
    so replaying an epoch after a crash is a skip, not a double-count.

    ``keys``/``sums`` generalize over rollup shapes (the reference has TWO
    SummingMergeTree targets — hourly/category and daily/region); ``sums``
    maps column -> 'long'|'money' fold type.  Defaults = the A1 shape.
    The fold runs in one task (see ``_rollup_fold``): the stored rollup and
    the partials are bounded by the number of keys.

    Returns True if the batch was merged, False if skipped as a replay.
    """
    keys = keys or ROLLUP_KEYS
    sums = sums or [
        ("order_count", "long"),
        ("total_revenue", "money"),
        ("total_quantity", "long"),
    ]
    # Crash repair first: a crash between delete and rename leaves the only
    # copy of the rollup in an orphaned .swap-* dir — promote it before
    # reading state, or the merge would silently restart from empty.
    fs.recover_latest_swap(spark, rollup_dir)
    if batch_id is not None:
        seen = last_merged_batch(spark, rollup_dir)
        if seen is not None and batch_id <= seen:
            return False
    merged = _rollup_fold(spark, rollup_dir, batch_partials, keys, sums)
    tmp = fs.swap_tmp_path(rollup_dir)
    merged.write.mode("overwrite").parquet(tmp)
    if batch_id is not None:
        # Underscore-prefixed: invisible to parquet file discovery.
        fs.write_text(spark, f"{tmp}/{MERGE_MARKER}", str(batch_id))
    fs.swap_in(spark, rollup_dir, tmp)
    return True


# Session-lifetime scratch root for the incremental-rollup demo queries.
# Each invocation materializes its rollup under a fresh uuid subdirectory
# that OUTLIVES the function call, so the returned DataFrame stays a lazy
# ``spark.read.parquet`` — no driver-side collect() in the query lineage
# (round-2 verdict #3).  The whole root is swept once at process exit.
# Per-PID root: the atexit sweep below must only ever delete THIS process's
# scratch (a shared root let any exiting process — e.g. a pytest run ending
# while bench.py streams — delete files under another process's live
# FileStreamSource, killing its query with FileNotFound/basePath errors).
_INC_ROLLUP_ROOT = os.path.join(
    tempfile.gettempdir(), f"spark_graft_inc_rollups-{os.getpid()}"
)


@atexit.register
def _sweep_inc_rollup_root() -> None:
    shutil.rmtree(_INC_ROLLUP_ROOT, ignore_errors=True)


def _fresh_rollup_dir(name: str) -> str:
    d = os.path.join(_INC_ROLLUP_ROOT, f"{name}-{uuid.uuid4().hex[:8]}", name)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def incremental_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible proof of incremental-equals-batch: replay events as 4
    interleaved micro-batches (event_id mod 4 — deliberately out of time
    order, so every batch contains 'late' events) through the MERGE path,
    then return the final rollup.  The oracle is the one-shot GROUP BY: the
    invariant IS the query."""
    # persist(): the 4 epoch filters would otherwise each rescan the
    # parquet (pmod doesn't push down); one cached scan feeds all 4.
    events = load_table(spark, sf_dir, "events").persist()
    try:
        rollup_dir = _fresh_rollup_dir("sales_by_category_hourly")
        for i in range(4):
            chunk = events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
            merge_rollup(spark, rollup_dir, hourly_rollup_aggregate(chunk), batch_id=i)
        return spark.read.parquet(rollup_dir)
    finally:
        events.unpersist(blocking=False)


def incremental_daily_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SECOND MV (daily x region, 01_init.sql:77-87)
    maintained incrementally through the same MERGE machinery — replayed as
    4 out-of-time-order micro-batches; oracle = the one-shot A2 GROUP BY."""
    from ..operators.rollups import daily_region_rollup_aggregate

    events = load_table(spark, sf_dir, "events").persist()
    try:
        rollup_dir = _fresh_rollup_dir("sales_by_region_daily")
        keys = ["date", "region"]
        sums = [("order_count", "long"), ("total_revenue", "money")]
        for i in range(4):
            chunk = events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
            merge_rollup(
                spark,
                rollup_dir,
                daily_region_rollup_aggregate(chunk),
                batch_id=i,
                keys=keys,
                sums=sums,
            )
        return spark.read.parquet(rollup_dir)
    finally:
        events.unpersist(blocking=False)


def _build_txlog_rollup(spark: SparkSession, sf_dir: str) -> str:
    """Maintain the A1 rollup through the transactional table format: 4
    out-of-time-order micro-batches MERGEd via atomic log commits.
    Returns the table path."""
    from ..storage import txlog

    events = load_table(spark, sf_dir, "events").persist()
    try:
        table = _fresh_rollup_dir("sales_by_category_hourly_tx")
        for i in range(4):
            chunk = events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
            txlog.merge_rollup_tx(spark, table, hourly_rollup_aggregate(chunk), batch_id=i)
        txlog.vacuum(spark, table, keep_versions=1)
        return table
    finally:
        events.unpersist(blocking=False)


def incremental_rollup_txlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A1 incremental MERGE through the TRANSACTIONAL table format
    (storage.txlog): same 4 out-of-time-order micro-batches, but each merge
    commits atomically via the transaction log — no swap directories, no
    crash-repair pass, snapshot-isolated readers.  Oracle = the one-shot A1
    GROUP BY, same invariant as ``incremental_hourly_rollup``."""
    from ..storage import txlog

    out = txlog.read_table(spark, _build_txlog_rollup(spark, sf_dir))
    if out is None:
        raise RuntimeError("txlog rollup table unreadable")
    return out


def compacted_rollup_txlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ClickHouse SummingMergeTree lifecycle end-to-end on the txlog
    format: 4 out-of-order micro-batches APPEND their partial aggregates as
    separate O(1) add-file commits (insert creates a part), then
    ``compact_tx`` with the re-summing fold is ``OPTIMIZE TABLE ... FINAL``
    — N part directories rewrite into one, committed atomically, partials
    merged by key.  Oracle = the one-shot A1 GROUP BY, so the driver proves
    append-then-OPTIMIZE == batch aggregation."""
    from ..storage import txlog

    def resum(df: DataFrame) -> DataFrame:
        return df.groupBy(*ROLLUP_KEYS).agg(
            F.sum("order_count").alias("order_count"),
            dsum("total_revenue").alias("total_revenue"),
            F.sum("total_quantity").alias("total_quantity"),
        )

    events = load_table(spark, sf_dir, "events").persist()
    try:
        table = _fresh_rollup_dir("sales_by_category_hourly_opt")
        # 4 independent arrival epochs: stage the data dirs concurrently,
        # commit one version per batch in order (§2.6; identical commits)
        txlog.append_many_tx(
            spark,
            table,
            [
                (
                    hourly_rollup_aggregate(
                        events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
                    ),
                    i,
                )
                for i in range(4)
            ],
        )
        compacted = txlog.compact_tx(spark, table, agg=resum)
        if not compacted:
            raise RuntimeError("4 appended epochs must leave >1 dir to compact")
        txlog.vacuum(spark, table, keep_versions=1)
        out = txlog.read_table(spark, table)
        if out is None:
            raise RuntimeError("compacted txlog table unreadable")
        return out
    finally:
        events.unpersist(blocking=False)


# Stored-MV memo for accelerator reads: maintenance happens ONCE on the
# write path (first call); dashboard reads then hit the stored table only —
# that separation IS the accelerator semantics (a dashboard query does not
# rebuild the MV it reads).  Keyed on the events table's fingerprint too, so
# a table rewritten at the same path rebuilds its rollup.
_STORED_ROLLUP_MEMO: dict[tuple, str] = {}


def hourly_trend_from_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup-as-accelerator routing (SURVEY.md §4): the A8 dashboard trend
    answered from the STORED incremental rollup table — sum across
    categories of the MERGE-maintained A1 state — never touching raw
    events at read time.  The oracle is the raw-events A8 aggregation, so
    the driver proves accelerator == base table every round."""
    from ..operators._memo import table_fingerprint
    from ..storage import txlog

    key = (os.path.abspath(sf_dir), table_fingerprint(sf_dir, "events"))
    if key not in _STORED_ROLLUP_MEMO:
        _STORED_ROLLUP_MEMO[key] = _build_txlog_rollup(spark, sf_dir)
    stored = txlog.read_table(spark, _STORED_ROLLUP_MEMO[key])
    return stored.groupBy("hour").agg(
        F.sum("order_count").alias("order_count"),
        dsum("total_revenue").alias("total_revenue"),
    )


def process_ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    raw_dir: str,
    rollup_dir: str,
    aggregate=hourly_rollup_aggregate,
) -> None:
    """One foreachBatch epoch, idempotent under replay:

    (a) the raw append targets ``raw_dir/ingest_epoch=<batch_id>`` with
        overwrite — a replayed epoch rewrites its own directory instead of
        appending duplicates (the epoch id doubles as a partition column);
    (b) the rollup partials (``aggregate``) are computed from that epoch
        directory read back with the batch's schema — the batch is computed
        once, by the raw write, with no columnar cache of all its columns;
    (c) the rollup MERGE carries the batch id and is skipped if that id is
        already recorded in the rollup's marker (see ``merge_rollup``).
    """
    epoch_dir = f"{raw_dir}/ingest_epoch={batch_id}"
    batch_df.write.mode("overwrite").parquet(epoch_dir)
    stored = spark.read.schema(batch_df.schema).parquet(epoch_dir)
    merge_rollup(spark, rollup_dir, aggregate(stored), batch_id=batch_id)


def run_file_stream_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema,
    raw_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
) -> None:
    """True Structured Streaming path: file-stream source (Kafka stand-in for
    tests — identical sink logic), availableNow trigger, foreachBatch
    appending raw + MERGE-ing the rollup.  Exactly-once per epoch:
    checkpointing fixes the batch contents, and ``process_ingest_batch`` is
    idempotent per batch id (raw writes land in an epoch directory that
    replays overwrite; the merge skips already-recorded batch ids)."""

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_ingest_batch(spark, batch_df, batch_id, raw_dir, rollup_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def orders_hourly_rollup_aggregate(batch: DataFrame) -> DataFrame:
    """The reference A1 MV on the actual order schema
    (/root/reference/clickhouse/init/01_init.sql:63-74): hour x category ->
    count / revenue / quantity over completed orders.  Same output shape as
    ``hourly_rollup_aggregate`` so ``merge_rollup`` serves both."""
    return (
        batch.filter(F.col("order_status") == "completed")
        .groupBy(
            to_start_of_hour("order_timestamp").alias("hour"),
            F.col("category").alias("category"),
        )
        .agg(
            F.count("*").alias("order_count"),
            dsum("total_amount").alias("total_revenue"),
            F.sum("quantity").cast("long").alias("total_quantity"),
        )
    )


def run_wire_stream_pipeline(
    spark: SparkSession,
    source_dir: str,
    raw_dir: str,
    rollup_dir: str,
    dlq_dir: str,
    checkpoint_root: str,
) -> None:
    """The reference ingest path (SURVEY.md §3.2) end-to-end on the wire
    format: JSON lines stream -> parse with dead-letter split -> normalize
    -> streaming exact dedup -> foreachBatch (raw epoch append + rollup
    MERGE), with the quarantine side written by its own streaming query.

    Two queries, two checkpoints — the standard shape for a stream that
    splits into sinks with different semantics (stateful dedup on the main
    path; plain append on the DLQ).  File-stream source stands in for the
    Kafka reader (sources.kafka) with identical downstream logic.

    Each main-query batch is handled by ``process_ingest_batch``: the raw
    epoch write is the one pass over the parsed batch, and the rollup
    partials are aggregated from that epoch directory read back.
    """
    from ..operators.normalize import normalize_orders, parse_wire_with_dlq

    raw_stream = spark.readStream.option("maxFilesPerTrigger", 1).text(source_dir)
    ok, dlq = parse_wire_with_dlq(raw_stream)
    deduped = dedup_orders_stream(normalize_orders(ok))

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_ingest_batch(
            spark, batch_df, batch_id, raw_dir, rollup_dir, orders_hourly_rollup_aggregate
        )

    main_q = (
        deduped.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", f"{checkpoint_root}/main")
        .trigger(availableNow=True)
        .start()
    )
    dlq_q = (
        dlq.writeStream.format("parquet")
        .option("path", dlq_dir)
        .option("checkpointLocation", f"{checkpoint_root}/dlq")
        .trigger(availableNow=True)
        .start()
    )
    main_q.awaitTermination()
    dlq_q.awaitTermination()


def dedup_orders_stream(orders: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup (SURVEY.md §2.9): drop re-delivered order ids
    within the watermark horizon via ``dropDuplicatesWithinWatermark`` —
    the at-least-once-to-effectively-once repair for the wire path (the
    generator's 90k order-id space plants real collisions, FIXTURES.md §1).

    Scale note: state is keyed by order_id but EXPIRES with the watermark,
    unlike ``dropDuplicates`` whose state grows without bound on a stream —
    at 100 TB/day that difference is the job surviving the week."""
    return orders.withWatermark("order_timestamp", watermark).dropDuplicatesWithinWatermark(
        ["order_id"]
    )


def with_observed_metrics(df: DataFrame, observation=None, name: str = "ingest_metrics") -> DataFrame:
    """A4 parity: the producer/consumer live counters
    (/root/reference/producers/sales_producer.py:150-153,181-186;
    /root/reference/consumers/kafka_to_clickhouse.py:36-41,140-147) as
    ``observe`` metrics — per-epoch row count / revenue sum / avg order
    value, surfaced through QueryProgress or ``Observation`` without a
    second pass over the data."""
    return df.observe(
        observation if observation is not None else name,
        F.count(F.lit(1)).alias("rows"),
        F.sum("value").alias("revenue"),
        F.avg("value").alias("avg_value"),
    )


def join_orders_with_acks(
    orders: DataFrame,
    acks: DataFrame,
    max_ack_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join (SURVEY.md §2.7 [EXT] — the reference has
    no stream joins): orders matched to their acknowledgement events by key
    within a bounded event-time range.

    The time-range predicate + watermarks are what make this scale: state
    for each side is purged once the watermark passes the join window, so
    join state is O(rate x window), not O(stream).  An unbounded-condition
    stream-stream join would accumulate state forever — Spark rejects it in
    append mode for exactly that reason.
    """
    o = orders.select(
        F.col("order_id").alias("o_order_id"),
        F.col("order_timestamp"),
        F.col("total_amount"),
    ).withWatermark("order_timestamp", watermark)
    a = acks.select(
        F.col("order_id").alias("a_order_id"),
        F.col("ack_timestamp"),
        F.col("ack_status"),
    ).withWatermark("ack_timestamp", watermark)
    cond = (
        (F.col("o_order_id") == F.col("a_order_id"))
        & (F.col("ack_timestamp") >= F.col("order_timestamp"))
        & (F.col("ack_timestamp") <= F.col("order_timestamp") + F.expr(f"INTERVAL {max_ack_delay}"))
    )
    return o.join(a, cond).select(
        F.col("o_order_id").alias("order_id"),
        "order_timestamp",
        "ack_timestamp",
        "ack_status",
        "total_amount",
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, session_revenue double"
)
SESSION_STATE_SCHEMA = "start long, last long, n long, revenue double"
SESSION_GAP_SEC = 1800


def _fold_session_segments(ts_us, vals, state, gap_us):
    """The vectorized per-user sessionization fold: given a SORTED batch
    (event micros, values) and the carried open session (or None),
    return ``(emitted_sessions, new_open_session)`` where each session is
    (start_us, last_us, n_events, revenue).

    Numpy shape: after the sort the running session end is the running
    max of (state's last, previous ts), so gap breaks fall out of one
    array subtract and each session is a reduceat segment.  Extracted
    from the applyInPandasWithState closure so the equivalence with the
    obvious per-event loop is property-testable (tests/test_properties)."""
    import numpy as np

    n_rows = len(ts_us)
    if state is not None:
        s_start, s_last, s_n, s_rev = state
        prev = np.empty(n_rows, dtype=np.int64)
        prev[0] = s_last
        if n_rows > 1:
            # Cross-batch late arrival may have ts <= state's last (the
            # batch is sorted, the stream is not): max() folds it in
            # without moving the session end BACKWARDS — a receding
            # `last` could place the timeout at/below the current
            # watermark, which Spark rejects at runtime.
            np.maximum(s_last, ts_us[:-1], out=prev[1:])
        breaks = (ts_us - prev) > gap_us
    else:
        breaks = np.zeros(n_rows, dtype=bool)
        if n_rows > 1:
            breaks[1:] = (ts_us[1:] - ts_us[:-1]) > gap_us
    # Row 0 always begins segment 0 (breaks[0] signals the CARRIED
    # session's closure, not a segment boundary — including it would
    # fabricate an empty [0,0) segment).
    starts_idx = np.flatnonzero(breaks[1:]) + 1
    seg_begin = np.concatenate(([0], starts_idx))
    seg_end = np.concatenate((starts_idx, [n_rows]))
    seg_n = (seg_end - seg_begin).astype(np.int64)
    seg_rev = np.add.reduceat(vals, seg_begin)
    seg_start = ts_us[seg_begin]  # sorted -> segment min is its first row
    seg_last = ts_us[seg_end - 1]
    sessions = [
        (int(seg_start[i]), int(seg_last[i]), int(seg_n[i]), float(seg_rev[i]))
        for i in range(len(seg_begin))
    ]
    if state is not None:
        if breaks[0]:
            # First batch event opens a NEW session -> the carried
            # session closes as-is.
            sessions.insert(0, (s_start, s_last, s_n, s_rev))
        else:
            # Carried session continues into segment 0; an early
            # straggler may still widen the session start.
            f_start, f_last, f_n, f_rev = sessions[0]
            sessions[0] = (
                min(s_start, f_start),
                max(s_last, f_last),
                s_n + f_n,
                s_rev + f_rev,
            )
    return sessions[:-1], sessions[-1]


def streaming_sessionize(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY.md §2.7 — the (flat)MapGroupsWithState slot): gap-based
    sessionization with per-user state and event-time timeouts.

    State per user is one open session (start, last, n, revenue) — O(1)
    per key, expired by the watermark clock, which is what keeps state
    bounded on an unbounded stream (the whole reason this beats collecting
    per-user event lists).  A session closes and emits when (a) a new event
    arrives past the gap, or (b) the event-time timeout fires because the
    watermark passed last_ts + gap.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    us = 1_000_000

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, revenue = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(last, unit="us")],
                    "n_events": [n],
                    "session_revenue": [revenue],
                }
            )
            return
        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_us = (rows["ts"].astype("int64") // 1000).to_numpy()  # ns -> us
        vals = rows["value"].to_numpy()
        carried = tuple(state.get) if state.exists else None
        out, (start, last, n, revenue) = _fold_session_segments(
            ts_us, vals, carried, SESSION_GAP_SEC * us
        )
        state.update((start, last, n, revenue))
        # Timeout strictly above the current watermark (Spark requirement);
        # a session whose gap horizon is already past fires next epoch.
        timeout_ms = (last // 1000) + SESSION_GAP_SEC * 1000
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _, _ in out],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _, _ in out],
                    "n_events": [n_ for _, _, n_, _ in out],
                    "session_revenue": [r for _, _, _, r in out],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def windowed_stateful_rollup(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """The *alternative* MV strategy: engine-state tumbling-window
    aggregation with a watermark.  Late events beyond the watermark are
    DROPPED — a semantic divergence from the reference's
    unbounded-lateness MVs (SURVEY.md §2.7), which is why the MERGE path
    (merge_rollup) is the default; this exists for pipelines that prefer
    bounded engine state over table-side merge."""
    from ..operators.rollups import category_key, completed, quantity_key

    return (
        events.withWatermark("ts", watermark)
        .filter(completed())
        .groupBy(F.window("ts", "1 hour").alias("win"), category_key().alias("category"))
        .agg(
            F.count("*").alias("order_count"),
            dsum("value").alias("total_revenue"),
            F.sum(quantity_key()).alias("total_quantity"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "category",
            "order_count",
            "total_revenue",
            "total_quantity",
        )
    )


def windowed_ohlc(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming daily OHLC bars: tumbling 1-day windows with
    value-at-extremum struct aggregates — the candlestick MV as
    engine-state streaming.  Struct min/max states are merge-associative
    (the argminmax discipline), so cross-batch merges are exact; a
    window finalizes when the watermark passes its end."""
    by_time = F.struct("ts", "event_id", "value")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(
            F.min(by_time).alias("first_ev"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(by_time).alias("last_ev"),
            F.count("*").alias("volume"),
            dsum("value").alias("turnover"),
        )
        .select(
            F.col("win.start").cast("date").alias("day"),
            F.col("first_ev.value").alias("open"),
            "high",
            "low",
            F.col("last_ev.value").alias("close"),
            F.col("volume").cast("long").alias("volume"),
            "turnover",
        )
    )


def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated streaming OHLC (the candlestick MV next to
    ``stream_windowed_rollup_events``): replay events time-ordered
    through ``windowed_ohlc`` and return the daily bars the stream
    FINALIZED.  Append mode emits a window exactly when the watermark
    passes its end, so the emitted set is batch-predictable — the batch
    ``daily_ohlc_bars`` restricted to days with day + 1d <= max_ts - 2h
    — and every measure (struct-extremum open/close, extrema, count,
    decimal turnover) is exact, no tolerance anywhere.  The proof this
    adds over the rollup MV: ORDER-SENSITIVE aggregates (first/last by
    time) survive cross-batch state merges bit-exactly."""
    name = _replay_events_stream(spark, sf_dir, windowed_ohlc, "ohlc")
    return spark.sql(
        f"SELECT day, open, high, low, close, volume, turnover FROM {name}"
    )


def stream_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated end-to-end run of the stateful streaming sessionizer
    (SURVEY.md §2.7 ST4): replay ``events`` as 4 TIME-ORDERED micro-batch
    files through ``streaming_sessionize`` (applyInPandasWithState,
    event-time timeouts) and return every session the stream EMITTED.

    The emitted set is deterministic and batch-predictable, which is what
    makes this oracle-checkable rather than rows-only:

    - a session closed by ARRIVAL (a later same-user event past the gap)
      emits always — that is every session except each user's last;
    - a user's LAST session emits iff its event-time timeout fired, i.e.
      final watermark (global max ts - 30 min delay) passed
      session_end + 30 min gap.

    Replay-harness notes (not the operator's cost): chunk boundaries are
    fixed timestamps from one min/max aggregate (map-only filters, no
    global sort); chunks are written in ascending time order so the
    watermark only moves forward (the no-late-data invariant the oracle
    needs); session_revenue rounds to 6 because the stream folds floats
    in arrival order while the oracle sums decimals — same accepted
    round-6 equivalence as the ANN cosine family."""
    name = _replay_events_stream(spark, sf_dir, streaming_sessionize, "sessionize")
    return spark.sql(
        f"SELECT user_id, session_start, session_end, n_events,"
        f" round(session_revenue, 6) AS session_revenue FROM {name}"
    )


# Deterministic replay source files, written once per (session, sf_dir):
# events chunks keyed by sf_dir path, orders/acks pairs by ("ssjoin", path).
_REPLAY_SRC_MEMO: dict = {}


def _replay_events_stream(spark: SparkSession, sf_dir: str, op, prefix: str) -> str:
    """Shared replay harness for driver-gated streaming queries: write
    ``events`` as 2 TIME-ORDERED chunk files, run ``op`` (stream ->
    stream transform) through an availableNow memory sink, return the
    sink's view name.

    Two time-split chunks: every micro-batch is a full stateful pass
    (state-store open + Arrow round-trip per partition), so the replay
    uses the minimum batch count that still exercises cross-batch state
    handoff — 2 data batches + the final watermark-advance batch.
    Sequential writes -> ascending file mtimes = replay order.

    The chunk FILES are deterministic per sf_dir, so they write once per
    session (_REPLAY_SRC_MEMO); the stream itself — checkpoint, state,
    sink — runs fresh every call, so the measured cost stays the real
    streaming cost."""
    import datetime as _dt

    run = uuid.uuid4().hex[:8]
    d = os.path.join(_INC_ROLLUP_ROOT, f"{prefix}-{run}")
    ckpt, name = os.path.join(d, "ckpt"), f"{prefix}_{run}"
    key = os.path.abspath(sf_dir)
    memo = _REPLAY_SRC_MEMO.get(key)
    src = memo["src"] if memo else None
    if src is None:
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "value", "props", "event_type"
        ).persist()  # each chunk write filters this one cached scan
        lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
        mid = lo + ((hi - lo) or _dt.timedelta(seconds=1)) / 2
        src = os.path.join(_INC_ROLLUP_ROOT, f"replay-src-{run}", "events")
        try:
            for chunk in (
                events.filter(F.col("ts") < F.lit(mid)),
                events.filter(F.col("ts") >= F.lit(mid)),
            ):
                chunk.coalesce(1).write.mode("append").parquet(src)
        finally:
            events.unpersist(blocking=False)
        # Memoize schema + row count WITH the path (r14 optimization):
        # they are properties of the just-written immutable chunk files,
        # and re-deriving them per call costs a schema inference plus a
        # count job for every streaming proof in the session.
        memo = {
            "src": src,
            "schema": spark.read.parquet(src).schema,
            "n_events": spark.read.parquet(src).count(),
        }
        _REPLAY_SRC_MEMO[key] = memo
    stream = spark.readStream.schema(memo["schema"]).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    # State-partition count is fixed at stream START (it shapes the state
    # store layout for the query's lifetime), so size it to the replay
    # volume: each partition costs a state-store open + Arrow round-trip
    # PER MICRO-BATCH, and 32 partitions for a bounded replay pays ~2x the
    # stream time in fixed overhead (measured).  A production deployment
    # makes exactly this sizing call when provisioning the job.
    n_events = memo["n_events"]
    parts = str(max(8, n_events // 50_000))
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    q.awaitTermination()
    return name


def stream_windowed_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated run of the WATERMARKED tumbling-window aggregation
    (SURVEY.md §2.7 ST1 — the engine-state MV strategy next to the
    table-side MERGE): replay events time-ordered through
    ``windowed_stateful_rollup`` and return the hourly windows the stream
    FINALIZED.  In append mode a window emits exactly when the watermark
    passes its end, so the emitted set is batch-predictable: the A1
    rollup restricted to hours with hour + 1h <= max_ts - 2h (the final
    watermark).  Everything is count/decimal arithmetic — no float
    tolerance at all."""
    name = _replay_events_stream(spark, sf_dir, windowed_stateful_rollup, "winroll")
    return spark.sql(
        f"SELECT hour, category, order_count, total_revenue, total_quantity"
        f" FROM {name}"
    )


# Append-table memo for the time-travel query: versions must SURVIVE the
# call (no vacuum), so the table builds once per (session, sf_dir) and
# every read — current or historical — hits the stored log.
_APPEND_TABLE_MEMO: dict[str, str] = {}


def _build_txlog_append_table(spark: SparkSession, sf_dir: str) -> str:
    """4 out-of-order micro-batches APPENDed as O(1) add-file commits
    (versions 1..4), NO compaction and NO vacuum — the full version
    history stays readable."""
    from ..storage import txlog

    key = os.path.abspath(sf_dir)
    if key not in _APPEND_TABLE_MEMO:
        events = load_table(spark, sf_dir, "events").persist()
        try:
            table = _fresh_rollup_dir("sales_by_category_hourly_hist")
            txlog.append_many_tx(
                spark,
                table,
                [
                    (
                        hourly_rollup_aggregate(
                            events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
                        ),
                        i,
                    )
                    for i in range(4)
                ],
            )
            _APPEND_TABLE_MEMO[key] = table
        finally:
            events.unpersist(blocking=False)
    return _APPEND_TABLE_MEMO[key]


def txlog_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``RESTORE TABLE ... VERSION AS OF`` end-to-end: build a FRESH
    4-epoch append table (the shared builder's table must keep its
    history for the time-travel query, so restore gets its own), roll it
    back to version 2 via ``txlog.restore_tx`` — a metadata-only commit
    pointing at version 2's directories; epochs 3-4 stay on disk as
    history — and return the CURRENT-snapshot rollup after the restore.
    The oracle is the A1 aggregate over only epochs 0-1's events, so the
    row proves the rollback made the historical state current (and that
    the restore commit, not a data rewrite, is what readers see).

    Scale shape: restore cost is one manifest read + one O(1) commit —
    independent of table size (the Delta RESTORE contract)."""
    from ..storage import txlog

    key = os.path.abspath(sf_dir)
    if key not in _RESTORE_TABLE_MEMO:
        events = load_table(spark, sf_dir, "events").persist()
        try:
            table = _fresh_rollup_dir("sales_by_category_hourly_restore")
            txlog.append_many_tx(
                spark,
                table,
                [
                    (
                        hourly_rollup_aggregate(
                            events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
                        ),
                        i,
                    )
                    for i in range(4)
                ],
            )
            new_v = txlog.restore_tx(spark, table, 2)
            if new_v != 5:
                raise RuntimeError(f"restore must commit version 5, got {new_v}")
            _RESTORE_TABLE_MEMO[key] = table
        finally:
            events.unpersist(blocking=False)
    out = txlog.read_table(spark, _RESTORE_TABLE_MEMO[key])
    if out is None:
        raise RuntimeError("restored table unreadable")
    return out.groupBy(*ROLLUP_KEYS).agg(
        F.sum("order_count").alias("order_count"),
        dsum("total_revenue").alias("total_revenue"),
        F.sum("total_quantity").alias("total_quantity"),
    )


_RESTORE_TABLE_MEMO: dict[str, str] = {}


def table_parts_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``system.parts`` — the ClickHouse introspection surface every
    MergeTree operator watches (part counts, rows, key ranges per part) —
    over the engine's txlog tables: the append table's current snapshot
    is read COMMIT-ORDER (the manifest's dirs list), and each part
    reports its row count, contained order volume, and hour key range.
    The oracle derives the same facts independently from raw events per
    appended epoch (event_id % 4), proving the manifest's parts hold
    exactly the appended data — no loss, no duplication, correct order.

    Scale shape: the report is one union scan over the snapshot's named
    directories grouped by a part-sequence literal — O(parts) metadata +
    one aggregate; no log replay, no full-table sort."""
    from ..storage import txlog

    table = _build_txlog_append_table(spark, sf_dir)
    _, commit = txlog.snapshot(spark, table)
    if commit is None:
        raise RuntimeError("append table must have a committed snapshot")
    frames = [
        spark.read.parquet(f"{table}/{rel}").select(
            F.lit(i).cast("long").alias("part_seq"), "hour", "order_count"
        )
        for i, rel in enumerate(commit["dirs"], 1)
    ]
    allp = frames[0]
    for f2 in frames[1:]:
        allp = allp.unionByName(f2)
    return allp.groupBy("part_seq").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("order_count").cast("long").alias("n_orders"),
        F.min("hour").alias("min_hour"),
        F.max("hour").alias("max_hour"),
    )


def txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (Delta's VERSION AS OF) through the driver
    gate: read the append table AS OF version 2 — when only epochs 0 and 1
    had committed — and re-sum its partials.  The oracle is the one-shot
    A1 aggregation over ONLY those epochs' events (event_id % 4 in (0,1)),
    so the row proves historical reads reconstruct exactly the state that
    was current then, not a mixture.

    Commits are immutable full-snapshot manifests, so the historical read
    is O(1) metadata + the named directories — no log replay."""
    from ..storage import txlog

    table = _build_txlog_append_table(spark, sf_dir)
    at_v2 = txlog.read_table_at(spark, table, 2)
    if at_v2 is None:
        raise RuntimeError("version 2 must exist in the un-vacuumed log")
    return at_v2.groupBy(*ROLLUP_KEYS).agg(
        F.sum("order_count").alias("order_count"),
        dsum("total_revenue").alias("total_revenue"),
        F.sum("total_quantity").alias("total_quantity"),
    )


def txlog_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM through the driver gate (completing the txlog lifecycle
    family next to time-travel and the changes feed): 4 appended epochs,
    then ``vacuum(keep_versions=2)`` — and the proof that vacuum
    reclaims history WITHOUT touching the present: the post-vacuum read
    re-aggregates to the exact category totals (oracle-checked against
    raw events), dirs + old commit files were actually deleted, and
    time travel beyond the retention horizon is now (correctly)
    impossible while the newest in-horizon version still reads.

    At 100 TB vacuum is what bounds storage: commits are immutable
    full-snapshot manifests, so every superseded epoch directory lives
    until vacuum collects it."""
    from ..storage import txlog

    events = load_table(spark, sf_dir, "events").persist()
    try:
        table = _fresh_rollup_dir("vacuum_proof")
        txlog.append_many_tx(
            spark,
            table,
            [
                (
                    hourly_rollup_aggregate(
                        events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
                    ),
                    i,
                )
                for i in range(4)
            ],
        )
        deleted = txlog.vacuum(spark, table, keep_versions=2)
        if not deleted:
            raise RuntimeError("vacuum must reclaim the 2 out-of-horizon epochs")
        stored = txlog.read_table(spark, table)
        if stored is None:
            raise RuntimeError("post-vacuum table unreadable")
        beyond_horizon_gone = txlog.read_table_at(spark, table, 1) is None
        in_horizon = txlog.read_table_at(spark, table, 3)
        return (
            stored.groupBy("category")
            .agg(
                F.sum("order_count").cast("long").alias("order_count"),
                dsum("total_revenue").alias("total_revenue"),
            )
            .withColumn("history_beyond_horizon_gone", F.lit(beyond_horizon_gone))
            .withColumn("in_horizon_version_readable", F.lit(in_horizon is not None))
        )
    finally:
        events.unpersist(blocking=False)


def stream_join_orders_acks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated stream-stream join (SURVEY.md §2.7): ``orders``
    replayed against a DERIVED acknowledgement stream through
    ``join_orders_with_acks`` — key equality + bounded event-time range.
    Half the acks land inside the 1-hour window (+10 min, selected by the
    engine-portable md5 hash), half outside (+3 h), so the emitted set is
    falsifiable in both directions and the oracle is the equivalent batch
    range-join with the same hash split.

    The inner join's emitted pairs equal the batch join exactly (append
    mode emits matches as they occur; the watermark only bounds state),
    which is what makes this oracle-checkable.  Stream mechanics under
    test: per-side watermarks, the range condition that lets Spark purge
    join state at watermark - window, and append-mode match emission."""
    from ..functions.hashing import stable_hash64

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderdate").cast("timestamp").alias("order_timestamp"),
        F.col("o_totalprice").alias("total_amount"),
    )
    in_window = F.pmod(stable_hash64(F.col("order_id").cast("string")), F.lit(2)) == 0
    acks = orders.select(
        "order_id",
        F.when(in_window, F.col("order_timestamp") + F.expr("INTERVAL 10 MINUTES"))
        .otherwise(F.col("order_timestamp") + F.expr("INTERVAL 3 HOURS"))
        .alias("ack_timestamp"),
        F.lit("ok").alias("ack_status"),
    )
    run = uuid.uuid4().hex[:8]
    d = os.path.join(_INC_ROLLUP_ROOT, f"ssjoin-{run}")
    ckpt, name = os.path.join(d, "ckpt"), f"ssjoin_{run}"
    # Deterministic source files write once per (session, sf_dir); the
    # stream (checkpoint, join state, sink) runs fresh every call.
    key = ("ssjoin", os.path.abspath(sf_dir))
    if key not in _REPLAY_SRC_MEMO:
        o_src = os.path.join(_INC_ROLLUP_ROOT, f"ssjoin-src-{run}", "orders")
        a_src = os.path.join(_INC_ROLLUP_ROOT, f"ssjoin-src-{run}", "acks")
        orders.coalesce(1).write.parquet(o_src)
        acks.coalesce(1).write.parquet(a_src)
        _REPLAY_SRC_MEMO[key] = (o_src, a_src)
    o_src, a_src = _REPLAY_SRC_MEMO[key]
    o_stream = spark.readStream.schema(orders.schema).parquet(o_src)
    a_stream = spark.readStream.schema(acks.schema).parquet(a_src)
    # Stream-stream join keeps FOUR state stores per partition (2 sides x
    # keyToNumValues/keyWithIndexToValue); at 32 shuffle partitions that is
    # 128 store opens+commits per micro-batch for a bounded replay — size
    # the state layout to the replay volume like _replay_events_stream does.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            join_orders_with_acks(o_stream, a_stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    q.awaitTermination()
    return spark.sql(
        f"SELECT order_id, order_timestamp, ack_timestamp, ack_status,"
        f" total_amount FROM {name}"
    )


# Time-chunked append table for the zone-map skipping proof: (path, b1, b2)
# per (session, sf_dir), where [b1, b2) is the second epoch-hour quarter.
_PRUNED_TABLE_MEMO: dict[str, tuple[str, int, int]] = {}


def _build_time_chunked_txlog(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    """Append the A1 rollup as 4 TIME-RANGE chunks (disjoint epoch-hour
    quarters) with `hour_epoch` zone maps — the layout where data skipping
    has something to skip (the mod-4 chunks of the other txlog queries all
    overlap in time, so their zone maps overlap too)."""
    from ..storage import txlog

    key = os.path.abspath(sf_dir)
    if key not in _PRUNED_TABLE_MEMO:
        agg = hourly_rollup_aggregate(load_table(spark, sf_dir, "events")).withColumn(
            "hour_epoch", F.expr("unix_seconds(hour) DIV 3600")
        ).persist()
        try:
            mn, mx = agg.agg(F.min("hour_epoch"), F.max("hour_epoch")).collect()[0]
            span = int(mx) - int(mn) + 1
            bounds = [int(mn) + span * i // 4 for i in range(5)]
            bounds[4] = int(mx) + 1
            table = _fresh_rollup_dir("sales_hourly_timechunked")
            txlog.append_many_tx(
                spark,
                table,
                [
                    (
                        agg.filter(
                            (F.col("hour_epoch") >= bounds[i])
                            & (F.col("hour_epoch") < bounds[i + 1])
                        ),
                        i,
                    )
                    for i in range(4)
                ],
                stats_cols=["hour_epoch"],
            )
            _PRUNED_TABLE_MEMO[key] = (table, bounds[1], bounds[2])
        finally:
            agg.unpersist(blocking=False)
    return _PRUNED_TABLE_MEMO[key]


def txlog_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping through the driver gate: a time-range query
    over the time-chunked append table reads WITH the commit-recorded
    zone maps (``read_table(prune=...)`` — only overlapping directories
    are even listed, Delta/Iceberg-style) plus the real filter.  The
    oracle is the A1 rollup restricted to the same epoch-hour quarter, so
    the row proves pruning changes the scan set and never the answer;
    the plan test pins that exactly 1 of 4 directories is read."""
    from ..storage import txlog

    table, b1, b2 = _build_time_chunked_txlog(spark, sf_dir)
    df = txlog.read_table(spark, table, prune={"hour_epoch": (b1, b2 - 1)})
    return (
        df.filter((F.col("hour_epoch") >= b1) & (F.col("hour_epoch") < b2))
        .select("hour", "category", "order_count", "total_revenue", "total_quantity")
    )


def explain_estimate_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``EXPLAIN ESTIMATE`` analog (NEW r11): the parts/rows
    a range query WOULD touch, answered METADATA-ONLY — commit-recorded
    zone maps pick the directories, parquet footers supply their row
    counts; no data file is opened for the estimate (the planner card a
    100 TB operator reads before running anything).  ``exact_rows``
    rides the proven pruned read next to it, so every card row also
    re-proves estimate >= exact (containment) — and the deliberately
    UNALIGNED ``mid_straddle`` predicate makes the overshoot branch
    falsifiable: it clips two chunks mid-range, so its estimate must
    exceed its exact count (pytest-pinned), while the chunk-aligned
    ``q2`` estimate is tight.

    The oracle reproduces the estimate INDEPENDENTLY from raw events:
    the chunk assignment is the deterministic quarter arithmetic of
    ``_build_time_chunked_txlog``, chunk zone maps are per-chunk
    min/max, and the same integer predicate bounds are derived in SQL.

    Scale shape: the estimate is O(dirs) driver metadata; the exact
    legs are 3 bounded pruned reads of the rollup table."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    from ..storage import txlog

    table, b1, b2 = _build_time_chunked_txlog(spark, sf_dir)
    _, commit = txlog.snapshot(spark, table)
    stats = commit["stats"]
    dirs = []
    for d in commit["dirs"]:
        zm = stats.get(d, {}).get("hour_epoch")
        if zm is None:  # a chunk with no stats (empty quarter at a
            continue  # degenerate SF) has no zone map to estimate from
        filesystem, fs_path = pafs.FileSystem.from_uri(f"{table}/{d}")
        rows = 0
        for info in filesystem.get_file_info(
            pafs.FileSelector(fs_path, recursive=True)
        ):
            if info.path.endswith(".parquet"):
                rows += pq.read_metadata(
                    info.path, filesystem=filesystem
                ).num_rows
        dirs.append((int(zm[0]), int(zm[1]), rows))
    mn = min(z[0] for z in dirs)
    mx = max(z[1] for z in dirs)
    preds = [
        ("q2", b1, b2 - 1),  # chunk-aligned: estimate is tight
        ("mid_straddle", (b1 + b2) // 2, b2 + (b2 - b1) // 2),  # clips 2 chunks
        ("all", mn, mx),
    ]
    out = []
    for label, lo, hi in preds:
        hit = [(zmin, zmax, r) for zmin, zmax, r in dirs if zmax >= lo and zmin <= hi]
        exact = (
            txlog.read_table(spark, table, prune={"hour_epoch": (lo, hi)})
            .filter((F.col("hour_epoch") >= lo) & (F.col("hour_epoch") <= hi))
            .count()
        )
        est_rows = sum(r for _, _, r in hit)
        out.append((label, len(hit), est_rows, exact, est_rows >= exact))
    return spark.createDataFrame(
        out,
        "predicate string, est_dirs long, est_rows long,"
        " exact_rows long, est_is_superset boolean",
    )


# Z-ordered orders txlog per (session-run, sf_dir): table path memo.
_ZORDER_TABLE_MEMO: dict[str, str] = {}

# Fixed predicate windows (absolute, so the oracle is plain SQL at any
# SF): a low-custkey slice x a mid-price band.  Non-empty from sf0.001 up.
_ZO_CK = (10, 60)
_ZO_TP = (50_000.0, 150_000.0)


def _build_zorder_txlog(spark: SparkSession, sf_dir: str) -> str:
    """Orders as a txlog table, appended in 2 arrival-order commits (zone
    maps on both query columns are full-span — nothing prunable), then
    OPTIMIZE ZORDER BY (o_custkey, o_totalprice): 8 directories ordered
    by the interleaved equi-depth ranks, each with a TIGHT zone map on
    both columns."""
    from ..storage import txlog

    key = os.path.abspath(sf_dir)
    if key not in _ZORDER_TABLE_MEMO:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        table = _fresh_rollup_dir("orders_zorder")
        txlog.append_many_tx(
            spark,
            table,
            [
                (orders.filter(F.pmod(F.col("o_orderkey"), F.lit(2)) == i), i)
                for i in range(2)
            ],
            stats_cols=["o_custkey", "o_totalprice"],
        )
        txlog.compact_tx_zorder(
            spark, table, ["o_custkey", "o_totalprice"], n_buckets=8, levels=8
        )
        _ZORDER_TABLE_MEMO[key] = table
    return _ZORDER_TABLE_MEMO[key]


def txlog_zorder_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column data skipping through the driver gate (the Delta
    OPTIMIZE ZORDER analog — ``storage/txlog.compact_tx_zorder``): a
    two-predicate query (customer slice AND price band) over the
    Z-ordered orders txlog reads with BOTH columns' commit-recorded zone
    maps, so directories disjoint from either window are never listed —
    one clustered layout serving two predicate dimensions, which is what
    multi-column clustering buys at 100 TB over a single-column sort.
    The oracle is the same aggregate over raw orders; pruning must
    change the scan set, never the answer (the r7 edge test pins that
    each single-column prune alone skips directories)."""
    from ..storage import txlog

    table = _build_zorder_txlog(spark, sf_dir)
    df = txlog.read_table(
        spark, table, prune={"o_custkey": _ZO_CK, "o_totalprice": _ZO_TP}
    )
    return (
        df.filter(
            (F.col("o_custkey") >= _ZO_CK[0])
            & (F.col("o_custkey") <= _ZO_CK[1])
            & (F.col("o_totalprice") >= _ZO_TP[0])
            & (F.col("o_totalprice") <= _ZO_TP[1])
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated streaming dedup (SURVEY.md §2.7 ST3 — the
    exactly-once guarantee the reference's at-least-once Kafka consumer
    lacks): replay events WITH INJECTED DUPLICATES (every 50th event
    appears twice, the redelivery a crashed producer/consumer causes) and
    drop them in-stream via ``dropDuplicatesWithinWatermark`` keyed on
    event_id.  Emitted rows == the original distinct events, so the
    oracle is just the events table — and the planted duplicates make the
    row falsifiable: a broken dedup emits extras and hash-mismatches.

    State shape: one key per event_id inside the watermark horizon —
    bounded by rate x watermark, the only state a 100 TB stream can
    afford (a global dropDuplicates would hold every id ever seen)."""
    import datetime as _dt

    run = uuid.uuid4().hex[:8]
    d = os.path.join(_INC_ROLLUP_ROOT, f"sdedup-{run}")
    ckpt, name = os.path.join(d, "ckpt"), f"sdedup_{run}"
    key = ("sdedup", os.path.abspath(sf_dir))
    if key not in _REPLAY_SRC_MEMO:
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "value"
        ).persist()
        dupes = events.filter(F.pmod(F.col("event_id"), F.lit(50)) == 0)
        with_dupes = events.unionByName(dupes)
        lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
        mid = lo + ((hi - lo) or _dt.timedelta(seconds=1)) / 2
        src = os.path.join(_INC_ROLLUP_ROOT, f"sdedup-src-{run}", "events")
        try:
            for chunk in (
                with_dupes.filter(F.col("ts") < F.lit(mid)),
                with_dupes.filter(F.col("ts") >= F.lit(mid)),
            ):
                chunk.coalesce(1).write.mode("append").parquet(src)
        finally:
            events.unpersist(blocking=False)
        # schema memoized with the path: immutable chunk files, and the
        # per-call re-inference is a driver footer pass (r14 optimization)
        _REPLAY_SRC_MEMO[key] = (src, spark.read.parquet(src).schema)
    src, schema = _REPLAY_SRC_MEMO[key]
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    deduped = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    # Same state-partition sizing call as _replay_events_stream: each
    # partition is a store open+commit per micro-batch of the bounded replay.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    q.awaitTermination()
    return spark.sql(f"SELECT event_id, ts, user_id, value FROM {name}")


def running_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running lifetime totals through Spark 4's arbitrary
    stateful processing — ``transformWithStateInPandas`` (typed state
    handles, RocksDB-backed, timer support) where the runtime supports it,
    with an ``applyInPandasWithState`` implementation of the IDENTICAL
    semantics as the portable path.

    The transformWithState Python worker speaks protobuf to the JVM state
    server; in environments without ``google.protobuf`` (this container)
    the query would crash at start, so the API choice is gated on an
    import probe — the operator's *semantics* are engine-checked either
    way (same driver oracle), and the TWS branch follows the public API
    shape for deployments that have the dependency.

    Each micro-batch emits, for every user present in it, the user's
    cumulative event count and revenue AFTER folding that batch in.
    Revenue accumulates as integer CENTS (values are 2dp money), so the
    running sum is exact and order-independent — no float-fold tolerance
    anywhere.  State per user is one (long, long) row: O(users) state,
    constant per-batch update cost."""
    import importlib.util

    import pandas as pd

    out_schema = (
        "user_id BIGINT, n_events_so_far BIGINT, revenue_cents_so_far BIGINT"
    )

    def _fold_batch(pdfs) -> tuple[int, int]:
        n, cents = 0, 0
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100.0).round().astype("int64").sum())
        return n, cents

    try:
        # find_spec imports the parent package, so a missing `google`
        # raises instead of returning None.
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_protobuf = False
    if has_protobuf:
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class RunningTotals(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._totals = handle.getValueState(
                    "totals", "n BIGINT, cents BIGINT"
                )

            def handleInputRows(self, key, rows, timerValues):
                n, cents = _fold_batch(rows)
                if self._totals.exists():
                    prev = self._totals.get()
                    n, cents = n + prev[0], cents + prev[1]
                self._totals.update((n, cents))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events_so_far": [n],
                        "revenue_cents_so_far": [cents],
                    }
                )

            def close(self) -> None:
                pass

        return events.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="none",
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    def fold(key, pdfs, state):
        n, cents = _fold_batch(pdfs)
        if state.exists:
            prev_n, prev_cents = state.get
            n, cents = n + prev_n, cents + prev_cents
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events_so_far": [n],
                "revenue_cents_so_far": [cents],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType="n BIGINT, cents BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _events_2chunk_src(spark: SparkSession, sf_dir: str) -> str:
    """events written once per (session, sf_dir) as 2 deterministic chunk
    files (event_id mod 2) — the replay source for cross-batch state
    proofs (membership the oracle can reproduce, unlike a timestamp
    midpoint)."""
    key = ("twschunks", os.path.abspath(sf_dir))
    if key not in _REPLAY_SRC_MEMO:
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        ).persist()
        src = os.path.join(
            _INC_ROLLUP_ROOT, f"tws-src-{uuid.uuid4().hex[:8]}", "events"
        )
        try:
            for i in (0, 1):
                events.filter(F.pmod(F.col("event_id"), F.lit(2)) == i).coalesce(
                    1
                ).write.mode("append").parquet(src)
        finally:
            events.unpersist(blocking=False)
        _REPLAY_SRC_MEMO[key] = src
    return _REPLAY_SRC_MEMO[key]


def statestore_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE STORE READER (NEW r6, Spark 4 `statestore` data source): the
    ops/debugging surface that reads a streaming query's checkpointed
    state as an ordinary DataFrame — ClickHouse exposes system tables for
    its internals; this is Structured Streaming's equivalent, and the
    first-class way to audit what a stateful query is actually holding.

    Proof shape: events replay as 2 chunk micro-batches through a
    per-user running aggregation (update mode — only deltas emit, so the
    SINK never sees the full state), then the checkpoint is read back via
    ``format("statestore")``.  The recovered state must equal the batch
    GROUP BY over ALL events — integer-exact measures (count + event_id
    sum) so cross-batch accumulation order cannot smear the hash.  At
    scale the state read is partition-parallel (one task per state store
    partition), no driver materialization."""
    run = uuid.uuid4().hex[:8]
    d = os.path.join(_INC_ROLLUP_ROOT, f"ssi-{run}")
    ckpt, name = os.path.join(d, "ckpt"), f"ssi_{run}"
    src = _events_2chunk_src(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("event_id").alias("id_sum"),
    )
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    state = spark.read.format("statestore").load(ckpt)
    # State value fields carry the PHYSICAL aggregate names (count/sum),
    # not the query aliases — part of what this surface exposes.
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n_events"),
        F.col("value.sum").alias("id_sum"),
    )


def stream_running_totals_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated transformWithState run (SURVEY.md §2.7/§2.8): events
    replayed as 2 DETERMINISTIC chunks (event_id mod 2 — membership the
    oracle can reproduce, unlike the harness's timestamp midpoint) through
    ``running_totals_tws``; one output row per (user, batch-where-present)
    carrying the exact running totals at that point.

    The oracle is pure SQL: chunk-0 users contribute their chunk-0
    aggregate; chunk-1 users contribute chunk-0 + chunk-1 — cross-batch
    state handoff is what the equality proves.  transformWithState
    requires the RocksDB state store; the conf is set for this stream's
    start and restored after (provider choice binds at query start)."""
    run = uuid.uuid4().hex[:8]
    d = os.path.join(_INC_ROLLUP_ROOT, f"tws-{run}")
    ckpt, name = os.path.join(d, "ckpt"), f"tws_{run}"
    src = _events_2chunk_src(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            running_totals_tws(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return spark.sql(
        f"SELECT user_id, n_events_so_far, revenue_cents_so_far FROM {name}"
    )


# Hash-bucket directory count for FACT-KEYED merge tables (Replacing /
# Collapsing / VersionedCollapsing).  Unlike the Summing/Aggregating
# rollups — whose stored table is bounded by the rollup-key cardinality —
# a fact-keyed table is as large as the fact stream, so a merge that
# re-aggregates current ∪ batch wholesale costs O(table) per micro-batch.
# Bucketing by hash(key) % N and rewriting ONLY the buckets present in
# the batch bounds each merge at O(touched buckets + batch): a CDC batch
# touching k keys rewrites at most k buckets.
#
# N SCALING PRECONDITION (what makes the O(batch · bucket_size) claim
# hold): per-merge cost is |touched| · bucket_size, and bucket_size =
# table_bytes / N — so N must scale WITH the table.  The toy default
# (8, sized for local fixtures) on a 100 TB table means 12.5 TB buckets
# and any uniformly-hashed batch touches all 8, degenerating back to
# O(table) per batch.  Size N at TABLE CREATION via ``derive_n_buckets``
# (N ≈ table_bytes / target_bucket_bytes, the Delta/Iceberg MERGE-key
# file-pruning rule) and keep it fixed thereafter: hash(key) % N is the
# physical layout, so changing N means re-bucketing the table (a ranged
# OPTIMIZE-style rewrite), exactly like changing a Hive bucket count.
# Every merge entry point takes ``n_buckets``; correctness is
# N-independent (the fuzz battery runs the same contract at N=8 and
# N=64 — tests/test_merge_fuzz.py).
KEYED_MERGE_BUCKETS = 8

# ~2 GB per bucket: large enough that per-bucket file/commit overhead
# amortizes, small enough that one touched bucket's rewrite is a few
# tasks' work.  100 TB / 2 GB -> N = 51200 bucket dirs (fine for any
# listing path the merge uses: it only ever lists TOUCHED buckets).
KEYED_MERGE_TARGET_BUCKET_BYTES = 2 * 1024**3


def derive_n_buckets(
    table_bytes: int,
    target_bucket_bytes: int = KEYED_MERGE_TARGET_BUCKET_BYTES,
) -> int:
    """Bucket count for a NEW keyed-merge table of the given expected
    size: smallest power of two with buckets <= ``target_bucket_bytes``
    (power of two keeps hash(key) % N well-mixed for xxhash64 and makes
    any future 2x re-bucketing split/merge dirs pairwise).  Floors at the
    toy default so small tables keep cheap fixtures."""
    n = KEYED_MERGE_BUCKETS
    while n * target_bucket_bytes < table_bytes:
        n *= 2
    return n


def _keyed_bucket(bucket_keys: list[str], n_buckets: int):
    # xxhash64 is engine-internal (never compared against the oracle —
    # the bucket id is storage layout, not a query result).
    return F.pmod(
        F.xxhash64(*[F.col(k) for k in bucket_keys]), F.lit(n_buckets)
    ).cast("int")


def _recover_bucket_swaps(spark: SparkSession, table_dir: str) -> None:
    """Crash repair for the per-bucket swap protocol.  Swap dirs are
    DOT-PREFIXED (``.bucket=i.swap-*``) so partition discovery never
    lists them — a reader racing a crashed swap sees either the old
    bucket or (for the delete-to-rename instant) no bucket, NEVER stale
    or duplicate rows (a visible ``bucket=i.swap-*`` name would match
    the ``bucket=`` partition pattern and leak).  Repair: a hidden swap
    whose target vanished is promoted (crash landed between delete and
    rename — the swap is always fully written before the swap starts);
    one whose target survived means the swap never began, so the merge
    is unapplied and the swap is dropped; partial ``.stage-*`` writes
    are dropped."""
    from ..storage import fs

    if not fs.exists(spark, table_dir):
        # Legacy whole-table orphan (the table itself renamed away
        # mid-crash by the pre-bucketed protocol).
        fs.recover_latest_swap(spark, table_dir)
        return
    for child in fs.list_dir(spark, table_dir):
        if child.startswith(".stage-"):
            fs.delete(spark, f"{table_dir}/{child}")
        elif child.startswith(".bucket=") and fs.SWAP_SUFFIX in child:
            base = child[1:].split(fs.SWAP_SUFFIX)[0]  # "bucket=<i>"
            if fs.exists(spark, f"{table_dir}/{base}"):
                fs.delete(spark, f"{table_dir}/{child}")  # never applied
            else:
                fs.rename(spark, f"{table_dir}/{child}", f"{table_dir}/{base}")


def _bucket_data_dirs(
    spark: SparkSession, table_dir: str, buckets: list[int]
) -> list[str]:
    """The subset of ``bucket=i`` dirs that hold at least one data file
    (markers and hidden files don't count — an annihilated-empty bucket
    keeps its replay marker but contributes no rows)."""
    from ..storage import fs

    out = []
    for b in buckets:
        d = f"{table_dir}/bucket={b}"
        if any(
            not n.startswith(("_", ".")) for n in fs.list_dir(spark, d)
        ):
            out.append(d)
    return out


def _merge_keyed_bucketed(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    bucket_keys: list[str],
    fold,
    batch_id: int | None,
    n_buckets: int,
    touched: list[int] | None = None,
) -> bool:
    """Generic bucket-pruned keyed merge: the shared engine under the
    Replacing / Collapsing / VersionedCollapsing folds.

    Layout: ``table_dir/bucket=<hash(key) % N>/`` Hive-style partition
    dirs, so a plain ``spark.read.parquet(table_dir)`` still works (the
    bucket id surfaces as an ordinary partition column readers may
    ignore).  Per merge:

    1. bucket-tag the batch; its distinct bucket set (≤ N ints) is the
       ONLY driver-side collect;
    2. one job reads current rows of the touched buckets only, unions
       the batch, applies ``fold`` (one row group per key), and writes
       the result partitioned by bucket into an invisible ``.stage-*``
       dir;
    3. each touched bucket dir is swapped in via the ``.swap-*``
       crash-repair protocol (state marker travels inside the dir).

    Untouched buckets are never read, never rewritten — their dirs keep
    their files and mtimes (pinned by pytest), which is what bounds a
    micro-batch at O(touched buckets + batch) instead of O(table).

    Replay idempotence is per bucket: with a ``batch_id``, each bucket
    dir carries its own ``_LAST_MERGED_BATCH`` marker and a replayed
    batch skips buckets already at or past it — a crash that swapped
    only some buckets is healed by replaying the batch (done buckets
    skip, the rest redo from their unchanged stored state).  The id
    sequence MUST be monotone per table (the foreachBatch contract:
    re-delivery repeats the same id, never leapfrogs) — a genuinely
    out-of-order NEW id would be dropped per-bucket; out-of-order
    EPOCH replays (the merge-proof queries) therefore pass
    ``batch_id=None`` and rely on the fold's associativity instead.
    A bucket
    whose keys all annihilate keeps a marker-only dir so the skip
    still fires on replay.

    Concurrency contract: SINGLE WRITER per table (the streaming-sink
    contract every merge here runs under — one foreachBatch loop owns
    the table).  Two concurrent merges could interleave bucket swaps;
    multi-writer tables belong on the txlog path, whose optimistic
    commit protocol detects the race instead."""
    from ..storage import fs

    _recover_bucket_swaps(spark, table_dir)
    bcol = _keyed_bucket(bucket_keys, n_buckets)
    tagged = batch.withColumn("bucket", bcol)
    # The batch is consumed twice only when the bucket set must be
    # probed; with a ``touched`` hint it feeds exactly one job and a
    # persist would be pure serialization overhead.
    if touched is None:
        tagged = tagged.persist()
    try:
        # ``touched`` hint (the Delta MERGE partition-predicate analog):
        # a caller that already knows the batch's bucket set — e.g. a
        # replay loop that derived every epoch's buckets in ONE upfront
        # aggregate — skips the per-merge probe job.  MUST be a superset
        # of the batch's true buckets; a miss would leave stale rows in
        # an unread bucket, which is why the default probes.
        if touched is None:
            touched = sorted(
                r["bucket"] for r in tagged.select("bucket").distinct().collect()
            )
        else:
            touched = sorted(set(touched))
        if batch_id is not None:
            todo = [
                b
                for b in touched
                if (seen := last_merged_batch(spark, f"{table_dir}/bucket={b}"))
                is None
                or batch_id > seen
            ]
        else:
            todo = touched
        if not todo:
            return False
        batch_rows = tagged.filter(F.col("bucket").isin(todo)).drop("bucket")
        current_dirs = _bucket_data_dirs(spark, table_dir, todo)
        if current_dirs:
            # Stored bucket files carry exactly the fold's output schema
            # (== the batch schema); passing it skips a per-merge footer
            # schema-inference pass over every touched bucket.
            unioned = (
                spark.read.schema(batch_rows.schema)
                .parquet(*current_dirs)
                .unionByName(batch_rows)
            )
        else:
            unioned = batch_rows
        # SINGLE-SHUFFLE fold (r8): bucket-tag the union, repartition by
        # bucket ONCE, then fold — every fold groups by (bucket, key...)
        # and hash-partitioning on ``bucket`` (a function of the key)
        # already satisfies the aggregate's clustered distribution, so
        # Catalyst plans partial+final aggregation in the SAME stage
        # with no second exchange (the r7 shape paid two: the fold's
        # groupBy exchange plus a pre-write repartition).  len(todo)
        # partitions size the stage write to the touched set; hash
        # collisions may land two buckets in one task (several files in
        # a dir) — best-effort file count; correctness comes from
        # partitionBy routing rows by value.
        merged = fold(
            unioned.withColumn("bucket", bcol).repartition(len(todo), "bucket")
        )
        if "bucket" not in merged.columns:  # fold must group by / keep it
            raise ValueError(
                "keyed-merge fold dropped the 'bucket' column; every fold "
                "must group on (bucket, key...) so partitionBy can route"
            )
        stage = f"{table_dir}/.stage-{uuid.uuid4().hex[:8]}"
        merged.write.partitionBy("bucket").mode("overwrite").parquet(stage)
        # Fully-annihilated buckets (every key cancelled) left no staged
        # dir, but must keep a SCHEMA-BEARING empty dir — a bare delete
        # would make a fully-annihilated table unreadable
        # (UNABLE_TO_INFER_SCHEMA), and the replay marker needs a dir to
        # live in.  Write the empty template ONCE (repartition(1) forces
        # one empty part file with a parquet footer) and fan it out with
        # FS copies — the old per-bucket empty-write was a Spark job per
        # annihilated bucket, the bulk of the r6 swap-overhead regression.
        staged = set(fs.list_dir(spark, stage))
        missing = [b for b in todo if f"bucket={b}" not in staged]
        if missing:
            template = f"{stage}/.empty-template"
            spark.createDataFrame(
                [], merged.drop("bucket").schema
            ).repartition(1).write.parquet(template)
            fs.replicate_dir(
                spark, template, [f"{stage}/bucket={b}" for b in missing]
            )
        # Batched swap pass: marker writes into the staged dirs, then the
        # hidden ``.bucket=i.swap-*`` promote per bucket — one hoisted
        # FileSystem handle, independent swaps thread-pooled (the old loop
        # was serial driver FS calls).  Crash states are unchanged (see
        # fs.swap_partition_dirs / _recover_bucket_swaps).
        fs.swap_partition_dirs(
            spark,
            table_dir,
            stage,
            [f"bucket={b}" for b in todo],
            marker=(MERGE_MARKER, str(batch_id)) if batch_id is not None else None,
        )
        fs.delete(spark, stage)
        return True
    finally:
        tagged.unpersist(blocking=False)


def _epoch_bucket_map(rows, epoch_col, bucket_keys, n_buckets=None):
    """{epoch: [buckets]} in ONE aggregate over the (cached) replay rows —
    static pruning metadata for the merges' ``touched`` hint: six merges
    probe zero times instead of once each.  Correct by construction: the
    map is derived from the same DataFrame the epochs filter."""
    n = KEYED_MERGE_BUCKETS if n_buckets is None else n_buckets
    bcol = _keyed_bucket(bucket_keys, n)
    return {
        r["e"]: r["bs"]
        for r in rows.select(epoch_col.alias("e"), bcol.alias("b"))
        .groupBy("e")
        .agg(F.collect_set("b").alias("bs"))
        .collect()
    }


def merge_replacing(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    key: str,
    version: str,
    batch_id: int | None = None,
    n_buckets: int = KEYED_MERGE_BUCKETS,
    touched: list[int] | None = None,
) -> bool:
    """ReplacingMergeTree fold (the reference engine family's third merge
    semantic next to Summing and Aggregating): per key, the row with the
    highest ``version`` wins — an idempotent, ASSOCIATIVE upsert, so
    out-of-order and replayed batches converge to the same table.

    The fold is one ``max_by(struct(*), version)`` hash aggregate — but
    unlike the Summing rollup, this table is keyed by FACT key (every
    orderkey), so the stored table is stream-sized and a whole-table
    re-aggregate would cost O(table) per micro-batch.  The merge
    therefore runs through ``_merge_keyed_bucketed``: only the
    hash(key)-bucket dirs present in the batch are read, folded, and
    swapped; untouched buckets are never opened."""

    def fold(unioned: DataFrame) -> DataFrame:
        # ``bucket`` joins the groupBy (it is a function of the key, so
        # groups are unchanged) to keep the single-shuffle plan — see
        # _merge_keyed_bucketed.
        cols = [c for c in unioned.columns if c not in (key, "bucket")]
        return (
            unioned.groupBy(key, "bucket")
            .agg(F.max_by(F.struct(*cols), F.col(version)).alias("_row"))
            .select(key, "bucket", "_row.*")
        )

    return _merge_keyed_bucketed(
        spark, table_dir, batch, [key], fold, batch_id, n_buckets, touched
    )


def replacing_merge_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated ReplacingMergeTree proof: orders replayed as 4
    OUT-OF-ORDER micro-batches of (row version 0) ∪ (derived status
    updates, version 1, for the md5-selected third of orders) through
    ``merge_replacing`` — updates often arrive BEFORE their base row and
    the base row must still lose.  Final table = latest version per order;
    the oracle is the equivalent window argmax in pure SQL."""
    from ..functions.hashing import stable_hash64

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.lit(0).cast("long").alias("version"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total_price"),
    )
    updated = F.pmod(stable_hash64(F.col("o_orderkey").cast("string")), F.lit(3)) == 0
    updates = orders.filter(updated).select(
        "o_orderkey",
        F.lit(1).cast("long").alias("version"),
        F.lit("D").alias("status"),
        F.col("o_totalprice").alias("total_price"),
    )
    rows = base.unionByName(updates).persist()
    try:
        table_dir = _fresh_rollup_dir("orders_replacing")
        # chunk by (orderkey + 2*version) mod 4: updates land in DIFFERENT
        # epochs than their base rows, in both orders.
        epoch = F.pmod(F.col("o_orderkey") + 2 * F.col("version"), F.lit(4))
        em = _epoch_bucket_map(rows, epoch, ["o_orderkey"])
        for i in (2, 0, 3, 1):  # deliberately out of order
            merge_replacing(
                spark,
                table_dir,
                rows.filter(epoch == i),
                key="o_orderkey",
                version="version",
                batch_id=None,  # epochs replay out of order; no marker gate
                touched=em.get(i, []),
            )
        return spark.read.parquet(table_dir).select(
            "o_orderkey", "version", "status", "total_price"
        )
    finally:
        rows.unpersist(blocking=False)


def merge_collapsing(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    keys: list[str],
    sign: str = "sign",
    batch_id: int | None = None,
    n_buckets: int = KEYED_MERGE_BUCKETS,
    touched: list[int] | None = None,
) -> bool:
    """CollapsingMergeTree fold — the fourth MergeTree merge semantic: rows
    carry a ``sign`` (+1 state / -1 cancel) and equal-key rows collapse by
    SUMMING signs, so a state and its cancellation annihilate at merge
    time.  Associative and replay-idempotent under the marker protocol;
    rows whose net sign reaches 0 are dropped from the stored table (the
    collapse), matching ClickHouse's requirement that a cancel row repeats
    the state row's values.  Fact-keyed like Replacing, so it runs
    through the same bucket-pruned merge: only hash(keys)-buckets present
    in the batch are read and rewritten."""

    def fold(unioned: DataFrame) -> DataFrame:
        # bucket rides the groupBy for the single-shuffle plan.
        return (
            unioned.groupBy(*keys, "bucket")
            .agg(F.sum(sign).cast("long").alias(sign))
            .filter(F.col(sign) != 0)
        )

    return _merge_keyed_bucketed(
        spark, table_dir, batch, keys, fold, batch_id, n_buckets, touched
    )


def collapsing_merge_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated CollapsingMergeTree proof: every order inserts a +1
    state row; the md5-selected third also inserts a -1 cancel row (same
    key values, ClickHouse's collapse contract).  Replayed as 4
    OUT-OF-ORDER epochs — cancels routinely merge before their state rows
    and must annihilate them when they arrive.  Final table = net-visible
    orders (sign +1), i.e. exactly the uncancelled two-thirds; window-free
    set-difference oracle."""
    from ..functions.hashing import stable_hash64

    orders = load_table(spark, sf_dir, "orders")
    state = orders.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.lit(1).cast("long").alias("sign"),
    )
    cancelled = F.pmod(stable_hash64(F.col("o_orderkey").cast("string")), F.lit(3)) == 0
    cancels = orders.filter(cancelled).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.lit(-1).cast("long").alias("sign"),
    )
    rows = state.unionByName(cancels).persist()
    try:
        table_dir = _fresh_rollup_dir("orders_collapsing")
        epoch = F.pmod(F.col("o_orderkey") + F.when(F.col("sign") < 0, 2).otherwise(0), F.lit(4))
        em = _epoch_bucket_map(rows, epoch, ["o_orderkey", "status"])
        for i in (1, 3, 0, 2):  # deliberately out of order
            merge_collapsing(
                spark,
                table_dir,
                rows.filter(epoch == i),
                keys=["o_orderkey", "status"],
                touched=em.get(i, []),
            )
        return spark.read.parquet(table_dir).select("o_orderkey", "status", "sign")
    finally:
        rows.unpersist(blocking=False)


def incremental_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An MV with a JOIN in its SELECT (the ClickHouse join-MV pattern the
    reference avoids by denormalizing at the producer,
    /root/reference/producers/sales_producer.py:118-133) maintained through
    the generalized MERGE: each micro-batch of ``orders`` is enriched
    customer -> nation BEFORE aggregation, and the (nation, month) partials
    fold into the stored rollup.  4 out-of-key-order batches; oracle = the
    one-shot join + GROUP BY.

    Scale shape: the join runs inside the batch (batch x dims, never
    table x dims); nation (25 rows) is broadcast by hint, customer is left
    to AQE — at dimension scale it becomes the build side of a shuffle
    join, and the MERGE cost stays key-bounded either way."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").persist()

    def enrich_agg(batch: DataFrame) -> DataFrame:
        return (
            batch.join(cust, batch.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy(
                F.col("n_name").alias("nation"),
                F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            )
            .agg(
                F.count("*").alias("order_count"),
                dsum("o_totalprice").alias("total_revenue"),
            )
        )

    try:
        rollup_dir = _fresh_rollup_dir("orders_by_nation_monthly")
        for i in range(4):
            chunk = orders.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == i)
            merge_rollup(
                spark,
                rollup_dir,
                enrich_agg(chunk),
                batch_id=i,
                keys=["nation", "month"],
                sums=[("order_count", "long"), ("total_revenue", "money")],
            )
        return spark.read.parquet(rollup_dir)
    finally:
        orders.unpersist(blocking=False)


def txlog_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution on the txlog format (Delta's
    mergeSchema): epochs 0-1 append the A1 partials WITHOUT the quantity
    measure — the column is introduced mid-history — and epochs 2-3 append
    with it.  ``read_table(merge_schema=True)`` unions the directory
    schemas by name, surfacing pre-evolution rows with NULL quantity.

    The returned per-category report carries n_partials vs n_with_qty, so
    the driver row proves BOTH that old directories stay readable and that
    exactly the post-evolution partials carry the new column — a reader
    that dropped old dirs or zero-filled instead of NULL-filling would
    hash-mismatch."""
    from ..storage import txlog

    events = load_table(spark, sf_dir, "events").persist()
    try:
        table = _fresh_rollup_dir("sales_hourly_evolving")
        epochs = []
        for i in range(4):
            agg = hourly_rollup_aggregate(
                events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
            )
            if i < 2:
                agg = agg.drop("total_quantity")
            epochs.append((agg, i))
        txlog.append_many_tx(spark, table, epochs)
        merged = txlog.read_table(spark, table, merge_schema=True)
        if merged is None:
            raise RuntimeError("schema-evolved txlog table unreadable")
        return merged.groupBy("category").agg(
            F.sum("order_count").alias("order_count"),
            dsum("total_revenue").alias("total_revenue"),
            F.sum("total_quantity").alias("total_quantity"),
            F.count("*").alias("n_partials"),
            F.count("total_quantity").alias("n_with_qty"),
        )
    finally:
        events.unpersist(blocking=False)


# User-range-chunked append table for the bloom-skipping proof: (path,
# probe_user) per (session, sf_dir).
_BLOOM_TABLE_MEMO: dict[str, tuple[str, int]] = {}


def _build_user_chunked_txlog(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Append events as 4 user-RANGE chunks (each user's rows live in
    exactly one directory — the clustered-by-user layout where a bloom
    probe has something to skip) with a user_id bloom per directory."""
    from ..storage import txlog

    key = os.path.abspath(sf_dir)
    if key not in _BLOOM_TABLE_MEMO:
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        ).persist()
        try:
            lo, hi = events.agg(F.min("user_id"), F.max("user_id")).collect()[0]
            span = int(hi) - int(lo) + 1
            bounds = [int(lo) + span * i // 4 for i in range(5)]
            bounds[4] = int(hi) + 1
            table = _fresh_rollup_dir("events_by_user_bloom")
            txlog.append_many_tx(
                spark,
                table,
                [
                    (
                        events.filter(
                            (F.col("user_id") >= bounds[i])
                            & (F.col("user_id") < bounds[i + 1])
                        ),
                        i,
                    )
                    for i in range(4)
                ],
                bloom_cols=["user_id"],
            )
            _BLOOM_TABLE_MEMO[key] = (table, int(lo))
        finally:
            events.unpersist(blocking=False)
    return _BLOOM_TABLE_MEMO[key]


def txlog_bloom_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter data skipping through the driver gate (the Delta
    bloom-index analog): a point lookup for ONE user over the user-chunked
    append table reads with the commit-recorded blooms — directories whose
    bloom rules the user out are never even listed — plus the real filter.
    The probe is the minimum user_id (deterministic); the oracle is the
    same lookup on raw events, so the row proves pruning never changes the
    answer.  A zone map can't serve this: user_id is high-cardinality and
    the probe is equality, exactly the case bloom indexes exist for.  The
    pytest side pins that the pruned scan reads fewer directories."""
    import hashlib

    from ..storage import txlog

    table, probe_user = _build_user_chunked_txlog(spark, sf_dir)
    # stable_hash64 of the probe value, computed driver-side (same md5
    # derivation as functions.hashing, over the value's string form).
    hashed = int(hashlib.md5(str(probe_user).encode()).hexdigest()[:15], 16)
    df = txlog.read_table(spark, table, prune_eq={"user_id": hashed})
    if df is None:
        raise RuntimeError("bloom-pruned txlog read returned no table")
    return (
        df.filter(F.col("user_id") == probe_user)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


def replacing_merge_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplacingMergeTree(ver, is_deleted) — ClickHouse's CDC-through-
    storage shape (23.2+): deletes are ordinary rows whose winning version
    carries a tombstone flag.  The MERGE itself stays the plain
    latest-version argmax (``merge_replacing`` unchanged: is_deleted is
    just a column riding the winner struct); tombstoned keys are filtered
    at READ time, not dropped at merge time.

    Dropping at merge time would be unsound under out-of-order arrival —
    a base row (v0) merging AFTER its delete (v2) was already collapsed
    away would resurrect the key, the exact caveat ClickHouse documents
    for clean_deleted_rows.  Keeping the tombstone row until a retention
    boundary guarantees no older version can still arrive is the correct
    contract; the read filter is one map-side predicate.

    4 out-of-order epochs where updates AND deletes routinely precede
    their base rows; oracle = the pure-SQL window argmax with the
    tombstone filter applied last."""
    from ..functions.hashing import stable_hash64

    orders = load_table(spark, sf_dir, "orders")
    bucket = F.pmod(stable_hash64(F.col("o_orderkey").cast("string")), F.lit(5))
    base = orders.select(
        "o_orderkey",
        F.lit(0).cast("long").alias("version"),
        F.col("o_totalprice").alias("total_price"),
        F.lit(0).cast("long").alias("is_deleted"),
    )
    updates = orders.filter(bucket == 1).select(
        "o_orderkey",
        F.lit(1).cast("long").alias("version"),
        (F.col("o_totalprice") * 2).alias("total_price"),
        F.lit(0).cast("long").alias("is_deleted"),
    )
    deletes = orders.filter(bucket == 2).select(
        "o_orderkey",
        F.lit(2).cast("long").alias("version"),
        F.lit(0.0).alias("total_price"),
        F.lit(1).cast("long").alias("is_deleted"),
    )
    rows = base.unionByName(updates).unionByName(deletes).persist()
    try:
        table_dir = _fresh_rollup_dir("orders_replacing_tomb")
        epoch = F.pmod(F.col("o_orderkey") + 3 * F.col("version"), F.lit(4))
        em = _epoch_bucket_map(rows, epoch, ["o_orderkey"])
        for i in (3, 1, 0, 2):  # deliberately out of order
            merge_replacing(
                spark,
                table_dir,
                rows.filter(epoch == i),
                key="o_orderkey",
                version="version",
                batch_id=None,
                touched=em.get(i, []),
            )
        return (
            spark.read.parquet(table_dir)
            .filter(F.col("is_deleted") == 0)
            .select("o_orderkey", "version", "total_price")
        )
    finally:
        rows.unpersist(blocking=False)


def dedup_ingest_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-on-INGEST through storage (NEW r6): documents arrive as 4
    out-of-order micro-batches upserting into a Replacing table keyed by
    the md5 content hash with ``version = -doc_id``, so the FIRST copy
    (lowest doc_id) of each distinct text wins regardless of arrival
    order — exact dedup as a storage-merge property rather than a batch
    job, the ClickHouse ReplacingMergeTree-as-deduper idiom
    (/root/reference/clickhouse/init.sql declares the MergeTree family
    this mirrors).  Runs on the r6 bucket-pruned merge, so each ingest
    batch rewrites only the hash-bucket dirs it touches; at 100 TB the
    per-batch cost is O(batch + touched buckets), never O(corpus)."""
    from ..functions.hashing import stable_hash64

    docs = load_table(spark, sf_dir, "documents").select(
        stable_hash64(F.col("text")).alias("content_key"),
        (-F.col("doc_id")).alias("version"),
        "doc_id",
        "lang",
        "source",
    ).persist()
    try:
        table_dir = _fresh_rollup_dir("documents_dedup_ingest")
        epoch = F.pmod(F.col("doc_id"), F.lit(4))
        em = _epoch_bucket_map(docs, epoch, ["content_key"])
        for i in (2, 0, 3, 1):  # deliberately out of order
            merge_replacing(
                spark,
                table_dir,
                docs.filter(epoch == i),
                key="content_key",
                version="version",
                batch_id=None,
                touched=em.get(i, []),
            )
        return spark.read.parquet(table_dir).select(
            "content_key",
            F.col("doc_id").alias("keep_doc_id"),
            "lang",
            "source",
        )
    finally:
        docs.unpersist(blocking=False)


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated STREAM-STATIC join — the third join mode next to the
    batch analogs and the stream-stream range join: a streaming fact
    (orders replayed as 2 micro-batch files) enriched against a static
    dimension (customer), the Kafka-topic x dimension-table lookup every
    deployment of the reference would add first.

    Semantics under test: the static side is (re)resolved per micro-batch
    — Spark plans it as a fresh scan each trigger, so a slowly-changing
    dimension picks up updates between batches — and the join is
    STATELESS (no watermark, no state store): each emitted row depends on
    its batch alone, which is why the emitted set equals the batch join
    exactly.  The dimension is broadcast; the stream side never
    shuffles."""
    run = uuid.uuid4().hex[:8]
    d = os.path.join(_INC_ROLLUP_ROOT, f"senrich-{run}")
    ckpt, name = os.path.join(d, "ckpt"), f"senrich_{run}"
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        "o_custkey",
        F.col("o_totalprice").alias("total_amount"),
    )
    key = ("senrich", os.path.abspath(sf_dir))
    if key not in _REPLAY_SRC_MEMO:
        src = os.path.join(_INC_ROLLUP_ROOT, f"senrich-src-{run}", "orders")
        for i in (0, 1):
            orders.filter(F.pmod(F.col("order_id"), F.lit(2)) == i).coalesce(
                1
            ).write.mode("append").parquet(src)
        _REPLAY_SRC_MEMO[key] = src
    src = _REPLAY_SRC_MEMO[key]
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    enriched = stream.join(
        F.broadcast(cust), stream.o_custkey == cust.c_custkey
    ).select(
        "order_id",
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("long").alias("nation_key"),
        "total_amount",
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        f"SELECT order_id, segment, nation_key, total_amount FROM {name}"
    )


def aggregating_merge_sketch_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregatingMergeTree as a STORAGE lifecycle (completing the in-query
    ``sketch_rollup_distinct_users``): per-epoch HOURLY HLL states — real
    DataSketches binaries — are APPENDed to the txlog table as O(1)
    add-file commits, ``compact_tx`` then runs OPTIMIZE ... FINAL with
    ``hll_union_agg`` as the fold (equal-key states union at merge, the
    AggregatingMergeTree background-merge semantic), and the read merges
    the stored hourly states up to DAILY estimates.

    The sketch column survives parquet round-trips and state-union is
    associative, so 4-epoch append + compaction + read == one-shot — at
    100 TB the raw column is touched once per epoch, everything after
    re-aggregates fixed-size binary states.  Driver contract is the usual
    exact-plus-tolerance shape (sketch binaries differ across engines)."""
    from ..storage import txlog

    events = load_table(spark, sf_dir, "events").persist()
    day = F.to_date("ts").alias("day")
    try:
        table = _fresh_rollup_dir("uniques_hourly_states")
        txlog.append_many_tx(
            spark,
            table,
            [
                (
                    events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
                    .groupBy(day, F.date_trunc("hour", "ts").alias("hour"))
                    .agg(F.hll_sketch_agg("user_id", 14).alias("sk")),
                    i,
                )
                for i in range(4)
            ],
        )
        # OPTIMIZE FINAL: equal (day, hour) states from different epochs
        # union into one row per key — the background merge.
        if not txlog.compact_tx(
            spark,
            table,
            agg=lambda df: df.groupBy("day", "hour").agg(
                F.hll_union_agg("sk").alias("sk")
            ),
        ):
            raise RuntimeError("sketch-MV compact found nothing to merge")
        stored = txlog.read_table(spark, table)
        if stored is None:
            raise RuntimeError("sketch-MV table unreadable after compact")
        merged = stored.groupBy("day").agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
        )
        exact = events.groupBy(day).agg(
            F.countDistinct("user_id").alias("exact_users")
        )
        rel_err = (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
        )
        return exact.join(merged, "day").select(
            "day",
            "exact_users",
            (rel_err <= 0.02).alias("stored_states_within_2pct"),
        )
    finally:
        events.unpersist(blocking=False)


def join_orders_with_acks_outer(
    orders: DataFrame,
    acks: DataFrame,
    max_ack_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: like ``join_orders_with_acks`` but
    an order with no in-window ack still emits — NULL-padded — once the
    watermark passes its join window and Spark evicts its state.  The
    padded emission is the semantically hard half of stream-stream joins
    (matches emit eagerly; non-matches only exist once the engine can
    PROVE no match can still arrive)."""
    o = orders.select(
        F.col("order_id").alias("o_order_id"),
        F.col("order_timestamp"),
        F.col("total_amount"),
    ).withWatermark("order_timestamp", watermark)
    a = acks.select(
        F.col("order_id").alias("a_order_id"),
        F.col("ack_timestamp"),
        F.col("ack_status"),
    ).withWatermark("ack_timestamp", watermark)
    cond = (
        (F.col("o_order_id") == F.col("a_order_id"))
        & (F.col("ack_timestamp") >= F.col("order_timestamp"))
        & (F.col("ack_timestamp") <= F.col("order_timestamp") + F.expr(f"INTERVAL {max_ack_delay}"))
    )
    return o.join(a, cond, "leftOuter").select(
        F.col("o_order_id").alias("order_id"),
        "order_timestamp",
        "ack_timestamp",
        "ack_status",
        "total_amount",
    )


def stream_join_orders_acks_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated stream-stream LEFT OUTER join: the md5-selected half
    of orders acks inside the 1-hour window (matched rows emit eagerly);
    the other half's ack lands at +3 h — OUTSIDE the window — so those
    orders emit NULL-PADDED, but only when watermark eviction proves the
    window closed.

    Making EVERY unmatched order's emission provable is the harness trick:
    a far-future SENTINEL row (order_id -1, +30 days) rides as a second
    micro-batch file on BOTH sides, pushing the final watermark past every
    real order's window.  The sentinel itself never emits — its own window
    never closes — so the emitted set is exactly the batch LEFT JOIN over
    real orders, NULL-padded where the ack fell outside the window.
    Mechanics under test: padded-row emission on state eviction, the
    no-data batch that fires eviction after the last file, and per-side
    watermarks."""
    from ..functions.hashing import stable_hash64

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderdate").cast("timestamp").alias("order_timestamp"),
        F.col("o_totalprice").alias("total_amount"),
    )
    in_window = F.pmod(stable_hash64(F.col("order_id").cast("string")), F.lit(2)) == 0
    acks = orders.select(
        "order_id",
        F.when(in_window, F.col("order_timestamp") + F.expr("INTERVAL 10 MINUTES"))
        .otherwise(F.col("order_timestamp") + F.expr("INTERVAL 3 HOURS"))
        .alias("ack_timestamp"),
        F.lit("ok").alias("ack_status"),
    )
    run = uuid.uuid4().hex[:8]
    d = os.path.join(_INC_ROLLUP_ROOT, f"ssjoino-{run}")
    ckpt, name = os.path.join(d, "ckpt"), f"ssjoino_{run}"
    key = ("ssjoino", os.path.abspath(sf_dir))
    if key not in _REPLAY_SRC_MEMO:
        far = orders.agg(
            (F.max("order_timestamp") + F.expr("INTERVAL 30 DAYS")).alias("t")
        ).collect()[0]["t"]
        o_src = os.path.join(_INC_ROLLUP_ROOT, f"ssjoino-src-{run}", "orders")
        a_src = os.path.join(_INC_ROLLUP_ROOT, f"ssjoino-src-{run}", "acks")
        orders.coalesce(1).write.parquet(o_src)
        acks.coalesce(1).write.parquet(a_src)
        sentinel_o = spark.createDataFrame(
            [(-1, far, 0.0)], schema=orders.schema
        )
        sentinel_a = spark.createDataFrame(
            [(-1, far, "sentinel")], schema=acks.schema
        )
        sentinel_o.coalesce(1).write.mode("append").parquet(o_src)
        sentinel_a.coalesce(1).write.mode("append").parquet(a_src)
        _REPLAY_SRC_MEMO[key] = (o_src, a_src)
    o_src, a_src = _REPLAY_SRC_MEMO[key]
    o_stream = spark.readStream.schema(orders.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(o_src)
    a_stream = spark.readStream.schema(acks.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(a_src)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            join_orders_with_acks_outer(o_stream, a_stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    q.awaitTermination()
    return spark.sql(
        f"SELECT order_id, order_timestamp, ack_timestamp, ack_status,"
        f" total_amount FROM {name} WHERE order_id >= 0"
    )


def txlog_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed through the driver gate: the rows added to the
    append table BETWEEN versions 1 and 3 — i.e. epochs 1 and 2 of the
    4-epoch append history, nothing before, nothing after.  The oracle is
    the A1 aggregation restricted to exactly those epochs' events, so the
    row proves the feed is an incremental slice, not a snapshot re-read
    (a snapshot would include epoch 0 and hash-mismatch)."""
    from ..storage import txlog

    table = _build_txlog_append_table(spark, sf_dir)
    changes = txlog.read_changes_between(spark, table, 1, 3)
    if changes is None:
        raise RuntimeError("versions 1 and 3 must exist")
    return changes.groupBy(*ROLLUP_KEYS).agg(
        F.sum("order_count").alias("order_count"),
        dsum("total_revenue").alias("total_revenue"),
        F.sum("total_quantity").alias("total_quantity"),
    )


def merge_versioned_collapsing(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    keys: list[str],
    version: str = "version",
    sign: str = "sign",
    batch_id: int | None = None,
    n_buckets: int = KEYED_MERGE_BUCKETS,
    touched: list[int] | None = None,
) -> bool:
    """VersionedCollapsingMergeTree fold — the FIFTH MergeTree merge
    semantic, and the one that fixes plain Collapsing's out-of-order
    weakness: sign rows annihilate only within the SAME (key, version)
    pair, so a cancel that merges before its state simply sits in the
    table as a net -1 row for that version and annihilates exactly its
    own state when it arrives — never a different version's.  Payload
    columns ride ``max`` (cancel rows repeat state values, ClickHouse's
    contract, so max is the identity within a pair).  Bucketed by key
    (NOT version — a key's whole version history colocates in one
    bucket, which retention sweeps and read-side argmaxes rely on) and
    merged through the same bucket-pruned protocol as the other
    fact-keyed folds."""

    def fold(unioned: DataFrame) -> DataFrame:
        # bucket rides the groupBy for the single-shuffle plan.
        payload = [
            c
            for c in unioned.columns
            if c not in (*keys, version, sign, "bucket")
        ]
        return (
            unioned.groupBy(*keys, version, "bucket")
            .agg(
                F.sum(sign).cast("long").alias(sign),
                *[F.max(c).alias(c) for c in payload],
            )
            .filter(F.col(sign) != 0)
        )

    return _merge_keyed_bucketed(
        spark, table_dir, batch, keys, fold, batch_id, n_buckets, touched
    )


def versioned_collapse_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated VersionedCollapsingMergeTree proof: every order
    inserts state v1; the hash%4==1 orders go through a full update cycle
    (cancel v1 + state v2 at doubled price) and the hash%4==2 orders are
    cancelled outright (cancel v1, no replacement).  6 OUT-OF-ORDER
    epochs where cancels routinely precede their states — per-version
    matching is what keeps that correct where plain Collapsing corrupts.
    Current state = per key, the highest net-positive version: updated
    keys surface v2 doubled, cancelled keys vanish, the rest keep v1."""
    from ..functions.hashing import stable_hash64

    orders = load_table(spark, sf_dir, "orders")
    bucket = F.pmod(stable_hash64(F.col("o_orderkey").cast("string")), F.lit(4))

    def rows(ver: int, sgn: int, price_col, flt):
        return orders.filter(flt).select(
            "o_orderkey",
            F.lit(ver).cast("long").alias("version"),
            F.lit(sgn).cast("long").alias("sign"),
            price_col.alias("total_price"),
        )

    all_rows = (
        rows(1, 1, F.col("o_totalprice"), F.lit(True))
        .unionByName(rows(1, -1, F.col("o_totalprice"), bucket == 1))
        .unionByName(rows(2, 1, F.col("o_totalprice") * 2, bucket == 1))
        .unionByName(rows(1, -1, F.col("o_totalprice"), bucket == 2))
    ).persist()
    try:
        table_dir = _fresh_rollup_dir("orders_vcollapsing")
        epoch = F.pmod(
            F.col("o_orderkey") + 2 * F.col("version") - F.col("sign"), F.lit(6)
        )
        em = _epoch_bucket_map(all_rows, epoch, ["o_orderkey"])
        for i in (4, 1, 5, 0, 3, 2):  # deliberately out of order
            merge_versioned_collapsing(
                spark,
                table_dir,
                all_rows.filter(epoch == i),
                keys=["o_orderkey"],
                batch_id=None,
                touched=em.get(i, []),
            )
        stored = spark.read.parquet(table_dir).filter(F.col("sign") > 0)
        w_latest = F.max_by(
            F.struct("version", "total_price"), F.col("version")
        )
        return (
            stored.groupBy("o_orderkey")
            .agg(w_latest.alias("_r"))
            .select(
                "o_orderkey",
                F.col("_r.version").alias("version"),
                F.col("_r.total_price").alias("total_price"),
            )
        )
    finally:
        all_rows.unpersist(blocking=False)


def merge_scd2(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    key: str = "order_id",
    seq: str = "seq",
    op: str = "op",
    batch_id: int | None = None,
    n_buckets: int = KEYED_MERGE_BUCKETS,
    touched: list[int] | None = None,
) -> bool:
    """SCD TYPE-2 incremental MERGE — the stored table IS the dimension
    history: one row per (key, seq) change carrying maintained
    validity-interval columns (valid_from_seq / valid_to_seq /
    is_current), the shape a Delta-CDF consumer materializes downstream
    of a CDC stream.  An as-of lookup serves straight from this table;
    nothing re-derives the history at read time.

    The fold dedups replayed changes by (key, seq) (replay rows are
    identical, so max is the identity) and recomputes the lead()-closed
    intervals from the union of stored rows and the batch — associative
    and replay-idempotent, so out-of-order epochs converge exactly like
    the other keyed folds.  Delete changes STAY in the table (they are
    what closes the last real version's interval) and read views filter
    ``op != 'D'``.  The interval window partitions on (bucket, key), so
    it rides the merge's single bucket exchange (a sort within
    partitions, never a second shuffle)."""
    from pyspark.sql import Window as _W

    ivl = ("valid_from_seq", "valid_to_seq", "is_current")

    def fold(unioned: DataFrame) -> DataFrame:
        payload = [
            c
            for c in unioned.columns
            if c not in (key, seq, op, "bucket", *ivl)
        ]
        dedup = unioned.groupBy("bucket", key, seq).agg(
            F.max(op).alias(op), *[F.max(c).alias(c) for c in payload]
        )
        w = _W.partitionBy("bucket", key).orderBy(F.col(seq).asc())
        return (
            dedup.withColumn("valid_from_seq", F.col(seq).cast("long"))
            .withColumn("valid_to_seq", F.lead(seq).over(w).cast("long"))
            .withColumn("is_current", F.col("valid_to_seq").isNull())
        )

    return _merge_keyed_bucketed(
        spark, table_dir, batch, [key], fold, batch_id, n_buckets, touched
    )


def scd2_stored_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated STORED SCD2 proof: the deterministic CDC change log
    (I all / U hash%10==0 / D hash%10==1 — the same stream
    ``cdc_scd2_history`` derives from) lands in THREE OUT-OF-ORDER
    epochs (deletes first, then inserts, then updates) through
    ``merge_scd2`` into a bucketed history table; the final read —
    version rows with op != 'D' — must equal the one-shot lead()
    derivation exactly (the append+merge == derive discipline of
    aggregating_merge_sketch_mv)."""
    from ..operators.relational import scd2_change_log

    changes = (
        scd2_change_log(spark, sf_dir)
        .select(
            "order_id",
            F.col("seq").cast("long").alias("seq"),
            "op",
            "price",
            F.col("seq").cast("long").alias("valid_from_seq"),
            F.lit(None).cast("long").alias("valid_to_seq"),
            F.lit(True).alias("is_current"),
        )
        .persist()
    )
    try:
        table_dir = _fresh_rollup_dir("orders_scd2")
        em = _epoch_bucket_map(changes, F.col("seq"), ["order_id"])
        for i in (2, 0, 1):  # deliberately out of order
            merge_scd2(
                spark,
                table_dir,
                changes.filter(F.col("seq") == i),
                batch_id=None,
                touched=em.get(i, []),
            )
        stored = spark.read.parquet(table_dir)
        return stored.filter(F.col("op") != "D").select(
            "order_id",
            "price",
            "valid_from_seq",
            "valid_to_seq",
            "is_current",
        )
    finally:
        changes.unpersist(blocking=False)


# Sparse-histogram quantile MV: bucket width over the event-value domain.
PCTL_MV_BUCKET = 20.0

KLL_K = 200  # DataSketches KLL accuracy knob: ~1.65% rank error @ 99% conf
KLL_RANK_EPS = 0.06  # acceptance bound: theory bound + median tie mass


def percentile_kll_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate mergeable-quantile MV — the ``quantileTDigestState``
    sibling of the exact sparse-histogram ``percentile_merge_mv``
    (ClickHouse ships both; the sketch one is what survives unbounded
    value domains where even a sparse histogram's key space grows).
    Per-epoch per-type DataSketches KLL states are APPENDed to the
    txlog table, OPTIMIZE ... FINAL folds equal keys with
    ``kll_merge_agg_double`` (state-merge associativity, the
    AggregatingMergeTree background-merge semantic), and the read
    serves quantiles from the merged binaries without re-touching raw
    data.

    Driver contract is the exact-plus-tolerance shape of
    ``aggregating_merge_sketch_mv``: the sketch's n is EXACT by
    construction (KLL tracks counts losslessly — it must equal the raw
    count or the lifecycle dropped rows), the exact interpolated
    p50/p90 come from raw data, and the booleans pin the merged
    sketch's RANK of each exact quantile inside +-KLL_RANK_EPS — the
    actual DataSketches guarantee (value-space error is unbounded in
    theory, rank error is not).  At 100 TB raw values are scanned once
    per epoch; every later pass merges fixed-size (~KLL_K doubles)
    binaries."""
    from ..storage import txlog

    events = load_table(spark, sf_dir, "events").persist()
    try:
        table = _fresh_rollup_dir("value_kll_states")
        txlog.append_many_tx(
            spark,
            table,
            [
                (
                    events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
                    .groupBy("event_type")
                    .agg(F.kll_sketch_agg_double("value", F.lit(KLL_K)).alias("sk")),
                    i,
                )
                for i in range(4)
            ],
        )
        if not txlog.compact_tx(
            spark,
            table,
            agg=lambda df: df.groupBy("event_type").agg(
                F.kll_merge_agg_double("sk").alias("sk")
            ),
        ):
            raise RuntimeError("KLL-MV compact found nothing to merge")
        stored = txlog.read_table(spark, table)
        if stored is None:
            raise RuntimeError("KLL-MV table unreadable after compact")
        merged = stored.groupBy("event_type").agg(
            F.kll_merge_agg_double("sk").alias("sk")
        )
        exact = events.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n_events"),
            F.expr("percentile(value, 0.5)").alias("exact_p50"),
            F.expr("percentile(value, 0.9)").alias("exact_p90"),
        )
        joined = exact.join(merged, "event_type")

        def rank_band(p: float, exact_col: str):
            # get_rank needs a foldable probe, so invert the check: by
            # quantile-function monotonicity, |rank(exact_p) - p| <= eps
            # iff exact_p lies between the sketch's quantiles at p -+ eps.
            lo = F.kll_sketch_get_quantile_double("sk", F.lit(p - KLL_RANK_EPS))
            hi = F.kll_sketch_get_quantile_double("sk", F.lit(p + KLL_RANK_EPS))
            return (F.col(exact_col) >= lo) & (F.col(exact_col) <= hi)

        return joined.select(
            "event_type",
            "n_events",
            (F.kll_sketch_get_n_double("sk") == F.col("n_events")).alias(
                "state_n_exact"
            ),
            "exact_p50",
            "exact_p90",
            rank_band(0.5, "exact_p50").alias("p50_rank_within_eps"),
            rank_band(0.9, "exact_p90").alias("p90_rank_within_eps"),
        )
    finally:
        events.unpersist(blocking=False)


def percentile_merge_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE materialized view (ClickHouse ``quantileState``
    in an AggregatingMergeTree, deterministic flavor): per-epoch per-day
    sparse histogram states ``(day, bucket) -> count`` are APPENDed to
    the txlog table, OPTIMIZE ... FINAL folds equal keys by count
    addition (the background merge), and the read derives approximate
    percentiles — bucket lower edges — from the merged states with an
    integer cross-multiplied threshold walk.

    Counts are exactly additive (unlike the HLL states of
    ``aggregating_merge_sketch_mv``, whose estimates get a tolerance
    contract), so the ENTIRE storage lifecycle is value-exact against
    the oracle, and epoch-append == one-shot by associativity.  At
    100 TB the raw value column is scanned once per epoch; every later
    pass touches only |days| x |buckets| state rows, and the per-day
    cumsum window walks a domain-bounded (~30-row) frame."""
    from ..storage import txlog
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").persist()
    day = F.to_date("ts").alias("day")
    bucket = F.floor(F.col("value") / F.lit(PCTL_MV_BUCKET)).cast("long").alias(
        "bucket"
    )
    try:
        table = _fresh_rollup_dir("value_hist_states")
        txlog.append_many_tx(
            spark,
            table,
            [
                (
                    events.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
                    .groupBy(day, bucket)
                    .agg(F.count("*").alias("n")),
                    i,
                )
                for i in range(4)
            ],
        )
        if not txlog.compact_tx(
            spark,
            table,
            agg=lambda df: df.groupBy("day", "bucket").agg(
                F.sum("n").alias("n")
            ),
        ):
            raise RuntimeError("percentile-MV compact found nothing to merge")
        stored = txlog.read_table(spark, table)
        if stored is None:
            raise RuntimeError("percentile-MV table unreadable after compact")
        w_cum = Window.partitionBy("day").orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, 0
        )
        w_day = Window.partitionBy("day")
        cum = stored.withColumn("cw", F.sum("n").over(w_cum)).withColumn(
            "tot", F.sum("n").over(w_day)
        )
        lo = F.col("bucket") * F.lit(PCTL_MV_BUCKET)
        return cum.groupBy("day").agg(
            F.max("tot").cast("long").alias("n_events"),
            F.min(F.when(F.col("cw") * 2 >= F.col("tot"), lo)).alias("p50_lo"),
            F.min(F.when(F.col("cw") * 10 >= F.col("tot") * 9, lo)).alias(
                "p90_lo"
            ),
            F.min(F.when(F.col("cw") * 100 >= F.col("tot") * 99, lo)).alias(
                "p99_lo"
            ),
        )
    finally:
        events.unpersist(blocking=False)


def sliding_stateful_rollup(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """HOPPING-window (sliding) engine-state aggregation — the windowed
    MV variant the tumbling proof doesn't exercise: every event lands in
    TWO overlapping 2-hour windows (1-hour slide), so cross-batch state
    holds concurrent open windows per key and the watermark finalizes
    them one slide apart.  Same measures as the A1 rollup; same
    bounded-state tradeoff as ``windowed_stateful_rollup``."""
    from ..operators.rollups import category_key, completed, quantity_key

    return (
        events.withWatermark("ts", watermark)
        .filter(completed())
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("win"),
            category_key().alias("category"),
        )
        .agg(
            F.count("*").alias("order_count"),
            dsum("value").alias("total_revenue"),
            F.sum(quantity_key()).alias("total_quantity"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "category",
            "order_count",
            "total_revenue",
            "total_quantity",
        )
    )


def stream_sliding_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated run of the watermarked HOPPING-window aggregation
    (window(ts, '2 hours', '1 hour') — ClickHouse's HOP window / the
    overlapping-window MV): replay events time-ordered through
    ``sliding_stateful_rollup`` and return the windows the stream
    FINALIZED.  In append mode a hopping window emits exactly when the
    watermark passes its end, so the emitted set is batch-predictable:
    each event belongs to the two hour-aligned starts {trunc(ts,'hour')
    - 1h, trunc(ts,'hour')}, and a window survives iff win_start + 2h
    <= max_ts - 2h — the oracle recomputes exactly that with a 2-way
    window explode.  All measures are count/decimal arithmetic."""
    name = _replay_events_stream(
        spark, sf_dir, sliding_stateful_rollup, "slideroll"
    )
    return spark.sql(
        f"SELECT win_start, category, order_count, total_revenue,"
        f" total_quantity FROM {name}"
    )


def optimize_deduplicate_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``OPTIMIZE TABLE ... DEDUPLICATE`` (ClickHouse's full-row dedup
    merge — the cleanup for a loader that double-appended WITHOUT batch
    ids, where the Replacing family's key-based collapse doesn't apply
    because every column, not a version key, decides identity): build an
    append table where a retried epoch re-wrote the even-hour rollup rows
    verbatim, then run the OPTIMIZE with a full-row ``dropDuplicates``
    fold (``compact_tx(agg=...)``) and return the post-merge table.

    The oracle is the plain A1 hourly rollup — dedup must restore exactly
    one copy of every row (the pre/post row-count drop and the
    no-batch-id premise are pytest-pinned).  Full-row identity includes
    the decimal-derived revenue double: bit-stable within the engine, so
    duplicates are exact.

    Scale shape: the rewrite is the OPTIMIZE the table needed anyway;
    dropDuplicates shuffles rollup rows (key-bounded), never events."""
    from ..storage import txlog

    full = hourly_rollup_aggregate(load_table(spark, sf_dir, "events"))
    table = _fresh_rollup_dir("sales_hourly_dedup_optimize")
    txlog.append_tx(spark, table, full)  # epoch 0: the honest load
    txlog.append_tx(  # epoch 1: a retry re-appended even hours VERBATIM
        spark, table, full.filter(F.hour("hour") % 2 == 0)
    )
    before = txlog.read_table(spark, table).count()
    if not txlog.compact_tx(
        spark, table, agg=lambda df: df.dropDuplicates()
    ):
        raise RuntimeError("OPTIMIZE DEDUPLICATE found nothing to rewrite")
    out = txlog.read_table(spark, table)
    if out is None or out.count() >= before:
        raise RuntimeError("DEDUPLICATE did not shrink the table")
    return out.select(
        "hour", "category", "order_count", "total_revenue", "total_quantity"
    )


#: The arrival-lifecycle schedule shared by every dedup-on-arrival op:
#: epoch = id % 4, epochs deliberately arrive OUT OF ORDER, and txlog
#: batch ids are monotone in ARRIVAL order (the replay contract — an
#: epoch-numbered id would read as an already-merged replay).
ARRIVAL_ORDER = (2, 0, 3, 1)


def run_arrival_lifecycle(
    spark: SparkSession,
    *,
    arrivals: DataFrame,
    epoch_of,
    quarantine: str,
    index: str,
    probe_kernel,
    quarantine_rows,
    index_rows,
    after_epoch=None,
    ledger=None,
    shuffle_partitions: str = "8",
):
    """Shared arrival-lifecycle harness (r14, verdict #5): the epoch
    scaffold that was ~200 near-identical lines in each of
    ``stream_curation_ingest`` / ``stream_media_ingest`` /
    ``stream_semantic_ingest`` — a fourth modality now costs a kernel,
    not a copy.  The harness owns:

    - the out-of-order ``ARRIVAL_ORDER`` epoch loop with batch ids
      monotone in ARRIVAL order (the txlog replay contract);
    - the first-arrival branch (the index is empty by definition — no
      probe, ``hits is None``);
    - persist+count of each probing epoch's hits before they fan out to
      the quarantine append AND the clean anti-join (unpersisted, each
      consumer would re-run the probe join — the r12 lesson), and the
      unpersist at epoch end;
    - the batch-id-idempotent quarantine + index commits (an
      at-least-once replay of any epoch is a committed no-op);
    - the shuffle-partition sizing for the ~10-20 small
      driver-coordinated jobs per run (sized to the replay volume, the
      ``_replay_events_stream`` convention; restored in the finally).

    Injected per modality (each also receives the EPOCH number, for
    kernels that slice a pre-materialized signature memo by epoch):

    - ``probe_kernel(batch, index_df, epoch) -> hits | None`` —
      candidacy + verification against the persisted index (MinHash-LSH
      equi-join, Hamming band probe, within-cell Arrow cosine, ...);
    - ``quarantine_rows(batch, hits, epoch) -> rows | None`` — this
      epoch's reason-tagged rejects (None commits nothing; curation
      returns quality rejects even on the first arrival);
    - ``index_rows(batch, hits, epoch) -> rows | None`` — the clean
      rows the index learns (quarantined arrivals never enter it, so
      the probe set stays "accepted by strictly earlier epochs" — the
      recursion every oracle unrolls);
    - ``after_epoch(bi, epoch, batch, hits)`` — optional extra state
      mutation (curation's Replacing merge into the curated table);
    - ``ledger() -> DataFrame`` — the driver row, assembled while the
      tuned shuffle sizing is still in effect.
    """
    from ..storage import txlog

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
        for bi, i in enumerate(ARRIVAL_ORDER):
            batch = arrivals.filter(epoch_of == i)
            if bi == 0:  # first arrival: the index is empty by definition
                hits = None
            else:
                hits = probe_kernel(batch, txlog.read_table(spark, index), i)
                if hits is not None:
                    hits = hits.persist()
                    hits.count()
            # The epoch's three state mutations hit three DIFFERENT tables
            # (quarantine txlog, index txlog, the after_epoch merge) from
            # inputs that are all pinned (hits is persisted+counted) — so
            # they are independent jobs and run OVERLAPPED (§2.6): one
            # commit's write-job tail back-fills with the next one's
            # tasks.  Each table's own commit order and batch ids are
            # untouched; the next epoch's probe starts only after all
            # three have committed, exactly as before.
            q = quarantine_rows(batch, hits, i)
            ir = index_rows(batch, hits, i)
            jobs = []
            if q is not None:
                jobs.append(
                    lambda q=q: txlog.append_tx(spark, quarantine, q, batch_id=bi)
                )
            if ir is not None:
                jobs.append(
                    lambda ir=ir: txlog.append_tx(spark, index, ir, batch_id=bi)
                )
            if after_epoch is not None:
                jobs.append(lambda: after_epoch(bi, i, batch, hits))
            if len(jobs) <= 1:
                for job in jobs:
                    job()
            else:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                    for f in [pool.submit(job) for job in jobs]:
                        f.result()
            if hits is not None:
                hits.unpersist()
        return ledger() if ledger is not None else None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def stream_curation_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming CURATION ingest (NEW r11; near-dup-on-arrival
    added r12 per the verdict's capability directive) — the LLM-data
    front door assembled from the proven pieces as ONE lifecycle proof:
    documents arrive as 4 out-of-order micro-batches; each batch runs

    1. an integer-exact quality gate (n_words >= 5 AND
       10*distinct_words >= 4*n_words — the word-soup fixture splits
       ~65/35 at every SF); rejects land in a batch-id-idempotent
       quarantine txlog with reason='quality';
    2. a NEAR-DUP probe of the persisted MinHash-LSH index (the
       ``minhash_index_ingest`` machinery composed into the front
       door): the batch accepts' banded signatures equi-join the
       index table on (band, sig), same-content candidates are
       excluded (exact copies belong to the Replacing collapse, not
       fuzzy quarantine), survivors are exact-Jaccard verified against
       the capped-shingle kernel (>= 0.5), and hits are quarantined
       with reason='near_dup' and their matched (min) indexed doc id —
       fuzzy dedup BEFORE a byte lands in the curated table;
    3. the clean accepts upsert into the Replacing curated table keyed
       by content hash with version = -doc_id (the FIRST copy of each
       distinct text wins regardless of arrival order — the
       ReplacingMergeTree idiom of /root/reference/clickhouse/init/
       01_init.sql's MergeTree family) AND append their signatures to
       the LSH index txlog — quarantined docs never enter the index,
       so the probe set is exactly "docs accepted by strictly earlier
       epochs" (the recursion the oracle unrolls epoch by epoch).

    Every state mutation is a batch-id-idempotent txlog commit (ONE
    quarantine commit per epoch carrying both reject reasons, one index
    commit — ids monotone in ARRIVAL order, the txlog replay contract),
    so an at-least-once replay of any epoch is a committed no-op
    (pytest-pinned).

    The driver row is the per-source curation ledger: kept docs,
    quality-quarantined docs, near-dup-quarantined docs, and duplicate
    copies collapsed by the merge.  The oracle recomputes the whole
    lifecycle from raw parquet in plain SQL: gate -> full-corpus banded
    LSH pair set -> the 4-epoch acceptance recursion unrolled as
    chained CTEs -> min-doc_id representative -> per-source counts.

    Scale shape: per batch O(batch + matched buckets + touched hash
    buckets) — the probe is one equi-join against the stored index,
    the index append is O(batch), verification touches candidate docs
    only; nothing ever re-signs or rewrites the corpus."""
    from ..functions.hashing import stable_hash64
    from ..operators.dedup import _minhash_sigs_src
    from ..storage import txlog

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ", -1)
    nw = F.size(words)
    nd = F.size(F.array_distinct(words))
    flagged = docs.select(
        "doc_id",
        "source",
        stable_hash64(F.col("text")).alias("content_key"),
        (-F.col("doc_id")).alias("version"),
        ((nw >= 5) & (10 * nd >= 4 * nw)).alias("passed"),
    ).persist()
    # Warm the shared dedup artifacts (shingles -> signatures -> verified
    # pairs) BEFORE the tuned-shuffle region: their one-time builds are
    # corpus-shaped and belong at the session's default parallelism.
    from ..operators.dedup import minhash_near_dup

    minhash_near_dup(spark, sf_dir)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        curated = _fresh_rollup_dir("documents_curated_ingest")
        quarantine = _fresh_rollup_dir("documents_quarantine")
        lsh_index = _fresh_rollup_dir("documents_curation_lsh_index")
        epoch = F.pmod(F.col("doc_id"), F.lit(4))
        accepts = flagged.filter(F.col("passed"))
        em = _epoch_bucket_map(accepts, epoch, ["content_key"])
        # The pre-loop materializations below run ~small shuffles too —
        # size them to the replay volume like the epoch loop itself (the
        # _replay_events_stream convention; restored in the finally, and
        # the harness re-applies it around the loop).
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        # Signatures for every gate-passing doc, from the memoized
        # full-corpus signature table (r15 — per-doc signatures are
        # independent of corpus slicing, so the accepts' rows are a
        # filter of the artifact, value-identical to re-signing them),
        # persisted and FILTERED per epoch below.
        acc_sigs = (
            _minhash_sigs_src(spark, sf_dir)
            .join(accepts.select("doc_id", "content_key"), "doc_id")
            .persist()
        )
        acc_sigs.count()  # materialize once, before the epoch loop
        # Pair VERIFICATION is state-free (the Jaccard of two fixed
        # shingle sets); only CANDIDACY depends on the evolving index.
        # Verify the union of every pair a probe could ever surface —
        # banded same-sig pairs among gate-passers with different
        # content where the hit side arrived strictly earlier — in ONE
        # candidate-only pass, memoized for all three probing epochs;
        # per-epoch re-verification would triple the only corpus-shaped
        # work in the loop for identical answers.  Each epoch's probe
        # below still walks the STORED index for candidacy and joins
        # this memo for the verdict.
        arrival_pos = F.element_at(
            F.array(F.lit(1), F.lit(3), F.lit(0), F.lit(2)),
            (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int"),
        )
        sigs_pos = acc_sigs.withColumn("pos", arrival_pos)
        all_cands = (
            sigs_pos.select(
                F.col("doc_id").alias("doc_a"),
                F.col("content_key").alias("ck_a"),
                F.col("pos").alias("pos_a"),
                "band",
                "sig",
            )
            .join(
                sigs_pos.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("content_key").alias("ck_b"),
                    F.col("pos").alias("pos_b"),
                    "band",
                    "sig",
                ),
                ["band", "sig"],
            )
            .filter((F.col("ck_a") != F.col("ck_b")) & (F.col("pos_a") > F.col("pos_b")))
            .select("doc_a", "doc_b")
            .distinct()
            .cache()
        )
        # Pair verification reuses the memoized full-corpus verified pair
        # set (r15): a candidate pair's exact-Jaccard verdict depends only
        # on the two docs' fixed shingle sets, and every curation
        # candidate is banded-colliding, i.e. present in the global LSH
        # candidate set — so membership in the global verified pairs
        # (same kernel, same JACCARD_THRESHOLD) IS the verdict.  The
        # semi-join is on the unordered pair (the artifact stores
        # doc_a < doc_b; curation orders by arrival).
        gpairs = minhash_near_dup(spark, sf_dir).select(
            F.col("doc_a").alias("lo"), F.col("doc_b").alias("hi")
        )
        verified = (
            all_cands.join(
                gpairs,
                (F.least("doc_a", "doc_b") == F.col("lo"))
                & (F.greatest("doc_a", "doc_b") == F.col("hi")),
                "left_semi",
            )
            .select("doc_a", "doc_b")
            .persist()
        )
        verified.count()
        all_cands.unpersist()
        def probe_kernel(batch: DataFrame, index: DataFrame, i: int) -> DataFrame:
            batch_sigs = acc_sigs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == i)
            candidates = (
                batch_sigs.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("content_key").alias("ck_a"),
                    "band",
                    "sig",
                )
                .join(
                    index.select(
                        F.col("doc_id").alias("doc_b"),
                        F.col("content_key").alias("ck_b"),
                        "band",
                        "sig",
                    ),
                    ["band", "sig"],
                )
                .filter(F.col("ck_a") != F.col("ck_b"))
                .select("doc_a", "doc_b")
                .distinct()
            )
            # hits (nd_docs) feed THREE consumers (near-dup append,
            # curated merge's anti-join, index append's anti-join) —
            # the harness persists them before the fan-out
            return (
                candidates.join(verified, ["doc_a", "doc_b"])
                .groupBy("doc_a")
                .agg(F.min("doc_b").alias("matched_doc_id"))
                .withColumnRenamed("doc_a", "doc_id")
            )

        def quarantine_rows(batch: DataFrame, hits, i: int) -> DataFrame:
            # ONE quarantine commit per epoch (quality + near-dup rows,
            # reason-tagged): the epoch's rejects are one atomic batch,
            # and halving the commit count saves ~2s of txlog machinery
            # per run at sf0.1
            quality_rows = batch.filter(~F.col("passed")).select(
                "doc_id",
                "source",
                F.lit("quality").alias("reason"),
                F.lit(None).cast("long").alias("matched_doc_id"),
            )
            if hits is None:
                return quality_rows.coalesce(2)
            ndq_rows = batch.filter(F.col("passed")).join(hits, "doc_id").select(
                "doc_id",
                "source",
                F.lit("near_dup").alias("reason"),
                "matched_doc_id",
            )
            return quality_rows.union(ndq_rows).coalesce(2)

        def index_rows(batch: DataFrame, hits, i: int) -> DataFrame:
            clean_sigs = acc_sigs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == i)
            if hits is not None:
                clean_sigs = clean_sigs.join(
                    hits.select("doc_id"), "doc_id", "left_anti"
                )
            return clean_sigs.select(
                "doc_id", "content_key", "band", "sig"
            ).coalesce(2)

        def after_epoch(bi: int, i: int, batch: DataFrame, hits) -> None:
            acc = batch.filter(F.col("passed"))
            clean = (
                acc
                if hits is None
                else acc.join(hits.select("doc_id"), "doc_id", "left_anti")
            )
            merge_replacing(
                spark,
                curated,
                clean.select("content_key", "version", "doc_id", "source"),
                key="content_key",
                version="version",
                batch_id=None,
                touched=em.get(i, []),
            )

        def ledger() -> DataFrame:
            kept = spark.read.parquet(curated).groupBy("source").agg(
                F.count("*").cast("long").alias("n_kept")
            )
            qt = txlog.read_table(spark, quarantine)
            quar = qt.filter(F.col("reason") == "quality").groupBy("source").agg(
                F.count("*").cast("long").alias("n_quarantined")
            )
            ndq = qt.filter(F.col("reason") == "near_dup").groupBy("source").agg(
                F.count("*").cast("long").alias("n_near_dup_quarantined")
            )
            clean_counts = (
                accepts.join(
                    qt.filter(F.col("reason") == "near_dup").select("doc_id"),
                    "doc_id",
                    "left_anti",
                )
                .groupBy("source")
                .agg(F.count("*").cast("long").alias("n_clean"))
            )
            return (
                docs.select("source")
                .distinct()
                .join(kept, "source", "left")
                .join(quar, "source", "left")
                .join(ndq, "source", "left")
                .join(clean_counts, "source", "left")
                .select(
                    "source",
                    F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
                    F.coalesce("n_quarantined", F.lit(0)).cast("long").alias(
                        "n_quarantined"
                    ),
                    F.coalesce("n_near_dup_quarantined", F.lit(0))
                    .cast("long")
                    .alias("n_near_dup_quarantined"),
                    (
                        F.coalesce("n_clean", F.lit(0))
                        - F.coalesce("n_kept", F.lit(0))
                    ).cast("long").alias("n_dup_collapsed"),
                )
            )

        # proof-table handles for the lifecycle pytest (quarantine
        # contents + replay no-op are pinned there, not in the ledger)
        stream_curation_ingest.last_tables = {
            "curated": curated,
            "quarantine": quarantine,
            "lsh_index": lsh_index,
        }
        result = run_arrival_lifecycle(
            spark,
            arrivals=flagged,
            epoch_of=epoch,
            quarantine=quarantine,
            index=lsh_index,
            probe_kernel=probe_kernel,
            quarantine_rows=quarantine_rows,
            index_rows=index_rows,
            after_epoch=after_epoch,
            ledger=ledger,
        )
        verified.unpersist()
        acc_sigs.unpersist()
        return result
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        flagged.unpersist(blocking=False)


def stream_media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media NEAR-DUP-ON-ARRIVAL (NEW r13, the verdict's capability
    directive — the multimodal sibling of ``stream_curation_ingest``'s
    text front door): media items arrive as 4 out-of-order micro-batches;
    each batch

    1. computes its 64-bit aHash at the edge (the Arrow-batched map-only
       ``media_phash64`` pass — the binary payload is dropped before any
       exchange; only (doc_id, phash64) ever rides a shuffle);
    2. probes the PERSISTED 8-band Hamming index with one (band, byte)
       equi-join; candidates verify by exact Hamming over the two
       fingerprints carried on the join rows (no second pass over
       content) — banding is pigeonhole-exact for the <= 7 threshold, so
       the probe loses no recall vs brute force;
    3. quarantines verified hits with the nearest matched media id
       (struct-extrema argmin over (hamming, doc_id) — nearest first,
       then lowest id; reason = 'exact' at Hamming 0, 'near_dup' at
       1..7), one batch-id-idempotent txlog commit per probing epoch;
    4. appends the CLEAN rows' 8 band rows to the index txlog —
       quarantined media never enter the index, so the probe set is
       exactly "media accepted by strictly earlier arrivals" (the
       recursion the oracle unrolls epoch by epoch).

    **Recall canaries** (the ``media_phash_near_dup`` planted-neighbor
    device, arrival-shifted): every CANARY_MOD-th fingerprint re-arrives
    under doc_id + ``MEDIA_INGEST_CANARY_OFFSET`` with 3 bits flipped —
    the +1 offset moves the canary one EPOCH over, so each planted
    Hamming-3 pair straddles two micro-batches and the later arrival
    MUST be quarantined against the earlier one (whichever direction the
    arrival order puts them).  A disjoint cohort (doc_id%100 == 50)
    re-arrives UNCHANGED two epochs over — exact-copy canaries, because
    the fixture's organic exact text dupes exist only at sf0.1 (probed
    r13) and the 'exact' reason must be falsifiable at every sweep SF.
    Both reasons are live at every SF (pytest-pinned).

    Every state mutation is a batch-id-idempotent txlog commit with ids
    monotone in ARRIVAL order (the replay contract): an at-least-once
    replay of any epoch is a committed no-op (pytest-pinned, the
    curation precedent).

    The driver row is the per-format ingest ledger: arrivals, kept
    (indexed) items, exact-quarantined, near-dup-quarantined.  The
    oracle recomputes the whole lifecycle in plain SQL — the same
    64-term aHash bit chain, canaries, and the 4-epoch acceptance
    recursion unrolled as chained MATERIALIZED CTEs, with BRUTE-FORCE
    Hamming candidacy (no banding: an INDEPENDENT construction the
    pigeonhole argument proves equal for <= 7).

    Scale shape: per batch O(batch + matched buckets) — the probe is
    one equi-join against the stored index (8 rows per indexed item,
    constant bytes each), the index append is O(batch), verification is
    a projection on the candidate rows; nothing ever re-hashes or
    rewrites the corpus, and binary bytes never shuffle."""
    from ..operators.multimodal import (
        _FORMATS,
        MEDIA_INGEST_CANARY_OFFSET,
        MEDIA_INGEST_EXACT_OFFSET,
        MEDIA_INGEST_EXACT_RESIDUE,
        PHASH64_CANARY_MOD,
        PHASH64_CANARY_XOR,
        PHASH64_HAMMING_MAX,
        _phash64_bands,
        _phash64_src,
    )
    from ..storage import txlog

    # the memoized fingerprint artifact replaces the per-call Python
    # hashing pass + localCheckpoint (r15): every sig branch (corpus +
    # two canary cohorts) is now a scan of the same scratch parquet
    base = _phash64_src(spark, sf_dir)
    canaries = base.filter(F.pmod("doc_id", F.lit(PHASH64_CANARY_MOD)) == 0).select(
        (F.col("doc_id") + F.lit(MEDIA_INGEST_CANARY_OFFSET)).alias("doc_id"),
        F.col("phash64").bitwiseXOR(F.lit(PHASH64_CANARY_XOR)).alias("phash64"),
    )
    exact_canaries = base.filter(
        F.pmod("doc_id", F.lit(PHASH64_CANARY_MOD)) == MEDIA_INGEST_EXACT_RESIDUE
    ).select(
        (F.col("doc_id") + F.lit(MEDIA_INGEST_EXACT_OFFSET)).alias("doc_id"),
        "phash64",
    )
    fmt = F.element_at(
        F.array(*[F.lit(x) for x in _FORMATS]),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    # ONE Python hashing pass (persist before the epoch loop); from here
    # on everything is (doc_id, phash64, format) — no binary columns.
    sigs = (
        base.unionByName(canaries)
        .unionByName(exact_canaries)
        .withColumn("format", fmt)
        .persist()
    )
    sigs.count()
    quarantine = _fresh_rollup_dir("media_quarantine")
    hamming_index = _fresh_rollup_dir("media_hamming_index")

    def probe_kernel(batch: DataFrame, index: DataFrame, _e: int) -> DataFrame:
        cand = _phash64_bands(batch.select("doc_id", "phash64")).select(
            "doc_id", F.col("phash64").alias("ph_a"), "band", "val"
        ).join(
            index.select(
                F.col("doc_id").alias("doc_b"),
                F.col("phash64").alias("ph_b"),
                "band",
                "val",
            ),
            ["band", "val"],
        )
        ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("long")
        return (
            cand.select("doc_id", "doc_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= PHASH64_HAMMING_MAX)
            .groupBy("doc_id")
            # struct-extrema argmin (the argminmax_battery discipline,
            # r14): lexicographic min over (hamming, doc_b) — nearest
            # first, doc-id tiebreak — with NO id-width bound, unlike
            # the retired hamming*1e10+doc_b pack (safe only for ids
            # < 1e10; the oracle keeps the packed form as an
            # INDEPENDENT construction, fixture-bounded)
            .agg(F.min(F.struct(F.col("hamming"), F.col("doc_b"))).alias("mk"))
            .select(
                "doc_id",
                F.col("mk.hamming").cast("long").alias("hamming"),
                F.col("mk.doc_b").cast("long").alias("matched_doc_id"),
            )
        )

    def quarantine_rows(batch: DataFrame, hits, _e: int) -> DataFrame | None:
        if hits is None:
            return None
        return batch.join(hits, "doc_id").select(
            "doc_id",
            "format",
            F.when(F.col("hamming") == 0, F.lit("exact"))
            .otherwise(F.lit("near_dup"))
            .alias("reason"),
            "matched_doc_id",
            "hamming",
        ).coalesce(1)

    def index_rows(batch: DataFrame, hits, _e: int) -> DataFrame:
        bands = _phash64_bands(batch.select("doc_id", "phash64"))
        if hits is not None:
            bands = bands.join(hits.select("doc_id"), "doc_id", "left_anti")
        return bands.select("doc_id", "phash64", "band", "val").coalesce(2)

    def ledger() -> DataFrame:
        idx = txlog.read_table(spark, hamming_index)
        kept = (
            sigs.join(idx.select("doc_id").distinct(), "doc_id")
            .groupBy("format")
            .agg(F.count("*").cast("long").alias("n_kept"))
        )
        qt = txlog.read_table(spark, quarantine)
        exact_c = (
            qt.filter(F.col("reason") == "exact")
            .groupBy("format")
            .agg(F.count("*").cast("long").alias("n_exact_quarantined"))
        )
        near_c = (
            qt.filter(F.col("reason") == "near_dup")
            .groupBy("format")
            .agg(F.count("*").cast("long").alias("n_near_dup_quarantined"))
        )
        arrived = sigs.groupBy("format").agg(
            F.count("*").cast("long").alias("n_arrived")
        )
        return (
            arrived.join(kept, "format", "left")
            .join(exact_c, "format", "left")
            .join(near_c, "format", "left")
            .select(
                "format",
                "n_arrived",
                F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
                F.coalesce("n_exact_quarantined", F.lit(0))
                .cast("long")
                .alias("n_exact_quarantined"),
                F.coalesce("n_near_dup_quarantined", F.lit(0))
                .cast("long")
                .alias("n_near_dup_quarantined"),
            )
        )

    # proof-table handles for the lifecycle pytest (quarantine contents,
    # canary recall and replay no-op are pinned there)
    stream_media_ingest.last_tables = {
        "quarantine": quarantine,
        "hamming_index": hamming_index,
    }
    try:
        return run_arrival_lifecycle(
            spark,
            arrivals=sigs,
            epoch_of=F.pmod(F.col("doc_id"), F.lit(4)),
            quarantine=quarantine,
            index=hamming_index,
            probe_kernel=probe_kernel,
            quarantine_rows=quarantine_rows,
            index_rows=index_rows,
            ledger=ledger,
        )
    finally:
        sigs.unpersist(blocking=False)


#: arrival offset for the semantic-ingest exact-copy canaries: +1000001
#: is ≡ +1 (mod 4), so every planted copy lands one micro-batch over
#: and must be recovered across the index boundary (the media-ingest
#: device; organic near-identical embeddings don't exist in the fixture
#: — max within-cell cosine 0.471, probed r13 — so without canaries the
#: exact regime would be unfalsifiable).
SEMANTIC_INGEST_CANARY_OFFSET = 1_000_001
SEMANTIC_INGEST_CANARY_MOD = 100


def stream_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding) DEDUP-ON-ARRIVAL (NEW r13 — completes the
    arrival-lifecycle triple: text MinHash-LSH r12, media pHash r13,
    embeddings now): vectors arrive as 4 out-of-order micro-batches;
    each batch

    1. is assigned its k-means cell MAP-SIDE against the memoized
       broadcast quantizer (the ``semantic_dedup`` / ``ann_ivf_kmeans``
       shared quantizer — the DEPLOYED quantizer of a production ingest,
       trained once, never refit per batch);
    2. probes the PERSISTED cell index: candidates are the indexed
       vectors in the SAME cell (the SemDeDup blocking trick — never an
       all-pairs join), verified by exact round-6 cosine >=
       ``SEMDEDUP_THRESHOLD`` in one grouped Arrow pass per touched
       cell (the ``semantic_dedup`` kernel's numpy convention, shared
       parity precedent);
    3. quarantines verified hits with the closest matched vector id
       (lexicographic argmin over (-cos_micros, vec_id) —
       highest cosine first, then lowest id; reason = 'exact' at
       cos_micros == 1e6, 'semantic' below), one batch-id-idempotent
       txlog commit per probing epoch;
    4. appends the CLEAN rows (vec_id, cluster, embedding) to the index
       txlog — quarantined vectors never enter it, so the probe set is
       exactly "vectors accepted by strictly earlier arrivals" (the
       recursion the oracle unrolls).

    Every CANARY_MOD-th vector re-arrives UNCHANGED one epoch over
    (cos exactly 1.0 after round-6 — the planted recall evidence; see
    ``SEMANTIC_INGEST_CANARY_OFFSET``).  The ledger is per label:
    arrivals, kept, exact-quarantined, semantic-quarantined.

    The oracle recomputes the lifecycle in plain SQL: the shared
    unrolled-Lloyd quantizer CTEs, assignment of the arrival union
    against the FINAL centroids, and the 4-epoch acceptance recursion
    with within-cell round-6 cosine candidacy (MATERIALIZED CTEs).

    Scale shape: per batch O(batch + touched-cell candidates) — cell
    size is n/K, bounded in production by K ~ sqrt(n) (the SemDeDup
    paper's 50k cells for LAION); the quantizer is a broadcast row;
    embeddings ride ONE grouped exchange per epoch (batch + touched
    index cells), never an all-pairs expansion; every commit is
    batch-id-idempotent with ids monotone in arrival order (replay
    no-op pytest-pinned)."""
    import numpy as np
    import pandas as pd

    from ..operators.similarity import (
        SEMDEDUP_THRESHOLD,
        _kmeans_fit,
        _with_ranked_cells,
    )
    from ..storage import txlog

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    canary = emb.filter(
        F.pmod("vec_id", F.lit(SEMANTIC_INGEST_CANARY_MOD)) == 0
    ).select(
        (F.col("vec_id") + F.lit(SEMANTIC_INGEST_CANARY_OFFSET)).alias("vec_id"),
        "embedding",
        "label",
    )
    uni = emb.unionByName(canary)
    quantizer = _kmeans_fit(spark, sf_dir)  # memoized; trained on originals
    assigned = _with_ranked_cells(uni.select("vec_id", "embedding"), quantizer).select(
        "vec_id", "embedding", F.element_at("ranked", 1)["c"].alias("cluster")
    )
    sigs = assigned.join(uni.select("vec_id", "label"), "vec_id").persist()
    sigs.count()  # one assignment pass, before the epoch loop

    def probe_cells(pdf: "pd.DataFrame") -> "pd.DataFrame":
        bx = pdf[pdf["side"] == "b"].sort_values("vec_id")
        ix = pdf[pdf["side"] == "x"].sort_values("vec_id")
        if bx.empty or ix.empty:
            return pd.DataFrame(
                {"vec_id": [], "matched_vec_id": [], "cos_micros": []}
            ).astype({"vec_id": "int64", "matched_vec_id": "int64", "cos_micros": "int64"})
        bm = np.asarray(bx["embedding"].tolist(), dtype=np.float64)
        im = np.asarray(ix["embedding"].tolist(), dtype=np.float64)
        bu = bm / np.linalg.norm(bm, axis=1, keepdims=True)
        iu = im / np.linalg.norm(im, axis=1, keepdims=True)
        cos = np.round(bu @ iu.T, 6)  # the semantic_dedup kernel convention
        micros = np.floor(cos * 1_000_000 + 0.5).astype(np.int64)
        ids = ix["vec_id"].to_numpy()
        # closest-first pick per row: lexicographic argmin over
        # (-cos_micros, vec_id) — highest cosine, id tiebreak — done as
        # row-max micros then min id among the ties (r14: retires the
        # (1e6-micros)*1e10+id pack, which silently mispicked above
        # 10-digit ids; this form has NO id-width bound)
        rowmax = micros.max(axis=1, keepdims=True)
        masked_ids = np.where(
            micros == rowmax, ids[None, :], np.iinfo(np.int64).max
        )
        best = masked_ids.argmin(axis=1)
        bids = bx["vec_id"].to_numpy()
        bestm = micros[np.arange(len(bids)), best]
        hit = cos[np.arange(len(bids)), best] >= SEMDEDUP_THRESHOLD
        return pd.DataFrame(
            {
                "vec_id": bids[hit],
                "matched_vec_id": ids[best[hit]],
                "cos_micros": bestm[hit],
            }
        )

    quarantine = _fresh_rollup_dir("semantic_quarantine")
    sem_index = _fresh_rollup_dir("semantic_cell_index")

    def probe_kernel(batch: DataFrame, index: DataFrame, _e: int) -> DataFrame:
        # touched-cell pruning: only index rows in cells the batch
        # actually probes ride the grouped exchange — the probe is
        # O(batch + touched-cell candidates), never O(index)
        touched = batch.select("cluster").distinct()
        index = index.join(F.broadcast(touched), "cluster")
        both = batch.select(
            "cluster", F.lit("b").alias("side"), "vec_id", "embedding"
        ).unionByName(
            index.select(
                "cluster", F.lit("x").alias("side"), "vec_id", "embedding"
            )
        )
        return both.groupBy("cluster").applyInPandas(
            probe_cells,
            schema="vec_id long, matched_vec_id long, cos_micros long",
        )

    def quarantine_rows(batch: DataFrame, hits, _e: int) -> DataFrame | None:
        if hits is None:
            return None
        return batch.join(hits, "vec_id").select(
            "vec_id",
            "label",
            F.when(F.col("cos_micros") == 1_000_000, F.lit("exact"))
            .otherwise(F.lit("semantic"))
            .alias("reason"),
            "matched_vec_id",
            "cos_micros",
        ).coalesce(1)

    def index_rows(batch: DataFrame, hits, _e: int) -> DataFrame:
        clean = batch
        if hits is not None:
            clean = batch.join(hits.select("vec_id"), "vec_id", "left_anti")
        return clean.select("vec_id", "cluster", "embedding").coalesce(2)

    def ledger() -> DataFrame:
        idx = txlog.read_table(spark, sem_index)
        kept = (
            sigs.join(idx.select("vec_id"), "vec_id")
            .groupBy("label")
            .agg(F.count("*").cast("long").alias("n_kept"))
        )
        qt = txlog.read_table(spark, quarantine)
        exact_c = (
            qt.filter(F.col("reason") == "exact")
            .groupBy("label")
            .agg(F.count("*").cast("long").alias("n_exact_quarantined"))
        )
        sem_c = (
            qt.filter(F.col("reason") == "semantic")
            .groupBy("label")
            .agg(F.count("*").cast("long").alias("n_semantic_quarantined"))
        )
        arrived = sigs.groupBy("label").agg(
            F.count("*").cast("long").alias("n_arrived")
        )
        return (
            arrived.join(kept, "label", "left")
            .join(exact_c, "label", "left")
            .join(sem_c, "label", "left")
            .select(
                F.col("label").cast("long").alias("label"),
                "n_arrived",
                F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
                F.coalesce("n_exact_quarantined", F.lit(0))
                .cast("long")
                .alias("n_exact_quarantined"),
                F.coalesce("n_semantic_quarantined", F.lit(0))
                .cast("long")
                .alias("n_semantic_quarantined"),
            )
        )

    stream_semantic_ingest.last_tables = {
        "quarantine": quarantine,
        "sem_index": sem_index,
    }
    try:
        return run_arrival_lifecycle(
            spark,
            arrivals=sigs,
            epoch_of=F.pmod(F.col("vec_id"), F.lit(4)),
            quarantine=quarantine,
            index=sem_index,
            probe_kernel=probe_kernel,
            quarantine_rows=quarantine_rows,
            index_rows=index_rows,
            ledger=ledger,
        )
    finally:
        sigs.unpersist(blocking=False)


def projection_auto_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse PROJECTION — per-part pre-aggregation maintained AT
    INSERT plus automatic query routing (NEW r14; the projection feature
    had no analog here: the MV family materializes into separate tables
    a query must NAME, while a projection is picked transparently when
    the query's keys are covered).

    Build: orders land in 4 arrival-ordered base appends; EVERY append
    also commits that batch's partial (priority, month) aggregate to the
    projection table under the SAME batch id — exactly ClickHouse
    materializing a projection per inserted part (both commits are
    batch-id idempotent, so an at-least-once replay repairs or no-ops
    both tables).

    Route: a query spec (group keys + mergeable measures) is served from
    the projection iff its keys are a subset of the projection dims —
    re-aggregating the per-part partials (count/sum merge exactly like
    the MergeTree partial-agg family); anything else falls back to the
    base scan.  The battery runs one covered query (by priority — reads
    ~20 partial rows per month-priority cell instead of every order) and
    one uncovered (by status — base scan), both labeled with the routing
    decision; the pytest pins the projection path's inputFiles never
    touch the base table.

    Scale shape: the projection table is |dims domain| x parts rows —
    re-aggregation cost is independent of the order count (the whole
    point at 100 TB: a dashboard group-by reads megabytes of partials,
    not the fact table); maintenance is one map-side-combined aggregate
    per insert batch."""
    from ..storage import txlog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long").alias(
            "month_key"
        ),
        (F.col("o_totalprice").cast("decimal(25,6)") * F.lit(1_000_000))
        .cast("long")
        .alias("price_micros"),
    )
    base = _fresh_rollup_dir("orders_projected_base")
    proj = _fresh_rollup_dir("orders_projection_prio_month")
    # The 4 base batches (and their 4 projection partials) are independent
    # frames over disjoint key residues: stage all dirs concurrently and
    # commit each table's versions in batch order — identical commit
    # sequences per table, minus the serialized write wall-clock (§2.6).
    batches = [
        orders.filter(F.pmod("o_orderkey", F.lit(4)) == bi) for bi in range(4)
    ]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_base = pool.submit(
            txlog.append_many_tx,
            spark,
            base,
            [(b.coalesce(2), bi) for bi, b in enumerate(batches)],
        )
        f_proj = pool.submit(
            txlog.append_many_tx,
            spark,
            proj,
            [
                (
                    b.groupBy("o_orderpriority", "month_key")
                    .agg(
                        F.count("*").cast("long").alias("n_part"),
                        F.sum("price_micros").cast("long").alias("rev_part"),
                    )
                    .coalesce(1),
                    bi,
                )
                for bi, b in enumerate(batches)
            ],
        )
        f_base.result()
        f_proj.result()

    PROJ_DIMS = {"o_orderpriority", "month_key"}

    def route(keys: list[str], label: str) -> DataFrame:
        if set(keys) <= PROJ_DIMS:
            src = txlog.read_table(spark, proj)
            out = src.groupBy(*keys).agg(
                F.sum("n_part").cast("long").alias("n_orders"),
                F.sum("rev_part").cast("long").alias("revenue_micros"),
            )
            served = "projection"
        else:
            src = txlog.read_table(spark, base)
            out = src.groupBy(*keys).agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum("price_micros").cast("long").alias("revenue_micros"),
            )
            served = "base"
        projection_auto_route.last_routes[label] = (served, out)
        return out.select(
            F.lit(label).alias("query"),
            F.concat_ws(
                ",", *[F.col(k).cast("string") for k in keys]
            ).alias("key"),
            "n_orders",
            "revenue_micros",
            F.lit(served).alias("served_from"),
        )

    projection_auto_route.last_routes = {}
    projection_auto_route.last_tables = {"base": base, "projection": proj}
    q1 = route(["o_orderpriority"], "by_priority")
    q2 = route(["o_orderstatus"], "by_status")
    return q1.unionByName(q2)


def atomic_publish_consistent_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table ATOMIC publish + consistent serve (NEW r14): a fact
    table and its rollup commit independently per batch, but become
    visible TOGETHER through one group commit
    (``txlog.publish_group`` — the commit-coordinator layer; Delta
    multi-table transactions / Iceberg catalog transactions).  Without
    it, a reader between the fact append and the rollup append sees a
    fact/aggregate mismatch — the classic eventually-consistent-MV
    anomaly this op retires.

    Proof run: 4 batches (o_orderkey % 5 == 0..3) each append to BOTH
    tables and then publish one group commit pinning both new versions.
    A 5th batch (residue 4) then CRASH-SIMS the window the group commit
    exists to close: it lands in both member tables' HEADs but the
    publish never happens.  The serve reads ONLY through the group
    (``read_group_table`` → ``read_table_at`` pinned versions), so its
    output must exclude the staged batch entirely — the oracle
    recomputes both legs from raw orders WHERE o_orderkey % 5 <= 3, and
    an engine that leaked a member HEAD read mismatches immediately.
    Output: per priority, the rollup leg and the re-aggregated fact leg
    side by side with a consistency flag (always true — conservation
    through the atomic boundary).

    Scale shape: the group commit is ONE O(1) file create naming (path,
    version) pairs — publish cost is independent of table and batch
    size; pinned-version reads are O(1) metadata (immutable full-
    snapshot manifests).  Replay: a published batch id refuses at the
    GROUP level too (pytest-pinned with the staged-batch exclusion)."""
    from ..storage import txlog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(25,6)") * F.lit(1_000_000))
        .cast("long")
        .alias("price_micros"),
    )
    fact = _fresh_rollup_dir("publish_fact")
    roll = _fresh_rollup_dir("publish_rollup")
    group = _fresh_rollup_dir("publish_group")
    from concurrent.futures import ThreadPoolExecutor

    for bi in range(5):
        b = orders.filter(F.pmod("o_orderkey", F.lit(5)) == bi)
        part = b.groupBy("o_orderpriority").agg(
            F.count("*").cast("long").alias("n_part"),
            F.sum("price_micros").cast("long").alias("rev_part"),
        )
        # the two member appends are independent (different tables);
        # overlap their write jobs — the group publish below still runs
        # strictly after BOTH commits, preserving the atomic boundary
        with ThreadPoolExecutor(max_workers=2) as pool:
            ff = pool.submit(
                txlog.append_tx, spark, fact, b.coalesce(2), batch_id=bi
            )
            fr = pool.submit(
                txlog.append_tx, spark, roll, part.coalesce(1), batch_id=bi
            )
            ff.result()
            fr.result()
        if bi < 4:
            txlog.publish_group(
                spark,
                group,
                {
                    "fact": (fact, txlog.latest_version(spark, fact)),
                    "rollup": (roll, txlog.latest_version(spark, roll)),
                },
                batch_id=bi,
            )
        # bi == 4: CRASH between the member commits and the publish —
        # both HEADs now carry a batch the group must never surface

    f = txlog.read_group_table(spark, group, "fact")
    r = txlog.read_group_table(spark, group, "rollup")
    atomic_publish_consistent_serve.last_tables = {
        "fact": fact, "rollup": roll, "group": group,
    }
    fact_agg = f.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders_fact"),
        F.sum("price_micros").cast("long").alias("revenue_micros_fact"),
    )
    roll_agg = r.groupBy("o_orderpriority").agg(
        F.sum("n_part").cast("long").alias("n_orders"),
        F.sum("rev_part").cast("long").alias("revenue_micros"),
    )
    return roll_agg.join(fact_agg, "o_orderpriority").select(
        F.col("o_orderpriority").alias("priority"),
        "n_orders",
        "revenue_micros",
        "n_orders_fact",
        "revenue_micros_fact",
        (
            (F.col("n_orders") == F.col("n_orders_fact"))
            & (F.col("revenue_micros") == F.col("revenue_micros_fact"))
        ).alias("consistent"),
    )


#: Exact-ingest canaries: every doc with doc_id % 100 == 25 re-arrives
#: as an EXACT COPY under doc_id + 4_000_001 (≡ +2 mod 4 here: 25 % 4 =
#: 1 arrives LAST in ARRIVAL_ORDER, the canary lands FIRST — so the
#: planted pair always straddles the index boundary in the direction
#: that quarantines the ORIGINAL, the reverse of the media canaries).
#: Organic exact text dupes exist only at sf0.1 (probed r13) — without
#: canaries the op would be vacuous at the sweep SFs.
EXACT_INGEST_CANARY_MOD = 100
EXACT_INGEST_CANARY_RESIDUE = 25
EXACT_INGEST_CANARY_OFFSET = 4_000_001


def stream_exact_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-key dedup-on-arrival — the FOURTH arrival-lifecycle
    modality (NEW r14), and the executable proof of the r13 verdict's
    harness directive: text MinHash-LSH, media pHash and embedding
    SemDeDup each cost ~200 scaffold lines before
    ``run_arrival_lifecycle``; this one is EXACTLY a kernel — a
    content-hash equi-join probe and two row builders — plus canary
    constants.

    Semantics (the exact regime isolated from any fuzzy verify): a
    batch doc is quarantined iff an indexed doc from a strictly earlier
    arrival carries the same ``stable_hash64(text)`` key, matched to
    the lowest such doc id; same-batch copies are all kept (they cannot
    see each other — the same contract as the other three lifecycles).
    The acceptance recursion therefore COLLAPSES: kept == "my arrival
    position is the minimal one for my key", which is what the oracle
    computes with one window — the one lifecycle whose 4-epoch
    recursion has a closed form, pinning the harness semantics from an
    independent angle.

    Scale shape: per batch O(batch + matched keys) — one equi-join
    against the stored (key, doc_id) index, O(batch) appends; the
    kernel ships (doc_id, source, key) triples only, text never rides
    a shuffle past the map-side hashing."""
    from ..functions.hashing import stable_hash64
    from ..storage import txlog

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", stable_hash64(F.col("text")).alias("content_key")
    )
    canaries = docs.filter(
        F.pmod("doc_id", F.lit(EXACT_INGEST_CANARY_MOD))
        == EXACT_INGEST_CANARY_RESIDUE
    ).select(
        (F.col("doc_id") + F.lit(EXACT_INGEST_CANARY_OFFSET)).alias("doc_id"),
        "source",
        "content_key",
    )
    sigs = docs.unionByName(canaries).persist()
    sigs.count()
    quarantine = _fresh_rollup_dir("exact_quarantine")
    key_index = _fresh_rollup_dir("exact_key_index")

    def probe_kernel(batch: DataFrame, index: DataFrame, _e: int) -> DataFrame:
        return (
            batch.select("doc_id", "content_key")
            .join(
                index.select(
                    F.col("doc_id").alias("doc_b"), "content_key"
                ),
                "content_key",
            )
            .groupBy("doc_id")
            .agg(F.min("doc_b").cast("long").alias("matched_doc_id"))
        )

    def quarantine_rows(batch: DataFrame, hits, _e: int) -> DataFrame | None:
        if hits is None:
            return None
        return batch.join(hits, "doc_id").select(
            "doc_id", "source", F.lit("exact").alias("reason"), "matched_doc_id"
        ).coalesce(1)

    def index_rows(batch: DataFrame, hits, _e: int) -> DataFrame:
        clean = batch
        if hits is not None:
            clean = batch.join(hits.select("doc_id"), "doc_id", "left_anti")
        return clean.select("doc_id", "content_key").coalesce(2)

    def ledger() -> DataFrame:
        idx = txlog.read_table(spark, key_index)
        kept = (
            sigs.join(idx.select("doc_id"), "doc_id")
            .groupBy("source")
            .agg(F.count("*").cast("long").alias("n_kept"))
        )
        qt = txlog.read_table(spark, quarantine)
        quar = qt.groupBy("source").agg(
            F.count("*").cast("long").alias("n_exact_quarantined")
        )
        arrived = sigs.groupBy("source").agg(
            F.count("*").cast("long").alias("n_arrived")
        )
        return (
            arrived.join(kept, "source", "left")
            .join(quar, "source", "left")
            .select(
                "source",
                "n_arrived",
                F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
                F.coalesce("n_exact_quarantined", F.lit(0))
                .cast("long")
                .alias("n_exact_quarantined"),
            )
        )

    stream_exact_ingest.last_tables = {
        "quarantine": quarantine,
        "key_index": key_index,
    }
    try:
        return run_arrival_lifecycle(
            spark,
            arrivals=sigs,
            epoch_of=F.pmod(F.col("doc_id"), F.lit(4)),
            quarantine=quarantine,
            index=key_index,
            probe_kernel=probe_kernel,
            quarantine_rows=quarantine_rows,
            index_rows=index_rows,
            ledger=ledger,
        )
    finally:
        sigs.unpersist(blocking=False)
