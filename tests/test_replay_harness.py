"""The streaming proofs' one replay harness (``pipeline._replay_stream``):
each proof runs in a child session, leaves no memory-sink view or
streaming listener bus behind and never writes the caller's conf, while
the child still computes under the caller's conf (time zone included) and
the checkpoint records the proof's state layout."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

HARNESS_OPS = [
    "stream_ohlc_bars",
    "stream_sessionize_events",
    "stream_windowed_rollup_events",
    "stream_sliding_rollup_events",
    "stream_join_orders_acks",
    "stream_join_orders_acks_outer",
    "stream_dedup_events",
    "statestore_inspect",
    "stream_running_totals_events",
    "stream_static_enrich",
]

SHUFFLE_KEY = "spark.sql.shuffle.partitions"
PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def _views(session) -> set[str]:
    return {t.name for t in session.catalog.listTables() if t.isTemporary}


def _context_listeners(spark) -> int:
    return spark.sparkContext._jsc.sc().listenerBus().listeners().size()


@pytest.mark.parametrize("name", HARNESS_OPS)
def test_no_view_or_listener_left_behind(spark, name):
    """The memory sink's view is dropped once the answer is analysed: the
    answer's session and the caller's hold no new view, and the rows still
    collect from the analysed plan.  The streaming listener buses of the
    child and of its stream's session are gone from the SparkContext."""
    from realtime_analytics_with_kafka_clickhouse_spark.streaming import pipeline

    before, listeners = _views(spark), _context_listeners(spark)
    df = getattr(pipeline, name)(spark, SF_DIR)
    assert _views(df.sparkSession) == set()
    assert _views(spark) == before
    assert _context_listeners(spark) == listeners
    assert len(df.collect()) > 0


def _new_checkpoints(root: str, before: set[str]) -> list[str]:
    return [
        os.path.join(root, d, "ckpt")
        for d in sorted(set(os.listdir(root)) - before)
        if os.path.isdir(os.path.join(root, d, "ckpt"))
    ]


def _offset_log_conf(ckpt: str) -> dict:
    with open(os.path.join(ckpt, "offsets", "0")) as f:
        return json.loads(f.read().splitlines()[1])["conf"]


@pytest.mark.parametrize(
    "name, provider",
    [
        ("stream_running_totals_events", "RocksDBStateStoreProvider"),
        ("stream_dedup_events", None),
    ],
)
def test_harness_never_writes_the_callers_conf(spark, name, provider):
    """The state-partition count and the state store provider are set on
    the child only: a recorder on the caller's ``conf.set`` sees neither
    key, the caller keeps its own partition count, and the checkpoint's
    offset log still records the proof's layout."""
    from realtime_analytics_with_kafka_clickhouse_spark.operators._memo import (
        scratch_dir,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.streaming import pipeline

    caller = spark.newSession()  # the suite's shared session never changes
    caller.conf.set(SHUFFLE_KEY, "3")
    writes = []
    real_set = caller.conf.set

    def recording_set(key, value):
        writes.append(key)
        real_set(key, value)

    caller.conf.set = recording_set
    root = os.path.dirname(scratch_dir("inc_rollups", "probe"))
    os.makedirs(root, exist_ok=True)
    before = set(os.listdir(root))

    df = getattr(pipeline, name)(caller, SF_DIR)

    assert SHUFFLE_KEY not in writes
    assert PROVIDER_KEY not in writes
    assert caller.conf.get(SHUFFLE_KEY) == "3"
    assert caller.conf.get(PROVIDER_KEY, None) is None
    assert df.count() > 0
    (ckpt,) = _new_checkpoints(root, before)
    conf = _offset_log_conf(ckpt)
    assert conf[SHUFFLE_KEY] == str(pipeline.REPLAY_PARTITIONS)
    if provider is not None:
        assert conf[PROVIDER_KEY].endswith(provider)


def test_child_computes_under_the_callers_time_zone(spark):
    """With the caller's runtime zone at Asia/Kolkata (a bare child session
    would fall back to the JVM default), the streamed hourly windows equal
    the batch windowed aggregation under that zone restricted to the
    final watermark, both rendered as strings in their own session.  The
    half-hour offset also keeps ``date_trunc`` hours off the epoch-aligned
    windows, so the oracle is the batch form of the same windows, not
    the A1 rollup."""
    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline import (
        stream_windowed_rollup_events,
        windowed_stateful_rollup,
    )

    caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    streamed = stream_windowed_rollup_events(caller, SF_DIR)
    assert streamed.sparkSession.conf.get("spark.sql.session.timeZone") == "Asia/Kolkata"

    events = load_table(caller, SF_DIR, "events")
    oracle = (
        windowed_stateful_rollup(events)
        .crossJoin(events.agg(F.max("ts").alias("max_ts")))
        .filter(
            F.col("hour") + F.expr("INTERVAL 1 HOUR")
            <= F.col("max_ts") - F.expr("INTERVAL 2 HOURS")
        )
    )

    def rendered(df):
        return sorted(
            tuple(r)
            for r in df.select(
                F.col("hour").cast("string"),
                "category",
                "order_count",
                F.col("total_revenue").cast("string"),
                "total_quantity",
            ).collect()
        )

    expected = rendered(oracle)
    assert expected
    assert rendered(streamed) == expected
