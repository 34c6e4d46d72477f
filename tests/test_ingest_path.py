"""Plan and job-shape pins for the wire ingest path's per-batch work:
one JSON parse per line on each side of the dead-letter split, and a
rollup merge that infers no schema and folds in one task."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from realtime_analytics_with_kafka_clickhouse_spark.operators.normalize import (
    normalize_orders,
    parse_wire_with_dlq,
)
from realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline import (
    _rollup_fold,
    hourly_rollup_aggregate,
    merge_rollup,
)
from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import load_table

from tests.conftest import SF_DIR

ROLLUP_SCHEMA = (
    "hour timestamp, category string, order_count bigint, total_revenue double, "
    "total_quantity bigint"
)
ROLLUP_SUMS = [("order_count", "long"), ("total_revenue", "money"), ("total_quantity", "long")]


def _parse_nodes(plan: str) -> int:
    """Plan nodes that evaluate ``from_json``.  A node's tree-string line
    may repeat the call (the quarantine filter tests both the corrupt field
    and the null struct); Spark's subexpression elimination evaluates such
    repeats once per row, so one node is one parse."""
    return sum("from_json(" in line for line in plan.splitlines())


def _wire_dir(tmp_path) -> str:
    src = tmp_path / "wire"
    src.mkdir()
    (src / "part-0.json").write_text(
        '{"order_id": "A1", "category": "Books", "quantity": 2}\n'
        "corrupt {\n"
        "\n"
        '{"order_id": "A2", "category": "Toys", "order_status": "completed"}\n'
    )
    return str(src)


def test_dlq_split_parses_each_line_once_batch(spark, tmp_path):
    ok, dlq = parse_wire_with_dlq(spark.read.text(_wire_dir(tmp_path)))
    accepted = normalize_orders(ok)
    for side in (accepted, dlq):
        assert _parse_nodes(side._jdf.queryExecution().optimizedPlan().toString()) == 1
    assert sorted(r.order_id for r in accepted.collect()) == ["A1", "A2"]
    assert sorted(r.raw_payload for r in dlq.collect()) == ["", "corrupt {"]


def test_dlq_split_parses_each_line_once_streaming(spark, tmp_path):
    ok, dlq = parse_wire_with_dlq(spark.readStream.text(_wire_dir(tmp_path)))
    for name, side in (("ok", normalize_orders(ok)), ("dlq", dlq)):
        q = (
            side.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        plan = q._jsq.explainInternal(True)
        optimized = plan.split("== Optimized Logical Plan ==")[1].split("== Physical Plan ==")[0]
        assert _parse_nodes(optimized) == 1, optimized


def _await_listener(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_merge_into_existing_rollup_is_one_single_task_job(spark, tmp_path):
    """A merge into an existing rollup runs one job of one stage and one
    task: the fold and its write.  A schema-inference (footer-merge) job
    over the stored rollup would be a second job; an exchange in the fold
    would add a shuffle-map stage."""
    rollup = str(tmp_path / "rollup")
    h = datetime.datetime(2024, 1, 1, 10)
    first = spark.createDataFrame([(h, "a", 2, 3.5, 4)], ROLLUP_SCHEMA)
    assert merge_rollup(spark, rollup, first, batch_id=0)
    batch = spark.createDataFrame([(h, "a", 1, 1.25, 1), (h, "b", 5, 2.0, 7)], ROLLUP_SCHEMA)

    sc = spark.sparkContext
    group = f"merge-shape-{tmp_path.name}"
    _await_listener(spark)
    sc.setJobGroup(group, "merge_rollup into an existing rollup")
    try:
        assert merge_rollup(spark, rollup, batch, batch_id=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _await_listener(spark)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    stages = tracker.getJobInfo(jobs[0]).stageIds
    assert len(stages) == 1, stages
    assert tracker.getStageInfo(stages[0]).numTasks == 1

    stored = spark.read.parquet(rollup)
    assert stored.schema.simpleString() == spark.createDataFrame([], ROLLUP_SCHEMA).schema.simpleString()
    assert sorted(map(tuple, stored.collect())) == [(h, "a", 3, 4.75, 5), (h, "b", 5, 2.0, 7)]


def test_rollup_fold_has_no_exchange_above_the_union(spark, tmp_path):
    """The batch partials keep their parallel partial aggregation (an
    exchange below the union); the re-aggregation over the union does not
    repartition."""
    events = load_table(spark, SF_DIR, "events").limit(2000)
    rollup = str(tmp_path / "rollup")
    merge_rollup(spark, rollup, hourly_rollup_aggregate(events.filter(F.col("event_id") % 2 == 0)))
    fold = _rollup_fold(
        spark,
        rollup,
        hourly_rollup_aggregate(events.filter(F.col("event_id") % 2 == 1)),
        ["hour", "category"],
        ROLLUP_SUMS,
    )
    lines = fold._jdf.queryExecution().executedPlan().toString().splitlines()
    union_at = next(i for i, line in enumerate(lines) if "Union" in line)
    assert not any("Exchange" in line for line in lines[:union_at]), "\n".join(lines)
    assert any("Exchange" in line for line in lines[union_at:]), "\n".join(lines)
