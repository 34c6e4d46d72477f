"""The dashboard panels' serving path: prepared plans (the memoized,
already-executed plan when it has no exchange and no subquery, else a
fresh Dataset over the memoized analysed plan per call) and one-task plans
over a one-partition input scan."""

from __future__ import annotations

import itertools
import threading

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from realtime_analytics_with_kafka_clickhouse_spark.operators import rollups
from realtime_analytics_with_kafka_clickhouse_spark.oracle import ORACLE
from realtime_analytics_with_kafka_clickhouse_spark.plans.inspect import (
    count_shuffles,
    pushed_filters,
    simple_plan,
)
from realtime_analytics_with_kafka_clickhouse_spark.sources import tables
from realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline import (
    hourly_trend_from_rollup,
)

from tests.conftest import SF_DIR, SF_DIR_ORACLE
from tests.oracle_check import compare, duck_con

EVENT_PANELS = {
    "global_totals": rollups.global_totals,
    "category_revenue_share": rollups.category_revenue_share,
    "region_revenue_sorted": rollups.region_revenue_sorted,
    "hourly_trend": rollups.hourly_trend,
}
PANELS = {**EVENT_PANELS, "hourly_trend_from_rollup": hourly_trend_from_rollup}
# The stored rollup's layout does not follow the events files, so the
# stored-rollup panel runs on the one-partition input only.
CALL_CASES = [(n, False) for n in sorted(PANELS)] + [(n, True) for n in sorted(EVENT_PANELS)]

_groups = itertools.count()


def _run_in_group(spark, df) -> tuple[list, list[int]]:
    """Collect ``df`` under a fresh job group; returns (rows, job ids)."""
    sc = spark.sparkContext
    group = f"dashboard-path-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rows, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _stage_stats(spark, job_ids: list[int]) -> dict:
    """Status-store totals over ``job_ids``: stages run, their tasks and
    input rows, and stages the scheduler skipped (their map output already
    existed)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"stages": 0, "tasks": 0, "input_records": 0, "skipped_stages": 0}
    for jid in job_ids:
        ids = store.job(jid).stageIds()
        for i in range(ids.size()):
            st = store.lastStageAttempt(ids.apply(i))
            if st.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["input_records"] += st.inputRecords()
    return out


def _multi_file_events(tmp_path, n_files: int = 4) -> str:
    """``SF_DIR``'s events rewritten as a directory of ``n_files`` parquet
    files, so Spark plans the scan as several partitions."""
    table = pq.read_table(f"{SF_DIR}/events.parquet")
    sf = tmp_path / "multi"
    out = sf / "events.parquet"
    out.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), str(out / f"part-{i}.parquet"))
    return str(sf)


def _sorted_rows(rows) -> list[tuple]:
    return sorted(map(tuple, rows))


@pytest.mark.parametrize("name", sorted(PANELS))
def test_panel_is_one_job_one_stage_one_task(spark, name):
    panel = PANELS[name]
    df = panel(spark, SF_DIR)
    assert count_shuffles(df) == 0
    if name in EVENT_PANELS:
        assert "event_type" in " ".join(pushed_filters(df))
    _, jobs = _run_in_group(spark, panel(spark, SF_DIR))
    st = _stage_stats(spark, jobs)
    assert (len(jobs), st["stages"], st["tasks"]) == (1, 1, 1), (jobs, st)


@pytest.mark.parametrize("name", sorted(EVENT_PANELS))
def test_multi_partition_scan_keeps_the_exchange_plan(spark, tmp_path, name):
    sf = _multi_file_events(tmp_path)
    panel = EVENT_PANELS[name]
    assert tables.load_table(spark, sf, "events").rdd.getNumPartitions() >= 2
    df = panel(spark, sf)
    assert count_shuffles(df) >= 1
    assert "event_type" in " ".join(pushed_filters(df))
    got = df.collect()
    want = panel(spark, SF_DIR).collect()
    if name == "region_revenue_sorted":  # the panel's order is its contract
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert _sorted_rows(got) == _sorted_rows(want)


@pytest.mark.parametrize("name,multi_file", CALL_CASES)
def test_every_call_rescans_its_input(spark, tmp_path, name, multi_file):
    """Two consecutive calls each read every input row: each call runs a
    new job.  A held plan (no exchange, no subquery) is re-collected, and
    with no shuffle-map stage to skip its one stage scans the input again;
    an exchange plan gets a new execution, never a re-collect (that would
    skip the scan and serve the first call's shuffle output).  A one-task
    plan skips no stage; under AQE an exchange plan runs each shuffle-map
    stage as its own job, and later jobs of the same call list it as
    skipped, so there both calls must show the same stages run and
    skipped."""
    sf = _multi_file_events(tmp_path) if multi_file else SF_DIR
    panel = PANELS[name]
    panel(spark, sf).collect()  # first call: prepares the plan (and the stored rollup)
    runs = []
    for _ in range(2):
        rows, jobs = _run_in_group(spark, panel(spark, sf))
        runs.append((_sorted_rows(rows), _stage_stats(spark, jobs)))
    (rows1, st1), (rows2, st2) = runs
    assert rows1 == rows2
    assert st1 == st2
    assert st1["input_records"] > 0
    if name in EVENT_PANELS:
        assert st1["input_records"] == pq.read_metadata(f"{SF_DIR}/events.parquet").num_rows
    if not multi_file:
        assert st1["skipped_stages"] == 0, st1


def test_rewritten_table_rebuilds_the_prepared_plan(spark, tmp_path):
    table = pq.read_table(f"{SF_DIR}/events.parquet")
    sf = tmp_path / "sf"
    sf.mkdir()
    for rows in (table.slice(0, 600), table.slice(400)):
        pq.write_table(rows, str(sf / "events.parquet"))
        purchases = pc.sum(pc.equal(rows["event_type"], "purchase")).as_py()
        (got,) = rollups.global_totals(spark, str(sf)).collect()
        assert got.total_orders == purchases > 0
        trend = rollups.hourly_trend(spark, str(sf)).collect()
        assert sum(r.order_count for r in trend) == purchases


def test_session_time_zone_is_part_of_the_memo_key(spark):
    """Analysis bakes the session zone into a plan (the NTZ->timestamp cast
    of ``events.ts``, ``date_trunc``): after a zone switch, memoized tables
    and prepared panels must equal a fresh build under the new zone."""
    conf = "spark.sql.session.timeZone"
    before = spark.conf.get(conf)
    tables.load_table(spark, SF_DIR, "events").agg(F.min("ts")).collect()
    rollups.hourly_trend(spark, SF_DIR).collect()
    hourly_trend_from_rollup(spark, SF_DIR).collect()
    # A half-hour offset moves every hour bucket, not just the instants.
    spark.conf.set(conf, "Asia/Kolkata")
    try:
        fresh = tables._load_uncached(spark, SF_DIR, "events")
        memo = tables.load_table(spark, SF_DIR, "events")
        want_min = fresh.agg(F.min("ts")).collect()
        assert memo.agg(F.min("ts")).collect() == want_min
        want = rollups.hourly_category_rollup_aggregate(fresh).groupBy("hour").agg(
            F.sum("order_count").alias("order_count")
        )
        want = _sorted_rows(want.collect())
        for panel in (rollups.hourly_trend, hourly_trend_from_rollup):
            got = panel(spark, SF_DIR).select("hour", "order_count").collect()
            assert _sorted_rows(got) == want, panel.__name__
    finally:
        spark.conf.set(conf, before)


def _query_execution(df):
    return df._jdf.queryExecution()


@pytest.mark.parametrize("name,multi_file", CALL_CASES)
def test_only_exchange_free_plans_are_held(spark, tmp_path, name, multi_file):
    """A one-partition panel returns its memoized, already-executed plan on
    every call (no re-optimisation); an exchange plan gets a new
    QueryExecution on every call."""
    sf = _multi_file_events(tmp_path) if multi_file else SF_DIR
    panel = PANELS[name]
    first = panel(spark, sf)
    first.collect()
    again = panel(spark, sf)
    same = _query_execution(again).equals(_query_execution(first))
    assert same is not multi_file


def _broadcast_join(spark, sf_dir):
    users = spark.range(3).withColumnRenamed("id", "user_id")
    return rollups._panel_events(spark, sf_dir).join(F.broadcast(users), "user_id")


def _scalar_subquery(spark, sf_dir):
    threshold = spark.range(1).select(F.lit(0.5).alias("t")).scalar()
    return rollups._panel_events(spark, sf_dir).filter(F.col("value") > threshold)


@pytest.mark.parametrize(
    "build,node,absent",
    [(_broadcast_join, "BroadcastExchange", "Subquery"), (_scalar_subquery, "Subquery", "Exchange")],
)
def test_broadcast_and_subquery_plans_are_not_held(spark, build, node, absent):
    """A plan whose only stateful node is a broadcast exchange or a
    subquery (each keeps its first result) gets a fresh Dataset per call."""
    def call():
        return tables.prepared(
            spark, SF_DIR, "events", f"test_{build.__name__}", lambda: build(spark, SF_DIR)
        )

    first = call()
    assert count_shuffles(first) == 0
    plan = simple_plan(first)
    assert node in plan and absent not in plan
    rows = _sorted_rows(first.collect())
    again = call()
    assert not _query_execution(again).equals(_query_execution(first))
    assert _sorted_rows(again.collect()) == rows == _sorted_rows(build(spark, SF_DIR).collect())


@pytest.mark.parametrize("name", sorted(PANELS))
def test_held_plan_serves_concurrent_callers(spark, name):
    """Two threads collecting the same held panel 5x each get the DuckDB
    oracle's rows every time."""
    panel = PANELS[name]
    held = panel(spark, SF_DIR_ORACLE)
    held.collect()
    assert panel(spark, SF_DIR_ORACLE) is held
    problems: list[str] = []

    def client() -> None:
        con = duck_con(SF_DIR_ORACLE)
        try:
            for i in range(5):
                problems.extend(compare(panel(spark, SF_DIR_ORACLE), con, ORACLE[name], f"{name}#{i}"))
        except Exception as e:  # surface a thread's error in the test
            problems.append(repr(e))
        finally:
            con.close()

    threads = [threading.Thread(target=client) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert problems == []
