"""The dashboard panels' serving path: prepared plans (the memoized,
already-executed plan when it has no exchange and no subquery, else a
fresh Dataset over the memoized analysed plan per call), one-task plans
over a one-partition input scan, and the one stored A1 rollup that every
panel but ``region_revenue_sorted`` reads instead of ``events``."""

from __future__ import annotations

import datetime
import itertools
import json
import random
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from realtime_analytics_with_kafka_clickhouse_spark.functions.scalars import (
    dsum,
    to_start_of_hour,
)
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

# A7 scans events; A5, A6 and A8 (under both registry names) read the
# stored A1 rollup, whose layout does not follow the events files.
EVENT_PANELS = {"region_revenue_sorted": rollups.region_revenue_sorted}
STORED_PANELS = {
    "global_totals": rollups.global_totals,
    "category_revenue_share": rollups.category_revenue_share,
    "hourly_trend": rollups.hourly_trend,
    "hourly_trend_from_rollup": hourly_trend_from_rollup,
}
PANELS = {**EVENT_PANELS, **STORED_PANELS}
CALL_CASES = [(n, False) for n in sorted(PANELS)] + [(n, True) for n in sorted(PANELS)]

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
    existed).  The counts are each job's own record.  Input rows come from
    the records of the job's run stages, all of which must be found: past
    ``spark.ui.retainedStages`` the store evicts skipped stages' records
    first, so only a skipped stage's record may be gone."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"stages": 0, "tasks": 0, "input_records": 0, "skipped_stages": 0}
    for jid in job_ids:
        job = store.job(jid)
        out["stages"] += job.numCompletedStages()
        out["tasks"] += job.numCompletedTasks()
        out["skipped_stages"] += job.numSkippedStages()
        ids = job.stageIds()
        run = [
            st for st in (_stage_record(store, ids.apply(i)) for i in range(ids.size()))
            if st is not None and st.status().toString() == "COMPLETE"
        ]
        assert len(run) == job.numCompletedStages(), (jid, len(run))
        out["input_records"] += sum(st.inputRecords() for st in run)
    return out


def _stage_record(store, stage_id: int):
    """The last attempt's record of ``stage_id``, or None if evicted."""
    try:
        return store.lastStageAttempt(stage_id)
    except Py4JJavaError as e:
        if "NoSuchElementException" not in str(e.java_exception):
            raise
        return None


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


def _stored_files(spark, sf_dir) -> list[str]:
    """The data files of the stored A1 rollup built from ``sf_dir``'s events."""
    return sorted(rollups.stored_a1(spark, sf_dir).inputFiles())


def _rows_in(files: list[str]) -> int:
    return sum(pq.read_metadata(f.removeprefix("file://")).num_rows for f in files)


def _assert_reads_the_stored_rollup(spark, df, sf_dir) -> list[str]:
    files = sorted(df.inputFiles())
    assert files and files == _stored_files(spark, sf_dir)
    assert not any("events.parquet" in f for f in files), files
    return files


@pytest.mark.parametrize("name", sorted(PANELS))
def test_panel_is_one_job_one_stage_one_task(spark, name):
    panel = PANELS[name]
    df = panel(spark, SF_DIR)
    assert count_shuffles(df) == 0
    if name in EVENT_PANELS:
        assert "event_type" in " ".join(pushed_filters(df))
    else:
        files = _assert_reads_the_stored_rollup(spark, df, SF_DIR)
    _, jobs = _run_in_group(spark, panel(spark, SF_DIR))
    st = _stage_stats(spark, jobs)
    assert (len(jobs), st["stages"], st["tasks"]) == (1, 1, 1), (jobs, st)
    if name in STORED_PANELS:
        assert st["input_records"] == _rows_in(files)


@pytest.mark.parametrize("name", sorted(PANELS))
def test_multi_partition_scan_keeps_the_exchange_plan(spark, tmp_path, name):
    """A multi-file events scan keeps the exchange plan of a panel that
    reads events; a stored-rollup panel reads the one-file rollup instead,
    in one job, one stage and one task.  Either way the rows are the
    single-file table's."""
    sf = _multi_file_events(tmp_path)
    panel = PANELS[name]
    assert tables.load_table(spark, sf, "events").rdd.getNumPartitions() >= 2
    df = panel(spark, sf)
    if name in EVENT_PANELS:
        assert count_shuffles(df) >= 1
        assert "event_type" in " ".join(pushed_filters(df))
    else:
        assert count_shuffles(df) == 0
        _assert_reads_the_stored_rollup(spark, df, sf)
        _, jobs = _run_in_group(spark, panel(spark, sf))
        st = _stage_stats(spark, jobs)
        assert (len(jobs), st["stages"], st["tasks"]) == (1, 1, 1), (jobs, st)
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
    skipped.  A stored-rollup panel reads every stored rollup row, and
    its one-task plan skips no stage over either events layout."""
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
    else:
        assert st1["input_records"] == _rows_in(_stored_files(spark, sf))
    if not multi_file or name in STORED_PANELS:
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


def test_events_without_a_purchase_give_empty_panels(spark, tmp_path):
    """With no completed order the stored-rollup panels give the raw
    aggregates' answer: totals (0, NULL), no share or trend rows."""
    table = pq.read_table(f"{SF_DIR}/events.parquet")
    sf = tmp_path / "sf"
    sf.mkdir()
    no_purchase = table.filter(pc.not_equal(table["event_type"], "purchase"))
    pq.write_table(no_purchase, str(sf / "events.parquet"))
    assert [tuple(r) for r in rollups.global_totals(spark, str(sf)).collect()] == [(0, None)]
    for name in ("category_revenue_share", "hourly_trend", "hourly_trend_from_rollup"):
        assert PANELS[name](spark, str(sf)).collect() == [], name


# Below 2^33 a double's spacing is under 1e-6, so a stored A1 cell's double
# revenue round-trips through decimal(25,6) exactly (``rollups.stored_a1``).
CELL_BOUND = 2**33


def _planted_events(path, cell_sum_max: float) -> None:
    """20 (hour, category) cells, one per hour, each 3 purchases of random
    6-decimal values that sum to just under ``cell_sum_max``, plus a view."""
    rng = random.Random(7)
    start = datetime.datetime(2024, 1, 1)
    rows = []
    for hour in range(20):
        for j in range(4):
            rows.append({
                "event_id": len(rows),
                "ts": start + datetime.timedelta(hours=hour, minutes=j),
                "user_id": j,
                "event_type": "purchase" if j < 3 else "view",
                "value": round(rng.uniform(cell_sum_max / 3 - 1000, cell_sum_max / 3 - 1), 6),
                "props": json.dumps({"k": hour % 5}),
            })
    pq.write_table(pa.Table.from_pylist(rows), str(path))


def test_stored_panels_are_exact_below_the_cell_bound(spark, tmp_path):
    """Cells planted just under 2^33: the panels re-summing the stored
    double revenue equal the raw decimal aggregates over ``events``."""
    sf = tmp_path / "sf"
    sf.mkdir()
    _planted_events(sf / "events.parquet", CELL_BOUND)
    cells = [r.total_revenue for r in rollups.hourly_category_rollup(spark, str(sf)).collect()]
    assert len(cells) == 20 and all(CELL_BOUND - 4000 < c < CELL_BOUND for c in cells)
    ev = tables.load_table(spark, str(sf), "events").filter(rollups.completed())
    want = ev.agg(F.count("*"), dsum("value")).collect()
    assert _sorted_rows(rollups.global_totals(spark, str(sf)).collect()) == _sorted_rows(want)
    want = ev.groupBy(rollups.category_key()).agg(dsum("value")).collect()
    got = rollups.category_revenue_share(spark, str(sf)).select("category", "revenue").collect()
    assert _sorted_rows(got) == _sorted_rows(want)
    want = ev.groupBy(to_start_of_hour("ts")).agg(F.count("*"), dsum("value")).collect()
    for name in ("hourly_trend", "hourly_trend_from_rollup"):
        assert _sorted_rows(PANELS[name](spark, str(sf)).collect()) == _sorted_rows(want), name


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
    QueryExecution on every call.  A stored-rollup panel's plan is held
    over either events layout."""
    sf = _multi_file_events(tmp_path) if multi_file else SF_DIR
    panel = PANELS[name]
    first = panel(spark, sf)
    first.collect()
    again = panel(spark, sf)
    same = _query_execution(again).equals(_query_execution(first))
    assert same is (name in STORED_PANELS or not multi_file)


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
