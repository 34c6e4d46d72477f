"""Reference-parity rollups + dashboard aggregations (SURVEY.md §2.3 A1-A8).

The reference declares two incremental rollups over the sales-order stream
(/root/reference/clickhouse/init/01_init.sql:63-74 hourly-by-category,
:77-87 daily-by-region, both filtered to completed orders) and five dashboard
aggregates on top (Sample_Dashboard.png / README.md:89-92).

The driver testdata maps sales orders onto ``events``
(FIXTURES.md §3: ts -> order_timestamp, event_type -> status/category key,
value -> total_amount, props.k -> quantity-like measure, user_id -> customer).
All aggregations use ``dsum`` (decimal-exact sums — functions.scalars) so the
results are bit-stable at any parallelism.

Scale notes (100 TB): each rollup is a single hash-aggregate with map-side
partial aggregation; grouping keys are low-cardinality (hours x 5 types,
days x 7 buckets) so the shuffle carries only partial aggregates — bytes
shuffled is O(partitions x groups), independent of row count.

The five dashboard panels (``global_totals``, ``category_revenue_share``,
``region_revenue_sorted``, ``hourly_trend`` and its registry twin
``pipeline.hourly_trend_from_rollup``) are re-run on every dashboard
refresh, so three rules make a repeat call cheap:

* One stored rollup.  A5, A6 and A8 re-aggregate A1 (hour x category),
  as the reference's dashboard re-sums its SummingMergeTree rollups, so
  they read the stored, MERGE-maintained A1 table (``stored_a1``), built
  once per ``events`` state and session time zone: a refresh scans a few
  hundred rollup rows, never parses ``props`` or casts ``value``.  A7
  needs A2 (day x region), which is not stored, so it scans ``events``.
  The stored ``total_revenue`` is a double, re-summed through ``dsum``:
  exact while every (hour, category) cell's revenue is below 2^33
  (about 8.59e9) in magnitude (``stored_a1``).
* Prepared plans.  A panel's first call builds its DataFrame, plans it
  and keeps it in the session's fingerprint-keyed memo
  (``sources.tables.prepared``).  A plan with no exchange (shuffle or
  broadcast) and no subquery is held: every call returns that Dataset, so
  each refresh runs a new job that scans the input again over the
  already optimised, planned and code-generated plan.  Any other plan gets
  a fresh Dataset over its analysed plan per call, which optimises and
  plans anew but still skips the Python-side build (100–320 py4j calls per
  panel) and the analysis.  A rewritten table or a new session time zone
  builds a new plan; nothing else does, so a held plan keeps the optimizer
  and planner confs of its first call.
* One-task plans.  When Spark plans the panel's input scan (the stored
  rollup, or ``events`` for A7) as a single partition, the panel
  ``coalesce(1)``s it before its aggregates (``single_partition``, asked
  once per prepared plan): one job, one stage, one task, no Exchange, so
  the plan is held.  A multi-partition input (every raw table at 100 TB)
  keeps the partial-aggregate exchange plan above and a fresh execution
  per call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions.scalars import dsum, to_start_of_hour
from ..sources.tables import build_once, load_table, prepared


# "valid event" predicate — the F1 analog of WHERE order_status = 'completed'
# (/root/reference/clickhouse/init/01_init.sql:73,86).  Lazy because Column
# construction needs an active session in classic PySpark.
def completed():
    return F.col("event_type") == "purchase"


def quantity_key():
    """Quantity-like measure: props.k (FIXTURES.md §3), defaulted to 0."""
    return F.coalesce(F.get_json_object("props", "$.k").cast("long"), F.lit(0))


def category_key():
    """Category dimension independent of the status column — a props-derived
    bucket (cat_0..cat_4), the analog of A2's user-bucket region.  Keeping
    category separate from event_type lets A1 carry the reference MV's real
    WHERE order_status = 'completed' filter (01_init.sql:73)."""
    return F.concat(F.lit("cat_"), (quantity_key() % 5).cast("string"))


def hourly_category_rollup_aggregate(batch: DataFrame) -> DataFrame:
    """The A1 aggregation over any events batch (hour x category ->
    count/revenue/quantity over completed orders).  The one definition:
    the registry rollup and the incremental MERGE / txlog builds
    (``pipeline.hourly_rollup_aggregate``, hence the stored A1 the panels
    read) all use it."""
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


def hourly_category_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: hourly rollup by category over completed orders only — the MV of
    01_init.sql:63-74 (toStartOfHour x category -> count/revenue/quantity,
    WHERE order_status = 'completed')."""
    return hourly_category_rollup_aggregate(load_table(spark, sf_dir, "events"))


def daily_region_rollup_aggregate(batch: DataFrame) -> DataFrame:
    """The A2 aggregation over any events batch (also the per-micro-batch
    partial for the incremental MERGE path)."""
    return (
        batch.filter(completed())
        .groupBy(
            F.to_date("ts").alias("date"),
            F.concat(F.lit("region_"), (F.col("user_id") % 7).cast("string")).alias("region"),
        )
        .agg(
            F.count("*").alias("order_count"),
            dsum("value").alias("total_revenue"),
        )
    )


def daily_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: daily rollup by region (user_id bucket), completed only
    (01_init.sql:77-87)."""
    return daily_region_rollup_aggregate(load_table(spark, sf_dir, "events"))


def single_partition(df: DataFrame) -> DataFrame:
    """``df`` coalesced to one partition when Spark already plans it as one.
    Asking Spark for the count plans ``df`` (no job runs), so panels ask
    once, inside their prepared plan's build.

    ``CoalesceExec(1)`` reports ``SinglePartition``, which satisfies every
    distribution a panel asks for (grouped and global aggregates, the
    empty-frame window, the global sort), so the panel plans no Exchange:
    one job, one stage, one task.  A multi-partition input comes back
    unchanged and keeps its exchange plan."""
    return df.coalesce(1) if df.rdd.getNumPartitions() == 1 else df


def _panel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return single_partition(load_table(spark, sf_dir, "events"))


def stored_a1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored A1 rollup (``pipeline._build_txlog_rollup``: the txlog
    table that 4 out-of-time-order MERGEs maintain), one-partition when
    Spark plans it so.  Built once per events ``memo_key``
    (``build_once``): maintenance happens on the write path, and a panel
    read never rebuilds the MV it reads; a table rewritten at the same
    path, or a new session time zone, rebuilds it.

    Exactness bound: ``total_revenue`` is stored as a double, so a panel
    that re-sums it through ``dsum`` equals the raw decimal aggregate only
    while each (hour, category) cell's sum survives the double ->
    ``decimal(25,6)`` round trip: |cell sum| < 2^33 (about 8.59e9), where a
    double's spacing is below 1e-6."""
    return _read_stored(spark, _stored_a1_table(spark, sf_dir))


def _stored_a1_table(spark: SparkSession, sf_dir: str) -> str:
    from ..streaming.pipeline import _build_txlog_rollup

    return build_once(
        spark, sf_dir, ("events",), "stored_rollup",
        lambda: _build_txlog_rollup(spark, sf_dir),
    )


def _read_stored(spark: SparkSession, table: str) -> DataFrame:
    from ..storage import txlog

    return single_partition(txlog.read_table(spark, table))


def _stored_panel(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    """Prepared panel ``kind``, ``build(stored A1)``.  Its key names the
    stored table beside the events key: ``build_once`` keeps one stored
    table per process and builds a new one when callers alternate sf dirs,
    so a held plan must not outlive the table it reads."""
    table = _stored_a1_table(spark, sf_dir)
    return prepared(
        spark, sf_dir, "events", f"{kind}@{table}", lambda: build(_read_stored(spark, table))
    )


def global_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: dashboard single-value cards — total orders / total revenue,
    summed over the stored A1 (``NULL`` revenue with no completed order,
    as the raw ``sum``).  A prepared panel (module "Scale notes")."""

    def build(stored: DataFrame) -> DataFrame:
        return stored.agg(
            F.coalesce(F.sum("order_count"), F.lit(0)).alias("total_orders"),
            dsum("total_revenue").alias("total_revenue"),
        )

    return _stored_panel(spark, sf_dir, "global_totals", build)


def category_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: revenue share by category (the dashboard donut) — the stored
    A1's revenue re-summed per category, over the grand total via an
    empty-frame window.  A prepared panel (module "Scale notes"); on a
    one-partition rollup scan the aggregate and the window share the
    single task."""

    def build(stored: DataFrame) -> DataFrame:
        per_cat = stored.groupBy("category").agg(
            dsum("total_revenue").alias("revenue")
        )
        total = F.sum("revenue").over(Window.partitionBy())
        return per_cat.select(
            "category",
            "revenue",
            F.round(F.col("revenue") / total * 100, 4).alias("revenue_share_pct"),
        )

    return _stored_panel(spark, sf_dir, "category_revenue_share", build)


def region_revenue_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: revenue by region, sorted descending (the dashboard bar chart) —
    the A2 aggregate re-summed across days.  A2 is not stored, so this
    panel scans ``events``.  A prepared panel (module "Scale notes"); on a
    one-partition scan both aggregates and the global sort share the
    single task.  The registry's ``daily_region_rollup`` keeps its own
    exchange plan."""

    def build() -> DataFrame:
        a2 = daily_region_rollup_aggregate(_panel_events(spark, sf_dir))
        return a2.groupBy("region").agg(
            F.sum("order_count").alias("order_count"),
            dsum("total_revenue").alias("total_revenue"),
        ).orderBy(F.desc("total_revenue"))

    return prepared(spark, sf_dir, "events", "region_revenue_sorted", build)


def hourly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: hourly orders + revenue trend (dual-axis time series) — the
    stored A1 re-summed across categories (rollup-as-accelerator, SURVEY.md
    §4); the registry also serves it as
    ``pipeline.hourly_trend_from_rollup``.  A prepared panel (module
    "Scale notes"); on a one-partition rollup scan the aggregate runs in
    the single task.  The registry's ``hourly_category_rollup`` keeps its
    own raw-scan exchange plan."""

    def build(stored: DataFrame) -> DataFrame:
        return stored.groupBy("hour").agg(
            F.sum("order_count").alias("order_count"),
            dsum("total_revenue").alias("total_revenue"),
        )

    return _stored_panel(spark, sf_dir, "hourly_trend", build)


PROFILE_COLUMNS = ["event_id", "user_id", "event_type", "value", "props"]


def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiling (the Deequ/dbt-style data-quality report):
    per column — row count, non-null count, exact distinct count — computed
    in a SINGLE aggregate over a single scan.  Multiple COUNT(DISTINCT)s
    compile to one Expand + two-phase hash aggregate (plan-pinned), not a
    scan per column; at 100 TB swap the exact distincts for
    ``approx_count_distinct`` states (the ``approx_distinct_users``
    pattern) and the pass stays map-side-partial.

    The wide 1-row aggregate unpivots to the long (column, metric) report
    shape with a map-only inline explode — no second shuffle."""
    ev = load_table(spark, sf_dir, "events")
    aggs = [F.count("*").alias("n_rows")]
    for c in PROFILE_COLUMNS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    wide = ev.agg(*aggs)
    entries = ", ".join(
        f"struct('{c}' AS column, n_rows, nn_{c} AS n_nonnull, nd_{c} AS n_distinct)"
        for c in PROFILE_COLUMNS
    )
    return wide.select(
        F.expr(f"inline(array({entries}))")
    ).select("column", "n_rows", "n_nonnull", "n_distinct")


def rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical continuous aggregates (TimescaleDB continuous-aggregate /
    cascading-MV pattern on the reference's SummingMergeTree rollups,
    /root/reference/clickhouse/init/01_init.sql:44,56): the monthly summary
    is computed strictly from DAILY partials, which come from the HOURLY A1
    partials — raw events are scanned exactly once, at the bottom of the
    cascade.  Each level carries the child-bucket count (n_hours, n_days)
    so a broken re-aggregation is visible in the driver row, not just in
    the sums.

    Scale shape: group cardinality shrinks monotonically up the cascade
    (hours x categories -> days -> months), so every re-aggregation above
    the base is a near-free partial-combine shuffle of O(groups) rows.
    ``dsum`` keeps all three levels bit-exact under any partial order."""
    hourly = hourly_category_rollup(spark, sf_dir)
    daily = hourly.groupBy(F.to_date("hour").alias("date")).agg(
        F.sum("order_count").alias("order_count"),
        dsum("total_revenue").alias("total_revenue"),
        F.sum("total_quantity").alias("total_quantity"),
        F.countDistinct("hour").alias("n_hours"),
    )
    return daily.groupBy(F.date_format("date", "yyyy-MM").alias("month")).agg(
        F.sum("order_count").alias("order_count"),
        dsum("total_revenue").alias("total_revenue"),
        F.sum("total_quantity").alias("total_quantity"),
        F.sum("n_hours").alias("n_hours"),
        F.count("*").alias("n_days"),
    )


def mv_consistency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV reconciliation audit — the operational check a reference user
    runs when the dashboard disagrees with the raw table: grand totals
    computed three independent ways (raw events, the A1 hourly rollup,
    the A2 daily rollup) in one report row with per-path booleans.
    Decimal-exact sums make the equalities EXACT, not tolerance-based —
    dsum is associative, so rollup-then-total must equal total.

    Scale shape: three independent aggregates (one over raw, two over
    already-tiny rollups) joined on nothing — the raw scan dominates and
    happens once per path; at 100 TB the rollup paths are free and the
    raw path is the audit's cost, run at audit cadence, not query
    cadence."""
    raw = load_table(spark, sf_dir, "events").filter(completed()).agg(
        F.count("*").alias("raw_orders"),
        dsum("value").alias("raw_revenue"),
    )
    a1 = hourly_category_rollup(spark, sf_dir).agg(
        F.sum("order_count").alias("a1_orders"),
        dsum("total_revenue").alias("a1_revenue"),
    )
    a2 = daily_region_rollup(spark, sf_dir).agg(
        F.sum("order_count").alias("a2_orders"),
        dsum("total_revenue").alias("a2_revenue"),
    )
    return (
        raw.crossJoin(a1)
        .crossJoin(a2)
        .select(
            "raw_orders",
            "raw_revenue",
            ((F.col("a1_orders") == F.col("raw_orders"))
             & (F.col("a1_revenue") == F.col("raw_revenue"))).alias("a1_consistent"),
            ((F.col("a2_orders") == F.col("raw_orders"))
             & (F.col("a2_revenue") == F.col("raw_revenue"))).alias("a2_consistent"),
        )
    )


def conditional_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``-If`` combinator battery (``countIf`` / ``sumIf`` /
    ``avgIf`` / ``uniqExactIf`` / ``maxIf``) in one per-nation pass:
    conditional aggregates are ``FILTER``-style branches inside ONE
    hash aggregate, never five filtered sub-queries (the anti-pattern
    that re-scans the fact table per metric).

    One customer-key join (dims broadcast upstream of it), one grouped
    aggregate; every money sum folds through DECIMAL(25,6).  The
    distinct-if rides the same exchange as the plain aggregates — Spark
    plans it as a two-phase partial distinct, still a single scan."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    price_dec = F.col("o_totalprice").cast("decimal(25,6)")
    is_f = F.col("o_orderstatus") == "F"
    is_o = F.col("o_orderstatus") == "O"
    return joined.groupBy("n_name").agg(
        F.count(F.when(is_f, 1)).cast("long").alias("n_final"),
        F.sum(F.when(is_o, price_dec)).cast("double").alias("open_revenue"),
        (
            F.sum(F.when(is_f, price_dec)).cast("double")
            / F.count(F.when(is_f, 1))
        ).alias("avg_final_price"),
        F.countDistinct(F.when(is_o, F.col("o_custkey"))).cast("long").alias(
            "open_customers"
        ),
        F.max(F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))).alias(
            "max_urgent_price"
        ),
    )


def status_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT surface (Spark's ``DataFrame.melt`` / SQL UNPIVOT — the
    inverse of the ``status_pivot`` wide table): pivot order counts wide
    by status, then melt back to long form.  The round-trip must land
    exactly on the plain (priority, status) GROUP BY — which is the
    oracle, so the melt's id/value/variable semantics are value-checked,
    not just type-checked.

    Scale shape: the wide frame is |priorities| x |statuses| (tiny); the
    pivot is the only corpus aggregate, map-side combined."""
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .fillna(0)
    )
    long = wide.melt(
        ids=["o_orderpriority"],
        values=["F", "O", "P"],
        variableColumnName="order_status",
        valueColumnName="n_orders",
    )
    return long.filter(F.col("n_orders") > 0).select(
        F.col("o_orderpriority").alias("priority"),
        "order_status",
        F.col("n_orders").cast("long").alias("n_orders"),
    )
