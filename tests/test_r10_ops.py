"""Round-10 additions: size-gated broadcast hints and the
hard_negative_mining partial-top-k rewrite's plan shape."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from realtime_analytics_with_kafka_clickhouse_spark.functions.hints import (
    broadcast_if_small,
)
from realtime_analytics_with_kafka_clickhouse_spark.plans.inspect import (
    formatted_plan,
    has_broadcast_join,
)

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def test_broadcast_if_small_hints_under_limit(spark):
    left = spark.range(0, 1000).withColumnRenamed("id", "k")
    dim = spark.range(0, 50).withColumnRenamed("id", "k")
    joined = left.join(broadcast_if_small(dim, limit_rows=100), "k")
    assert has_broadcast_join(joined), formatted_plan(joined)


def test_broadcast_if_small_degrades_above_limit(spark):
    # Above the row limit the frame comes back UNHINTED.  The planner may
    # still pick broadcast from its own size stats, so pin the contract at
    # the hint level (no ResolvedHint in the analyzed plan), plus a
    # same-rows sanity check against the hinted variant.
    left = spark.range(0, 1000).withColumnRenamed("id", "k")
    dim = spark.range(0, 500).withColumnRenamed("id", "k")
    gated = broadcast_if_small(dim, limit_rows=100)
    analyzed = gated._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    hinted = left.join(broadcast_if_small(dim, limit_rows=1000), "k")
    unhinted = left.join(gated, "k")
    assert hinted.count() == unhinted.count() == 500


def test_broadcast_if_small_rejects_bad_limit(spark):
    with pytest.raises(ValueError):
        broadcast_if_small(spark.range(1), limit_rows=0)


def test_hard_negative_mining_plan_bounded(spark, queries):
    """The r9 scale anti-pattern is gone: the corpus never rides the
    per-anchor window shuffle.  The plan must score inside mapInPandas
    partitions (partial top-k) and rank only the bounded id/score triples
    — no crossJoin of the corpus against anchors survives to the window.
    """
    df = queries["hard_negative_mining"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # The window's exchange carries only the narrow partial-top-k triple:
    # no embedding array reaches the shuffle.
    window_input = plan.split("Window")[0]
    assert "embedding" not in window_input.split("MapInPandas")[-1], plan


def test_lsh_band_autotune_shifts_with_target(spark):
    from realtime_analytics_with_kafka_clickhouse_spark.operators.dedup import (
        lsh_band_autotune,
    )

    rows = lsh_band_autotune(spark, SF_DIR).collect()
    assert len(rows) == 6
    assert sum(1 for x in rows if x.chosen) == 1
    # the default target (0.5, the verified-near-dup threshold) must pick
    # the engine's own production family b=4, r=3
    (chosen,) = [x for x in rows if x.chosen]
    assert (chosen.b, chosen.r) == (4, 3)
    # measured yield is monotone in band count (more bands -> more
    # candidates) and every family reports a non-negative integer
    by_b = {x.b: x.n_candidates for x in rows}
    assert by_b[12] >= by_b[4] >= by_b[1] >= 0

    # the knob: a low threshold shifts the choice to aggressive banding
    # (many bands, short rows), a high threshold to conservative banding
    low = [x for x in lsh_band_autotune(spark, SF_DIR, target=0.2).collect() if x.chosen]
    high = [x for x in lsh_band_autotune(spark, SF_DIR, target=0.85).collect() if x.chosen]
    assert (low[0].b, low[0].r) == (12, 1)
    assert (high[0].b, high[0].r) == (1, 12)


def test_ttl_move_tiering_places_every_month_once(spark, queries):
    rows = queries["ttl_move_tiering"](spark, SF_DIR).collect()
    tiers = {}
    for x in rows:
        assert x.order_month not in tiers, "month on both volumes"
        tiers[x.order_month] = x.tier
    assert {t for t in tiers.values()} == {"hot", "cold"}
    for month, tier in tiers.items():
        assert tier == ("cold" if month < 199901 else "hot")
    # repeat call audits the already-tiered table identically (memo path)
    again = {(x.tier, x.order_month, x.n_orders) for x in
             queries["ttl_move_tiering"](spark, SF_DIR).collect()}
    assert again == {(x.tier, x.order_month, x.n_orders) for x in rows}


def test_table_parts_report_conserves_rows(spark, queries):
    rows = queries["table_parts_report"](spark, SF_DIR).collect()
    assert sorted(x.part_seq for x in rows) == [1, 2, 3, 4]
    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    ev = load_table(spark, SF_DIR, "events").filter(F.col("event_type") == "purchase")
    assert sum(x.n_orders for x in rows) == ev.count()
    lo = min(x.min_hour for x in rows)
    assert lo == ev.agg(F.min(F.date_trunc("hour", "ts"))).collect()[0][0]


def test_near_dup_threshold_sweep_monotone(spark, queries):
    rows = sorted(
        queries["near_dup_threshold_sweep"](spark, SF_DIR).collect(),
        key=lambda x: x.threshold,
    )
    assert len(rows) == 7
    for lo, hi in zip(rows, rows[1:]):
        assert lo.n_pairs >= hi.n_pairs
        assert lo.n_docs >= hi.n_docs
    # falsifiability: the sweep must actually vary on the fixture
    assert rows[0].n_pairs > rows[-1].n_pairs
    assert all(0.0 <= x.doc_frac <= 1.0 for x in rows)


def test_window_funnel_strict_dedup_between_modes(spark, queries):
    """Any strict_order chain survives dedup-interrupt (consecutive
    steps never repeat a satisfied one), and any strict_dedup chain is a
    valid default-mode chain — so full-funnel completions nest:
    strict_order <= strict_dedup <= default.  Falsifiability: all three
    distributions differ on the fixture."""
    sd = {x.steps_completed: x.n_users for x in
          queries["window_funnel_strict_dedup"](spark, SF_DIR).collect()}
    so = {x.steps_completed: x.n_users for x in
          queries["window_funnel_strict"](spark, SF_DIR).collect()}
    de = {x.steps_completed: x.n_users for x in
          queries["window_funnel_default"](spark, SF_DIR).collect()}
    assert sum(sd.values()) == sum(de.values()) == sum(so.values())
    assert so.get(4, 0) <= sd.get(4, 0) <= de.get(4, 0)
    assert sd != de and sd != so


def test_r10_new_ops_no_unbounded_cartesian(spark, queries):
    """Scale pins for every r10-new op: no CartesianProduct anywhere (the
    deliberate crossJoins all carry broadcast domain-bounded frames — the
    literal grid, the 6-family frame, the threshold grid, scalar totals),
    and the heavy joins stay equi-joins."""
    for name in (
        "lsh_band_autotune",
        "ann_ivf_nprobe_sweep",
        "near_dup_threshold_sweep",
        "window_funnel_strict_dedup",
        "table_parts_report",
    ):
        df = queries[name](spark, SF_DIR)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"


def test_lsh_band_autotune_sig_join_is_equi(spark, queries):
    """The per-family banded self-join must plan as a hash/merge EQUI
    join on (b, r, k, sig) — a nested-loop there would be all-pairs."""
    df = queries["lsh_band_autotune"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_restore_tx_preserves_history_and_batch_idempotency(spark, tmp_path):
    """restore_tx: rollback is a NEW commit (history intact, old versions
    readable), re-publishes the restored dirs verbatim, and resumes the
    restored snapshot's last_merged_batch so a replay of a rolled-back
    batch re-applies."""
    from pyspark.sql import functions as F
    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog

    table = str(tmp_path / "restore_t")
    for i in range(3):
        df = spark.range(i * 10, i * 10 + 10).select(
            F.col("id"), F.lit(i).alias("epoch")
        )
        assert txlog.append_tx(spark, table, df, batch_id=i)
    v = txlog.restore_tx(spark, table, 2)
    assert v == 4
    cur = txlog.read_table(spark, table)
    assert cur.count() == 20  # epochs 0-1 only
    # history intact: the rolled-back version 3 still reads
    assert txlog.read_table_at(spark, table, 3).count() == 30
    # replaying batch 2 (rolled back) must RE-apply, not skip
    df2 = spark.range(20, 30).select(F.col("id"), F.lit(2).alias("epoch"))
    assert txlog.append_tx(spark, table, df2, batch_id=2)
    assert txlog.read_table(spark, table).count() == 30
    # replaying an epoch the restored snapshot DID merge still skips
    df1 = spark.range(10, 20).select(F.col("id"), F.lit(1).alias("epoch"))
    assert not txlog.append_tx(spark, table, df1, batch_id=1)


def test_rolling_median_low_high_bracket(spark, queries):
    rows = sorted(
        queries["rolling_median_daily_revenue"](spark, SF_DIR).collect(),
        key=lambda x: x.day,
    )
    assert rows[0].n_window == 1 and rows[-1].n_window == 7
    for x in rows:
        assert x.median_low_micros <= x.median_high_micros
        if x.n_window % 2 == 1:
            assert x.median_low_micros == x.median_high_micros
    # falsifiability: an even window where the two conventions differ
    assert any(x.median_low_micros < x.median_high_micros for x in rows)


def test_epoch_mixture_schedule_invariants(spark, queries):
    rows = queries["epoch_mixture_schedule"](spark, SF_DIR).collect()
    assert len(rows) == 20  # one per source
    # allocations track the 2x budget (floor rounding leaves < 1 token
    # per source of drift)
    total = sum(x.n_tokens for x in rows)
    assert abs(sum(x.allocated_tokens for x in rows) - 2 * total) <= len(rows)
    # temperature < 1 upweights low-resource sources: the smallest source
    # repeats at least as much as the largest
    lo = min(rows, key=lambda x: x.n_tokens)
    hi = max(rows, key=lambda x: x.n_tokens)
    assert lo.repeat_factor >= hi.repeat_factor
    # falsifiability: the spread is real on the fixture
    assert lo.repeat_factor > hi.repeat_factor
    for x in rows:
        assert x.epochs_ceil >= 1
        assert abs(x.repeat_factor - x.allocated_tokens / x.n_tokens) < 5e-7


def test_sequence_match_gap_battery_monotone(spark, queries):
    rows = sorted(
        queries["sequence_match_gap_battery"](spark, SF_DIR).collect(),
        key=lambda x: x.gap_s,
    )
    assert [x.gap_s for x in rows] == [300, 3600, 21600, 86400]
    # wider windows can only match more users; the fixture must span the
    # grid (falsifiability: strictly more at 1 day than at 5 minutes)
    for lo, hi in zip(rows, rows[1:]):
        assert lo.n_users <= hi.n_users
    assert rows[0].n_users < rows[-1].n_users
    assert all(0.0 <= x.user_frac <= 1.0 for x in rows)


def test_media_shard_packing_conserves_bytes(spark, queries):
    from realtime_analytics_with_kafka_clickhouse_spark.operators.multimodal import (
        MEDIA_SHARD_BYTES,
        media_table,
    )
    from pyspark.sql import functions as F

    rows = sorted(
        queries["media_shard_packing"](spark, SF_DIR).collect(),
        key=lambda x: x.shard_id,
    )
    assert len(rows) > 1  # the budget actually splits the fixture
    m = media_table(spark, SF_DIR)
    exp = m.agg(
        F.sum(F.octet_length("content")), F.count("*")
    ).collect()[0]
    assert sum(x.total_bytes for x in rows) == exp[0]
    assert sum(x.n_items for x in rows) == exp[1]
    for x in rows:
        assert x.n_image + x.n_audio == x.n_items
    # every shard except possibly the last is filled past the budget's
    # last item boundary; the tail underfills (falsifiable fill curve)
    assert rows[-1].fill_frac <= 1.0 or rows[-1].total_bytes >= MEDIA_SHARD_BYTES
    assert any(x.fill_frac != rows[0].fill_frac for x in rows)


def test_broadcast_if_small_empty_frame(spark):
    """An empty dim is trivially under any limit: hinted, and the join
    result is simply empty — no probe crash, no planner surprise."""
    left = spark.range(0, 100).withColumnRenamed("id", "k")
    empty = spark.range(0).withColumnRenamed("id", "k")
    gated = broadcast_if_small(empty, limit_rows=10)
    assert left.join(gated, "k").count() == 0


def test_restore_tx_rejects_missing_version(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog

    table = str(tmp_path / "restore_t")
    df = spark.range(0, 5).select(F.col("id"), F.lit(0).alias("epoch"))
    assert txlog.append_tx(spark, table, df, batch_id=0)
    with _pytest.raises(ValueError):
        txlog.restore_tx(spark, table, 7)


def test_move_partitions_to_volume_idempotent(spark, tmp_path):
    """A second tiering pass over an already-tiered hot volume finds no
    expired partitions left — the move is naturally idempotent, and the
    union of volumes still conserves every row."""
    from pyspark.sql import functions as F
    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import load_table
    from realtime_analytics_with_kafka_clickhouse_spark.storage.layout import (
        move_partitions_to_volume,
        write_orders_table,
    )

    orders = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderdate").alias("order_timestamp"),
        F.col("o_totalprice").alias("total_amount"),
    )
    root = str(tmp_path)
    hot, cold = f"{root}/hot", f"{root}/cold"
    write_orders_table(orders, hot)
    n_total = orders.count()
    moved = move_partitions_to_volume(spark, hot, cold, "1999-01-01 00:00:00")
    assert moved
    assert move_partitions_to_volume(spark, hot, cold, "1999-01-01 00:00:00") == []
    n_after = spark.read.parquet(hot).count() + spark.read.parquet(cold).count()
    assert n_after == n_total
