"""Round-11 additions: the runtime (AQE) broadcast gate for derived
frames, the enforced request-size collect cap, and the integer-micros
distinct-avg output."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from realtime_analytics_with_kafka_clickhouse_spark.functions.hints import (
    collect_request_sized,
    runtime_broadcast,
)

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def test_runtime_broadcast_attaches_no_hint(spark):
    # The whole point: NO static hint — the decision belongs to AQE.
    dim = spark.range(0, 50).withColumnRenamed("id", "k").groupBy("k").count()
    gated = runtime_broadcast(dim)
    analyzed = gated._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    assert gated is dim  # zero-job, zero-copy


def test_runtime_broadcast_aqe_converts_smj(spark):
    """With the static threshold off and the adaptive threshold on, a
    small agg-derived frame joined without any hint must come out of
    execution as a broadcast-hash join — AQE measured the actual
    post-shuffle size and converted.  This is the mechanism the dedup/ANN
    derived-frame call sites rely on instead of a limit-probe."""
    old_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        left = spark.range(0, 10000).withColumnRenamed("id", "k")
        dim = (
            spark.range(0, 200)
            .withColumnRenamed("id", "k")
            .groupBy("k")
            .count()
        )
        joined = left.join(runtime_broadcast(dim), "k")
        # collect() (not count()) so the final adaptive plan lands on THIS
        # DataFrame's queryExecution
        assert len(joined.collect()) == 200
        executed = (
            joined._jdf.queryExecution().executedPlan().toString()
        ).split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in executed, executed
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_collect_request_sized_under_cap_returns_all(spark):
    rows = collect_request_sized(spark.range(0, 10), cap=10)
    assert sorted(r["id"] for r in rows) == list(range(10))


def test_collect_request_sized_oversized_raises(spark):
    with pytest.raises(ValueError, match="request-size premise"):
        collect_request_sized(spark.range(0, 11), cap=10, what="test batch")


def test_collect_request_sized_rejects_bad_cap(spark):
    with pytest.raises(ValueError):
        collect_request_sized(spark.range(1), cap=0)


def test_distinct_agg_battery_integer_avg(spark, queries):
    """avg_micros is exact round-half-up integer micros of the distinct
    mean — recomputed here independently from the collected distinct
    sets (the r10/r9 gate reds were engine-evaluated doubles; the output
    must stay integer end-to-end)."""
    df = queries["distinct_agg_battery"](spark, SF_DIR)
    assert dict(df.dtypes)["avg_micros"] == "bigint"
    rows = {r["event_type"]: r for r in df.collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from decimal import Decimal

    from pyspark.sql import functions as F

    per = (
        ev.select("event_type", F.col("value").cast("decimal(25,6)").alias("v"))
        .distinct()
        .groupBy("event_type")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    for r in per:
        s6 = int(r["s"] * Decimal(1_000_000))
        n = r["n"]
        expect = (2 * s6 + n) // (2 * n)
        got = rows[r["event_type"]]
        assert got["avg_micros"] == expect, (r["event_type"], expect, got)
        assert got["n_distinct_values"] == n


def test_ivf_incremental_replay_noop_and_pruning(spark, tmp_path):
    """The incremental-IVF lifecycle invariants: (1) replaying the ingest
    batch id is a committed NO-OP (snapshot version and row count
    unchanged); (2) the arrival-ordered append breaks cell-range pruning
    (its zone map spans the domain) and the ranged OPTIMIZE restores it
    (a one-cell probe lists strictly fewer directories than live)."""
    from pyspark.sql import functions as F

    from realtime_analytics_with_kafka_clickhouse_spark.operators.similarity import (
        IVF_INGEST_MOD,
        KMEANS_K,
        _kmeans_fit,
        _with_ranked_cells,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog

    sf_dir = SF_DIR
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = _with_ranked_cells(emb, _kmeans_fit(spark, sf_dir)).select(
        "vec_id", F.element_at("ranked", 1)["c"].alias("cluster"), "embedding"
    )
    is_batch = F.col("vec_id") % IVF_INGEST_MOD == 0
    table = str(tmp_path / "ivf_index")
    bounds = [KMEANS_K * i // 4 for i in range(5)]
    bounds[4] = KMEANS_K
    for i in range(4):
        txlog.append_tx(
            spark,
            table,
            assigned.filter(~is_batch).filter(
                (F.col("cluster") >= bounds[i]) & (F.col("cluster") < bounds[i + 1])
            ),
            batch_id=i,
            stats_cols=["cluster"],
        )
    assert txlog.append_tx(
        spark, table, assigned.filter(is_batch), batch_id=4, stats_cols=["cluster"]
    )
    v_after, _ = txlog.snapshot(spark, table)
    n_after = txlog.read_table(spark, table).count()
    # (1) replayed ingest: no new commit, no duplicate rows
    assert not txlog.append_tx(
        spark, table, assigned.filter(is_batch), batch_id=4, stats_cols=["cluster"]
    )
    v_replay, commit_replay = txlog.snapshot(spark, table)
    assert v_replay == v_after
    assert txlog.read_table(spark, table).count() == n_after == emb.count()
    # (2) pre-OPTIMIZE: the batch dir spans every cell, so a one-cell
    # probe cannot skip it — 2 dirs listed (its range chunk + the batch)
    probe = txlog.read_table(spark, table, prune={"cluster": (0, 0)})
    pre_dirs = {f.rsplit("/", 2)[-2] for f in probe.inputFiles()}
    assert len(pre_dirs) == 2, pre_dirs
    assert txlog.compact_ranged_tx(spark, table, "cluster", bounds)
    probe2 = txlog.read_table(spark, table, prune={"cluster": (0, 0)})
    post_dirs = {f.rsplit("/", 2)[-2] for f in probe2.inputFiles()}
    assert len(post_dirs) == 1, post_dirs
    # rows preserved exactly through the ranged rewrite
    assert txlog.read_table(spark, table).count() == n_after


def test_compact_ranged_tx_rejects_bad_bounds(spark):
    import pytest as _pytest

    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog

    with _pytest.raises(ValueError):
        txlog.compact_ranged_tx(spark, "/tmp/nonexistent", "c", [5, 5])


def test_sparkbar_shape_and_levels(spark, queries):
    """24 glyphs per type, all from the 8-char ramp; a flat profile is
    impossible on the fixture (hourly revenue varies), so at least two
    distinct levels appear (falsifiability), and min/max slots render the
    bottom/top glyphs."""
    from realtime_analytics_with_kafka_clickhouse_spark.operators.timeseries import (
        SPARKBAR_CHARS,
    )

    rows = queries["sparkbar_hourly_revenue"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        bar = r["sparkbar"]
        assert len(bar) == 24
        assert set(bar) <= set(SPARKBAR_CHARS)
        assert r["min_hour_micros"] <= r["max_hour_micros"]
        if r["max_hour_micros"] > r["min_hour_micros"]:
            assert SPARKBAR_CHARS[0] in bar and SPARKBAR_CHARS[7] in bar
            assert len(set(bar)) >= 2


def test_ntile_bands_partition_exactly(spark, queries):
    """Quartile populations per type differ by at most 1 and sum to the
    type's event count; band value ranges are non-overlapping in band
    order (the banding is a real ordered partition)."""
    df = queries["ntile_value_bands"](spark, SF_DIR)
    by_type = {}
    for r in df.collect():
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rows in by_type.items():
        rows.sort(key=lambda r: r["band"])
        assert [r["band"] for r in rows] == [1, 2, 3, 4]
        counts = [r["n_events"] for r in rows]
        assert max(counts) - min(counts) <= 1
        for a, b in zip(rows, rows[1:]):
            assert a["band_max_micros"] <= b["band_min_micros"]


def test_power_iter_unit_norm_and_determinism(spark, queries):
    """The emitted loadings are (up to micro-rounding) a unit vector, the
    eigenvalue estimate is positive, and a re-run is bit-identical (no
    RNG, no partitioning dependence in the integer sums)."""
    q = queries["embedding_top_pc_power_iter"]
    rows = sorted(q(spark, SF_DIR).collect(), key=lambda r: r["dim"])
    assert len(rows) == 64
    norm2 = sum((r["loading_micros"] / 1e6) ** 2 for r in rows)
    assert abs(norm2 - 1.0) < 1e-3
    assert rows[0]["eigenvalue_micros"] > 0
    assert len({r["eigenvalue_micros"] for r in rows}) == 1
    again = sorted(q(spark, SF_DIR).collect(), key=lambda r: r["dim"])
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_url_battery_map_only(spark, queries):
    """The URL decomposition must stay map-only: no exchange anywhere in
    the plan (parse where the row lives)."""
    from realtime_analytics_with_kafka_clickhouse_spark.plans.inspect import (
        formatted_plan,
    )

    df = queries["url_functions_battery"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan
    r = {x["doc_id"]: x for x in df.collect()}[3]
    assert r["protocol"] == "https" and r["tld"] == "com"
    assert r["p_param"] == "3" and r["fragment"] == "s0"


def test_ivf_delete_applies_tombstones_physically(spark, tmp_path):
    """The delete-applying ranged OPTIMIZE: post-compact the index holds
    zero victim rows and zero tombstone rows, total = corpus - victims,
    the tombstone replay is a committed no-op, a one-cell probe lists one
    directory again, and no served neighbor is a deleted vector."""
    from pyspark.sql import functions as F

    from realtime_analytics_with_kafka_clickhouse_spark.operators.similarity import (
        IVF_DELETE_MOD,
        IVF_DELETE_REM,
        KMEANS_K,
        _kmeans_fit,
        _with_ranked_cells,
        apply_ivf_tombstones,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    assigned = _with_ranked_cells(emb, _kmeans_fit(spark, SF_DIR)).select(
        "vec_id", F.element_at("ranked", 1)["c"].alias("cluster"), "embedding"
    )
    is_victim = F.col("vec_id") % IVF_DELETE_MOD == IVF_DELETE_REM
    n_total = emb.count()
    n_victims = emb.filter(is_victim).count()
    assert 0 < n_victims < n_total  # both branches real on the fixture
    table = str(tmp_path / "ivf_index")
    bounds = [KMEANS_K * i // 4 for i in range(5)]
    bounds[4] = KMEANS_K
    base = assigned.withColumn("deleted", F.lit(False))
    for i in range(4):
        txlog.append_tx(
            spark,
            table,
            base.filter(
                (F.col("cluster") >= bounds[i]) & (F.col("cluster") < bounds[i + 1])
            ),
            batch_id=i,
            stats_cols=["cluster"],
        )
    tomb = assigned.filter(is_victim).withColumn("deleted", F.lit(True))
    assert txlog.append_tx(spark, table, tomb, batch_id=4, stats_cols=["cluster"])
    assert not txlog.append_tx(  # replayed delete batch: committed no-op
        spark, table, tomb, batch_id=4, stats_cols=["cluster"]
    )
    assert txlog.compact_ranged_tx(
        spark, table, "cluster", bounds, stats_cols=["cluster"],
        agg=apply_ivf_tombstones,
    )
    live = txlog.read_table(spark, table)
    assert live.count() == n_total - n_victims
    assert live.filter(F.col("deleted")).count() == 0
    assert (
        live.filter(F.col("vec_id") % IVF_DELETE_MOD == IVF_DELETE_REM).count()
        == 0
    )
    probe = txlog.read_table(spark, table, prune={"cluster": (0, 0)})
    assert len({f.rsplit("/", 2)[-2] for f in probe.inputFiles()}) == 1


def test_ivf_delete_serves_no_victims(spark, queries):
    from realtime_analytics_with_kafka_clickhouse_spark.operators.similarity import (
        IVF_DELETE_MOD,
        IVF_DELETE_REM,
    )

    rows = queries["ann_ivf_delete_vectors"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["vec_id"] % IVF_DELETE_MOD != IVF_DELETE_REM
        assert r["neighbor_id"] % IVF_DELETE_MOD != IVF_DELETE_REM


def test_r11_new_ops_plan_shapes(spark, queries):
    """Plan pins for the r11 batch: ntile banding runs ONE exchange
    (partition by type; the band aggregate reuses or follows it, never a
    global sort); sparkbar's corpus pass is the single rollup aggregate
    (no second corpus exchange — the window runs over the 24-row dense
    grid); bounding_ratio partial-aggregates its endpoint structs
    map-side."""
    from realtime_analytics_with_kafka_clickhouse_spark.plans.inspect import (
        formatted_plan,
    )

    ntile = formatted_plan(queries["ntile_value_bands"](spark, SF_DIR))
    assert "CartesianProduct" not in ntile
    assert ntile.count("(") > 0 and "Window" in ntile
    n_exch = sum(
        1 for line in ntile.splitlines()
        if line.strip().startswith("(") and "Exchange" in line
    )
    assert n_exch <= 2, ntile  # type-hash for the window + band rollup

    br = formatted_plan(queries["bounding_ratio_battery"](spark, SF_DIR))
    assert "partial_min" in br and "partial_max" in br, br

    sb = formatted_plan(queries["sparkbar_hourly_revenue"](spark, SF_DIR))
    assert "CartesianProduct" not in sb
    # exactly one scan of events feeds everything (grid derives from it)
    scans = sum(
        1 for line in sb.splitlines()
        if line.strip().startswith("(") and "Scan parquet" in line
        and "events" in line
    )
    assert scans <= 2, sb


def test_quantile_timing_regimes_and_monotonicity(spark, queries):
    """Both accuracy regimes fire on the fixture (exact < 1024 ms AND
    bucketed >= 1024 ms), bucketed quantiles land on the 16 ms grid, and
    p50 <= p95 <= p99."""
    rows = queries["quantile_timing_battery"](spark, SF_DIR).collect()
    assert rows
    saw_bucketed_stat = False
    for r in rows:
        assert 0 < r["n_exact_regime"] < r["n_events"]
        assert r["p50_ms"] <= r["p95_ms"] <= r["p99_ms"]
        for p in ("p50_ms", "p95_ms", "p99_ms"):
            v = r[p]
            if v >= 1024:
                saw_bucketed_stat = True
                assert (v - 1024) % 16 == 0, (p, v)
    assert saw_bucketed_stat


def test_span_corruption_plan_invariants(spark, queries):
    """Spans are within bounds, non-overlapping (segment spread + len-3
    spans under gap ~20), full-length except a possible truncated tail,
    and the plan is deterministic across runs."""
    q = queries["span_corruption_plan"]
    rows = {r["doc_id"]: r for r in q(spark, SF_DIR).collect()}
    assert rows
    for r in rows.values():
        starts = [int(s) for s in r["span_starts_csv"].split(",")]
        assert len(starts) == r["n_spans"]
        assert all(0 <= s < r["n_tokens"] for s in starts)
        for a, b in zip(starts, starts[1:]):
            assert b - a >= 3  # non-overlapping
        assert r["n_corrupted"] <= 3 * r["n_spans"]
        assert r["n_corrupted"] >= 3 * (r["n_spans"] - 1) + 1
        # ~15% on normal docs; tiny docs are floored at one 3-token span
        n = r["n_tokens"]
        one_span_micros = (2 * 3 * 1000000 + n) // (2 * n)
        assert 0 < r["corruption_micros"] <= max(160000, one_span_micros)
    again = {r["doc_id"]: r for r in q(spark, SF_DIR).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_ip_battery_branches_fire(spark, queries):
    """Falsifiability: the hash-spread fleet covers (nearly) all /8
    blocks, the RFC-1918 branch matches a nonzero count, and every
    render/parse round-trip holds."""
    rows = queries["ip_functions_battery"](spark, SF_DIR).collect()
    assert len(rows) >= 200
    assert sum(r["n_private"] for r in rows) > 0
    assert all(r["all_roundtrip_ok"] for r in rows)
    assert sum(r["n_events"] for r in rows) == spark.read.parquet(
        f"{SF_DIR}/events.parquet"
    ).count()


def test_optimize_deduplicate_shrinks_and_restores(spark):
    """The duplicated even-hour rows are really present pre-OPTIMIZE and
    really gone post — equal to the one-shot rollup."""
    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline import (
        hourly_rollup_aggregate,
        optimize_deduplicate_rollup,
    )

    out = optimize_deduplicate_rollup(spark, SF_DIR)
    expect = hourly_rollup_aggregate(load_table(spark, SF_DIR, "events"))
    assert out.count() == expect.count()
    assert out.exceptAll(expect).count() == 0
    assert expect.exceptAll(out).count() == 0


def test_stream_ivf_ingest_restart_noop(spark, tmp_path):
    """Exactly-once index maintenance from an at-least-once stream: after
    the availableNow stream drains, re-starting it on the same source +
    checkpoint commits NOTHING new (no new epochs to process), and a
    manual replay of a drained epoch id is refused by the txlog."""
    from pyspark.sql import functions as F

    from realtime_analytics_with_kafka_clickhouse_spark.operators.similarity import (
        _kmeans_fit,
        _with_ranked_cells,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog

    src, ckpt, table = (str(tmp_path / d) for d in ("tsrc", "tckpt", "tidx"))
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    for half in (0, 1):
        emb.filter(F.pmod("vec_id", F.lit(2)) == half).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    cent = _kmeans_fit(spark, SF_DIR)

    def ingest(batch, epoch_id):
        assigned = _with_ranked_cells(batch, cent).select(
            "vec_id", F.element_at("ranked", 1)["c"].alias("cluster"), "embedding"
        )
        txlog.append_tx(
            spark, table, assigned.coalesce(2),
            batch_id=int(epoch_id), stats_cols=["cluster"],
        )

    schema = spark.read.parquet(src).schema

    def run_stream():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_stream()
    v1, _ = txlog.snapshot(spark, table)
    n1 = txlog.read_table(spark, table).count()
    assert n1 == emb.count()
    run_stream()  # restart on the drained checkpoint: nothing to do
    v2, _ = txlog.snapshot(spark, table)
    assert v2 == v1
    assert txlog.read_table(spark, table).count() == n1
    # a raw at-least-once replay of epoch 0 is refused by the batch id
    batch0 = emb.filter(F.pmod("vec_id", F.lit(2)) == 0)
    assigned0 = _with_ranked_cells(batch0, cent).select(
        "vec_id", F.element_at("ranked", 1)["c"].alias("cluster"), "embedding"
    )
    assert not txlog.append_tx(
        spark, table, assigned0, batch_id=0, stats_cols=["cluster"]
    )


def test_dq_report_failing_branch_real(spark, queries):
    rows = {r["check_name"]: r for r in queries["dq_expectations_report"](spark, SF_DIR).collect()}
    assert rows["orders.o_orderdate sla_1997"]["passed"] is False
    assert rows["orders.o_orderdate sla_1997"]["n_violations"] > 0
    assert rows["orders.o_orderkey unique"]["passed"] is True
    assert rows["lineitem.l_orderkey fk_orders"]["n_violations"] == 0


def test_prometheus_clamp_and_interpolation(spark, queries):
    """The +Inf clamp genuinely fires for at least one type (q99 == the
    top finite bound) while q90 stays interpolated below it; quantiles
    are monotone."""
    rows = queries["prometheus_histogram_quantile"](spark, SF_DIR).collect()
    assert rows
    assert any(r["q99"] == 200.0 for r in rows)
    for r in rows:
        assert r["q50"] <= r["q90"] <= r["q99"] <= 200.0
        assert r["q90"] < 200.0


def test_l_diversity_share_and_flag(spark, queries):
    rows = queries["l_diversity_report"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r["dominant_count"] <= r["group_size"]
        lo = r["dominant_count"] * 1000000 // r["group_size"] - 1
        assert lo <= r["dominant_share_micros"] <= lo + 2
        assert r["is_3_diverse"] == (r["l_distinct_sensitive"] >= 3)


def test_paste_join_positions_and_order(spark, queries):
    """PASTE JOIN card: exactly 100 positions, both pasted series
    non-increasing (each side really is its own top-k order)."""
    rows = sorted(
        queries["paste_join_battery"](spark, SF_DIR).collect(),
        key=lambda r: r["pos"],
    )
    assert [r["pos"] for r in rows] == list(range(1, 101))
    totals = [r["order_total_micros"] for r in rows]
    prices = [r["line_price_micros"] for r in rows]
    assert all(a >= b for a, b in zip(totals, prices))  # orders sum their lines
    assert totals == sorted(totals, reverse=True)
    assert prices == sorted(prices, reverse=True)
    for r in rows:
        assert (
            r["total_minus_line_micros"]
            == r["order_total_micros"] - r["line_price_micros"]
        )


def test_any_join_both_branches_and_first_match(spark, queries):
    """LEFT ANY strictness: at most one right row per order (key-unique
    output), BOTH matched and unmatched branches fire on the fixture,
    and the kept match is the true (shipdate, linenumber) minimum."""
    from pyspark.sql import functions as F

    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )

    df = queries["any_join_battery"](spark, SF_DIR)
    rows = df.collect()
    keys = [r["o_orderkey"] for r in rows]
    assert len(keys) == len(set(keys))  # ANY = at most one right row
    matched = [r for r in rows if r["has_return"]]
    unmatched = [r for r in rows if not r["has_return"]]
    assert matched and unmatched, (len(matched), len(unmatched))
    assert all(
        r["first_ret_shipdate"] is None and r["first_ret_price_micros"] is None
        for r in unmatched
    )
    # spot-check the min-tiebreak on the order with the most returned lines
    some = matched[0]["o_orderkey"]
    li = (
        load_table(spark, SF_DIR, "lineitem")
        .filter((F.col("l_orderkey") == some) & (F.col("l_returnflag") == "R"))
        .orderBy("l_shipdate", "l_linenumber")
        .collect()
    )
    got = next(r for r in matched if r["o_orderkey"] == some)
    assert got["first_ret_shipdate"] == li[0]["l_shipdate"]
    assert got["first_ret_linenumber"] == li[0]["l_linenumber"]


def test_resample_discards_out_of_range(spark, queries):
    """-Resample semantics: keys outside [0, 400000) are DISCARDED (the
    branch must fire — the fixture has orders above 400k), every band
    array has exactly 4 elements, and the count CSV re-sums to
    n_in_range."""
    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )

    rows = queries["resample_combinator_battery"](spark, SF_DIR).collect()
    total_orders = load_table(spark, SF_DIR, "orders").count()
    in_range = sum(r["n_in_range"] for r in rows)
    assert in_range < total_orders  # discard branch fired
    for r in rows:
        counts = r["count_resample_csv"].split(",")
        sums = r["sum_resample_csv"].split(",")
        assert len(counts) == 4 and len(sums) == 4
        assert sum(int(c) for c in counts) == r["n_in_range"]


def test_proportions_ztest_shape(spark, queries):
    """Four treatment cohorts vs control: z sign agrees with the rate
    difference and the unpooled CI brackets it."""
    rows = queries["proportions_ztest_cohorts"](spark, SF_DIR).collect()
    assert sorted(r["cohort"] for r in rows) == [1, 2, 3, 4]
    for r in rows:
        diff = r["p_sample"] - r["p_control"]
        assert (r["z_stat"] > 0) == (diff > 0) or diff == 0
        assert r["ci_low"] <= diff + 5e-6
        assert diff <= r["ci_high"] + 5e-6


def test_min_sample_size_monotone(spark, queries):
    """Planning card invariant: within a cohort a LARGER detectable
    effect needs a SMALLER sample (n ~ 1/mde^2 dominates)."""
    rows = queries["min_sample_size_conversion"](spark, SF_DIR).collect()
    assert len(rows) == 15
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort"], []).append((r["mde"], r["min_n_per_variant"]))
    for pairs in by_cohort.values():
        pairs.sort()
        ns = [n for _, n in pairs]
        assert ns == sorted(ns, reverse=True), ns
        assert all(n > 0 for n in ns)


def test_contingency_coefficients_bounds(spark, queries):
    """C and T live in [0, 1); C < 1 strictly; chi2 equals the shared
    cramers_v chi2 bit-for-bit (same helper, same fold)."""
    row = queries["contingency_coefficients"](spark, SF_DIR).collect()[0]
    assert 0.0 <= row["contingency_c"] < 1.0
    assert 0.0 <= row["tschuprow_t"] < 1.0
    cram = queries["cramers_v_assoc"](spark, SF_DIR).collect()[0]
    assert row["chi2"] == cram["chi2"]
    assert row["n_total"] == cram["n_total"]


def test_derivative_battery_branches(spark, queries):
    """Both derivative signs fire (daily revenue is non-monotone), the
    clamp zeroes exactly the negative rates, and gaps are >= 1 day."""
    rows = queries["derivative_battery"](spark, SF_DIR).collect()
    assert any(r["delta_micros"] < 0 for r in rows)
    assert any(r["delta_micros"] > 0 for r in rows)
    for r in rows:
        assert r["gap_days"] >= 1
        if r["rate_micros_per_day"] >= 0:
            assert r["nonneg_rate_micros"] == r["rate_micros_per_day"]
        else:
            assert r["nonneg_rate_micros"] == 0


def test_asof_tolerance_three_branches(spark, queries):
    """no_prior / matched / too_old all live; matched gaps bound by the
    tolerance; nulls exactly on the unmatched states."""
    from realtime_analytics_with_kafka_clickhouse_spark.operators.timeseries import (
        ASOF_TOLERANCE_US,
    )

    rows = queries["asof_tolerance_enrich"](spark, SF_DIR).collect()
    states = {r["asof_state"] for r in rows}
    assert states == {"no_prior", "matched", "too_old"}
    for r in rows:
        if r["asof_state"] == "matched":
            assert 0 <= r["asof_gap_us"] <= ASOF_TOLERANCE_US
            assert r["asof_purchase_ts"] is not None
        else:
            assert r["asof_gap_us"] is None and r["asof_purchase_ts"] is None


def test_limit_with_ties_peers(spark, queries):
    """WITH TIES must return the whole peer group: every flag's tied
    count is far above the 1 row a plain LIMIT keeps."""
    rows = queries["limit_with_ties_card"](spark, SF_DIR).collect()
    assert sorted(r["l_returnflag"] for r in rows) == ["A", "N", "R"]
    for r in rows:
        assert r["top_quantity"] == 50
        assert r["n_tied"] > 1  # the ties branch is the whole point
        assert r["tied_revenue"] > 0


def test_bitmap_algebra_identities(spark, queries):
    """Inclusion–exclusion holds exactly on every pair: |A|+|B| =
    |AND|+|OR|, XOR = OR - AND, and no degenerate pair (all five
    numbers positive — the fixture's audiences genuinely overlap)."""
    rows = queries["bitmap_set_algebra"](spark, SF_DIR).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["card_a"] + r["card_b"] == r["and_card"] + r["or_card"]
        assert r["xor_card"] == r["or_card"] - r["and_card"]
        assert r["and_card"] > 0 and r["xor_card"] >= 0


def test_array_set_ops_laws(spark, queries):
    """Set laws on the CSVs: intersect ⊆ union, except ∩ intersect = ∅,
    |union| == n_types.  (No empty-half claim: every fixture user has
    >= 49 events across 5 types at every SF — probed r12 — so an empty
    half never occurs on the corpus; ADVICE r11 #1 resolved by dropping
    the vacuous claim rather than asserting an inert flag.)"""
    rows = queries["array_set_ops_battery"](spark, SF_DIR).collect()
    for r in rows:
        inter = set(r["intersect_csv"].split(",")) - {""}
        union = set(r["union_csv"].split(",")) - {""}
        exc = set(r["except_csv"].split(",")) - {""}
        assert inter <= union and exc <= union
        assert not (inter & exc)
        assert len(union) == r["n_types"]
    assert rows and any(r["n_types"] >= 2 for r in rows)


def test_explain_estimate_branches(spark, queries):
    """The chunk-aligned predicate's estimate is TIGHT (== exact), the
    straddling predicate's estimate OVERSHOOTS (> exact — zone maps
    can't see inside a chunk), containment holds everywhere, and 'all'
    touches all 4 dirs."""
    rows = {r["predicate"]: r for r in
            queries["explain_estimate_scan"](spark, SF_DIR).collect()}
    assert set(rows) == {"q2", "mid_straddle", "all"}
    for r in rows.values():
        assert r["est_is_superset"]
        assert r["est_rows"] >= r["exact_rows"] > 0
    assert rows["q2"]["est_rows"] == rows["q2"]["exact_rows"]
    assert rows["q2"]["est_dirs"] == 1
    assert rows["mid_straddle"]["est_rows"] > rows["mid_straddle"]["exact_rows"]
    assert rows["mid_straddle"]["est_dirs"] == 2
    assert rows["all"]["est_dirs"] == 4


def test_string_battery_map_only_and_branches(spark, queries):
    """Map-only plan (no exchange) and every leg's both branches live:
    dup_pos 0 and >0, multi_hit true and false, readable in both the
    plain and the 'thousand' rendering."""
    from realtime_analytics_with_kafka_clickhouse_spark.plans.inspect import (
        formatted_plan,
    )

    df = queries["string_functions_battery"](spark, SF_DIR)
    assert "Exchange" not in formatted_plan(df)
    rows = df.collect()
    assert any(r["dup_pos"] == 0 for r in rows) and any(r["dup_pos"] > 0 for r in rows)
    assert any(r["multi_hit"] for r in rows) and any(not r["multi_hit"] for r in rows)
    assert any("thousand" in r["readable_bits"] for r in rows)
    assert any("thousand" not in r["readable_bits"] for r in rows)
    for r in rows:
        assert r["n_tokens"] >= 1 and r["n_table_substr"] >= 0


def test_group_array_intersect_fold(spark, queries):
    """Both fold outcomes live at week grain (some user keeps a
    nonempty every-week set, some intersects to zero), and n_common
    always equals the CSV's type count."""
    rows = queries["group_array_intersect"](spark, SF_DIR).collect()
    assert any(r["n_common"] >= 1 for r in rows)
    assert any(r["n_common"] == 0 for r in rows)
    for r in rows:
        assert r["n_active_weeks"] >= 1
        got = [t for t in r["common_csv"].split(",") if t]
        assert len(got) == r["n_common"]


def test_schema_introspection_card(spark, queries):
    """All 10 tables present, classes restricted to the neutral set,
    and the drift-prone events.ts lands on 'timestamp' (the class is
    stable across fixture generations where the raw name is not)."""
    rows = queries["schema_introspection_card"](spark, SF_DIR).collect()
    tables = {r["table_name"] for r in rows}
    assert len(tables) == 10
    allowed = {"integer", "float", "string", "timestamp", "date", "array"}
    assert {r["type_class"] for r in rows} <= allowed
    ts = [r for r in rows if r["table_name"] == "events" and r["column_name"] == "ts"]
    assert ts and ts[0]["type_class"] == "timestamp"
    emb = [r for r in rows
           if r["table_name"] == "embeddings" and r["column_name"] == "embedding"]
    assert emb and emb[0]["type_class"] == "array"


def test_paste_join_plan_topk(spark, queries):
    """Each PASTE JOIN side must stay a top-k selection — two
    TakeOrderedAndProject nodes, never a global table sort."""
    from realtime_analytics_with_kafka_clickhouse_spark.plans.inspect import (
        formatted_plan,
    )

    plan = formatted_plan(queries["paste_join_battery"](spark, SF_DIR))
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_limit_with_ties_plan_broadcast(spark, queries):
    """The WITH TIES peer filter joins the 3-row boundary maxima by
    BROADCAST — the corpus never shuffles for the threshold."""
    from realtime_analytics_with_kafka_clickhouse_spark.plans.inspect import (
        formatted_plan,
    )

    plan = formatted_plan(queries["limit_with_ties_card"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_bag_set_ops_multiset_semantics(spark, queries):
    """ALL-semantics must differ from DISTINCT: total intersect
    multiplicity far above the distinct key count, truncated except is
    live on both sides (some keys 0, some > 0), and the multiset
    identity cv = min + except holds per key."""
    rows = queries["bag_set_ops_battery"](spark, SF_DIR).collect()
    n_keys = len(rows)
    total_inter = sum(r["n_intersect_all"] for r in rows)
    # strictly more rows than keys == some multiplicity exceeded 1
    # (at sf0.01 the ratio is ~17x; the conftest SF runs leaner)
    assert total_inter > n_keys
    assert any(r["n_except_all"] == 0 for r in rows)
    assert any(r["n_except_all"] > 0 for r in rows)


def test_dedup_audit_sample_queue(spark, queries):
    """The audit queue: per band at most K rows with ranks 1..n, the
    two live bimodal bands present, band edges honored by the reported
    integer evidence, and a re-run is bit-identical (hash draw, not
    random)."""
    q = queries["dedup_audit_sample"]
    rows = sorted(q(spark, SF_DIR).collect(), key=lambda r: (r["band"], r["rank"]))
    bands = {}
    for r in rows:
        bands.setdefault(r["band"], []).append(r)
    assert "lt_0.1" in bands and "ge_0.5" in bands
    for band, rs in bands.items():
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        for r in rs:
            if band == "lt_0.1":
                assert 10 * r["n_shared"] < r["n_union"]
            elif band == "ge_0.5":
                assert 2 * r["n_shared"] >= r["n_union"]
    again = sorted(q(spark, SF_DIR).collect(), key=lambda r: (r["band"], r["rank"]))
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_avg_map_alignment(spark, queries):
    """Keys and averages positionally aligned, keys sorted, every
    average between the day's min and max micros (sanity of the
    integer division)."""
    rows = queries["avg_map_event_values"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        keys = r["keys_csv"].split(",")
        avgs = r["avgs_micros_csv"].split(",")
        assert len(keys) == len(avgs)
        assert keys == sorted(keys)
        assert all(int(a) > 0 for a in avgs)


def test_unicode_battery_byte_vs_char(spark, queries):
    """Multibyte branch live on exactly the odd keys: 3 bytes per Thai
    char (6 chars + the space = +7 chars, +19 bytes), even keys stay
    byte==char ASCII."""
    rows = queries["unicode_functions_battery"](spark, SF_DIR).collect()
    odd = [r for r in rows if r["c_custkey"] % 2 == 1]
    even = [r for r in rows if r["c_custkey"] % 2 == 0]
    assert odd and even
    for r in odd:
        assert r["is_multibyte"]
        assert r["n_bytes"] - r["n_chars"] == 12  # 6 Thai chars x (3-1) bytes
        assert r["display_name"].endswith("สินค้า")
    for r in even:
        assert not r["is_multibyte"] and r["n_bytes"] == r["n_chars"]


def test_stream_curation_ingest_ledger(spark, queries):
    """The curation ledger: both gate branches live per the fixture
    split, duplicates actually collapsed somewhere, totals conserve
    (kept + collapsed + quarantined == corpus), and a re-run is
    identical (fresh tables per call, deterministic lifecycle)."""
    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )

    q = queries["stream_curation_ingest"]
    rows = q(spark, SF_DIR).collect()
    total_docs = load_table(spark, SF_DIR, "documents").count()
    kept = sum(r["n_kept"] for r in rows)
    quar = sum(r["n_quarantined"] for r in rows)
    ndup = sum(r["n_near_dup_quarantined"] for r in rows)
    dup = sum(r["n_dup_collapsed"] for r in rows)
    assert kept > 0 and quar > 0
    assert ndup > 0  # the r12 fuzzy-dedup-on-arrival branch fires
    # exact-duplicate texts exist only at sf0.1 in the fixture — pin the
    # collapse branch exactly when the corpus carries passing duplicates
    from pyspark.sql import functions as F

    # ... among gate-PASSING docs only: a duplicated text whose copies
    # all fail the gate is quarantined, never collapsed (ADVICE r11 #2)
    docs = load_table(spark, SF_DIR, "documents")
    words = F.split(F.col("text"), " ", -1)
    passing = docs.filter(
        (F.size(words) >= 5)
        & (10 * F.size(F.array_distinct(words)) >= 4 * F.size(words))
    )
    # clean accepts = passing minus near-dup-quarantined; identical texts
    # are classified uniformly only per-copy (the epoch recursion), so
    # bound the collapse by the passing-dup count instead of equating it
    expected_dups = passing.count() - passing.select("text").distinct().count()
    assert 0 <= dup <= expected_dups
    if expected_dups > 0 and ndup == 0:
        assert dup == expected_dups
    assert kept + quar + ndup + dup == total_docs
    again = sorted(map(tuple, q(spark, SF_DIR).collect()))
    assert sorted(map(tuple, rows)) == again


def test_null_semantics_identities(spark, queries):
    """NULL wiring identities: n_rows = n_nonnull + n_null with both
    sides live, the sentinel-sum difference is exactly -n_null, and the
    null group adds exactly one to the value-group count."""
    rows = queries["null_semantics_battery"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_rows"] == r["n_nonnull"] + r["n_null"]
        assert r["n_null"] > 0 and r["n_nonnull"] > 0
        assert abs((r["sum_nonnull"] - r["sum_sentinel"]) - r["n_null"]) < 1e-6
        assert r["avg_micros_nonnull"] > 0


def test_langid_confusion_card(spark, queries):
    """Both branches live (diagonal and off-diagonal cells), per-label
    shares sum to ~1e6, and the documented r12 diagnosis is visible:
    every prediction over the uniformly-English fixture is 'en' or
    'und' (the honest answers — real-language recall is pinned on
    constructed texts in test_r12_ops)."""
    rows = queries["langid_confusion_matrix"](spark, SF_DIR).collect()
    assert any(r["is_diagonal"] for r in rows)
    assert any(not r["is_diagonal"] for r in rows)
    assert {r["predicted_lang"] for r in rows} <= {"en", "und"}
    by_label = {}
    for r in rows:
        by_label.setdefault(r["lang"], []).append(r)
    for rs in by_label.values():
        assert sum(r["n_docs"] for r in rs) == rs[0]["label_total"]
        total_share = sum(r["share_micros"] for r in rs)
        assert abs(total_share - 1_000_000) <= len(rs)  # rounding slack


def test_limit_by_pagination(spark, queries):
    """LIMIT 3 OFFSET 2 BY priority: exactly positions 3..5 per group,
    5 groups, and each group's page is sorted by its own order."""
    rows = queries["limit_by_battery"](spark, SF_DIR).collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r["o_orderpriority"], []).append(r)
    assert len(by_g) == 5
    for rs in by_g.values():
        rs.sort(key=lambda r: r["pos_in_group"])
        assert [r["pos_in_group"] for r in rs] == [3, 4, 5]
        totals = [r["order_total_micros"] for r in rs]
        assert totals == sorted(totals, reverse=True)


def test_time_bucket_battery_grains(spark, queries):
    """Bucket identities: every 15-min bucket aligns to 900s, the
    30-min slot contains it, time-of-day in [0, 86400), and counts are
    positive."""
    rows = queries["time_bucket_battery"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        b = r["bucket_15m"]
        assert (b.minute % 15 == 0) and b.second == 0
        slot = r["time_slot_30m"]
        assert slot <= b and slot.minute in (0, 30)
        assert 0 <= r["secs_since_midnight"] < 86400
        assert r["secs_since_midnight"] % 900 == 0
        assert r["n_events"] > 0 and r["revenue_micros"] > 0


def test_bitmap_algebra_single_corpus_scan(spark, queries):
    """The one-pass identity must hold in the plan: exactly one events
    scan feeds the whole pair algebra (flags once, sums after)."""
    df = queries["bitmap_set_algebra"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert plan.count("Scan parquet") <= 2  # events scan (+ a reused exchange)


def test_string_battery_pushdown_schema(spark, queries):
    """Column pruning reaches the scan: only doc_id/text/n_chars ride
    the read schema (lang/source pruned)."""
    from realtime_analytics_with_kafka_clickhouse_spark.plans.inspect import (
        formatted_plan,
    )

    plan = formatted_plan(queries["string_functions_battery"](spark, SF_DIR))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("lang" not in ln and "source" not in ln for ln in read), read


def test_derivative_battery_single_window_exchange(spark, queries):
    """The rollup aggregate and the lag window must not shuffle the
    corpus twice: the window runs on the |types x days| rollup."""
    from realtime_analytics_with_kafka_clickhouse_spark.plans.inspect import (
        formatted_plan,
    )

    plan = formatted_plan(queries["derivative_battery"](spark, SF_DIR))
    # one corpus scan only
    assert plan.count("Scan parquet") <= 2
    assert "Window" in plan
