"""Round-14 additions: the quantizer-refresh drift response
(``ann_ivf_quantizer_refresh`` — verdict #4's capability push) and its
lifecycle invariants beyond the DuckDB-parity oracle."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def test_quantizer_refresh_lifecycle(spark, queries):
    """Drift-response invariants: (1) the ledger records NO refresh for
    the plain cohort and ONE for the shifted cohort, with drift scores
    on the correct sides of tau by an order of magnitude each way;
    (2) the refreshed quantizer differs from the frozen one; (3) the
    refresh conserves rows (corpus + both batches, nothing lost or
    duplicated by the re-assigning rewrite); (4) replaying the drifted
    batch's arrival id is a committed no-op (version + rows unchanged);
    (5) post-refresh, a one-cell probe prunes to a single ranged dir —
    the re-cluster restored data skipping under the NEW cell ids;
    (6) drifted arrivals are served (every drifted query returns top-k)
    and both neighbor_is_drifted branches fire."""
    from pyspark.sql import functions as F

    from realtime_analytics_with_kafka_clickhouse_spark.operators.similarity import (
        DRIFT_REFRESH_TAU_MICROS,
        DRIFT_SHIFT_OFFSET,
        TOP_K,
        ann_ivf_quantizer_refresh,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog

    rows = queries["ann_ivf_quantizer_refresh"](spark, SF_DIR).collect()
    st = ann_ivf_quantizer_refresh.last_state
    ledger = {e["batch"]: e for e in st["ledger"]}

    # (1) branch decisions, with margin
    assert not ledger["plain"]["refreshed"]
    assert ledger["shifted"]["refreshed"]
    assert ledger["plain"]["drift_micros"] * 10 < DRIFT_REFRESH_TAU_MICROS
    assert ledger["shifted"]["drift_micros"] > 2 * DRIFT_REFRESH_TAU_MICROS
    assert ledger["plain"]["applied"] and ledger["shifted"]["applied"]

    # (2) the refit actually moved the quantizer
    assert st["old_quantizer"] != st["new_quantizer"]
    assert len(st["new_quantizer"]) == len(st["old_quantizer"])

    # (3) conservation through the re-assigning rewrite
    n_corpus = load_table(spark, SF_DIR, "embeddings").count()
    n_batches = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.pmod("vec_id", F.lit(10)).isin(7, 4))
        .count()
    )
    table = st["table"]
    assert txlog.read_table(spark, table).count() == n_corpus + n_batches
    ids = txlog.read_table(spark, table).select("vec_id").distinct().count()
    assert ids == n_corpus + n_batches  # no duplicates either

    # (4) replayed arrival: committed no-op
    v_before, _ = txlog.snapshot(spark, table)
    probe = spark.createDataFrame(
        [(99_999_999, 0, [0.0] * 64)],
        "vec_id long, cluster int, embedding array<double>",
    )
    assert not txlog.append_tx(
        spark, table, probe, batch_id=5, stats_cols=["cluster"]
    )
    v_after, _ = txlog.snapshot(spark, table)
    assert v_after == v_before

    # (5) pruning restored under the NEW cells: one-cell probe -> 1 dir
    pr = txlog.read_table(spark, table, prune={"cluster": (0, 0)})
    dirs = {f.rsplit("/", 2)[-2] for f in pr.inputFiles()}
    assert len(dirs) == 1, dirs

    # (6) the refreshed index serves the new data
    drifted_q = {r["vec_id"] for r in rows if r["vec_id"] >= DRIFT_SHIFT_OFFSET}
    n_drifted = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.pmod("vec_id", F.lit(10)) == 4)
        .count()
    )
    assert len(drifted_q) == n_drifted
    per_q = {}
    for r in rows:
        per_q.setdefault(r["vec_id"], []).append(r)
    for q in drifted_q:
        assert len(per_q[q]) == TOP_K
    assert any(r["neighbor_is_drifted"] for r in rows)
    assert any(not r["neighbor_is_drifted"] for r in rows)


def test_quantizer_refresh_assignment_is_map_side(spark):
    """Scale pin: the re-assignment fold used by the refresh rewrite is
    shuffle-free — the quantizer is a closure constant of the vectorized
    assignment kernel (r15: one MapInPandas pass; no broadcast row, no
    BroadcastNestedLoopJoin), and the embeddings never ride any
    Exchange."""
    from pyspark.sql import functions as F

    from realtime_analytics_with_kafka_clickhouse_spark.operators.similarity import (
        _kmeans_fit,
        _with_ranked_cells,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    df = _with_ranked_cells(emb, _kmeans_fit(spark, SF_DIR)).select(
        "vec_id", F.element_at("ranked", 1)["c"].alias("cluster")
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "ShuffleExchange" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_centroid_distance_rejects_an_empty_side(spark):
    """An empty batch has no centroid: the drift score raises a clear
    ValueError instead of a KeyError from the per-dimension fold."""
    from realtime_analytics_with_kafka_clickhouse_spark.operators.similarity import (
        _centroid_dist2_micros,
    )

    index = spark.createDataFrame([([1.0, 2.0],), ([3.0, 4.0],)], "embedding array<float>")
    empty = spark.createDataFrame([], "embedding array<float>")
    assert _centroid_dist2_micros(index, index) == 0
    with pytest.raises(ValueError, match=r"batch has 0\)"):
        _centroid_dist2_micros(index, empty)
    with pytest.raises(ValueError, match="index has 0,"):
        _centroid_dist2_micros(empty, index)


def test_dict_get_battery_branches_and_plan(spark, queries):
    """Dictionary battery invariants: both dictGetOrDefault branches fire
    (15 hits / 10 UNKNOWN — the partial dict covers regions 0-2 only),
    the hierarchy path is key,parent, in_region_1 marks exactly region
    1's five nations, and the lookups are MAP-SIDE: the only exchange in
    the plan is the customer-count aggregate's (no join exchanges — the
    dictionaries are literal in-plan maps)."""
    df = queries["dict_get_battery"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == 25
    hits = [r for r in rows if r["dict_has"]]
    misses = [r for r in rows if not r["dict_has"]]
    assert len(hits) == 15 and len(misses) == 10
    assert all(r["dict_name"] == "UNKNOWN" for r in misses)
    assert all(r["dict_name"] != "UNKNOWN" for r in hits)
    assert sum(1 for r in rows if r["in_region_1"]) == 5
    for r in rows:
        k, p = r["hierarchy_path"].split(",")
        assert int(k) == r["nationkey"] and 100 <= int(p) <= 104
        assert r["n_customers"] > 0
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    # one aggregate exchange (customer count), zero join operators
    n_exch = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_exch == 1, plan
    assert "Join" not in plan, plan


def test_projection_route_physical_paths(spark, queries):
    """Projection-routing invariants: the covered query's scan touches
    ONLY the projection table (inputFiles pinned — never the base), the
    uncovered query reads the base, replaying a projection-maintenance
    batch id is a committed no-op on BOTH tables, and the projection is
    smaller than the base (the 100-TB point: re-aggregation cost is
    independent of the fact-table size)."""
    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog
    from realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline import (
        projection_auto_route,
    )

    queries["projection_auto_route"](spark, SF_DIR).collect()
    tables = projection_auto_route.last_tables
    routes = projection_auto_route.last_routes
    assert routes["by_priority"][0] == "projection"
    assert routes["by_status"][0] == "base"
    prio_files = set(routes["by_priority"][1].inputFiles())
    stat_files = set(routes["by_status"][1].inputFiles())
    assert prio_files and all(tables["projection"] in f for f in prio_files)
    assert not any(tables["base"] in f for f in prio_files)
    assert stat_files and all(tables["base"] in f for f in stat_files)

    # replay: both maintenance commits refuse the same batch id
    vb, _ = txlog.snapshot(spark, tables["base"])
    vp, _ = txlog.snapshot(spark, tables["projection"])
    probe_b = spark.createDataFrame(
        [(1, "X", "X", 199501, 1)],
        "o_orderkey long, o_orderpriority string, o_orderstatus string,"
        " month_key long, price_micros long",
    )
    probe_p = spark.createDataFrame(
        [("X", 199501, 1, 1)],
        "o_orderpriority string, month_key long, n_part long, rev_part long",
    )
    assert not txlog.append_tx(spark, tables["base"], probe_b, batch_id=3)
    assert not txlog.append_tx(spark, tables["projection"], probe_p, batch_id=3)
    assert txlog.snapshot(spark, tables["base"])[0] == vb
    assert txlog.snapshot(spark, tables["projection"])[0] == vp

    n_base = txlog.read_table(spark, tables["base"]).count()
    n_proj = txlog.read_table(spark, tables["projection"]).count()
    assert 0 < n_proj < n_base


def test_rounding_battery_ladders_fire(spark, queries):
    """Every ladder has multiple live buckets at the leanest SF, exp2
    buckets are exact powers of two, and the duration kind excludes
    first-event NULL gaps (total duration rows == events - users)."""
    from pyspark.sql import functions as F

    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )

    rows = queries["rounding_functions_battery"](spark, SF_DIR).collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["kind"], {})[r["bucket"]] = r["n"]
    assert set(by_kind) == {"exp2_cents", "down_cents", "age", "duration"}
    for kind, buckets in by_kind.items():
        assert len(buckets) >= 3, (kind, buckets)
    for b in by_kind["exp2_cents"]:
        assert b == 0 or (b & (b - 1)) == 0, b
    assert set(by_kind["down_cents"]) <= {1000, 5000, 10000, 20000, 40000}
    assert set(by_kind["age"]) <= {0, 17, 18, 25, 35, 45, 55}
    ev = load_table(spark, SF_DIR, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(by_kind["duration"].values()) == n_events - n_users
    assert sum(by_kind["age"].values()) == n_events


def test_atomic_publish_group_invariants(spark, queries):
    """Group-commit invariants: (1) the ledger says consistent
    everywhere; (2) the staged batch really exists in both member HEADs
    (the crash sim staged data) yet the group serve excluded it —
    head counts exceed group counts by exactly the residue-4 batch;
    (3) a replayed publish of a published batch id refuses at the group
    level; (4) publishing the staged batch id 4 DOES apply (the repair
    path), after which the group serve includes it."""
    from pyspark.sql import functions as F

    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog
    from realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline import (
        atomic_publish_consistent_serve,
    )

    rows = queries["atomic_publish_consistent_serve"](spark, SF_DIR).collect()
    assert rows and all(r["consistent"] for r in rows)
    t = atomic_publish_consistent_serve.last_tables
    n_all = load_table(spark, SF_DIR, "orders").count()
    n_staged = (
        load_table(spark, SF_DIR, "orders")
        .filter(F.pmod("o_orderkey", F.lit(5)) == 4)
        .count()
    )
    assert n_staged > 0  # the crash sim is non-vacuous
    assert txlog.read_table(spark, t["fact"]).count() == n_all
    assert txlog.read_group_table(spark, t["group"], "fact").count() == (
        n_all - n_staged
    )
    assert sum(r["n_orders"] for r in rows) == n_all - n_staged

    # (3) replay refusal at the group level
    gv_before, _ = txlog.snapshot(spark, t["group"])
    assert not txlog.publish_group(
        spark,
        t["group"],
        {"fact": (t["fact"], 1), "rollup": (t["rollup"], 1)},
        batch_id=3,
    )
    assert txlog.snapshot(spark, t["group"])[0] == gv_before

    # (4) the repair path: publishing batch 4 pins the staged versions
    assert txlog.publish_group(
        spark,
        t["group"],
        {
            "fact": (t["fact"], txlog.latest_version(spark, t["fact"])),
            "rollup": (t["rollup"], txlog.latest_version(spark, t["rollup"])),
        },
        batch_id=4,
    )
    assert txlog.read_group_table(spark, t["group"], "fact").count() == n_all


def test_multisearch_battery_branches_and_plan(spark, queries):
    """Every branch fires at the leanest SF (dup hits, zzz never, docs
    with no needle at all exist or any_found is still both-valued via
    dup-only docs), first_index is consistent with the raw positions,
    and the battery is map-only (zero exchanges)."""
    df = queries["multisearch_functions_battery"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == 500
    assert all(r["pos_zzz"] == 0 for r in rows)
    assert any(r["pos_dup"] > 0 for r in rows)
    assert any(r["first_index"] == 1 for r in rows)
    assert any(r["first_index"] == 2 for r in rows)
    for r in rows:
        if not r["any_found"]:
            assert r["first_index"] == 0
        else:
            cands = [
                (p, i)
                for i, p in ((1, r["pos_dup"]), (2, r["pos_data"]))
                if p > 0
            ]
            assert r["first_index"] == min(cands)[1], r
        assert r["n_data"] >= (1 if r["pos_data"] > 0 else 0)
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "Exchange" not in plan, plan


def test_exact_span_scrub_consistency(spark, queries):
    """Cross-op consistency: exactly the docs substring_dedup_docs FLAGS
    lose words here (one policy, two views); the canonical lowest-id doc
    is never scrubbed; cleaned_text's word count equals n_kept; both
    scrubbed and intact docs exist at the leanest SF."""
    rows = {r["doc_id"]: r for r in queries["exact_span_scrub"](spark, SF_DIR).collect()}
    flags = {
        r["doc_id"]: r["is_substring_dup"]
        for r in queries["substring_dedup_docs"](spark, SF_DIR).collect()
    }
    assert set(rows) == set(flags)
    for did, r in rows.items():
        assert (r["n_removed"] > 0) == flags[did], did
        n_txt = len(r["cleaned_text"].split()) if r["cleaned_text"] else 0
        assert n_txt == r["n_kept"], did
        assert r["n_kept"] + r["n_removed"] == r["n_words"]
    assert rows[min(rows)]["n_removed"] == 0
    assert any(r["n_removed"] > 0 for r in rows.values())
    assert any(r["n_removed"] == 0 for r in rows.values())


def test_sample_factor_estimate_invariants(spark, queries):
    """Sampling invariants: the cohort is non-empty at the leanest SF,
    estimates are exact multiples of the factor, err_ppm matches the
    published estimate/exact pair, and the estimate is within 5x of
    exact on every type (a 20% user cohort can't drift further on this
    fixture's near-uniform per-user event rates)."""
    rows = queries["sample_factor_estimate"](spark, SF_DIR).collect()
    assert rows
    assert sum(r["n_sampled"] for r in rows) > 0
    for r in rows:
        assert r["est_n_events"] == 5 * r["n_sampled"]
        assert r["est_revenue_micros"] % 5 == 0
        assert (
            r["count_err_ppm"]
            == abs(r["est_n_events"] - r["n_exact"]) * 1_000_000 // r["n_exact"]
        )
        assert r["est_n_events"] <= 5 * r["n_exact"]


def test_exact_ingest_lifecycle(spark, queries):
    """Fourth-modality lifecycle pins: conservation per source; every
    canary ORIGINAL (doc_id%100==25) is quarantined against its
    earlier-arriving copy (the reverse-direction plant); quarantined
    docs never enter the index; replaying a committed batch id is a
    committed no-op."""
    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog
    from realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline import (
        EXACT_INGEST_CANARY_MOD,
        EXACT_INGEST_CANARY_OFFSET,
        EXACT_INGEST_CANARY_RESIDUE,
        stream_exact_ingest,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )

    ledger = queries["stream_exact_ingest"](spark, SF_DIR).collect()
    for r in ledger:
        assert r["n_arrived"] == r["n_kept"] + r["n_exact_quarantined"], r
    assert sum(r["n_exact_quarantined"] for r in ledger) > 0

    t = stream_exact_ingest.last_tables
    qt = {r["doc_id"]: r for r in txlog.read_table(spark, t["quarantine"]).collect()}
    indexed = {
        r["doc_id"] for r in txlog.read_table(spark, t["key_index"]).collect()
    }
    assert not (set(qt) & indexed)
    originals = [
        r["doc_id"]
        for r in load_table(spark, SF_DIR, "documents").select("doc_id").collect()
        if r["doc_id"] % EXACT_INGEST_CANARY_MOD == EXACT_INGEST_CANARY_RESIDUE
    ]
    assert originals
    for o in originals:
        assert o in qt, o  # the original arrives LAST -> quarantined
        assert qt[o]["matched_doc_id"] in indexed

    v, _ = txlog.snapshot(spark, t["key_index"])
    probe = spark.createDataFrame(
        [(123456789, 42)], "doc_id long, content_key long"
    )
    assert not txlog.append_tx(spark, t["key_index"], probe, batch_id=2)
    assert txlog.snapshot(spark, t["key_index"])[0] == v


def test_cdc_chunk_dedup_invariants(spark, queries):
    """CDC invariants: per-format byte totals reconcile exactly with the
    raw payload lengths (chunking is a partition of every payload),
    distinct <= total chunks with real savings at the leanest SF, and
    the hashing pass is map-only (binary bytes never shuffle)."""
    from pyspark.sql import functions as F

    from realtime_analytics_with_kafka_clickhouse_spark.operators.multimodal import (
        media_table,
    )

    df = queries["cdc_chunk_dedup"](spark, SF_DIR)
    rows = {r["format"]: r for r in df.collect()}
    assert set(rows) == {"png", "jpeg", "wav"}
    raw = {
        r["format"]: r["nb"]
        for r in media_table(spark, SF_DIR)
        .groupBy(F.col("media.format").alias("format"))
        .agg(F.sum(F.octet_length("content")).alias("nb"))
        .collect()
    }
    for fmt, r in rows.items():
        assert r["bytes_total"] == raw[fmt], fmt  # partition: no byte lost
        assert 0 < r["n_distinct_chunks"] <= r["n_chunks"]
        assert 0 < r["bytes_after_dedup"] <= r["bytes_total"]
        assert r["saved_ppm"] > 0  # organic dedup signal, probed
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    # the only exchanges are the small (format[, hash, len]) aggregates
    # downstream of the hashing pass; the leg between each MapInPandas
    # node and its FileScan child (the segment that carries the binary
    # column) must be exchange-free — bytes never shuffle
    segs = plan.split("MapInPandas")[1:]
    assert segs
    for seg in segs:
        leg = seg.split("FileScan", 1)[0]
        assert "Exchange" not in leg, leg
