"""Round-7 edge pins: the adaptive CC gate on media_phash_clusters, the
keyed-merge bucket-count scaling contract, and an always-on 3-SF parity
matrix for the round-6 Spark-4 surfaces (recursive CTE depth, VARIANT
typing, DataSource partition planning, and statestore layout could all
be SF-dependent — the main parity suite runs ONE SF per invocation, so
these four are pinned at all three unconditionally)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

SPARK4_SURFACES = [
    "recursive_decay_ladder",
    "variant_props_rollup",
    "python_datasource_scan",
    "statestore_inspect",
]
SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", SPARK4_SURFACES)
def test_spark4_surfaces_three_sf_parity(spark, name, sf_dir):
    from tests.oracle_check import compare, duck_con

    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, sf_dir)
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        assert df.count() >= 0
        return
    problems = compare(df, duck_con(sf_dir), sql, name)
    assert not problems, "\n".join(problems)


def test_media_phash_clusters_distributed_arm_matches_driver_arm(
    spark, monkeypatch
):
    """media_phash_clusters must route through the measured-count chooser:
    with the cap forced to 0 it takes the distributed min-label loop and
    must produce byte-identical labels to the driver union-find arm
    (the r6 verdict's finding #1 — the collect was previously ungated)."""
    from realtime_analytics_with_kafka_clickhouse_spark.operators import (
        dedup,
        multimodal,
    )

    driver_labels = sorted(
        map(tuple, multimodal.media_phash_clusters(spark, SF_DIR).collect())
    )
    assert driver_labels, "fixture should contain at least one phash near-dup"
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    dist_labels = sorted(
        map(tuple, multimodal.media_phash_clusters(spark, SF_DIR).collect())
    )
    assert dist_labels == driver_labels


def test_zorder_prunes_on_each_column_alone(spark):
    """After compact_tx_zorder on (o_custkey, o_totalprice), a zone-map
    prune on EITHER column alone must skip directories (the multi-column
    clustering payoff), and pruning must never change the filtered
    answer."""
    import realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline as P
    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog

    table = P._build_zorder_txlog(spark, SF_DIR)

    def dirs_of(df):
        return {f.rsplit("/", 2)[-2] for f in df.inputFiles()}

    full = txlog.read_table(spark, table)
    all_dirs = dirs_of(full)
    assert len(all_dirs) >= 4, "zorder should leave several directories"
    by_ck = txlog.read_table(spark, table, prune={"o_custkey": P._ZO_CK})
    by_tp = txlog.read_table(spark, table, prune={"o_totalprice": P._ZO_TP})
    assert len(dirs_of(by_ck)) < len(all_dirs), "custkey prune skipped nothing"
    assert len(dirs_of(by_tp)) < len(all_dirs), "totalprice prune skipped nothing"
    # Exactness: pruned+filtered == unpruned+filtered.
    from pyspark.sql import functions as F

    flt = (
        (F.col("o_custkey") >= P._ZO_CK[0])
        & (F.col("o_custkey") <= P._ZO_CK[1])
        & (F.col("o_totalprice") >= P._ZO_TP[0])
        & (F.col("o_totalprice") <= P._ZO_TP[1])
    )
    pruned_both = txlog.read_table(
        spark, table, prune={"o_custkey": P._ZO_CK, "o_totalprice": P._ZO_TP}
    )
    got = sorted(map(tuple, pruned_both.filter(flt).collect()))
    want = sorted(map(tuple, full.filter(flt).collect()))
    assert got == want and want, "pruning changed the answer (or empty fixture)"


def test_pyds_sink_commit_replaces_replayed_batch(tmp_path):
    """The Python stream sink's manifest is batch-keyed and a replayed
    batchId REPLACES its entry — the rule that makes a crash-replay
    orphan files instead of duplicating rows.  Exercised directly on the
    writer (no Spark engine needed for the commit protocol)."""
    import json

    from realtime_analytics_with_kafka_clickhouse_spark.sources import (
        pydatasource as pds,
    )

    cls = pds._make_sink_datasource_class()
    writer = cls(options={"path": str(tmp_path)}).streamWriter(None, False)
    m1 = writer.write(iter([(1, 1, 10), (2, 2, 20)]))
    writer.commit([m1], batchId=0)
    m2 = writer.write(iter([(1, 1, 10), (2, 2, 20)]))  # replay of batch 0
    writer.commit([m2], batchId=0)
    m3 = writer.write(iter([(3, 3, 30)]))
    writer.commit([m3], batchId=1)
    with open(tmp_path / "manifest.json") as f:
        manifest = json.load(f)
    assert manifest["0"] == [m2.path], "replayed batch must replace its entry"
    assert manifest["1"] == [m3.path]
    committed = [p for paths in manifest.values() for p in paths]
    rows = []
    for p in committed:
        with open(p) as f:
            rows += [json.loads(line) for line in f]
    assert sorted(r["id"] for r in rows) == [1, 2, 3], "no dup/lost rows"


def test_pyds_sink_rejects_a_bad_type_in_a_later_row(tmp_path):
    """Every row is type-checked, not only a partition's first: a float
    or null past row 0 fails the write and leaves no partial file."""
    import pytest

    from realtime_analytics_with_kafka_clickhouse_spark.sources import (
        pydatasource as pds,
    )

    cls = pds._make_sink_datasource_class()
    writer = cls(options={"path": str(tmp_path)}).streamWriter(None, False)
    for bad in ((3, 3, 30.5), (3, None, 30)):
        with pytest.raises(TypeError, match="in row 2"):
            writer.write(iter([(1, 1, 10), (2, 2, 20), bad]))
    assert list((tmp_path / "files").iterdir()) == []


def test_zorder_lifecycle_append_degrades_reoptimize_restores(spark, tmp_path):
    """Arrival-ordered appends after a Z-order carry full-span zone maps
    (nothing prunable in the new dirs); re-running compact_tx_zorder must
    restore pruning to a strict subset again — the OPTIMIZE-owns-layout
    lifecycle contract the persisted IVF index also proves."""
    from pyspark.sql import functions as F

    from realtime_analytics_with_kafka_clickhouse_spark.sources.tables import (
        load_table,
    )
    from realtime_analytics_with_kafka_clickhouse_spark.storage import txlog

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = str(tmp_path / "zorder_lifecycle")
    txlog.append_tx(
        spark, table, orders, batch_id=0,
        stats_cols=["o_custkey", "o_totalprice"],
    )
    txlog.compact_tx_zorder(
        spark, table, ["o_custkey", "o_totalprice"], n_buckets=4, levels=8
    )

    def pruned_frac(prune):
        full = txlog.read_table(spark, table)
        pr = txlog.read_table(spark, table, prune=prune)
        dirs = lambda df: {f.rsplit("/", 2)[-2] for f in df.inputFiles()}
        return len(dirs(pr)), len(dirs(full))

    prune = {"o_custkey": (1, 20)}
    n0, t0 = pruned_frac(prune)
    assert n0 < t0, "fresh zorder must prune"
    # Arrival-ordered append: full custkey span in one new dir.
    txlog.append_tx(
        spark, table, orders.limit(500), batch_id=1,
        stats_cols=["o_custkey", "o_totalprice"],
    )
    expected = sorted(
        map(tuple, txlog.read_table(spark, table).select("o_orderkey").collect())
    )
    txlog.compact_tx_zorder(
        spark, table, ["o_custkey", "o_totalprice"], n_buckets=4, levels=8
    )
    n1, t1 = pruned_frac(prune)
    assert n1 < t1, "re-optimize must restore pruning"
    got = sorted(
        map(tuple, txlog.read_table(spark, table).select("o_orderkey").collect())
    )
    assert got == expected, "re-optimize must not change table contents"


def test_derive_n_buckets_scaling():
    """N must scale with table size (power of two, floored at the toy
    default) so bucket size stays near the target at any scale."""
    import realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline as P

    assert P.derive_n_buckets(0) == P.KEYED_MERGE_BUCKETS
    assert P.derive_n_buckets(10 * 1024**3) == P.KEYED_MERGE_BUCKETS
    one_tb = 1024**4
    n = P.derive_n_buckets(100 * one_tb)
    assert n & (n - 1) == 0  # power of two
    bucket = 100 * one_tb / n
    assert bucket <= P.KEYED_MERGE_TARGET_BUCKET_BYTES
    assert bucket > P.KEYED_MERGE_TARGET_BUCKET_BYTES / 2  # not oversplit
