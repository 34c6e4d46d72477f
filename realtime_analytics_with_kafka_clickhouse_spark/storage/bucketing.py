"""Bucketed tables and skew-salted joins — the two shuffle-elimination
levers for fact-fact joins at 100 TB (SURVEY.md §4 / the north-star scale
contract).

Bucketing: writing both fact tables bucketed-and-sorted by the join key
means a later equi-join reads co-located buckets and plans a SortMergeJoin
with ZERO Exchange on either side — the shuffle is paid once at write time
and amortized over every subsequent join.  This is the Spark analog of
co-partitioned storage in distributed warehouses.

Salting: when one join key is pathologically hot, AQE's skew-join split
handles moderate skew, but the deliberate fix is salting — spread the hot
key across ``n_salts`` sub-keys on the large side and replicate the small
side's matching rows across all salts.  The join result is IDENTICAL; the
hot partition becomes ``n_salts`` average ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 8,
    sort_key: str | None = None,
    path: str | None = None,
) -> None:
    """Persist as a bucketed+sorted table (saveAsTable — bucket metadata
    lives in the catalog; plain .parquet() cannot carry it).  ``path`` makes
    it external (data at an explicit location instead of the warehouse)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    writer = writer.sortBy(sort_key or bucket_key)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key_l: str, key_r: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket keys.  With matching
    bucket counts Catalyst plans SortMergeJoin with no Exchange on either
    side — assert via plans.inspect.count_shuffles == 0."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, lt[key_l] == rt[key_r])


def salted_topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    tiebreak_col: str,
    n_salts: int = 16,
    descending: bool = True,
) -> DataFrame:
    """Scalable top-k per group — the fix for the single-reducer window.

    ``row_number() OVER (PARTITION BY group ...)`` sorts each group's ENTIRE
    row set on one reducer; with few/huge groups that reducer is the job.
    Two phases instead: (1) top-k within (group, salt) — n_salts parallel
    partial sorts of 1/n_salts the data each; (2) top-k of the n_salts*k
    survivors per group — a trivially small final sort.  Identical result
    to the windowed form (each group's true top-k survives its salt).
    """
    from pyspark.sql import Window

    def ordering():
        o = F.col(order_col).desc() if descending else F.col(order_col).asc()
        return [o, F.col(tiebreak_col).asc()]

    salt = F.pmod(F.xxhash64(F.col(tiebreak_col)), F.lit(n_salts))
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*ordering())
    partial = (
        df.withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*ordering())
    return (
        partial.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .withColumn("rank_in_group", F.col("_rn").cast("long"))
        .drop("_rn", "_salt")
    )


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key_l: str,
    key_r: str,
    n_salts: int = 8,
) -> DataFrame:
    """Equi-join with the large side's hot keys spread over ``n_salts``
    sub-partitions.

    large rows get salt = hash(row identity) mod n_salts (deterministic,
    no RNG — derived from all columns so equal keys still spread);
    small rows replicate across every salt.  Joining on (key, salt) yields
    exactly the rows of the plain equi-join while the shuffle distributes
    the hot key over n_salts reducers.
    """
    lcols = [F.col(c) for c in large.columns]
    salted_l = large.withColumn("_salt", F.pmod(F.xxhash64(*lcols), F.lit(n_salts)))
    salted_r = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted_l.join(
        salted_r,
        (salted_l[key_l] == salted_r[key_r]) & (salted_l["_salt"] == salted_r["_salt"]),
    )
    return out.select(
        *[salted_l[c] for c in large.columns], *[salted_r[c] for c in small.columns]
    )


def bucketed_orders_lineitem_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated proof of the bucketed co-located join (SURVEY.md §4):
    orders and lineitem both bucketed by order key at write time, joined
    with ZERO Exchange on either side (the shuffle was paid once at write
    and is amortized over every later join — co-partitioned storage), then
    a priority-keyed revenue aggregate.  The oracle is the plain
    join+aggregate, so the row proves bucketed == unbucketed results;
    tests/test_plans.py pins the exchange-free plan shape.

    The bucketed write (the amortized shuffle) happens once per session and
    orders and lineitem ``memo_key``: the tables are named in the session's
    catalog, so they are memoized with the session (``_memoized``), and a
    new session writes and names them anew."""
    import os
    import uuid

    from ..functions.scalars import dsum
    from ..operators._memo import scratch_dir
    from ..sources.tables import _memoized, load_table, memo_key

    def build() -> tuple[str, str]:
        run = uuid.uuid4().hex[:8]
        root = scratch_dir("bucketed", run)
        ot, lt = f"orders_bkt_{run}", f"lineitem_bkt_{run}"
        write_bucketed(
            load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
            ot, "o_orderkey", path=os.path.join(root, "orders"),
        )
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"),
            lt, "l_orderkey", path=os.path.join(root, "lineitem"),
        )
        return ot, lt

    ot, lt = _memoized(
        spark,
        lambda: ("bucketed",)
        + memo_key(spark, sf_dir, "orders")
        + memo_key(spark, sf_dir, "lineitem"),
        build,
    )
    j = bucketed_join(spark, ot, lt, "o_orderkey", "l_orderkey")
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_items"),
        dsum("l_extendedprice").alias("total_revenue"),
    )


def top_orders_per_priority_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated run of the salted two-phase top-k (the skew fix for
    ``row_number() OVER`` windows with few/huge groups): top-20 orders by
    total price within each of the 5 priority classes — 5 groups over the
    whole orders table is EXACTLY the single-reducer shape the salt
    splits.  Salting is a physical rewrite only, so the oracle is the
    plain windowed top-k: identical rows, identical ranks."""
    from ..sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return salted_topk_per_group(
        orders,
        group_cols=["o_orderpriority"],
        order_col="o_totalprice",
        k=20,
        tiebreak_col="o_orderkey",
    )


SKEW_REPORT_TOPK = 10
SKEW_TARGET_ROWS_PER_TASK = 1_000


def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnosis for a shuffle key — the measurement step
    that decides between plain hash join, AQE skew splitting, and
    explicit salting (``salted_join``/``salted_topk_per_group`` consume
    exactly the salt factor this report suggests).  Per top-K key of
    ``events.user_id``: row count, share of the table (round-6 single
    divide of exact integers), and the salt factor that caps any one
    (key, salt) task at SKEW_TARGET_ROWS_PER_TASK rows.

    ONE SCAN (r8): the grand-total denominator re-aggregates the same
    per-key counts instead of running a separate ``events.count()`` job —
    the two consumers share an identical groupBy subtree, which Spark's
    exchange-reuse rule dedupes (the physical plan carries a single
    events scan + one ReusedExchange, pytest-pinned), and the total rides
    back in as a broadcast 1-row cross join.  No global window, so no
    single-reducer pass over the distinct-key set either — diagnosing
    skew never costs more than the query it tunes; at 100 TB you'd run
    it on a sample with the same plan."""
    from ..sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    totals = counts.agg(F.sum("n_rows").cast("double").alias("total"))
    return (
        counts.orderBy(F.col("n_rows").desc(), F.col("user_id").asc())
        .limit(SKEW_REPORT_TOPK)
        .crossJoin(F.broadcast(totals))
        .select(
            "user_id",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
            F.ceil(
                F.col("n_rows").cast("double") / F.lit(float(SKEW_TARGET_ROWS_PER_TASK))
            )
            .cast("long")
            .alias("suggested_salt"),
        )
    )
