"""File-format sources beyond parquet: JSON-lines and CSV scans with
schema enforcement and corrupt-record quarantine.

The reference ingests only Kafka JSON (consumers/kafka_to_clickhouse.py:53)
and has no file scans at all; a general engine needs the lake formats too.
Both readers take EXPLICIT schemas — schema inference is a full extra pass
over the data and non-deterministic under sampling, never acceptable at
100 TB — and PERMISSIVE corrupt capture, so a bad line lands in a
quarantine column instead of killing the scan or silently nulling.

The *_mirror helpers materialize a deterministic JSON/CSV/ORC/XML copy of
a testdata table once per table ``memo_key`` so round-trip queries can
prove the readers end-to-end against the same oracles as the parquet path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tables import _memoized, build_once, load_table

EVENTS_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

ORDERS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"  # micros round-trip losslessly


def _mirror(spark: SparkSession, sf_dir: str, table: str, fmt: str, write) -> str:
    """Path of ``table``'s ``fmt`` copy, written by ``write(df, path)``
    once per table ``memo_key`` (a rewritten table gets a fresh copy)."""
    from ..operators._memo import scratch_dir

    def build() -> str:
        path = scratch_dir("file_mirrors", f"{table}-{fmt}")
        write(load_table(spark, sf_dir, table), path)
        return path

    return build_once(spark, sf_dir, (table,), f"{table}_{fmt}_mirror", build)


def json_events_mirror(spark: SparkSession, sf_dir: str) -> str:
    """events as JSON-lines."""
    return _mirror(
        spark, sf_dir, "events", "json",
        lambda df, path: df.select(*EVENTS_JSON_SCHEMA.fieldNames())
        .write.option("timestampFormat", _TS_FMT).json(path),
    )


def csv_orders_mirror(spark: SparkSession, sf_dir: str) -> str:
    """orders as headered CSV."""
    return _mirror(
        spark, sf_dir, "orders", "csv",
        lambda df, path: df.select(*ORDERS_CSV_SCHEMA.fieldNames())
        .write.option("header", "true").option("timestampFormat", _TS_FMT)
        .csv(path),
    )


def read_json_with_dlq(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """(rows, quarantined) from a JSON-lines scan: explicit schema,
    PERMISSIVE corrupt capture — the quarantine side keeps the raw line."""
    return _split_dlq(spark, path, schema, "json")


def _split_dlq(
    spark: SparkSession, path: str, schema: T.StructType, fmt: str, **options: str
) -> tuple[DataFrame, DataFrame]:
    """(rows, quarantined) of one PERMISSIVE ``fmt`` scan of ``path`` with
    the extra reader ``options``.

    Spark forbids referencing ONLY the corrupt column off a raw scan
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so both sides split from one
    cache()d frame — the documented pattern.  The frame is memoized per
    session, format and path (``sources.tables._memoized``): a cached
    DataFrame is bound to its SparkSession, and repeated reads of one path
    must not stack fresh cached copies in storage memory."""
    from ..operators._memo import absolute

    corrupt = "_corrupt_record"
    full = T.StructType(schema.fields + [T.StructField(corrupt, T.StringType())])

    def build() -> DataFrame:
        return (
            spark.read.schema(full)
            .options(**options)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt)
            .option("timestampFormat", _TS_FMT)
            .format(fmt)
            .load(path)
            .cache()
        )

    df = _memoized(spark, lambda: (f"{fmt}_dlq", absolute(path)), build)
    ok = df.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = df.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw")
    )
    return ok, bad


def read_csv_with_dlq(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """(rows, quarantined) from a headered CSV scan, same contract."""
    return _split_dlq(spark, path, schema, "csv", header="true")


def orc_events_mirror(spark: SparkSession, sf_dir: str) -> str:
    """events as ORC.  ORC is the third columnar lake format next to
    parquet (the reader/writer ship in Spark's core jars); the mirror
    proves scan fidelity end-to-end the same way the JSON/CSV mirrors do."""
    return _mirror(
        spark, sf_dir, "events", "orc", lambda df, path: df.write.orc(path)
    )


def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type stats over the ORC mirror of events — ORC scan
    fidelity (timestamp round-trip, double fidelity, predicate pushdown
    into the ORC reader) proven by hash-equality with the parquet-path
    oracle."""
    from ..functions.scalars import dsum

    ev = spark.read.orc(orc_events_mirror(spark, sf_dir))
    return (
        ev.filter(F.col("value") > 0)
        .groupBy(F.col("event_type").alias("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
            F.max("ts").alias("latest_ts"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def xml_orders_mirror(spark: SparkSession, sf_dir: str) -> str:
    """orders as XML (Spark 4 ships the XML source in core), with explicit
    rowTag + timestamp format."""
    return _mirror(
        spark, sf_dir, "orders", "xml",
        lambda df, path: df.select(*ORDERS_CSV_SCHEMA.fieldNames())
        .write.format("xml").option("rowTag", "order")
        .option("timestampFormat", _TS_FMT).save(path),
    )


def xml_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status order stats over the XML mirror — fourth file format
    (after parquet/JSON-lines/CSV/ORC's round-trips); the EXPLICIT schema
    skips the XML reader's inference pass, the same no-second-scan rule
    the other readers follow."""
    from ..functions.scalars import dsum

    orders = (
        spark.read.format("xml")
        .schema(ORDERS_CSV_SCHEMA)
        .option("rowTag", "order")
        .option("timestampFormat", _TS_FMT)
        .load(xml_orders_mirror(spark, sf_dir))
    )
    return orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("order_count"),
        dsum("o_totalprice").alias("total_revenue"),
        F.min("o_orderdate").alias("first_order"),
    )


def json_roundtrip_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A1 hourly rollup computed over the JSON-LINES mirror of events
    — hash-equality with the parquet-path oracle proves the JSON scan
    (schema enforcement, micros timestamp round-trip, double fidelity)
    end-to-end, not just that the reader doesn't crash."""
    from ..operators.rollups import hourly_category_rollup  # noqa: F401 (doc xref)
    from ..functions.scalars import dsum, to_start_of_hour

    ok, _bad = read_json_with_dlq(
        spark, json_events_mirror(spark, sf_dir), EVENTS_JSON_SCHEMA
    )
    qty = F.coalesce(F.get_json_object("props", "$.k").cast("long"), F.lit(0))
    cat = F.concat(F.lit("cat_"), (qty % 5).cast("string"))
    return (
        ok.filter(F.col("event_type") == "purchase")
        .groupBy(to_start_of_hour("ts").alias("hour"), cat.alias("category"))
        .agg(
            F.count("*").alias("order_count"),
            dsum("value").alias("total_revenue"),
            F.sum(qty).alias("total_quantity"),
        )
    )


def csv_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority order stats over the CSV mirror of orders — the same
    end-to-end fidelity proof for the CSV scanner (header handling,
    timestamp format, shortest-repr double round-trip)."""
    from ..functions.scalars import dsum

    ok, _bad = read_csv_with_dlq(
        spark, csv_orders_mirror(spark, sf_dir), ORDERS_CSV_SCHEMA
    )
    return ok.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("order_count"),
        dsum("o_totalprice").alias("total_revenue"),
        F.max("o_orderdate").alias("latest_order"),
    )
