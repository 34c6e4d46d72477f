"""Wire-record normalization (SURVEY.md §2.2 P1-P4).

The reference consumer parses each Kafka JSON message into a 16-field tuple
with per-field defaults and casts
(/root/reference/consumers/kafka_to_clickhouse.py:80-105), a trailing-'Z'
timestamp parse with a processing-time fallback (:82-86), and the DDL adds
an ingest-time column (/root/reference/clickhouse/init/01_init.sql:25).

Spark re-expression: ``from_json`` against the declared wire schema (P1),
one ``select`` of coalesce+cast expressions (P2/P3), arithmetic recompute
of the money invariant (P4).  All columnar, codegen-friendly — per-row
Python is exactly what we're replacing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import money_round, parse_iso_ts_with_fallback, to_yyyymm
from ..schemas import ORDER_WIRE_SCHEMA

# (name, default) per the consumer's .get(key, default) table
# (/root/reference/consumers/kafka_to_clickhouse.py:88-105).
_STRING_DEFAULTS = [
    ("order_id", ""),
    ("customer_id", ""),
    ("customer_name", ""),
    ("customer_email", ""),
    ("product_id", ""),
    ("product_name", ""),
    ("category", ""),
    ("payment_method", ""),
    ("region", ""),
    ("sales_rep", ""),
    ("order_status", ""),
]


def parse_wire(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """P1: JSON bytes/string -> typed struct -> flat columns."""
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), ORDER_WIRE_SCHEMA).alias("o")
    ).select("o.*")


def parse_wire_with_dlq(raw: DataFrame, value_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """P1 with a dead-letter path: (parsed, quarantined).

    ``from_json`` in PERMISSIVE mode captures unparseable input in a
    corrupt-record column; those rows keep their raw payload and go to the
    quarantine side instead of being silently defaulted to empty-string
    rows (the reference consumer drops failed batches on the floor after
    retries — /root/reference/consumers/kafka_to_clickhouse.py:127-129; a
    corrupt record in an ingest engine must stay inspectable, not vanish).

    Each side is its own plan, and on the wire pipeline its own streaming
    query: both scan the input, and each parses every line exactly once.
    The accepted side parses inside a ``Generate`` over a one-element array
    so the optimizer cannot push the corrupt-record filter below the parse
    and inline ``from_json`` into both the filter and the projection (two
    parses per line).  The quarantine side is a filter only; its repeated
    ``from_json`` calls share one evaluation through Spark's subexpression
    elimination.
    """
    corrupt = "_corrupt_record"
    schema = T.StructType(ORDER_WIRE_SCHEMA.fields + [T.StructField(corrupt, T.StringType())])
    parse = F.from_json(
        F.col(value_col).cast("string"),
        schema,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt},
    )
    is_corrupt = F.col(f"_parsed.{corrupt}").isNotNull() | F.col("_parsed").isNull()
    parsed = (
        raw.select(F.explode(F.array(parse)).alias("_parsed"))
        .filter(~is_corrupt)
        .select("_parsed.*")
        .drop(corrupt)
    )
    quarantined = raw.withColumn("_parsed", parse).filter(is_corrupt).select(
        F.col(value_col).cast("string").alias("raw_payload"),
        F.lit("json_parse_failed").alias("error"),
        F.current_timestamp().alias("_quarantined_at"),
    )
    return parsed, quarantined


def normalize_orders(parsed: DataFrame, fallback_ts: Column | None = None) -> DataFrame:
    """P2+P3: defaults, casts, timestamp normalization, ingest time.

    ``fallback_ts`` pins the malformed-timestamp fallback for deterministic
    tests; production leaves it None -> ``current_timestamp()`` like the
    consumer's ``datetime.utcnow()`` fallback.
    """
    cols = [
        F.coalesce(F.col(n), F.lit(d)).alias(n) for n, d in _STRING_DEFAULTS
    ]
    cols += [
        F.coalesce(F.col("quantity"), F.lit(1)).cast("int").alias("quantity"),
        F.coalesce(F.col("unit_price"), F.lit(0.0)).cast("double").alias("unit_price"),
        F.coalesce(F.col("discount_percent"), F.lit(0.0)).cast("double").alias("discount_percent"),
        F.coalesce(F.col("total_amount"), F.lit(0.0)).cast("double").alias("total_amount"),
        parse_iso_ts_with_fallback(F.col("order_timestamp"), fallback_ts).alias("order_timestamp"),
        F.current_timestamp().alias("_ingested_at"),
    ]
    return parsed.select(*cols)


def recompute_total(df: DataFrame) -> DataFrame:
    """P4: the money invariant — recomputed discount/total with validity flag
    (total = round(qty * price * (1 - disc/100), 2),
    /root/reference/producers/sales_producer.py:112-113,129)."""
    expected = money_round(
        F.col("quantity") * F.col("unit_price") * (F.lit(1.0) - F.col("discount_percent") / 100.0)
    )
    return df.withColumn("expected_total", expected).withColumn(
        "total_consistent", F.abs(F.col("total_amount") - F.col("expected_total")) < 0.005
    )


def with_partition_month(df: DataFrame, ts_col: str = "order_timestamp") -> DataFrame:
    """Add the ClickHouse-style monthly partition key
    (PARTITION BY toYYYYMM, /root/reference/clickhouse/init/01_init.sql:28)."""
    return df.withColumn("order_month", to_yyyymm(ts_col))
