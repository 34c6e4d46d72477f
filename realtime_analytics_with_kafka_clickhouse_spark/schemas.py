"""Canonical schemas.

``ORDER_SCHEMA`` is the 16-field sales-order wire record produced at
``/root/reference/producers/sales_producer.py:118-138`` and declared as the
raw table at ``/root/reference/clickhouse/init/01_init.sql:7-31``.  Type
mapping rationale in SURVEY.md §1.3 (no unsigned types in Spark; money stays
DoubleType for reference fidelity).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Wire-format order event (before normalization): every field nullable, since
# the producer may omit fields and the consumer applies defaults at parse
# (/root/reference/consumers/kafka_to_clickhouse.py:88-105).  The raw
# ``order_timestamp`` arrives as an ISO-8601 *string* with a trailing 'Z'
# (/root/reference/producers/sales_producer.py:134-137).
ORDER_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType()),
        T.StructField("customer_id", T.StringType()),
        T.StructField("customer_name", T.StringType()),
        T.StructField("customer_email", T.StringType()),
        T.StructField("product_id", T.StringType()),
        T.StructField("product_name", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("quantity", T.IntegerType()),
        T.StructField("unit_price", T.DoubleType()),
        T.StructField("discount_percent", T.DoubleType()),
        T.StructField("total_amount", T.DoubleType()),
        T.StructField("payment_method", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("sales_rep", T.StringType()),
        T.StructField("order_status", T.StringType()),
        T.StructField("order_timestamp", T.StringType()),
    ]
)

# Normalized/stored order record (post-parse): non-null defaults applied,
# timestamp parsed, ``_ingested_at`` processing-time column added
# (/root/reference/clickhouse/init/01_init.sql:25).
ORDER_SCHEMA = T.StructType(
    [f for f in ORDER_WIRE_SCHEMA.fields if f.name != "order_timestamp"]
    + [
        T.StructField("order_timestamp", T.TimestampType()),
        T.StructField("_ingested_at", T.TimestampType()),
    ]
)

ORDER_KEY = ("order_timestamp", "order_id")  # the raw table's ORDER BY (01_init.sql:29)

# Driver-provided testdata tables (TESTDATA.md / FIXTURES.md §3).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
