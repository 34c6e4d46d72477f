"""SparkSession factory tuned for the engine.

The reference delegates all execution to ClickHouse (vectorized, columnar —
``/root/reference/README.md:14``); our analog is Spark's Tungsten/whole-stage
codegen plus the Arrow-accelerated Python boundary. Settings below are chosen
for a large cluster but hold on ``local[N]``:

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting —
  at 100 TB the static ``spark.sql.shuffle.partitions`` is always wrong for
  *some* stage; AQE re-plans from actual map output sizes.
- Arrow on: every pandas UDF / ``applyInPandas`` crosses the JVM↔Python
  boundary in columnar batches, not pickled rows.
- Parquet pushdown/pruning left at defaults (on): the scan layer must receive
  filters (``PushedFilters``) and the projected schema (``ReadSchema``).
- ZSTD is the storage codec, as in the reference's MergeTree tables: every
  parquet writer (raw epochs, DLQ, rollups, txlog data dirs, layouts) and
  the streaming state store's checkpoint files.  On the wire path it cuts
  stored bytes per order by about a third against snappy parquet and lz4
  state.  Spark records the state codec in each checkpoint's offset log,
  so a checkpoint written under another codec keeps it on restart.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# On a real cluster these come from spark-submit / cluster conf; the env vars
# here mirror the driver harness contract (local[CPUS] testing only).
_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "realtime_analytics_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``shuffle_partitions`` defaults to the local core count: correct for
    sf<=0.1 test data; on a 1000-executor cluster you'd set this to
    2-3x total cores and let AQE coalesce down per-stage.
    """
    nshuffle = shuffle_partitions if shuffle_partitions is not None else int(_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Timestamps in testdata are naive; pin the session zone so
        # date_trunc/to_date agree with the DuckDB oracle regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Files: pack small test files into few tasks; at 100 TB the same
        # setting yields ~128MB splits which is the right scan granularity.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast threshold: dimension tables (region/nation/supplier/part,
        # and customer at small SF) should broadcast, never shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # The driver testdata stores events.ts as TIMESTAMP(NANOS) parquet,
        # which Spark's vectorized reader rejects by default; read as long ns
        # and convert in the loader (sources.tables.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Commit algorithm 2: task outputs move to the destination at task
        # commit instead of a serial driver-side merge pass at job commit —
        # matters for partitionBy writes (N dirs to merge).  Safe here
        # because every directory-replacing writer in the engine stages to
        # a hidden dir first and promotes via the swap protocol; a crashed
        # job's partial stage output is dropped by swap repair, so the
        # weaker job-commit atomicity is never load-bearing.  Perf-only:
        # correctness holds on a vanilla session without it.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.streaming.stateStore.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
    )
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{_CPUS}]")
    builder = builder.master(master)
    return builder.getOrCreate()
